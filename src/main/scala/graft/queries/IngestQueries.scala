package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.sources.LineProtocol

/** Ingest-path driver entries (SURVEY.md §2.3): line-protocol parsing
  * is validated as a full round-trip — events rows are rendered to line
  * protocol, parsed back by graft.sources.LineProtocol, and the oracle
  * recomputes the original values directly.
  *
  * The seven wire round-trip lanes put a [[graft.Materialize]] boundary
  * between the decode and the global sort. A decode is a Dataset
  * `flatMap` (or, for OpenTSDB JSON, an `explode`), so the sort keeps
  * Spark's range exchange, whose sampling job would otherwise run the
  * render+encode+decode chain a second time.
  */
object IngestQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_line_protocol" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.events(s, dir)
        .select(format_string(
          "events,event_id=%s,user_id=%s,event_type=%s value=%s,n=%si %s",
          col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("user_id"), expr("ts_ns div 1000")).as("line"))
        .as[String]
      LineProtocol.parse(lines)
        .select(
          col("tags")("event_id").cast("long").as("event_id"),
          col("measurement"),
          col("tags")("user_id").cast("long").as("user_id"),
          col("tags")("event_type").as("event_type"),
          col("fields")("value").cast("double").as("value"),
          expr("cast(substring(fields['n'], 1, length(fields['n']) - 1) AS BIGINT)").as("n"),
          col("ts").as("ts_us"))
        .transform(Materialize) // one parse per action
        .orderBy("event_id")
    }),

    // OpenTSDB telnet round-trip (write/cli_precision.slt
    // --#OPENTSDB_BEGIN): events rendered as `put` lines, parsed back
    // by graft.sources.OpenTsdb, oracle recomputes from the lake.
    "ts_opentsdb_telnet" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.events(s, dir)
        .select(format_string("put events_%s %s %s user_id=%s event_id=%s",
          col("event_type"), expr("ts_ns div 1000"), col("value"),
          col("user_id"), col("event_id")).as("line"))
        .as[String]
      graft.sources.OpenTsdb.parseTelnet(lines)
        .select(col("tags")("event_id").cast("long").as("event_id"),
          col("metric"), col("ts").as("ts_us"), col("value"),
          col("tags")("user_id").cast("long").as("user_id"))
        .transform(Materialize) // one parse per action
        .orderBy("event_id")
    }),

    // OpenTSDB JSON round-trip (--#OPENTSDB_JSON_BEGIN): one JSON array
    // document per event through codegen'd from_json + explode.
    "ts_opentsdb_json" -> ((s, dir) => {
      val docs = Tables.events(s, dir)
        .select(format_string(
          """[{"metric": "events_%s", "timestamp": %s, "value": %s,""" +
            """ "tags": {"user_id": "%s", "event_id": "%s"}}]""",
          col("event_type"), expr("ts_ns div 1000"), col("value"),
          col("user_id"), col("event_id")).as("doc"))
      graft.sources.OpenTsdb.parseJson(docs, "doc")
        .select(col("tags")("event_id").cast("long").as("event_id"),
          col("metric"), col("ts").as("ts_us"), col("value"),
          col("tags")("user_id").cast("long").as("user_id"))
        .transform(Materialize) // one parse per action
        .orderBy("event_id")
    }),

    // ES `_bulk` log round-trip (the reference's third write family:
    // json_protocol/parser.rs:105 pairing, :496 parse_to_line, served
    // by the write_es_log HTTP route): events rendered as one bulk
    // body per event — command line carrying _index/_id, document line
    // with a nested object to exercise the recursive dot-key flatten —
    // parsed back by graft.sources.JsonLog, oracle recomputes from the
    // lake. event_type rides as a declared tag column, user_id lands
    // in the numeric bucket as F64 (the reference coerces integer JSON
    // numbers to F64), `ok` in the boolean bucket.
    "ts_eslog_bulk" -> ((s, dir) => {
      import s.implicits._
      val bodies = Tables.events(s, dir)
        .select(format_string(
          "{\"create\": {\"_index\": \"events\", \"_id\": \"%s\"}}\n" +
            "{\"event_type\": \"%s\", \"time\": %s, \"value\": %s," +
            " \"u\": {\"id\": %s}, \"ok\": true}",
          col("event_id"), col("event_type"), col("ts_ns"), col("value"),
          col("user_id")).as("body"))
        .as[String]
      graft.sources.JsonLog.parseBulk(bodies, "time", Set("event_type"))
        .select(col("esId").cast("long").as("event_id"),
          col("cmd"), col("esIndex").as("es_index"),
          col("tags")("event_type").as("event_type"),
          col("ts").as("ts_ns"),
          col("numFields")("value").as("value"),
          col("numFields")("u.id").as("user_id_f"),
          col("boolFields")("ok").as("ok"))
        .transform(Materialize) // one parse per action
        .orderBy("event_id")
    }),

    // NDJSON log round-trip (json_protocol/parser.rs:146; the Loki-JSON
    // branch flattens identically): one document per line, RFC 3339
    // STRING timestamps (the parse_to_line string-time path), event_id
    // as a declared tag restored by cast.
    "ts_ndjson_ingest" -> ((s, dir) => {
      import s.implicits._
      val lines = Tables.events(s, dir)
        .select(format_string(
          "{\"event_id\": %s, \"time\": \"%s\", \"value\": %s," +
            " \"n\": {\"chars\": %s}, \"lvl\": \"info\"}",
          col("event_id"),
          date_format(timestamp_micros(expr("ts_ns div 1000")),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
          col("value"), col("user_id")).as("line"))
        .as[String]
      graft.sources.JsonLog.parseNdjson(lines, "time", Set("event_id"))
        .select(col("tags")("event_id").cast("long").as("event_id"),
          col("ts").as("ts_ns"),
          col("numFields")("value").as("value"),
          col("numFields")("n.chars").as("chars_f"),
          col("strFields")("lvl").as("lvl"))
        .transform(Materialize) // one parse per action
        .orderBy("event_id")
    }),

    // Prometheus remote-write WIRE round-trip (new r13 — the wire half
    // of the reference's prom remote server, previously descoped; its
    // PromQL computational surface has been oracle-checked since r9):
    // events are partitioned into 4 ts-range batches — the bounded POST
    // bodies a real sender ships — each encoded as a prompb.WriteRequest
    // (hand-rolled varint wire, the 1.0 spec's 4-message subset) and
    // snappy BLOCK-compressed, then decoded back through the library
    // surface (PromRemote.decode: narrow flatMap over the binary
    // column, no shuffle at ingest). The per-metric aggregate of the
    // DECODED samples is oracle-checked against the raw lake: matching
    // hashes prove encode → snappy → decode loses nothing, and the
    // golden-byte spec (PromRemoteSpec) pins the wire layout itself so
    // a wrong-but-symmetric codec cannot pass.
    "ts_prom_remote_write" -> ((s, dir) => {
      import s.implicits._
      val batches = graft.Tables.eventsNanos(s, dir)
        .select(col("event_type"), expr("ts div 1000000").as("ts_ms"),
          col("value"))
        .repartitionByRange(4, col("event_type"), col("ts_ms"))
        .as[(String, Long, Double)]
        .mapPartitions { it =>
          val bySeries = it.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map {
            case (metric, rows) =>
              (Seq("__name__" -> metric, "job" -> "graft"),
                rows.sortBy(r => (r._2, r._3)).map(r => (r._3, r._2)))
          }
          if (bySeries.isEmpty) Iterator.empty
          else Iterator.single(graft.sources.PromRemote.compress(
            graft.sources.PromRemote.encodeWriteRequest(bySeries)))
        }
      graft.sources.PromRemote.decode(batches)
        .filter(col("labels") === "job=graft")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"),
          min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
        .orderBy("metric")
    }),

    // Loki push-protocol WIRE round-trip (new r13 — the snappy/protobuf
    // transport half of the reference's Loki write route, previously
    // descoped; its flattened-document row shape is the one
    // ts_ndjson_ingest already oracle-checks): events become per-
    // event_type streams of (timestamp, line) entries — the bounded
    // POST bodies promtail ships — each encoded as a
    // logproto.PushRequest and snappy-compressed, then decoded back
    // through LokiPush.decode (narrow flatMap, no shuffle at ingest).
    // Full-row check: event_id/value parse back out of the decoded
    // lines and hash-match the raw lake, so the wire loses nothing;
    // IngestSpec's golden bytes pin the wire layout itself.
    "ts_loki_push" -> ((s, dir) => {
      import s.implicits._
      val batches = graft.Tables.eventsNanos(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .repartitionByRange(4, col("event_type"), col("ts"))
        .as[(String, Long, Long, Double)]
        .mapPartitions { it =>
          val streams = it.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map {
            case (et, rows) =>
              (s"""{app="graft",event_type="$et"}""",
                rows.sortBy(r => (r._2, r._3))
                  .map(r => (r._2, s"event_id=${r._3} value=${r._4}")))
          }
          if (streams.isEmpty) Iterator.empty
          else Iterator.single(graft.sources.LokiPush.compress(
            graft.sources.LokiPush.encodePushRequest(streams)))
        }
      graft.sources.LokiPush.decode(batches)
        .select(
          regexp_extract(col("msg"), "event_id=(\\d+)", 1).cast("long")
            .as("event_id"),
          col("labels"), col("ts_ns"),
          regexp_extract(col("msg"), "value=(.+)$", 1).cast("double")
            .as("value"))
        .transform(Materialize) // one decode per action
        .orderBy("event_id")
    }),

    // OTLP trace WIRE round-trip (new r13 — the protobuf transport half
    // of the reference's /api/v1/traces route, previously descoped):
    // events become spans under per-event_type resources (service.name
    // = svc_<type>, trace/span ids derived from event_id, duration from
    // value), encoded as an ExportTraceServiceRequest (NOT snappy — the
    // reference decodes the raw body) and decoded back through
    // OtlpTrace.decode. The span ids round-trip through the hex
    // rendering the reference uses, the kind through the enum-name
    // rendering, user_id through a stringified AnyValue attribute —
    // all hash-checked against the raw lake.
    "ts_otlp_traces" -> ((s, dir) => {
      import s.implicits._
      val batches = graft.Tables.eventsNanos(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          col("user_id"), col("value"))
        .repartitionByRange(4, col("event_type"), col("ts"))
        .as[(String, Long, Long, Long, Double)]
        .mapPartitions { it =>
          val resources = it.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map {
            case (et, rows) =>
              (s"svc_$et", Seq(("graft-ingest",
                rows.sortBy(r => (r._2, r._3)).map { r =>
                  val tid = java.nio.ByteBuffer.allocate(16)
                    .putLong(0L).putLong(r._3).array()
                  val sid = java.nio.ByteBuffer.allocate(8).putLong(r._3).array()
                  graft.sources.OtlpTrace.SpanIn(tid, sid, Array.emptyByteArray,
                    et, 2, r._2, r._2 + Math.round(r._5 * 1000.0),
                    attrs = Seq("user_id" -> r._4.toString))
                })))
          }
          if (resources.isEmpty) Iterator.empty
          else Iterator.single(graft.sources.OtlpTrace.encodeTraces(resources))
        }
      graft.sources.OtlpTrace.decode(batches)
        .select(
          expr("cast(conv(span_id, 16, 10) AS BIGINT)").as("event_id"),
          col("service"), col("scope"), col("name").as("span_name"),
          col("kind"), col("start_ns"), col("end_ns"),
          regexp_extract(col("attrs"), "user_id=(\\d+)", 1).cast("long")
            .as("user_id"))
        // one encode+decode per action (QBench showed two equal ~0.42 s
        // jobs without the boundary)
        .transform(Materialize)
        .orderBy("event_id")
    }),

    // Prometheus remote-READ WIRE round-trip (new r13 — closes the
    // matcher→filter half named in SURVEY §2.5's r13 narrowing; the
    // remote-WRITE wire landed as ts_prom_remote_write): two Queries —
    // (EQ __name__, RE tag, upper half-month) and (RE __name__, NEQ
    // tag, lower half-month) — are encoded as a snappy
    // prompb.ReadRequest, decoded back (request wire round-trip),
    // translated to pushdown-eligible Catalyst filters over the lake's
    // sample view (remote_server.rs:269's EQ/NEQ/RE/NRE + ms-bound
    // rules), served as per-series TimeSeries blocks encoded ON THE
    // EXECUTORS and concatenated into a snappy ReadResponse, then THAT
    // wire is decoded back into rows (response round-trip) and the
    // full sample set hash-checked against DuckDB running the same
    // matcher semantics. Time bounds are constants on the generator's
    // fixed Jan-2024 span (TESTDATA.md), so both halves and both
    // engines see the same window at every SF.
    "ts_prom_remote_read" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.PromRemote
      val samples = graft.Tables.eventsNanos(s, dir).select(
        col("event_type").as("metric"),
        col("user_id").cast("string").as("user"),
        expr("ts div 1000000").as("ts_ms"),
        col("value"))
      val midMs = 1705276800000L // 2024-01-15T00:00:00Z
      val body = PromRemote.compress(PromRemote.encodeReadRequest(Seq(
        PromRemote.ReadQuery(midMs, 1706659200000L,
          Seq(PromRemote.Matcher(0, "__name__", "click"),
            PromRemote.Matcher(2, "user", "1$"))),
        PromRemote.ReadQuery(1704067200000L, midMs - 1,
          Seq(PromRemote.Matcher(2, "__name__", "i"),
            PromRemote.Matcher(1, "user", "42"))))))
      val queries = PromRemote.parseReadRequest(body)
      val resp = PromRemote.executeRead(samples, Seq("user"), queries)
      PromRemote.parseReadResponse(resp).zipWithIndex.flatMap {
        case (rs, qi) => rs.map(r => (qi.toLong, r.metric, r.labels, r.ts_ms, r.value))
      }.toDF("query_idx", "metric", "labels", "ts_ms", "value")
        .orderBy("query_idx", "metric", "labels", "ts_ms", "value")
    }),

    // Wire HTTP LISTENER end-to-end (new r13, closes the final
    // transport slice: the reference's /api/v1/prom/write route,
    // http_service.rs:1259): the 4 bounded remote-write POST bodies are
    // shipped over a REAL loopback HTTP hop into WireHttp's dumb-spool
    // listener (raw body → write-aside + atomic rename, zero parsing on
    // the listener thread), then decoded where it scales — a
    // binaryFile scan of the spool through PromRemote.decode's narrow
    // flatMap — and the per-metric aggregate is oracle-checked against
    // the raw lake. Same aggregate as ts_prom_remote_write: matching
    // hashes prove the HTTP+spool hop loses nothing.
    "ts_wire_http_ingest" -> ((s, dir) => {
      import s.implicits._
      val bodies = graft.Tables.eventsNanos(s, dir)
        .select(col("event_type"), expr("ts div 1000000").as("ts_ms"),
          col("value"))
        .repartitionByRange(4, col("event_type"), col("ts_ms"))
        .as[(String, Long, Double)]
        .mapPartitions { it =>
          val bySeries = it.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map {
            case (metric, rows) =>
              (Seq("__name__" -> metric, "job" -> "graft"),
                rows.sortBy(r => (r._2, r._3)).map(r => (r._3, r._2)))
          }
          if (bySeries.isEmpty) Iterator.empty
          else Iterator.single(graft.sources.PromRemote.compress(
            graft.sources.PromRemote.encodeWriteRequest(bySeries)))
        }.collect()
      require(bodies.length <= 8, s"wire http: ${bodies.length} POST bodies")
      // overwrite per run — deterministic, one spool per sf dir
      val spool = java.nio.file.Paths.get(
        s"/tmp/graft_wire_http/${new java.io.File(dir).getName}")
      if (java.nio.file.Files.exists(spool))
        java.nio.file.Files.walk(spool)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.delete(p))
      // the listener authenticates EVERY write route against the meta
      // catalog before spooling, as http_service.rs does: an ingest
      // user with Write on the target db, wired as writeAuth
      val eng = {
        val root = java.nio.file.Files.createTempDirectory("graft_wire_auth")
        val e = new graft.admin.AdminEngine(s, new graft.admin.MetaCatalog,
          root.toString, () => 0L)
        Seq("CREATE DATABASE wiredb",
          "CREATE USER ingest WITH password='w1re'",
          "ALTER TENANT cnosdb ADD USER ingest AS member",
          "CREATE ROLE writers INHERIT member",
          "GRANT WRITE ON DATABASE wiredb TO writers",
          "ALTER TENANT cnosdb ADD USER ingest AS writers").foreach(e.execute)
        e
      }
      val srv = graft.sources.WireHttp.start(spool.toString, writeAuth = eng.authWrite)
      try {
        // wrong credentials / wrong db are rejected BEFORE the spool
        val (bad, _) = graft.sources.WireHttp.post(
          s"${srv.base}/api/v1/prom/write?tenant=cnosdb&db=wiredb", bodies.head,
          basicAuth = ("ingest", "wrong"))
        require(bad == 401, s"wire http: bad credentials answered $bad, want 401")
        val (noDb, _) = graft.sources.WireHttp.post(
          s"${srv.base}/api/v1/prom/write?tenant=cnosdb&db=nope", bodies.head,
          basicAuth = ("ingest", "w1re"))
        require(noDb == 404, s"wire http: missing db answered $noDb, want 404")
        require(!java.nio.file.Files.list(spool.resolve("prom")).iterator().hasNext,
          "wire http: a REJECTED write reached the spool")
        bodies.foreach { b =>
          val (code, _) = graft.sources.WireHttp.post(
            s"${srv.base}/api/v1/prom/write?tenant=cnosdb&db=wiredb", b,
            basicAuth = ("ingest", "w1re"))
          require(code == 204, s"wire http: POST answered $code")
        }
      } finally srv.stop()
      graft.sources.PromRemote.decode(
        s.read.format("binaryFile").load(s"$spool/prom")
          .select(col("content")).as[Array[Byte]])
        .filter(col("labels") === "job=graft")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"),
          min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
        .orderBy("metric")
    }),

    // Kafka WIRE end-to-end (closes SURVEY §2.5 #1 — the reference's
    // stream-table transport, query_server/query/src/stream/): events
    // rows are rendered to line protocol and PRODUCED through the
    // graft-kafka DSv2 SINK (each write task opens its own wire client
    // and ships record-batch-v2 bytes to the topic-partition named by
    // the row's `partition` column — the distributed-producer shape;
    // no driver collect), then read back partition-parallel through
    // the graft-kafka SOURCE (one fetch loop per topic-partition,
    // CRC32C-verified), parsed, and aggregated per series. The lane
    // also proves PLACEMENT: it throws if any consumed row sits in a
    // topic-partition other than the one its key hashes to. Oracle
    // recomputes from the raw lake — matching hashes prove sink encode
    // → TCP → broker log → fetch → decode loses nothing.
    "ts_kafka_wire" -> ((s, dir) => {
      import s.implicits._
      val broker = graft.sources.KafkaMiniBroker.start(Map("events" -> 4))
      try {
        val bs = broker.bootstrap
        Tables.eventsNanos(s, dir)
          .select(col("event_type").cast("binary").as("key"),
            format_string("%s value=%s %s",
              col("event_type"), col("value"), col("ts")).as("value"),
            pmod(xxhash64(col("event_type")), lit(4)).cast("int").as("partition"),
            expr("ts div 1000000").cast("long").as("timestamp"))
          .write.format("graft-kafka")
          .option("bootstrap", bs).option("topic", "events")
          // produce SNAPPY record batches: the broker stores them
          // verbatim and the consumer side decompresses, so the codec
          // round-trips through the real wire + log
          .option("compression", "snappy")
          .mode("append").save()
        // materialize the wire read before the broker stops (the
        // returned frame is evaluated later); fixed per-sf path,
        // overwritten per run — no tmpdir leak (ADVICE r12 low)
        val tmp = s"/tmp/graft_kafka_wire/${new java.io.File(dir).getName}"
        s.read.format("graft-kafka")
          .option("bootstrap", bs).option("subscribe", "events").load()
          .selectExpr("CAST(value AS STRING) AS line",
            "CAST(key AS STRING) AS k", "partition")
          .write.mode("overwrite").parquet(tmp)
        val back = s.read.parquet(tmp)
        val misplaced = back
          .filter(pmod(xxhash64(col("k")), lit(4)).cast("int") =!= col("partition"))
          .count()
        require(misplaced == 0,
          s"ts_kafka_wire: $misplaced rows in the wrong topic-partition")
        LineProtocol.parseWithField(back.select("line").as[String], "value")
          .groupBy(col("measurement").as("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(expr("CAST(round(value * 100) AS BIGINT)")).cast("double") / 100.0)
              .as("sum_value"),
            min(expr("ts_ns div 1000")).as("first_us"),
            max(expr("ts_ns div 1000")).as("last_us"))
          .orderBy("event_type")
      } finally broker.stop()
    }),

    "csv_roundtrip" -> ((s, dir) => {
      // external-table surface (create_external_table.slt / COPY INTO):
      // write nation as CSV, read it back through the CSV source.
      val nation = Tables(s, dir, "nation")
      val tmp = s"/tmp/graft_csv/${new java.io.File(dir).getName}/nation"
      nation.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(tmp)
        .orderBy("n_nationkey")
    }),

    "json_roundtrip" -> ((s, dir) => {
      // JSON side of the external-table surface
      // (create_external_table.slt): write nation as JSON lines, read it
      // back through the JSON source with an explicit schema (no
      // inference scan — the 100 TB rule: schema is metadata, not a job).
      val nation = Tables(s, dir, "nation")
      val tmp = s"/tmp/graft_json/${new java.io.File(dir).getName}/nation"
      nation.coalesce(1).write.mode("overwrite").json(tmp)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(tmp)
        .orderBy("n_nationkey")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "ts_line_protocol" ->
      """SELECT event_id, 'events' AS measurement, user_id, event_type, value,
        |  user_id AS n, epoch_us(cast(events.ts AS TIMESTAMP)) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,
    "ts_opentsdb_telnet" ->
      """SELECT event_id, 'events_' || event_type AS metric,
        |  epoch_us(cast(events.ts AS TIMESTAMP)) AS ts_us, value, user_id
        |FROM events ORDER BY event_id""".stripMargin,
    "ts_opentsdb_json" ->
      """SELECT event_id, 'events_' || event_type AS metric,
        |  epoch_us(cast(events.ts AS TIMESTAMP)) AS ts_us, value, user_id
        |FROM events ORDER BY event_id""".stripMargin,
    "ts_eslog_bulk" ->
      """SELECT event_id, 'create' AS cmd, 'events' AS es_index, event_type,
        |  epoch_ns(cast(events.ts AS TIMESTAMP)) AS ts_ns, value,
        |  CAST(user_id AS DOUBLE) AS user_id_f, TRUE AS ok
        |FROM events ORDER BY event_id""".stripMargin,
    "ts_ndjson_ingest" ->
      """SELECT event_id, epoch_ns(cast(events.ts AS TIMESTAMP)) AS ts_ns,
        |  value, CAST(user_id AS DOUBLE) AS chars_f, 'info' AS lvl
        |FROM events ORDER BY event_id""".stripMargin,
    "csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // full-row recompute over the RAW lake: the Spark side produced
    // these from DECODED Loki wire entries
    "ts_loki_push" ->
      """SELECT event_id,
        |  '{app="graft",event_type="' || event_type || '"}' AS labels,
        |  epoch_ns(cast(events.ts AS TIMESTAMP)) AS ts_ns, value
        |FROM events ORDER BY event_id""".stripMargin,
    // full-row recompute in OTLP units: span ids/kind/duration as the
    // Spark side derived them from DECODED wire spans
    "ts_otlp_traces" ->
      """SELECT event_id, 'svc_' || event_type AS service,
        |  'graft-ingest' AS scope, event_type AS span_name,
        |  'SPAN_KIND_SERVER' AS kind,
        |  epoch_ns(cast(events.ts AS TIMESTAMP)) AS start_ns,
        |  epoch_ns(cast(events.ts AS TIMESTAMP))
        |    + CAST(round(value * 1000) AS BIGINT) AS end_ns,
        |  user_id
        |FROM events ORDER BY event_id""".stripMargin,
    // the same matcher semantics the Spark side translated from the
    // decoded ReadRequest (EQ/NEQ = equality, RE/NRE = UNANCHORED
    // regex, inclusive ms bounds), recomputed over the raw lake
    "ts_prom_remote_read" ->
      """WITH s AS (
        |  SELECT event_type AS metric, CAST(user_id AS VARCHAR) AS u,
        |    epoch_ns(cast(events.ts AS TIMESTAMP)) // 1000000 AS ts_ms,
        |    value
        |  FROM events
        |)
        |SELECT CAST(0 AS BIGINT) AS query_idx, metric,
        |  'user=' || u AS labels, ts_ms, value FROM s
        |WHERE metric = 'click' AND regexp_matches(u, '1$')
        |  AND ts_ms BETWEEN 1705276800000 AND 1706659200000
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), metric, 'user=' || u, ts_ms, value FROM s
        |WHERE regexp_matches(metric, 'i') AND u != '42'
        |  AND ts_ms BETWEEN 1704067200000 AND 1705276799999
        |ORDER BY query_idx, metric, labels, ts_ms, value""".stripMargin,
    // the HTTP-hop lane computes ts_prom_remote_write's exact aggregate
    // from bodies that crossed a real loopback POST + spool
    "ts_wire_http_ingest" ->
      """SELECT event_type AS metric, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events GROUP BY event_type ORDER BY metric""".stripMargin,
    // per-series aggregate over the RAW lake: the Spark side computed
    // it from rows that crossed produce → broker log → fetch → decode
    "ts_kafka_wire" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value,
        |  min(epoch_ns(ts) // 1000) AS first_us,
        |  max(epoch_ns(ts) // 1000) AS last_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // per-metric aggregate over the RAW lake in remote-write units (ms
    // timestamps): the Spark side computed it from DECODED wire samples
    "ts_prom_remote_write" ->
      """SELECT event_type AS metric, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events GROUP BY event_type ORDER BY metric""".stripMargin
  )
}
