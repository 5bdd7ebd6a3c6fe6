package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.sources.{LineProtocol, LokiPush, OpenTsdb, OtlpTrace, PromRemote}

/** Single-layer measurements that run after the timed region of a
  * traced run: wire-codec decode rates, text-kernel rates, and the
  * storage layer's memo-hit and fingerprint costs.
  */
object Layers {

  private val CodecRows = 20000
  private val KernelCopies = 2
  private val Rounds = 3

  def all(spark: SparkSession, lake: String): Seq[(String, Double)] =
    storage(spark, lake) ++ codecs(spark, lake) ++ kernels(spark, lake)

  /** Seconds per call of `f`, median of `Rounds` rounds of `reps` calls. */
  private def medianSeconds(reps: Int)(f: => Unit): Double = {
    val per = (1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { f; i += 1 }
      (System.nanoTime() - t0) / 1e9 / reps
    }.sorted
    per(per.length / 2)
  }

  /** Seconds per call of `f`: calls for 0.3 s untimed, then the median of
    * `Rounds` rounds of as many calls as fill 0.2 s.
    */
  private def timedCall(f: => Unit): Double = {
    val w0 = System.nanoTime()
    var calls = 0
    while (calls < 2 || System.nanoTime() - w0 < 0.3e9) { f; calls += 1 }
    val perCall = (System.nanoTime() - w0) / 1e9 / calls
    medianSeconds(math.max(1, math.ceil(0.2 / perCall).toInt))(f)
  }

  /** Rows/s and MB/s of `decode` over `payloads`, single-threaded. */
  private def decodeRate[P](payloads: Seq[P], bytes: P => Int)(
      decode: P => Int): (Double, Double) = {
    val totalBytes = payloads.iterator.map(p => bytes(p).toLong).sum
    val rows = payloads.iterator.map(p => decode(p).toLong).sum
    val sec = timedCall { payloads.foreach(decode) }
    (rows / sec, totalBytes / 1e6 / sec)
  }

  final case class Event(id: Long, tsNs: Long, user: Long, kind: String, value: Double,
                         props: String)

  private def events(spark: SparkSession, lake: String): Array[Event] =
    graft.Tables.eventsNanos(spark, lake)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))

  private def bytes8(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()

  /** decode_rows_per_s.<codec> and decode_mb_per_s.<codec>; payloads are
    * encoded once from the first `CodecRows` rows of the lake's events
    * table, untimed.
    */
  private def codecs(spark: SparkSession, lake: String): Seq[(String, Double)] = {
    val ev = events(spark, lake).take(CodecRows)
    val batches = ev.grouped(1000).toSeq

    val lp = ev.map { e =>
      val props = e.props.replace("\\", "\\\\").replace("\"", "\\\"")
      s"events,event_type=${e.kind},user_id=${e.user} value=${e.value}," +
        s"""event_id=${e.id}i,props="$props" ${e.tsNs}"""
    }.toSeq
    val tsdb = ev.map(e =>
      s"put events.value ${Math.floorDiv(e.tsNs, 1000000000L)} ${e.value} " +
        s"event_type=${e.kind} user_id=${e.user}").toSeq
    val prom = batches.map { b =>
      PromRemote.compress(PromRemote.encodeWriteRequest(b.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, es) =>
          (Seq("__name__" -> "events_value", "event_type" -> k),
            es.map(e => (e.value, Math.floorDiv(e.tsNs, 1000000L))).toSeq)
        }))
    }
    val loki = batches.map { b =>
      LokiPush.compress(LokiPush.encodePushRequest(b.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, es) => (s"""{event_type="$k"}""", es.map(e => (e.tsNs, e.props)).toSeq) }))
    }
    val otlp = ev.grouped(500).toSeq.map { b =>
      OtlpTrace.encodeTraces(b.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, es) =>
        (k, Seq("perfbench" -> es.map(e => OtlpTrace.SpanIn(
          bytes8(e.id) ++ bytes8(e.user), bytes8(e.id), Array.emptyByteArray, k, 2,
          e.tsNs, e.tsNs + 1000L, Seq("user_id" -> e.user.toString))).toSeq))
      })
    }

    def named(codec: String, r: (Double, Double)) =
      Seq(s"decode_rows_per_s.$codec" -> r._1, s"decode_mb_per_s.$codec" -> r._2)
    named("line_protocol", decodeRate[String](lp, _.getBytes(UTF_8).length)(
      l => LineProtocol.parseLine(l).size)) ++
      named("prom_remote", decodeRate[Array[Byte]](prom, _.length)(
        b => PromRemote.parseWriteRequest(b).length)) ++
      named("otlp", decodeRate[Array[Byte]](otlp, _.length)(
        b => OtlpTrace.parseTraces(b).length)) ++
      named("loki", decodeRate[Array[Byte]](loki, _.length)(
        b => LokiPush.parsePushRequest(b).length)) ++
      named("opentsdb", decodeRate[String](tsdb, _.getBytes(UTF_8).length)(
        l => OpenTsdb.parseTelnetLine(l).size))
  }

  /** kernel_rows_per_s.<kernel>: a noop select of one text kernel over
    * the documents' text column, replicated and checkpointed so the
    * scan is not what is measured.
    */
  private def kernels(spark: SparkSession, lake: String): Seq[(String, Double)] = {
    graft.functions.TextExpressions.register(spark)
    val text = graft.Tables(spark, lake, "documents").select("text")
      .crossJoin(spark.range(KernelCopies).toDF("copy")).select("text")
      .localCheckpoint(eager = true)
    val rows = text.count()
    Seq("minhash_sig" -> "minhash_sig(text, 8)", "simhash60" -> "simhash60(text)",
      "char_ngram_set" -> "char_ngram_set(text, 4)").map { case (name, e) =>
      val q = text.selectExpr(s"$e AS k")
      val sec = timedCall(q.write.format("noop").mode("overwrite").save())
      s"kernel_rows_per_s.$name" -> rows / sec
    }
  }

  /** tables_read_ms (memo-hit `Tables.apply`) and fingerprint_ms
    * (`Lake.fingerprint` of the staged events root).
    */
  private def storage(spark: SparkSession, lake: String): Seq[(String, Double)] = {
    graft.Tables(spark, lake, "events")
    val read = medianSeconds(200)(graft.Tables(spark, lake, "events"))
    val root = graft.Tables.eventsLakeRoot(spark, lake)
    val fp = medianSeconds(10)(graft.Lake.fingerprint(root))
    Seq("tables_read_ms" -> read * 1e3, "fingerprint_ms" -> fp * 1e3)
  }
}
