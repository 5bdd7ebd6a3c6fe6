package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Lake, Tables}
import graft.admin.{AdminEngine, AdminError, MetaCatalog}

/** The mutating admin DDL/DCL surface (SURVEY §2.5 → closed):
  * tenants, users, roles, grants, databases with
  * TTL/SHARD/VNODE_DURATION/REPLICA/PRECISION, TSKV table DDL,
  * deferred DROP ... AFTER / RECOVER, sys tables, and the two places
  * admin policy meets data — database-TTL enforcement through the
  * day-lake lifecycle, and INSERT/SELECT through real parquet
  * storage.
  *
  * Every lane drives [[graft.admin.AdminEngine]] with a FIXED
  * statement script and a FIXED logical clock, so the catalog state —
  * and therefore the emitted rows — are fully deterministic; the
  * DuckDB oracles pin them row-for-row. The q_admin_ttl_expire lane
  * is additionally data-backed: the catalog TTL must reproduce
  * ts_ttl_expire's `ts >= cutoff` aggregate on the real events lake
  * through [[graft.operators.Dml.expireDays]].
  *
  * Reference: query_server/sqllogicaltests/cases/{dcl,ddl,sys_table}.
  */
object AdminQueries {

  private val FixedNowNs = 1700000000000000000L // 2023-11-14T22:13:20Z

  private def strDf(s: SparkSession, names: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(names.map(StructField(_, StringType)))
    val df = s.createDataFrame(rows.map(r => Row(r: _*)).toList.asJava, schema)
    df.orderBy(names.map(org.apache.spark.sql.functions.col): _*)
  }

  private def freshEngine(s: SparkSession): (AdminEngine, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory("graft_admin_lane")
    (new AdminEngine(s, new MetaCatalog, root.toString, () => FixedNowNs), root)
  }

  /** The events lake rendered ONCE per lake content as evts tskv
    * storage — (time_ns, event_type, value) in `StageFiles` ts-ranged
    * part files — via the Lake.staged one-time-layout-job convention
    * every stream/prune lane uses, then COPIED file-for-file into the
    * calling lane's per-invocation engine root (a local FS copy of a
    * ~17 MB layout, not a Spark job). Before this, each of the three
    * evts-backed admin lanes re-ran the render+range-shuffle+write per
    * bench run (guide §1.2: don't recompute what a layout job owns).
    */
  private def stageEvtsInto(s: SparkSession, dir: String,
                            dst: java.nio.file.Path): Unit = {
    import org.apache.spark.sql.functions._
    val staged = graft.Lake.staged(
      s"admin_evts|$dir|${StreamQueries.StageFiles}", Seq(s"$dir/events.parquet")) { d =>
      Tables.eventsNanos(s, dir)
        .select(col("ts").as("time_ns"), col("event_type"),
          col("value").cast("double").as("value"))
        .repartitionByRange(StreamQueries.StageFiles, col("time_ns"))
        .write.mode("overwrite").parquet(d.toString)
    }
    java.nio.file.Files.createDirectories(dst)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
    try {
      val it = ls.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("part-") || n == "_SUCCESS")
          java.nio.file.Files.copy(p, dst.resolve(n),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally ls.close()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The full catalog surface in one deterministic script: two
    // tenants, three users, a custom role, grants, databases with the
    // option zoo (normalized durations, precision), a TSKV table with
    // codecs, an ALTER, and a deferred drop — then every sys table's
    // essential projection as one sorted (src, a, b, c, d) union.
    "q_admin_sys_catalog" -> ((s, _) => {
      val (e, root) = freshEngine(s)
      try {
        Seq(
          "CREATE TENANT t_iot WITH comment='iot fleet'",
          "CREATE USER ops WITH comment='ops team'",
          "CREATE USER analyst",
          "ALTER TENANT t_iot ADD USER ops AS owner",
          "--#TENANT=t_iot", "--#USER_NAME=ops",
          "CREATE ROLE readers INHERIT member",
          "ALTER TENANT t_iot ADD USER analyst AS readers",
          "CREATE DATABASE telemetry WITH TTL '90d' SHARD 8 VNODE_DURATION '7d' REPLICA 2 PRECISION 'MS'",
          "CREATE DATABASE archive",
          "GRANT READ ON DATABASE telemetry TO readers",
          "CREATE TABLE telemetry.sensors(temp DOUBLE CODEC(GORILLA), status STRING CODEC(GZIP), ok BOOLEAN, TAGS(region, device))",
          "ALTER DATABASE archive SET TTL '365d'",
          "DROP DATABASE archive AFTER '1h'",
          "--#TENANT=t_iot", "--#USER_NAME=root"
        ).foreach(e.execute)

        def all(schema: String, table: String): Seq[Row] =
          e.sysTable(schema, table).collect().toSeq // bounded: catalog metadata

        val rows =
          all("information_schema", "databases").map(r =>
            Seq("db", r.getString(0), r.getString(1), r.getString(2), r.getString(6))) ++
          all("information_schema", "columns").map(r =>
            Seq("col", r.getString(2), r.getString(3), s"${r.getString(4)}#${r.getLong(5)}", r.getString(9))) ++
          all("information_schema", "members").map(r =>
            Seq("member", r.getString(0), r.getString(1), "", "")) ++
          all("information_schema", "roles").map(r =>
            Seq("role", r.getString(0), r.getString(1), r.getString(2), "")) ++
          all("information_schema", "database_privileges").map(r =>
            Seq("grant", r.getString(1), r.getString(2), r.getString(3), "")) ++
          all("information_schema", "resource_status").map(r =>
            Seq("resource", r.getString(0), r.getString(1), r.getString(3), "")) ++
          all("cluster_schema", "tenants").map(r =>
            Seq("tenant", r.getString(0), r.getString(1), "", "")) ++
          all("cluster_schema", "users").map(r =>
            Seq("user", r.getString(0), r.getBoolean(1).toString, r.getString(2), ""))
        strDf(s, Seq("src", "a", "b", "c", "d"), rows)
      } finally Lake.deleteRecursively(root)
    }),

    // The access-control matrix of user_access.slt/dcl_role.slt as
    // data: each (user, op) attempt's outcome class — statements that
    // must succeed, privilege denials, auth denials for non-members,
    // tenant isolation (a foreign tenant's table is unresolvable), and
    // the Meta errors for absent roles/privileges.
    "q_admin_access_matrix" -> ((s, _) => {
      val (e, root) = freshEngine(s)
      try {
        Seq(
          "CREATE TENANT tenant_a", "CREATE TENANT tenant_b",
          "CREATE USER user_a", "CREATE USER user_b",
          "CREATE USER user_c", "CREATE USER user_d",
          "ALTER TENANT tenant_a ADD USER user_a AS owner",
          "ALTER TENANT tenant_b ADD USER user_b AS owner",
          "--#TENANT=tenant_a", "--#USER_NAME=user_a",
          "CREATE ROLE role_a INHERIT member",
          "ALTER TENANT tenant_a ADD USER user_d AS role_a",
          "CREATE DATABASE db_a", "--#DATABASE=db_a",
          "CREATE TABLE air_a (visibility DOUBLE,temperature DOUBLE,pressure DOUBLE,TAGS(station))",
          "INSERT INTO air_a (TIME, station, visibility, temperature, pressure) VALUES(1666165200290401000, 'XiaoMaiDao', 56, 69, 77)",
          "GRANT READ ON DATABASE db_a TO role_a"
        ).foreach(e.execute)

        def attempt(user: String, tenant: String, db: String, op: String,
                    sql: String): Seq[String] = {
          e.session.user = user; e.session.tenant = tenant; e.session.database = db
          val outcome =
            try {
              val res = e.execute(sql)
              "ok:" + res.map(_.count().toString).getOrElse("-")
            } catch {
              case ae: AdminError => ae.kind
              case _: Exception   => "unresolvable"
            }
          Seq(user, op, outcome)
        }

        val rows = Seq(
          attempt("root", "cnosdb", "public", "drop_root", "DROP USER root"),
          attempt("user_a", "tenant_a", "db_a", "select_own", "SELECT * FROM air_a"),
          attempt("user_b", "tenant_b", "public", "select_foreign", "SELECT * FROM air_a"),
          attempt("user_c", "tenant_b", "public", "select_not_member", "SELECT 1 AS one"),
          attempt("user_d", "tenant_a", "db_a", "create_db_as_member", "CREATE DATABASE db_x"),
          attempt("user_d", "tenant_a", "db_a", "create_role_as_member", "CREATE ROLE r_x INHERIT member"),
          attempt("user_d", "tenant_a", "db_a", "show_granted_dbs", "SHOW DATABASES"),
          attempt("user_d", "tenant_a", "db_a", "read_granted_table", "SELECT station FROM air_a"),
          attempt("user_d", "tenant_a", "db_a", "write_with_read_only", "INSERT INTO air_a (TIME, station, visibility, temperature, pressure) VALUES(2, 'x', 1, 1, 1)"),
          attempt("root", "tenant_a", "db_a", "grant_missing_role", "GRANT READ ON DATABASE db_a TO ROLE ghost"),
          attempt("root", "tenant_a", "db_a", "revoke_absent_priv", "REVOKE WRITE ON DATABASE db_a FROM role_a"),
          attempt("root", "tenant_a", "db_a", "add_user_missing_role", "ALTER TENANT tenant_a ADD USER user_c AS ghost"))
        strDf(s, Seq("usr", "op", "outcome"), rows)
      } finally Lake.deleteRecursively(root)
    }),

    // Database-TTL POLICY driving the day-lake MECHANISM: a catalog
    // database with TTL '30d' over a private copy of the primary
    // events lake, enforced as-of (cutoff + 30d) — must answer
    // exactly like ts_ttl_expire's explicit-cutoff lifecycle (the
    // oracle is that lane's SQL verbatim). Policy is metadata; the
    // expiry work stays O(expired days) through the Hadoop FS.
    "q_admin_ttl_expire" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val root = Tables.dayLakeCopy(s, dir, "graft_admin_ttl_lake")
      val days = Tables.eventsLakeDays(s, dir)
      require(days.size > 2, s"lake spans ${days.size} day(s); need at least 3")
      val mid = days(days.size / 2)
      val cutoffNs = java.time.LocalDate.parse(mid).toEpochDay * Tables.NsPerDay +
        Tables.NsPerDay / 2
      val ttlNs = 30L * Tables.NsPerDay
      val (e, eroot) = freshEngine(s)
      try {
        e.execute("CREATE DATABASE evts WITH TTL '30d'")
        // the copy's files have the primary layout's file schema: the
        // boundary-day rewrite reads it without an inference job
        val stats = e.enforceTtl("evts", root.toString, cutoffNs + ttlNs,
          fileSchema = Some(Tables.eventsNanos(s, dir).schema)).get
        require(stats.droppedDays == days.count(_ < mid) && stats.boundaryRewritten,
          s"TTL-policy expiry wrong: $stats for cutoff $mid+12h over ${days.size} days")
      } finally Lake.deleteRecursively(eroot)
      // the copy has the primary layout's schema: no inference job
      s.read.schema(Tables.eventsDayLake(s, dir).schema).parquet(root.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("event_type")
    }),

    // The reference's authenticated /api/v1/sql HTTP route end-to-end
    // over REAL loopback sockets: basic-auth credentials select the
    // user, tenant/db query params select the session, DDL + INSERT +
    // SELECT round-trip as CSV, and the status mapping (401 bad
    // credentials / non-member, 404 missing object, 422 parse reject)
    // is pinned. The listener thread only routes; execution is the
    // same AdminEngine path as every other admin lane.
    "q_admin_http_sql" -> ((s, _) => {
      val (e, root) = freshEngine(s)
      val spool = java.nio.file.Files.createTempDirectory("graft_admin_http_lane")
      val srv = graft.sources.WireHttp.start(spool.toString, sqlExec = e.execHttp)
      try {
        def post(stmt: String, user: String = "root", pass: String = "",
                 db: String = "public"): (Int, String) = {
          val (code, body) = graft.sources.WireHttp.post(
            s"${srv.base}/api/v1/sql?tenant=cnosdb&db=$db",
            stmt.getBytes("UTF-8"), contentType = "text/plain",
            basicAuth = (user, pass))
          (code, new String(body, "UTF-8").replace("\n", "|"))
        }
        def step(name: String, r: (Int, String), keepBody: Boolean): Seq[String] =
          Seq(name, r._1.toString, if (keepBody) r._2 else "")
        val rows = Seq(
          step("create_db", post("CREATE DATABASE wdb"), keepBody = false),
          step("create_user", post("CREATE USER wu WITH password='s3cret'"), keepBody = false),
          step("add_member", post("ALTER TENANT cnosdb ADD USER wu AS owner"), keepBody = false),
          step("create_table", post("CREATE TABLE wdb.m(v DOUBLE, TAGS(host))"), keepBody = false),
          step("insert", post("INSERT INTO m (TIME, host, v) VALUES (1000000000, 'h1', 2.5), (2000000000, 'h2', 3.5)", db = "wdb"), keepBody = true),
          step("select_csv", post("SELECT host, v FROM m ORDER BY host", user = "wu", pass = "s3cret", db = "wdb"), keepBody = true),
          step("bad_password", post("SELECT 1 AS one", user = "wu", pass = "wrong"), keepBody = false),
          step("unknown_user", post("SELECT 1 AS one", user = "ghost"), keepBody = false),
          step("missing_db", post("DESCRIBE DATABASE nope"), keepBody = false),
          step("parse_reject", post("FROBNICATE x"), keepBody = false))
        strDf(s, Seq("step", "status", "body"), rows)
      } finally { srv.stop(); Lake.deleteRecursively(spool); Lake.deleteRecursively(root) }
    }),

    // CREATE STREAM TABLE end-to-end IN SQL (ddl/create_stream_table
    // .slt + stream/basic.slt shape): the stream table is declared
    // through the statement engine, its source tskv table's storage is
    // fed K event-time-ranged parquet files (the landing pattern K
    // INSERTs produce, mtimes pinned so the file stream delivers them
    // as K ordered micro-batches), and `INSERT INTO sink SELECT ..
    // time_window .. FROM stream` starts a REAL Structured Streaming
    // job — watermark 0ms, append mode, foreachBatch into the sink
    // table's storage. The oracle is stream_windowed's SQL VERBATIM
    // over the raw lake: matching hashes prove the SQL-declared stream
    // table computes exactly what the API-declared stream computes,
    // window for window.
    "q_admin_stream_table" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (e, root) = freshEngine(s)
      Seq(
        "CREATE DATABASE sdb",
        "--#DATABASE=sdb",
        "CREATE TABLE evts(value DOUBLE, TAGS(event_type))",
        "CREATE TABLE winagg(n BIGINT, sum_value DOUBLE, TAGS(event_type))"
      ).foreach(e.execute)
      val srcPath = root.resolve("cnosdb").resolve("sdb").resolve("evts")
      stageEvtsInto(s, dir, srcPath)
      StreamQueries.pinMtimes(srcPath)
      e.execute("CREATE STREAM TABLE evstream (time TIMESTAMP, event_type STRING, value DOUBLE)" +
        " WITH (db='sdb', table='evts', event_time_column='time') engine = tskv")
      e.execute("INSERT INTO winagg SELECT time.start, event_type, n, sum_value FROM (" +
        "SELECT time_window(time, interval '1 hour') AS time, event_type, count(*) AS n," +
        " round(sum(value), 4) AS sum_value" +
        " FROM evstream GROUP BY event_type, time_window(time, interval '1 hour'))")
      try {
        e.awaitStreams()
        val batches = e.streamBatchesDelivered
        require(batches > 1, s"stream table lane ran $batches micro-batch(es); need > 1")
      } finally e.stopStreams()
      // same emit-boundary clip as stream_windowed: only windows the
      // watermark provably closed on both sides (root stays on disk —
      // the returned frame reads the sink lazily)
      val maxUs = Tables.eventsNanos(s, dir).agg(max(expr("ts div 1000"))).head.getLong(0)
      e.execute("SELECT event_type, unix_micros(time) AS w_start_us, n, sum_value FROM winagg").get
        .filter(col("w_start_us") + 3600000000L < maxUs)
        .orderBy("event_type", "w_start_us")
    }),

    // SHOW SERIES as a parseable STATEMENT (dql/show_series.slt) over
    // a tskv table holding the real events lake: the key column is the
    // reference's "table,tag=value" synthesis, computed as a distinct
    // over the TAG columns only (column pruning reaches the scan).
    "q_admin_show_series" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (e, root) = freshEngine(s)
      Seq("CREATE DATABASE sdb", "--#DATABASE=sdb",
        "CREATE TABLE evts(value DOUBLE, TAGS(event_type))").foreach(e.execute)
      val srcPath = root.resolve("cnosdb").resolve("sdb").resolve("evts")
      stageEvtsInto(s, dir, srcPath)
      e.execute("SHOW SERIES FROM evts ORDER BY key").get
    }),

    // SHOW TAG VALUES as a parseable STATEMENT (dql/show_tag_values
    // .slt): WITH KEY IN selects the tag set; distinct non-null
    // (key, value) pairs.
    "q_admin_show_tag_values" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (e, root) = freshEngine(s)
      Seq("CREATE DATABASE sdb", "--#DATABASE=sdb",
        "CREATE TABLE evts(value DOUBLE, TAGS(event_type))").foreach(e.execute)
      val srcPath = root.resolve("cnosdb").resolve("sdb").resolve("evts")
      stageEvtsInto(s, dir, srcPath)
      e.execute("SHOW TAG VALUES FROM evts WITH KEY IN (event_type) ORDER BY key, value").get
    }),

    // The reference's PRIMARY write path end-to-end over REAL sockets
    // (http_service.rs:484 → coordinator schema-first write → SQL):
    // events rendered to line protocol, POSTed in K bodies through the
    // AUTHENTICATED /api/v1/write route (the catalog gates Write on
    // the target db before the spool), the spool decoded executor-side
    // and SCHEMALESSLY written — the `wire_events` tskv table and its
    // typed columns (event_id BIGINT from the `i` suffix, value DOUBLE,
    // event_type TAG) are created BY the write — then queried through
    // the engine's SQL front. The oracle recomputes from the raw lake:
    // matching hashes prove wire render → auth → spool → implicit DDL →
    // typed storage → SQL loses nothing.
    "q_admin_wire_lp_sql" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val (e, root) = freshEngine(s)
      e.execute("CREATE DATABASE wiredb")
      e.execute("CREATE USER ingest WITH password='w1re'")
      e.execute("ALTER TENANT cnosdb ADD USER ingest AS member")
      e.execute("CREATE ROLE writers INHERIT member")
      e.execute("GRANT WRITE ON DATABASE wiredb TO writers")
      e.execute("ALTER TENANT cnosdb ADD USER ingest AS writers")
      // K bounded LP bodies (one per event-time range), escaped per LP
      // rules; event_id rides as an i-suffixed BIGINT field
      val tagEsc = regexp_replace(col("event_type"), "([ ,=])", "\\\\$1")
      val bodies = Tables.eventsNanos(s, dir)
        // measurement named wire_events, NOT events: CoreSql lanes leak
        // a createOrReplace temp view called `events` into the shared
        // session by design, and the engine's collision check (fail
        // loudly instead of destroying foreign views) would reject the
        // lane's final SELECT depending on lane execution order
        .select(format_string("wire_events,event_type=%s value=%s,event_id=%si %s",
          tagEsc, col("value"), col("event_id"), col("ts")).as("line"),
          pmod(col("event_id"), lit(4)).as("k"))
        .groupBy("k").agg(concat_ws("\n", collect_list(col("line"))).as("body"))
        .select("body").as[String].collect() // bounded: 4 POST bodies
      val spool = java.nio.file.Files.createTempDirectory("graft_wire_lp")
      val srv = graft.sources.WireHttp.start(spool.toString, writeAuth = e.authWrite)
      try {
        // a Write-less user is rejected before the spool
        val (bad, _) = graft.sources.WireHttp.post(
          s"${srv.base}/api/v1/write?tenant=cnosdb&db=wiredb",
          bodies.head.getBytes("UTF-8"), basicAuth = ("ingest", "nope"))
        require(bad == 401, s"wire lp: bad credentials answered $bad")
        bodies.foreach { b =>
          val (code, _) = graft.sources.WireHttp.post(
            s"${srv.base}/api/v1/write?tenant=cnosdb&db=wiredb",
            b.getBytes("UTF-8"), basicAuth = ("ingest", "w1re"))
          require(code == 204, s"wire lp: POST answered $code")
        }
      } finally srv.stop()
      // decode the spool where it scales — executors — and write
      // schemalessly into the catalog (implicit CREATE TABLE wire_events)
      e.execute("--#DATABASE=wiredb")
      val lines = s.read.format("binaryFile").load(s"$spool/lp")
        .select(col("content").cast("string").as("body"))
        .select(explode(split(col("body"), "\n")).as("value")).as[String]
      e.writeLines("wiredb", lines)
      // the implicit table answers SQL; root stays on disk (lazy frame)
      e.execute(
        "SELECT event_type, count(*) AS n," +
          " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value," +
          " min(event_id) AS min_id, max(event_id) AS max_id" +
          " FROM wire_events GROUP BY event_type ORDER BY event_type").get
    }),

    // COPY INTO as a parseable statement, both directions
    // (dml/copy_into/{copy_into_table,copy_into_location__UNIX}.slt;
    // reference parser.rs:1695-1830): the real events lake is imported
    // into a tskv table from parquet, exported to csv through a
    // subquery, and re-imported positionally — the final per-series
    // aggregate over the DOUBLED table hash-matches the raw lake's,
    // proving both directions and the csv round trip lose nothing.
    // EXPLAIN COPY INTO is witnessed in-lane: two plan rows over the
    // parquet scan, nothing executed (dml/explain/explain_copy_into.slt).
    "q_admin_copy_into" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val (e, root) = freshEngine(s)
      Seq(
        "CREATE DATABASE copydb",
        "--#DATABASE=copydb",
        "CREATE TABLE metrics(value DOUBLE, TAGS(event_type))"
      ).foreach(e.execute)
      // the import SOURCE is read-only for COPY INTO — stage the
      // rendered parquet once per lake content (Lake.staged layout-job
      // convention) and point the statement straight at it, instead of
      // re-rendering + rewriting it under the engine root every run
      val srcDir = graft.Lake.staged(
        s"admin_copy_src|$dir", Seq(s"$dir/events.parquet")) { d =>
        Tables.events(s, dir)
          .select(col("ts").as("time"), col("event_type"), col("value"))
          .write.mode("overwrite").parquet(d.toString)
      }
      val n0 = s.read.parquet(srcDir).count()
      def one(sql: String): Long = e.execute(sql).get.head().getLong(0)
      val n1 = one(s"COPY INTO metrics FROM 'file://$srcDir/' file_format = (type = 'parquet')")
      require(n1 == n0, s"copy into: parquet import copied $n1 of $n0")
      val ex = e.execute(s"EXPLAIN COPY INTO 'file://${root.resolve("never")}/'" +
        " FROM (SELECT time, event_type, value FROM metrics)" +
        " file_format = (type = 'parquet')").get.collect() // bounded: 2 plan rows
      require(ex.map(_.getString(0)).toSeq == Seq("logical_plan", "physical_plan") &&
        ex(1).getString(1).toLowerCase.contains("parquet"),
        "copy into: EXPLAIN must print logical+physical plans over the parquet scan")
      require(!java.nio.file.Files.exists(root.resolve("never")),
        "copy into: EXPLAIN must not execute the copy")
      val csvOut = root.resolve("copy_csv").toString
      val n2 = one(s"COPY INTO 'file://$csvOut/' FROM" +
        " (SELECT time, event_type, value FROM metrics) file_format = (type = 'csv')")
      require(n2 == n1, s"copy into: csv export copied $n2 of $n1")
      val n3 = one(s"COPY INTO metrics FROM 'file://$csvOut/' file_format = (type = 'csv')")
      require(n3 == n1, s"copy into: csv re-import copied $n3 of $n1")
      // the re-import hit only EXISTING (series, time) keys, so the
      // upsert merge leaves the table at the lake's row count — the
      // reference's copy_into_table.slt contract (re-importing the
      // same file keeps count(time) at 8192)
      val merged = one("SELECT count(*) AS n FROM metrics")
      require(merged == n0, s"copy into: upsert merge read $merged rows, lake has $n0")
      // root stays on disk — the returned frame reads the table lazily
      e.execute("SELECT event_type, count(*) AS n," +
        " cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_q," +
        " min(unix_micros(time)) AS min_us, max(unix_micros(time)) AS max_us" +
        " FROM metrics GROUP BY event_type ORDER BY event_type").get
    }),

    // The DML statement front over tskv storage, mirroring
    // dml/delete.slt + update_field.slt + update_tag.slt +
    // file_query.slt statement-for-statement on the slt's own fixture
    // rows: DELETE by time and by tag (complement rewrite), UPDATE of
    // fields (upsert re-insert; SET NULL = no modification; expression
    // values), UPDATE of tags (series-key rewrite), then COMPACT
    // DATABASE — after which the reads must still be exact. Every
    // UPDATE's matched-row count is require()d in-lane against the
    // slt's counts; the final table is row-pinned by the oracle.
    "q_admin_dml" -> ((s, _) => {
      val (e, root) = freshEngine(s)
      try {
        Seq(
          "CREATE DATABASE dmldb",
          "--#DATABASE=dmldb",
          "CREATE TABLE dml_tbl(f0 BIGINT, f1 BIGINT, TAGS(t0, t1, t2))",
          "INSERT dml_tbl(TIME, f0, f1, t0, t1) VALUES" +
            " ('1999-12-31 00:00:00.000', 111, 444, 'tag11', 'tag21')," +
            " ('1999-12-31 00:00:00.005', 222, 444, 'tag12', 'tag22')," +
            " ('1999-12-31 00:00:10.015', 444, 111, 'tag14', 'tag24')," +
            " ('1999-12-31 00:00:10.020', 222, 555, 'tag14', 'tag21')," +
            " ('1999-12-31 00:10:00.025', 333, 555, 'tag11', 'tag22')," +
            " ('1999-12-31 00:10:00.030', 444, 333, 'tag11', 'tag23')," +
            " ('1999-12-31 01:00:00.035', 555, 222, 'tag14', 'tag24')"
        ).foreach(e.execute)
        // the slt's null-field row arrives as a second partial write —
        // the f1-only INSERT must merge into the same (tags, time) key
        e.execute("INSERT dml_tbl(TIME, f1, t0, t1) VALUES" +
          " ('1999-12-31 00:00:00.010', 222, 'tag12', 'tag23')")
        def count(sql: String): Long = e.execute(sql).get.head().getLong(0)
        require(count("SELECT count(*) AS n FROM dml_tbl") == 8L, "dml: fixture must merge to 8 rows")
        e.execute("DELETE FROM dml_tbl WHERE time = '1999-12-31T00:00:00'")
        e.execute("DELETE FROM dml_tbl WHERE t0 = 'tag11'")
        val u1 = count("UPDATE dml_tbl SET f0 = 333 WHERE t0 = 'tag12' AND t1 = 'tag23'")
        require(u1 == 1L, s"dml: update#1 matched $u1, slt says 1")
        val u2 = count("UPDATE dml_tbl SET f1 = length(t0) + 1" +
          " WHERE t0 = 'tag14' AND time < '1999-12-31T00:00:10.020'")
        require(u2 == 1L, s"dml: update#2 matched $u2, slt says 1")
        // SET NULL is equivalent to no modification (update_field.slt)
        val u3 = count("UPDATE dml_tbl SET f1 = null WHERE t0 = 'tag12' AND t1 = 'tag22'")
        require(u3 == 1L, s"dml: update#3 matched $u3, slt says 1")
        val u4 = count("UPDATE dml_tbl SET t0 = 'tag_new14', t1 = 'tag_new24'" +
          " WHERE t0 = 'tag14' AND t1 = 'tag24'")
        require(u4 == 2L, s"dml: update#4 matched $u4, slt says 2")
        e.execute("COMPACT DATABASE dmldb")
        val out = e.execute("SELECT cast(time AS string) AS t," +
          " coalesce(t0, 'NULL') AS t0, coalesce(t1, 'NULL') AS t1," +
          " coalesce(t2, 'NULL') AS t2, f0, f1" +
          " FROM dml_tbl ORDER BY t, t0, t1").get
        val rows = out.collect().toSeq.map(r => // bounded: 5 fixture rows
          Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
            r.getLong(4).toString, r.getLong(5).toString))
        strDf(s, Seq("t", "t0", "t1", "t2", "f0", "f1"), rows)
      } finally Lake.deleteRecursively(root)
    }),

    // INSERT/SELECT through the engine under a µs-precision database:
    // TIME literals are scaled by the catalog's precision on ingest
    // (db_precision.slt), storage is real parquet, and the SELECT goes
    // through the Catalyst passthrough.
    "q_admin_insert_select" -> ((s, _) => {
      val (e, root) = freshEngine(s)
      try {
        Seq(
          "CREATE DATABASE weather WITH PRECISION 'us'",
          "--#DATABASE=weather",
          "CREATE TABLE air (visibility DOUBLE,temperature DOUBLE,pressure DOUBLE,TAGS(station))",
          "INSERT INTO air (TIME, station, visibility, temperature, pressure) VALUES" +
            " (1666165200290401, 'XiaoMaiDao', 56, 69, 77)," +
            " (1666165260290401, 'XiaoMaiDao', 50, 70, 77)," +
            " (1666165200290401, 'LianYunGang', 55, 68, 78)"
        ).foreach(e.execute)
        val out = e.execute(
          "SELECT station, count(*) AS n, sum(pressure) AS sum_p," +
            " min(cast(time as string)) AS first_t" +
            " FROM air GROUP BY station ORDER BY station").get
        val rows = out.collect().toSeq.map(r => // bounded: 2 stations
          Seq(r.getString(0), r.getLong(1).toString, r.getDouble(2).toString, r.getString(3)))
        strDf(s, Seq("station", "n", "sum_p", "first_t"), rows)
      } finally Lake.deleteRecursively(root)
    }))

  def oracleSql: Map[String, String] = Map(
    // the table was written TWICE (parquet import + csv re-import) at
    // the same (event_type, time) keys, so the upsert merge reads it
    // back as exactly the lake; integer-quantized sums keep the
    // compare exact across the csv round trip
    "q_admin_copy_into" ->
      """SELECT event_type, cast(count(*) AS BIGINT) AS n,
        |  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_q,
        |  min(epoch_us(cast(ts AS TIMESTAMP))) AS min_us,
        |  max(epoch_us(cast(ts AS TIMESTAMP))) AS max_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the slt's fixture after the delete/update/compact script —
    // update#2 wrote f1 = length('tag14') + 1 = 6; update#3's SET NULL
    // left row 2's f1 at 444; update#4 moved rows 4 and 8 to the
    // tag_new14/tag_new24 series
    "q_admin_dml" ->
      """SELECT * FROM (VALUES
        |  ('1999-12-31 00:00:00.005','tag12','tag22','NULL','222','444'),
        |  ('1999-12-31 00:00:00.01','tag12','tag23','NULL','333','222'),
        |  ('1999-12-31 00:00:10.015','tag_new14','tag_new24','NULL','444','6'),
        |  ('1999-12-31 00:00:10.02','tag14','tag21','NULL','222','555'),
        |  ('1999-12-31 01:00:00.035','tag_new14','tag_new24','NULL','555','222')
        |) AS x(t, t0, t1, t2, f0, f1)
        |ORDER BY t, t0, t1""".stripMargin,
    "q_admin_sys_catalog" ->
      """SELECT * FROM (VALUES
        |  ('db','cnosdb','public','INF','NS'),
        |  ('db','t_iot','telemetry','90days','MS'),
        |  ('col','sensors','region','TAG#1','DEFAULT'),
        |  ('col','sensors','device','TAG#2','DEFAULT'),
        |  ('col','sensors','temp','FIELD#3','GORILLA'),
        |  ('col','sensors','status','FIELD#4','GZIP'),
        |  ('col','sensors','ok','FIELD#5','DEFAULT'),
        |  ('member','analyst','readers','',''),
        |  ('member','ops','owner','',''),
        |  ('role','member','system','NULL',''),
        |  ('role','owner','system','NULL',''),
        |  ('role','readers','custom','member',''),
        |  ('grant','telemetry','Read','readers',''),
        |  ('resource','t_iot-archive','DropDatabase','Schedule',''),
        |  ('tenant','cnosdb','{"comment":null,"limiter_config":null,"drop_after":null,"tenant_is_hidden":false}','',''),
        |  ('tenant','t_iot','{"comment":"iot fleet","limiter_config":null,"drop_after":null,"tenant_is_hidden":false}','',''),
        |  ('user','root','true','{"hash_password":"*****","must_change_password":true,"comment":"system admin"}',''),
        |  ('user','ops','false','{"hash_password":"*****","comment":"ops team"}',''),
        |  ('user','analyst','false','{"hash_password":"*****"}','')
        |) AS t(src, a, b, c, d)
        |ORDER BY src, a, b, c, d""".stripMargin,
    "q_admin_access_matrix" ->
      """SELECT * FROM (VALUES
        |  ('root','drop_root','Semantic error'),
        |  ('user_a','select_own','ok:1'),
        |  ('user_b','select_foreign','unresolvable'),
        |  ('user_c','select_not_member','Auth error'),
        |  ('user_d','create_db_as_member','Insufficient privileges'),
        |  ('user_d','create_role_as_member','Insufficient privileges'),
        |  ('user_d','show_granted_dbs','ok:1'),
        |  ('user_d','read_granted_table','ok:1'),
        |  ('user_d','write_with_read_only','Insufficient privileges'),
        |  ('root','grant_missing_role','Meta'),
        |  ('root','revoke_absent_priv','Meta'),
        |  ('root','add_user_missing_role','Meta')
        |) AS t(usr, op, outcome)
        |ORDER BY usr, op, outcome""".stripMargin,
    "q_admin_ttl_expire" -> LakeContract.oracleSqlTtl,
    // stream_windowed's oracle VERBATIM — the SQL-declared stream table
    // must compute exactly what the API-declared stream computes
    "q_admin_stream_table" -> StreamQueries.oracleSql("stream_windowed"),
    // per-series aggregate over the RAW lake: the Spark side computed it
    // from rows that crossed LP render → authenticated POST → spool →
    // schemaless write → typed storage → SQL
    "q_admin_wire_lp_sql" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_admin_show_series" ->
      """SELECT DISTINCT 'evts,event_type=' || event_type AS key
        |FROM events ORDER BY key""".stripMargin,
    "q_admin_show_tag_values" ->
      """SELECT DISTINCT 'event_type' AS key, event_type AS value
        |FROM events ORDER BY key, value""".stripMargin,
    "q_admin_http_sql" ->
      """SELECT * FROM (VALUES
        |  ('create_db','200',''),
        |  ('create_user','200',''),
        |  ('add_member','200',''),
        |  ('create_table','200',''),
        |  ('insert','200','rows|2'),
        |  ('select_csv','200','host,v|h1,2.5|h2,3.5'),
        |  ('bad_password','401',''),
        |  ('unknown_user','401',''),
        |  ('missing_db','404',''),
        |  ('parse_reject','422','')
        |) AS t(step, status, body)
        |ORDER BY step, status, body""".stripMargin,
    "q_admin_insert_select" ->
      """SELECT * FROM (VALUES
        |  ('LianYunGang','1','78.0','2022-10-19 07:40:00.290401'),
        |  ('XiaoMaiDao','2','154.0','2022-10-19 07:40:00.290401')
        |) AS t(station, n, sum_p, first_t)
        |ORDER BY station""".stripMargin)
}
