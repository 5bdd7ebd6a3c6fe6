package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LokiPush, OtlpTrace, PromRemote, WireHttp}

/** The wire HTTP listener end-to-end over REAL loopback sockets: every
  * write route spools raw bodies for executor-side decode, the prom
  * read route runs the matcher-translated Spark plan, and poison
  * bodies answer 4xx without killing the listener (the reference's
  * route semantics — main/src/http/http_service.rs:484,691,1149,1259,
  * 1524,1673).
  */
class WireHttpSpec extends AnyFunSuite with TestSpark {

  private def tmpSpool(): String =
    java.nio.file.Files.createTempDirectory("graft_wirehttp_spec").toString

  test("write routes spool raw bodies; binaryFile scan + decoders recover the rows") {
    import spark.implicits._
    val spool = tmpSpool()
    val srv = WireHttp.start(spool)
    try {
      // prom remote-write (snappy prompb)
      val promBody = PromRemote.compress(PromRemote.encodeWriteRequest(
        Seq((Seq("__name__" -> "up", "job" -> "api"), Seq((1.5, 1000L), (2.5, 2000L))))))
      assert(WireHttp.post(s"${srv.base}/api/v1/prom/write", promBody)._1 == 204)
      // loki push (snappy logproto)
      val lokiBody = LokiPush.compress(LokiPush.encodePushRequest(
        Seq(("""{job="a"}""", Seq((42L, "hello"))))))
      assert(WireHttp.post(s"${srv.base}/api/v1/es/_bulk", lokiBody)._1 == 204)
      // otlp traces (raw protobuf)
      val otlpBody = OtlpTrace.encodeTraces(Seq(("svc", Seq(("sc", Seq(
        OtlpTrace.SpanIn(Array[Byte](1), Array[Byte](2), Array.emptyByteArray,
          "op", 2, 10L, 20L)))))))
      assert(WireHttp.post(s"${srv.base}/api/v1/traces", otlpBody)._1 == 204)
      // line protocol (text)
      val lpBody = "cpu,host=h1 usage=0.5 1000\n".getBytes
      assert(WireHttp.post(s"${srv.base}/api/v1/write", lpBody, "text/plain")._1 == 204)

      def spooled(sub: String) = spark.read.format("binaryFile")
        .load(s"$spool/$sub").select(col("content")).as[Array[Byte]]

      val prom = PromRemote.decode(spooled("prom")).collect()
      assert(prom.length == 2 && prom.forall(_.getAs[String]("metric") == "up"))
      val loki = LokiPush.decode(spooled("log")).collect()
      assert(loki.map(_.getAs[String]("msg")).toSeq == Seq("hello"))
      val otlp = OtlpTrace.decode(spooled("otlp")).collect()
      assert(otlp.map(_.getAs[String]("name")).toSeq == Seq("op"))
      val lp = graft.sources.LineProtocol.parse(
        spooled("lp").flatMap(b =>
          new String(b, "UTF-8").split("\n").toSeq.filter(_.nonEmpty))).collect()
      assert(lp.length == 1 && lp.head.getAs[String]("measurement") == "cpu")
    } finally srv.stop()
  }

  test("prom read route serves the matcher-translated plan over real HTTP") {
    import spark.implicits._
    val samples = Seq(
      ("up", "api", 1000L, 1.0), ("up", "web", 1500L, 2.0), ("dn", "api", 1200L, 3.0)
    ).toDF("metric", "job", "ts_ms", "value")
    val spool = tmpSpool()
    val srv = WireHttp.start(spool,
      promRead = qs => PromRemote.executeRead(samples, Seq("job"), qs))
    try {
      val req = PromRemote.compress(PromRemote.encodeReadRequest(Seq(
        PromRemote.ReadQuery(0L, 9999L, Seq(PromRemote.Matcher(0, "__name__", "up"))))))
      val (code, body) = WireHttp.post(s"${srv.base}/api/v1/prom/read", req)
      assert(code == 200)
      val results = PromRemote.parseReadResponse(body)
      assert(results.size == 1)
      assert(results.head.map(r => (r.labels, r.ts_ms, r.value)).sorted ==
        Seq(("job=api", 1000L, 1.0), ("job=web", 1500L, 2.0)))
      // poison body → 400, and the listener survives to serve again
      assert(WireHttp.post(s"${srv.base}/api/v1/prom/read",
        Array[Byte](1, 2, 3))._1 == 400)
      assert(WireHttp.post(s"${srv.base}/api/v1/prom/read", req)._1 == 200)
      // ping
      val (pc, pb) = WireHttp.post(s"${srv.base}/api/v1/ping", Array.emptyByteArray)
      assert(pc == 200 && new String(pb, "UTF-8").contains("graft"))
    } finally srv.stop()
  }

  test("authenticated write routes: reject before the spool, per-tenant counters") {
    import graft.admin.{AdminEngine, MetaCatalog}
    val spool = tmpSpool()
    val root = java.nio.file.Files.createTempDirectory("graft_wirehttp_auth").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => 0L)
    Seq("CREATE DATABASE wdb",
      "CREATE USER wrt WITH password='pw'",
      "ALTER TENANT cnosdb ADD USER wrt AS member",
      "CREATE ROLE writers INHERIT member",
      "GRANT WRITE ON DATABASE wdb TO writers",
      "ALTER TENANT cnosdb ADD USER wrt AS writers",
      "CREATE USER reader",
      "ALTER TENANT cnosdb ADD USER reader AS member").foreach(e.execute)
    val srv = WireHttp.start(spool, writeAuth = e.authWrite)
    try {
      val body = "m,t=a f=1 1".getBytes("UTF-8")
      def post(route: String, auth: (String, String), q: String = "tenant=cnosdb&db=wdb"): Int =
        WireHttp.post(s"${srv.base}$route?$q", body, basicAuth = auth)._1
      // no credentials → 401; wrong password → 401; member without
      // Write on the db → 403; unknown db → 404; unknown tenant → 404
      assert(WireHttp.post(s"${srv.base}/api/v1/write?tenant=cnosdb&db=wdb", body)._1 == 401)
      assert(post("/api/v1/write", ("wrt", "nope")) == 401)
      assert(post("/api/v1/write", ("reader", "")) == 403)
      assert(post("/api/v1/write", ("wrt", "pw"), q = "tenant=cnosdb&db=ghost") == 404)
      assert(post("/api/v1/write", ("wrt", "pw"), q = "tenant=ghost&db=wdb") == 404)
      // none of the rejects reached the spool or the write counters
      assert(!java.nio.file.Files.list(java.nio.file.Paths.get(spool, "lp"))
        .iterator().hasNext, "rejected write reached the spool")
      assert(srv.metrics.writeRows.isEmpty)
      // the authorized write spools, on every write route
      WireHttp.writeRoutes.keys.foreach { route =>
        assert(post(route, ("wrt", "pw")) == 204, route)
      }
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(spool, "lp"))
        .iterator().hasNext)
      // counters keyed per (api, tenant, user)
      assert(srv.metrics.writeRows.contains(("/api/v1/write", "cnosdb", "wrt", 1L)))
      assert(srv.metrics.dataInRows.contains(("/api/v1/write", "cnosdb", "wrt", body.length.toLong)))
      // admin (root, empty password on a fresh install) writes anywhere
      assert(post("/api/v1/write", ("root", "")) == 204)
    } finally srv.stop()
  }
}
