package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions wires graft's functions, rules and DCL parser into a
  * session — the cluster-deployment registration path.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val (priorDefault, priorActive) =
    (SparkSession.getDefaultSession, SparkSession.getActiveSession)

  lazy val spark: SparkSession = {
    // The spark.sql.extensions CONFIG is only consulted when the
    // SparkContext itself is created, and a context started with it
    // hands graft's extensions to every later session in the test JVM.
    // The public Builder.withExtensions hook runs the SAME
    // GraftExtensions entry point on a fresh session over the shared
    // context — which is exactly what this spec pins: the class works
    // as a SparkSessionExtensions injector. create() makes the session
    // the JVM's default and active one only when none is set; afterAll
    // undoes that, so no later suite inherits it.
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.ui.enabled", "false")
      .create()
  }

  override def afterAll(): Unit = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    priorDefault.foreach(SparkSession.setDefaultSession)
    priorActive.foreach(SparkSession.setActiveSession)
    super.afterAll()
  }

  test("tenant/user/role DCL runs through plain spark.sql; Spark-owned DDL untouched") {
    import graft.functions.SessionFunctions
    // the statements Spark has no grammar for route to the admin engine
    spark.sql("CREATE TENANT ext_t WITH comment='via spark.sql'")
    spark.sql("CREATE USER ext_u")
    spark.sql("ALTER TENANT ext_t ADD USER ext_u AS owner")
    val tenants = spark.sql("SHOW TENANTS").collect().map(_.getString(0)).toSeq
    assert(tenants.contains("ext_t") && tenants.contains("cnosdb"))
    // session context follows the same confs as current_tenant()
    spark.conf.set(SessionFunctions.TenantKey, "ext_t")
    spark.conf.set(graft.admin.AdminDcl.UserKey, "ext_u")
    try {
      spark.sql("CREATE ROLE ext_r INHERIT member")
      spark.sql("GRANT READ ON DATABASE x TO ext_r") // db missing → Meta error
      fail("grant on missing database must throw")
    } catch {
      case e: graft.admin.AdminError => assert(e.kind == "Meta")
    } finally {
      spark.conf.unset(SessionFunctions.TenantKey)
      spark.conf.unset(graft.admin.AdminDcl.UserKey)
    }
    // SHOW QUERIES resolves with its fixed schema
    assert(spark.sql("SHOW QUERIES").columns.toSeq ==
      Seq("query_id", "query_type", "query_text", "user_name", "tenant_name",
        "database_name", "state"))
    // Spark-owned DDL falls through to Spark's parser: these are NOT
    // hijacked (CREATE DATABASE/SHOW DATABASES are Spark's own)
    spark.sql("CREATE DATABASE IF NOT EXISTS spark_own_db")
    assert(spark.sql("SHOW DATABASES").collect()
      .exists(_.getString(0) == "spark_own_db"))
    spark.sql("DROP DATABASE spark_own_db")
    spark.sql("DROP TENANT ext_t")
    spark.sql("DROP USER ext_u")
  }

  test("DCL catalog persists across engines via spark.graft.admin.metaPath") {
    val meta = java.nio.file.Files.createTempDirectory("graft_ext_meta").toString + "/meta.json"
    spark.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    try {
      spark.sql("CREATE TENANT persist_t")
      // a FRESH engine over the same path sees the tenant
      val e2 = new graft.admin.AdminEngine(spark, new graft.admin.MetaCatalog,
        java.nio.file.Files.createTempDirectory("graft_ext_data").toString, () => 0L)
      e2.catalog.load(spark, s"file:$meta")
      assert(e2.catalog.tenants.contains("persist_t"))
      spark.sql("DROP TENANT persist_t")
    } finally spark.conf.unset(graft.admin.AdminDcl.MetaPathKey)
  }

  test("two sessions sharing one metaPath see each other's mutations (no last-writer-wins)") {
    val meta = java.nio.file.Files.createTempDirectory("graft_ext_meta2").toString + "/meta.json"
    val s2 = spark.newSession()
    spark.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    s2.conf.set(graft.admin.AdminDcl.MetaPathKey, s"file:$meta")
    try {
      spark.sql("CREATE TENANT share_a")
      s2.sql("CREATE TENANT share_b")    // hydrates share_a first, then saves both
      spark.sql("CREATE TENANT share_c") // re-hydrates (mtime changed) → sees share_b
      val n1 = spark.sql("SHOW TENANTS").collect().map(_.getString(0)).toSet
      val n2 = s2.sql("SHOW TENANTS").collect().map(_.getString(0)).toSet
      assert(Set("share_a", "share_b", "share_c").subsetOf(n1), n1.toString)
      assert(Set("share_a", "share_b", "share_c").subsetOf(n2), n2.toString)
      Seq("share_a", "share_b", "share_c").foreach(t => spark.sql(s"DROP TENANT $t"))
    } finally {
      spark.conf.unset(graft.admin.AdminDcl.MetaPathKey)
      s2.conf.unset(graft.admin.AdminDcl.MetaPathKey)
    }
  }

  test("extension-registered functions resolve in plain SQL") {
    val row = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  num_gcd(12L, 18L) AS g, num_lcm(4L, 6L) AS l""".stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getLong(1) == 6L)
    assert(row.getLong(2) == 12L)
  }

  test("session-info functions: reference defaults, conf-resolved per query, restored") {
    // session.slt's first block: root defaults
    val d = spark.sql("SELECT current_tenant() AS t, current_role() AS r").head()
    assert(d.getString(0) == "cnosdb")
    assert(d.isNullAt(1))
    try {
      spark.conf.set(functions.SessionFunctions.TenantKey, "t1")
      spark.conf.set(functions.SessionFunctions.RoleKey, "r1")
      // a NEW query resolves the new session state (analysis-time
      // capture — the reference rebinds its session UDFs the same way)
      val a = spark.sql("SELECT current_tenant() AS t, current_role() AS r").head()
      assert(a.getString(0) == "t1" && a.getString(1) == "r1")
    } finally {
      spark.conf.unset(functions.SessionFunctions.TenantKey)
      spark.conf.unset(functions.SessionFunctions.RoleKey)
    }
    // and Spark's own built-ins serve the other two session functions
    val b = spark.sql("SELECT current_user() AS u, current_database() AS db").head()
    assert(b.getString(0) != null && b.getString(1) != null)
  }

  test("extensions registry is in lockstep with every temp-function registry") {
    // r9: the extensions path had drifted 10 functions behind the
    // library's per-session registries. Both paths now register the one
    // Native catalog; this pins that every native expression in the
    // source (scraped by its prettyName) has a catalog entry, that each
    // entry resolves in the extensions-built session to the catalog's
    // own builder, and that no other source file registers a function.
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import scala.jdk.CollectionConverters._
    def scrape(dir: String, rx: scala.util.matching.Regex): Seq[(String, String)] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(p => rx.findAllMatchIn(java.nio.file.Files.readString(p))
          .map(m => p.getFileName.toString -> m.group(1)))
    val catalog = functions.Native.catalog.toMap
    val kernels = scrape("src/main/scala/graft/functions",
      """prettyName: String = "([a-z0-9_]+)"""".r).map(_._2).toSet
    assert(kernels.size >= 30, s"source scrape implausibly small: $kernels")
    assert(kernels.diff(catalog.keySet).isEmpty,
      s"native expressions without a catalog entry: ${kernels.diff(catalog.keySet)}")
    val wrong = catalog.filterNot { case (n, b) =>
      spark.sessionState.functionRegistry.lookupFunctionBuilder(FunctionIdentifier(n))
        .contains(b) }
    assert(wrong.isEmpty, s"catalog functions missing from GraftExtensions: ${wrong.keySet}")
    val registrars = scrape("src/main/scala",
      """(createOrReplaceTempFunction|injectFunction|registerFunction)\(""".r)
    assert(registrars.map(_._1).toSet == Set("Native.scala", "GraftExtensions.scala"),
      s"function registration outside the catalog: $registrars")
  }

  test("zorder_key interleaves bits: x at even positions, y at odd") {
    // x=10 (1010b) → bits 1,3 land at 2,6 → 68; y=5 (0101b) → bits 0,2
    // land at 1,5 → 34; key = 102. Full 32-bit lane: bit 31 of y lands
    // at position 63 (sign bit — still a total order for SORTing when
    // inputs stay below 2^31, which ids do).
    val row = spark.sql(
      """SELECT zorder_key(10L, 5L), zorder_key(10L, 0L), zorder_key(0L, 5L),
        |  zorder_key(4294967295L, 0L), zorder_key(0L, 1L)""".stripMargin).head()
    assert(row.getLong(0) == 102L)
    assert(row.getLong(1) == 68L)
    assert(row.getLong(2) == 34L)
    assert(row.getLong(3) == 0x5555555555555555L) // all 32 x-bits spread to evens
    assert(row.getLong(4) == 2L)
  }

  test("zorder_key clusters 2-D neighbors better than a 1-D sort") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 16x16 grid: under z-order, the average |rank distance| between a
    // cell and its right neighbor must beat sorting by y (where x
    // neighbors land 16 ranks apart consistently at best)
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)).toDF("x", "y")
    val ranked = grid.withColumn("zkey", call_function("zorder_key", col("x"), col("y")))
      .withColumn("zrank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("zkey")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val zdist = (for (x <- 0L until 15L; y <- 0L until 16L)
      yield math.abs(ranked((x + 1, y)) - ranked((x, y)))).sum /
      (15.0 * 16)
    // y-major sort puts x-neighbors exactly 16 apart; z-order must do
    // meaningfully better on average
    assert(zdist < 12.0, s"z-order x-neighbor rank distance $zdist should beat 16")
  }

  test("gcd/lcm edge semantics match the reference slt cases") {
    val row = spark.sql(
      """SELECT num_gcd(0L, 0L), num_gcd(-12L, 18L), num_lcm(0L, 5L),
        |  num_lcm(-4L, 6L)""".stripMargin).head()
    assert(row.getLong(0) == 0L)
    assert(row.getLong(1) == 6L)
    assert(row.getLong(2) == 0L)
    assert(row.getLong(3) == 12L)
  }
}
