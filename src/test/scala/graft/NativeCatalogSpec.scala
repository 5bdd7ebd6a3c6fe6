package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BinarySignature, BpeSegCount, Gis, Native, VecDot, VecDotI8}
import graft.operators.{Similarity, TextAnalysis}

/** Pins [[graft.functions.Native]], the one catalog of graft's native
  * functions: both registration paths expose exactly its names, a
  * `Native.call` Column is the SQL-text call, operators plan the native
  * kernels whatever session is active, and `install` is idempotent.
  */
class NativeCatalogSpec extends AnyFunSuite {

  /** A new session over the shared context, left neither default nor
    * active for later suites. */
  private def create(withExtensions: Boolean): SparkSession = {
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    try {
      val b = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
      (if (withExtensions) b.withExtensions(new GraftExtensions()(_)) else b).create()
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private lazy val spark: SparkSession = {
    val s = create(withExtensions = false)
    plans.install(s)
    s
  }

  /** The catalog names whose registry entry in `s` is the catalog's own builder. */
  private def exposed(s: SparkSession): Set[String] = Native.catalog.collect {
    case (n, b) if s.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(n)).contains(b) => n
  }.toSet

  test("a GraftExtensions session and an install-only session expose exactly the catalog's 37 names") {
    val names = Native.catalog.map(_._1)
    assert(names.size == 37 && names.distinct == names, names)
    val bare = create(withExtensions = false)
    assert(exposed(bare).isEmpty, "a session without GraftExtensions or install has none")
    val viaExtensions = create(withExtensions = true)
    plans.install(bare)
    assert(exposed(viaExtensions) == names.toSet)
    assert(exposed(bare) == names.toSet)
    // and nothing else: both registries list the same names
    assert(viaExtensions.sessionState.functionRegistry.listFunction().toSet ==
      bare.sessionState.functionRegistry.listFunction().toSet)
  }

  /** One row of each argument type the catalog's functions take, plus a
    * row of nulls. */
  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    val wkb = Gis.toWkb(Gis.parseWkt("POINT(2 2)"))
    Seq(
      ("the quick brown fox jumps over the lazy dog and the 的了 cat",
        Seq(1.0, -2.0, 3.0, 0.5), Seq(0.5, 1.0, -1.0, 2.0), Seq(127, -128, 3, 1), Seq(127, 127, -2, 0),
        Seq("a b", "b c", "c d"), Seq("b c", "c d", "d e"), 12L, 18L,
        "POINT(2 2)", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", wkb),
      (null, null, null, null, null, null, null, 0L, 0L, null, null, null))
      .toDF("t", "a", "b", "ia8", "ib8", "sa", "sb", "x", "y", "g1", "g2", "w")
      .withColumn("ia", col("ia8").cast("array<tinyint>"))
      .withColumn("ib", col("ib8").cast("array<tinyint>"))
  }

  /** Arguments for each catalog name, as SQL. */
  private def args(name: String): Seq[String] = {
    val centroids = Array(Array(0L, 0L, 0L, 0L), Array(1L, 1L, 1L, 1L), Array(3L, -2L, 3L, 1L))
    def sqlString(c: Column) = s"'${spark.range(1).select(c).head.getString(0)}'"
    name match {
      case "current_tenant" | "current_role" => Nil
      case "vec_dot" => Seq("a", "b")
      case "vec_dot_i8" => Seq("ia", "ib")
      case "pq_encode" => Seq("a", "'2;2;2;0,0,1,1,0,0,2,-1'")
      case "bin_sig" => Seq("a")
      case "nearest_cell" => Seq("a", s"'3;4;${centroids.flatten.mkString(",")}'")
      case "nearest_cell_2l" => Seq("a", sqlString(Similarity.coarseSpec(centroids)._2))
      case "nearest_cell_pruned" => Seq("a", sqlString(Similarity.coarseSpec(centroids)._1))
      case "char_ngram_set" => Seq("t", "4")
      case "minhash_sig" => Seq("t", "8")
      case "array_overlap_count" => Seq("sa", "sb")
      case "word_set_count" => Seq("t", "'the,and,of'")
      case "char_set_count" => Seq("t", "'的了是'")
      case "dsir_score" => Seq("t", s"'${(0 until 256).map(_ % 7).mkString(",")}'")
      case "bpe_seg_count" => Seq("t", "'t h;th e;o x'")
      case "num_gcd" | "num_lcm" | "zorder_key" => Seq("x", "y")
      case "st_area" | "st_asbinary" | "st_geomfromwkt" => Seq("g2")
      case "st_geomfromwkb" => Seq("w")
      case "st_contains" => Seq("g2", "g1")
      case n if n.startsWith("st_") => Seq("g1", "g2")
      case _ => Seq("t") // the unary text kernels
    }
  }

  private def projected(df: DataFrame): Expression = df.queryExecution.analyzed match {
    case Project(Seq(Alias(e, _)), _) => e.canonicalized
    case p => fail(s"expected a one-column projection, got $p")
  }

  test("for every catalog name, Native.call and the SQL-text call plan and answer the same") {
    for ((name, _) <- Native.catalog) {
      val as = args(name)
      val viaCall = frame.select(Native.call(name, as.map(expr): _*).as("r"))
      val sqlText = s"$name(${as.mkString(", ")})"
      val viaSql = frame.selectExpr(s"$sqlText AS r")
      assert(projected(viaCall) == projected(viaSql), s"$name: $sqlText")
      val (rc, rs) = (viaCall.collect().toSeq, viaSql.collect().toSeq)
      assert(rc == rs && rc.size == 2, s"$name: $rc vs $rs")
      assert(!rc.head.isNullAt(0) || name == "current_role", s"$name answered null: $rc")
    }
    // a wrong argument count is the same WRONG_NUM_ARGS error on both paths
    val viaCall = intercept[org.apache.spark.sql.AnalysisException](
      Native.call("st_contains", col("g1")))
    val viaSql = intercept[org.apache.spark.sql.AnalysisException](
      frame.selectExpr("st_contains(g1)"))
    assert(viaCall.getCondition == viaSql.getCondition &&
      viaCall.getCondition.startsWith("WRONG_NUM_ARGS"), viaCall.getMessage)
  }

  private def plansOnly(plan: LogicalPlan, kernel: Class[_]): Unit = {
    val exprs = plan.collect { case p => p.expressions }.flatten
    assert(exprs.exists(_.exists(e => kernel.isInstance(e))),
      s"no ${kernel.getSimpleName} in\n$plan")
    assert(!exprs.exists(_.exists(_.isInstanceOf[LambdaFunction])),
      s"lambda function in\n$plan")
  }

  test("with no active session, operators still plan the native kernels, not lambda functions") {
    val s = spark
    import s.implicits._
    val vecs = Seq((1L, Seq(1.0f, -2.0f, 3.0f)), (2L, Seq(-1.0f, 2.0f, 0.5f)))
      .toDF("vec_id", "v")
    val docs = Seq((1L, "the cat sat"), (2L, "the dog")).toDF("doc_id", "text")
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    try {
      val cosine = vecs.select(Similarity.cosine(col("v"), col("v")).as("c"))
      val hamming = Similarity.hammingAnn(vecs, vecs, "vec_id", "v", 3, 1)
      val dotI8 = vecs.select(Similarity.dotI8(
        col("v").cast("array<tinyint>"), col("v").cast("array<tinyint>")).as("d"))
      val bpe = TextAnalysis.bpeApply(docs, "doc_id", "text", Seq("t h", "th e"))
      plansOnly(cosine.queryExecution.analyzed, classOf[VecDot])
      plansOnly(hamming.queryExecution.analyzed, classOf[BinarySignature])
      plansOnly(dotI8.queryExecution.analyzed, classOf[VecDotI8])
      plansOnly(bpe.queryExecution.analyzed, classOf[BpeSegCount])
      assert(bpe.orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
        TextAnalysis.bpeApplyComposed(docs, "doc_id", "text", Seq("t h", "th e"))
          .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq)
    } finally prevActive.foreach(SparkSession.setActiveSession)
  }

  test("a second install leaves the function registry unchanged") {
    val s = create(withExtensions = false)
    plans.install(s)
    val reg = s.sessionState.functionRegistry
    def snapshot = reg.listFunction().map(id =>
      id -> (reg.lookupFunction(id).orNull, reg.lookupFunctionBuilder(id).orNull)).toMap
    val before = snapshot
    plans.install(s)
    val after = snapshot
    assert(after.keySet == before.keySet)
    val replaced = before.collect { case (id, (info, builder))
      if !(after(id)._1 eq info) || !(after(id)._2 eq builder) => id }
    assert(replaced.isEmpty, s"re-registered: $replaced")
  }
}
