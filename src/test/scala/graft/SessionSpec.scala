package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.Session]] as the one spelling of graft's session: no
  * other source file builds a SparkSession, the specs' sessions carry
  * its confs, its confs are perfbench's, and every main shuffles at the
  * width the lake derives.
  */
class SessionSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def filesMatching(dirs: Seq[String], rx: scala.util.matching.Regex): Set[String] =
    dirs.flatMap(sources).filter(p => rx.findFirstIn(Files.readString(p)).isDefined)
      .map(p => p.toString).toSet

  test("only graft/Session.scala builds a SparkSession, and only the fixture creates one") {
    assert(sources("src/main/scala").size > 50 && sources("src/test/scala").size > 20)
    assert(filesMatching(Seq("src/main/scala", "src/test/scala"),
      """SparkSession\s*\.\s*[Bb]uilder\b""".r) == Set("src/main/scala/graft/Session.scala"))
    assert(filesMatching(Seq("src/test/scala"), """\.create\(\)""".r) ==
      Set("src/test/scala/graft/TestSpark.scala"))
    assert(filesMatching(Seq("src/main/scala"), "SPARK_GRAFT_CPUS".r) ==
      Set("src/main/scala/graft/Session.scala"))
    for (main <- Seq("Bench", "Verify", "QBench", "PruneBench"))
      assert(Files.readString(Paths.get(s"src/main/scala/graft/$main.scala"))
        .contains("Session.local("), main)
  }

  test("the shared and the isolated sessions carry Session's confs") {
    val want = Session.confs(TestSpark.Cpus, TestSpark.Sf).toMap
    for (s <- Seq(TestSpark.shared, TestSpark.isolated(extensions = false),
                  TestSpark.isolated(extensions = true))) {
      assert(s.sparkContext.master == want("spark.master"))
      for ((k, v) <- want - "spark.master") assert(s.conf.get(k) == v, k)
    }
  }

  /** A lake whose parquet bytes are `bytes`: one sparse file. */
  private def lakeOf(bytes: Long): String = {
    val dir = Files.createTempDirectory("graft_session_lake")
    val f = new java.io.RandomAccessFile(dir.resolve("events.parquet").toFile, "rw")
    try f.setLength(bytes) finally f.close()
    dir.toString
  }

  test("a lake over 8 MB per core shuffles at its derived width, not at cpus") {
    val cpus = 4
    val lake = lakeOf(2 * cpus * (8L << 20) + 1)
    assert(Sizing.shufflePartitions(lake, cpus) == 2 * cpus + 1)
    assert(Session.confs(cpus, lake).toMap.apply("spark.sql.shuffle.partitions") ==
      (2 * cpus + 1).toString)
    // at or below 8 MB per core the width is floored at cpus
    assert(Session.confs(cpus, lakeOf(cpus * (8L << 20))).toMap
      .apply("spark.sql.shuffle.partitions") == cpus.toString)
  }

  test("Session's confs are perfbench Harness's confs for the same cores and lake") {
    val src = Files.readString(Paths.get("perfbench/src/perfbench/Harness.scala"))
    val start = src.indexOf(".master(")
    assert(start >= 0, "Harness no longer builds its own session")
    val chain = src.substring(start, src.indexOf(".getOrCreate()", start)).replaceAll("\\s", "")
    val Literal = "\"([^\"]*)\"".r
    // each conf of the chain as a function of (cores, lake)
    val harness: Map[String, (Int, String) => String] = chain.split("""\.(?=master\(|config\()""")
      .drop(1).map { call =>
        val args = call.substring(call.indexOf('(') + 1, call.lastIndexOf(')'))
        val (key, expr) =
          if (call.startsWith("master(")) ("spark.master", args)
          else { val Array(k, e) = args.split(",", 2); (k.stripPrefix("\"").stripSuffix("\""), e) }
        key -> (expr match {
          case "s\"local[${c.cores}]\"" => (cores: Int, _: String) => s"local[$cores]"
          case "graft.Sizing.shufflePartitions(lake,c.cores).toString" =>
            (cores: Int, lake: String) => Sizing.shufflePartitions(lake, cores).toString
          case Literal(v) => (_: Int, _: String) => v
          case other => fail(s"unrecognised Harness conf $key = $other")
        })
      }.toMap
    assert(harness.size == 5, chain)
    for ((cores, lake) <- Seq(4 -> TestSpark.Sf, 8 -> lakeOf(100L << 20))) {
      assert(harness.map { case (k, f) => k -> f(cores, lake) } ==
        Session.confs(cores, lake).toMap, s"$cores cores over $lake")
    }
  }
}
