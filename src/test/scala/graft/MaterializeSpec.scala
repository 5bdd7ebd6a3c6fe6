package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspec.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.Materialize]] as graft's one materialization point: a
  * local checkpoint unless the context has a checkpoint directory, a
  * reliable one under it otherwise, the same rows either way, and no
  * other checkpoint call, checkpoint-directory setting or stream knob in
  * `src/main`.
  */
class MaterializeSpec extends AnyFunSuite with TestSpark {

  private def frame: DataFrame =
    spark.range(0, 1000).selectExpr("id % 7 AS k", "id").groupBy("k").sum("id")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def leaf(df: DataFrame) = df.queryExecution.analyzed.collectLeaves() match {
    case Seq(l: LogicalRDD) => l.rdd
    case other => fail(s"expected one LogicalRDD leaf, got $other")
  }

  private def files(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  test("with no checkpoint directory it is a lazy local checkpoint") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val m = Materialize(frame)
    val rdd = leaf(m)
    assert(Checkpoints.isLocal(rdd) && !rdd.isCheckpointed, "built lazily")
    assert(rows(m) == rows(frame))
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty,
      "the first action materializes it, and writes no checkpoint file")
  }

  test("with a checkpoint directory it writes a reliable checkpoint there") {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val dir = Files.createTempDirectory("graft_materialize")
    try {
      Checkpoints.withDir(sc, dir.toString) {
        val m = Materialize(frame)
        val rdd = leaf(m)
        assert(!Checkpoints.isLocal(rdd))
        assert(files(dir).isEmpty, "nothing is written before an action")
        assert(rows(m) == rows(frame))
        assert(rdd.getCheckpointFile.exists(_.contains(dir.getFileName.toString)))
        assert(files(dir).nonEmpty, "the action writes the rows under the directory")
        assert(rows(m) == rows(frame), "a later action reads the written rows")
      }
      assert(sc.getCheckpointDir == prior, "the prior directory is restored")
    } finally Lake.deleteRecursively(dir)
  }

  test("src/main materializes only through Materialize and sets no checkpoint directory") {
    val main = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(p => p.toString -> Files.readString(p)).toSeq
    assert(main.size > 50)
    def matching(rx: String): Set[String] =
      main.collect { case (p, src) if rx.r.findFirstIn(src).isDefined => p }.toSet
    assert(matching("""localCheckpoint\(|\.checkpoint\(""") ==
      Set("src/main/scala/graft/Materialize.scala"))
    assert(matching("setCheckpointDir").isEmpty)
    assert(matching("""checkpointDir\s*:""").isEmpty)
    assert(matching("""spark\.graft\.stream\.""").isEmpty)
  }
}
