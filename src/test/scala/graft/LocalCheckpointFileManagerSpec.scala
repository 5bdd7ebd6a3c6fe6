package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The java.nio checkpoint writer keeps the `CheckpointFileManager`
  * contract Structured Streaming relies on: an atomic file appears only
  * on `close()`, a no-overwrite create never clobbers, and `cancel()`
  * leaves nothing behind.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def fixture(): (NioPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_ckpt_fm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration()))
  }

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("a file written by createAtomic is invisible until close()") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p), "target visible before close()")
    assert(!Files.exists(dir.resolve("0")))
    out.close()
    assert(fm.exists(p))
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "v1")
    // published with no checksum file and no leftover temp file
    assert(names(dir) == Set("0"), names(dir).toString)
  }

  test("overwrite=false on an existing file throws and keeps the original bytes") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "1")
    write(fm, p, "original", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "clobber", overwrite = false)
    }
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "original")
    assert(names(dir) == Set("1"), names(dir).toString)
  }

  test("overwrite=true replaces the bytes and drops a checksum that no longer matches") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "2.delta")
    write(fm, p, "old", overwrite = true)
    Files.write(dir.resolve(".2.delta.crc"), Array[Byte](1, 2, 3))
    write(fm, p, "new", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("2.delta")), UTF_8) == "new")
    assert(names(dir) == Set("2.delta"), names(dir).toString)
    // the inherited Hadoop reader opens it without a checksum
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
  }

  test("cancel() leaves neither the target nor the temp file") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "3")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a close after cancel publishes nothing
    assert(!fm.exists(p))
    assert(names(dir).isEmpty, names(dir).toString)
  }

  test("mkdirs and createCheckpointDirectory create nested local directories") {
    val (dir, _) = fixture()
    val root = dir.resolve("ckpt")
    val fm = new LocalCheckpointFileManager(new Path(root.toUri), new Configuration())
    val made = fm.createCheckpointDirectory()
    assert(Files.isDirectory(root) && made.toUri.getScheme == "file")
    fm.mkdirs(new Path(made, "state/0/1"))
    assert(Files.isDirectory(root.resolve("state/0/1")))
    // a file under a missing parent is still created (Hadoop's create does too)
    write(fm, new Path(made, "sources/0/0"), "s", overwrite = false)
    assert(Files.exists(root.resolve("sources/0/0")))
  }
}
