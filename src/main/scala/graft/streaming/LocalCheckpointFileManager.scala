package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path => NioPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager that writes local `file:` checkpoints through
  * `java.nio` instead of Hadoop's local FileSystem.
  *
  * Without the native Hadoop library, every checkpoint file that Spark's
  * stock managers write starts external processes: a `chmod` for each
  * file and `.crc` created (`RawLocalFileSystem.setPermission`), and a
  * `readlink` for each FileContext rename (`FileUtil.readLink`). A
  * micro-batch writes offset, commit, source-log and state-delta files,
  * so the process starts dominate its checkpoint phases.
  *
  * Here `createAtomic` writes a hidden temp file beside the target and
  * publishes it on `close()`:
  *   - overwrite allowed: `Files.move(ATOMIC_MOVE)`, a plain rename(2);
  *   - overwrite not allowed: a hard link, which fails atomically if the
  *     target exists, then the temp file is unlinked. The caller gets
  *     Hadoop's `FileAlreadyExistsException` (what `HDFSMetadataLog`
  *     catches) and the existing file keeps its bytes.
  *
  * `cancel()` deletes the temp file. `mkdirs` and the checkpoint root use
  * `Files.createDirectories`. No `.crc` is written; a stale one beside an
  * overwritten target is removed first, since it would no longer match.
  * Reads, listing and deletes stay inherited (Hadoop's local reader skips
  * verification when no `.crc` exists). Non-local paths take the
  * inherited FileSystem path unchanged.
  *
  * Installed per query through `spark.sql.streaming.checkpointFileManagerClass`
  * (see `StreamQueries.streamScope`).
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!isLocal) super.createAtomic(path, overwriteIfPossible)
    else {
      val target = local(path)
      Files.createDirectories(target.getParent)
      new LocalCheckpointFileManager.AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit =
    if (isLocal) Files.createDirectories(local(path)) else super.mkdirs(path)

  override def createCheckpointDirectory(): Path =
    if (!isLocal) super.createCheckpointDirectory()
    else {
      val qualified = fs.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }
}

object LocalCheckpointFileManager {

  private final class AtomicStream(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(
                  s"checkpoint file $target already exists")
            }
          }
        } finally Files.deleteIfExists(temp) // after a link, drops the temp name
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
