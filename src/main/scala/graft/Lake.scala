package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.concurrent.TrieMap

/** Disk staging for derived lake layouts (day-partitioned events, stream
  * replay part-files, clustered zone-map lakes).
  *
  * A staged layout is written ONCE per (logical key, source fingerprint)
  * and reused across sessions — the local stand-in for the one-time
  * layout job a production lake runs at write time. The fingerprint
  * (total bytes + file count + max mtime of the source paths) names the
  * staged directory, so a REGENERATED lake at the same path restages
  * instead of silently answering from the stale copy and surfacing as a
  * confusing oracle hash mismatch (ADVICE r10). Within one JVM the root
  * is looked up through [[Memo]], under its one validity rule.
  *
  * Writes are crash- and race-safe (ADVICE r11): the layout is written
  * to a writer-private temp directory and atomically renamed into place
  * under a per-key file lock, so two sessions staging the same key
  * concurrently can never interleave `mode(overwrite)` output inside one
  * directory, and a directory that EXISTS is always a complete write —
  * the `_SUCCESS` marker is verified before the rename, never trusted
  * after a crash mid-write.
  */
object Lake {

  /** Cheap content fingerprint of a lake file or directory: total bytes,
    * regular-file count, and max mtime. Not cryptographic — it guards
    * against lake regeneration, not adversarial collisions.
    */
  def fingerprint(path: String): String = {
    def walk(f: java.io.File): (Long, Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(walk).foldLeft((0L, 0L, 0L)) {
          case ((b, n, m), (b2, n2, m2)) => (b + b2, n + n2, math.max(m, m2))
        }).getOrElse((0L, 0L, 0L))
      else (f.length(), 1L, f.lastModified())
    val (bytes, files, mtime) = walk(new java.io.File(path))
    s"$bytes:$files:$mtime"
  }

  /** Stage a derived dataset once per (logical key, source fingerprint)
    * under the JVM tmpdir and return its root. `write` must leave a
    * `_SUCCESS` marker (every Spark parquet/text write does) — it is
    * REQUIRED before the staged directory is published, so a crashed
    * partial write is retried on the next call, never reused.
    */
  def staged(logicalKey: String, srcPaths: Seq[String])(write: Path => Unit): String =
    // two threads that miss together both run the body; it is
    // idempotent — every evaluation converges on the same published dir
    // through the file lock — so double evaluation is waste, not a race.
    Memo.withToken(s"staged|$logicalKey", srcPaths) { tok =>
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$logicalKey|$tok".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_stage")
      val dir = base.resolve(hash)
      if (!Files.exists(dir.resolve("_SUCCESS"))) stageLocked(base, hash, dir, write)
      dir.toString
    }

  // JDK file locks are held per-JVM: a second lock() on the same file
  // from THIS process throws OverlappingFileLockException instead of
  // blocking, so same-process stagers serialize on a per-key monitor
  // first and only the winner takes the cross-process lock.
  private val jvmLocks = TrieMap.empty[String, Object]

  /** Write `dir` under a per-key JVM monitor + an exclusive
    * cross-process file lock: temp-dir write, `_SUCCESS` check, atomic
    * rename. A concurrent stager blocks on the lock and finds the
    * published marker when it gets in.
    */
  private def stageLocked(base: Path, hash: String, dir: Path,
                          write: Path => Unit): Unit =
    jvmLocks.getOrElseUpdate(hash, new Object).synchronized {
      if (Files.exists(dir.resolve("_SUCCESS"))) return
      Files.createDirectories(base)
      val ch = FileChannel.open(base.resolve(s"$hash.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any concurrent stager finishes
        try {
          if (Files.exists(dir.resolve("_SUCCESS"))) return
          // a marker-less dir is a crashed partial write — clear it so
          // the rename below can land (we hold the only write right)
          if (Files.exists(dir)) deleteRecursively(dir)
          val tmp = base.resolve(
            s"$hash.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
          try {
            write(tmp)
            require(Files.exists(tmp.resolve("_SUCCESS")),
              s"staging writer for $dir left no _SUCCESS marker under $tmp")
            Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
          } catch {
            // a failed write must not leak its partial multi-GB layout
            // under tmpdir — each retry uses a fresh unique name
            case e: Throwable => deleteRecursively(tmp); throw e
          }
        } finally lock.release()
      } finally ch.close()
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().forEachRemaining(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
