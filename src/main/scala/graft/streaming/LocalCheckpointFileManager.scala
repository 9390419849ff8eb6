package graft.streaming

import java.nio.file.{FileAlreadyExistsException => NioExists, Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** java.nio checkpoint file manager for `file:` checkpoint locations.
  *
  * Why it exists: this container has no libhadoop native library, so the
  * default `FileContextBasedCheckpointFileManager` falls back to SHELL
  * FORKS (`chmod`/`ls`) for permission handling on the local filesystem —
  * measured 38 ms per metadata-log write against 0.05 ms of actual file
  * IO (NOTES.md, Round 12, item 2). Every micro-batch pays that three-plus times
  * (source log, offset WAL, commit log, plus a state-store delta per
  * partition), which made checkpoint bookkeeping the dominant fixed cost
  * of the declared streaming family. This manager does the SAME
  * write-temp → atomic-rename discipline through java.nio (~0.1 ms), and
  * delegates `open`/`list` to the CRC-free, fork-free
  * [[graft.core.NioRawLocalFileSystem]].
  *
  * Semantics match `FileSystemBasedCheckpointFileManager`:
  *  - `createAtomic(p, overwrite)` writes a hidden sibling temp file and
  *    renames it into place on close — readers never observe partial
  *    content; `cancel()` discards the temp.
  *  - With `overwrite = false`, closing when the destination exists
  *    throws Hadoop's `FileAlreadyExistsException` and keeps the winner's
  *    file (the metadata-log "first writer wins" contract). The install
  *    is `Files.createLink` (link(2) fails atomically with EEXIST on
  *    POSIX) rather than rename — rename(2) silently REPLACES a
  *    destination created between an exists() pre-check and the move, so
  *    a rename-based install has a lose-the-winner window under a true
  *    race (ADVICE r12); the hard-link install does not.
  *  - `delete` is recursive and silent on missing paths.
  *
  * Local-mode only by construction (`file:` scheme required): production
  * checkpoint locations (hdfs:/s3a:) keep the default manager — select
  * this one per session via
  * `spark.sql.streaming.checkpointFileManagerClass`. Crash-replay over
  * checkpoints written by this manager is exercised in
  * LocalCheckpointManagerSpec.
  */
class LocalCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {
  require(Option(root.toUri.getScheme).forall(_ == "file"),
    s"LocalCheckpointFileManager only handles file: paths, got $root")

  // delegate for the Hadoop-typed read surface (open needs a Seekable
  // stream; list needs FileStatus objects). Raw (not checksummed): the
  // manager writes no .crc shadow files. The raw layer under the
  // warehouse filesystem: its statuses read permissions through nio, so
  // no caller of `list` forks `ls -ld`.
  private val rawFs = {
    val fs = new graft.core.NioRawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = nio(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      "." + target.getFileName + "." + java.util.UUID.randomUUID() + ".tmp")
    val os = Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    new CancellableFSDataOutputStream(new java.io.BufferedOutputStream(os)) {
      private var terminated = false
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close()
          finally Files.deleteIfExists(tmp)
        }
      }
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          underlyingStream.close()
          if (overwriteIfPossible)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          else {
            // exclusive install: link(2) fails atomically with EEXIST if
            // a first writer won — unlike rename(2), which would silently
            // replace a destination created after an exists() pre-check
            try { Files.createLink(target, tmp); Files.deleteIfExists(tmp) }
            catch { case _: NioExists =>
              Files.deleteIfExists(tmp)
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"failed to rename $tmp to $path: destination exists")
            }
          }
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = rawFs.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    rawFs.listStatus(path, filter)

  override def mkdirs(path: Path): Unit = Files.createDirectories(nio(path))

  override def exists(path: Path): Boolean = Files.exists(nio(path))

  override def delete(path: Path): Unit = {
    val p = nio(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      // depth-first so directories empty before their own delete
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(nio(root))
    root
  }
}
