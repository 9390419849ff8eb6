package graft.core

import java.io.{File, FileNotFoundException}
import java.nio.file.{FileSystemException, Files, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, UserPrincipal}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free raw local filesystem: a stock [[RawLocalFileSystem]] whose
  * permission surface goes through `java.nio` instead of the shell.
  *
  * Why it exists: without the libhadoop native library, the stock class
  * forks `chmod` for every mkdir and every create (plus one more for the
  * `.crc` shadow under [[LocalFileSystem]]), and its file statuses fork
  * `ls -ld` the first time anyone reads a permission, owner or group —
  * which every `LocatedFileStatus` copy (Spark's file index, recursive
  * `listFiles`) does. Each fork costs 3-6 ms; a streaming micro-batch
  * paid hundreds of them on warehouse paths.
  *
  * What changes:
  *  - `setPermission` sets the mode with one chmod(2) through the `unix`
  *    attribute view. Callers pass the same umask-applied permission they
  *    pass the stock class; like `chmod NNNN`, a directory keeps its
  *    set-user/group-id bits.
  *  - `getFileStatus` reads length, directory flag, times, mode, owner and
  *    group with one stat(2), and `listStatus` builds every status through
  *    it. A missing path raises `FileNotFoundException`, so a listing still
  *    skips a child deleted between the listing and its stat.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def getFileStatus(p: Path): FileStatus = {
    val file = pathToFile(p)
    val a = translateMissing(p, file)(Files.readAttributes(file.toPath, StatAttrs))
    def millis(k: String) = a.get(k).asInstanceOf[java.nio.file.attribute.FileTime].toMillis
    new FileStatus(
      a.get("size").asInstanceOf[java.lang.Long].longValue,
      a.get("isDirectory").asInstanceOf[java.lang.Boolean].booleanValue,
      1, getDefaultBlockSize(p), millis("lastModifiedTime"), millis("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Integer] & PermBits).toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The stock class stats a directory's children through
    * [[getFileStatus]] but builds a forking status itself for a file. */
  override def listStatus(p: Path): Array[FileStatus] = {
    val file = pathToFile(p)
    if (file.exists() && !file.isDirectory) Array(getFileStatus(p))
    else super.listStatus(p)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p)
    translateMissing(p, file) {
      val nio = file.toPath
      val kept =
        if (Files.isDirectory(nio)) Files.getAttribute(nio, "unix:mode").asInstanceOf[Integer] & SetIdBits
        else 0
      Files.setAttribute(nio, "unix:mode", Integer.valueOf((permission.toShort & PermBits) | kept))
    }
  }
}

object NioRawLocalFileSystem {
  private val StatAttrs = "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group"
  private val PermBits = 0x3ff // 01777: rwx for u/g/o plus sticky, as FsPermission holds
  private val SetIdBits = 0xc00 // 06000

  private def translateMissing[T](p: Path, file: File)(body: => T): T =
    try body
    catch {
      // "Not a directory" on a path below a plain file is a missing path
      // too, exactly as File.exists reports it to the stock class
      case e: FileSystemException if e.isInstanceOf[NoSuchFileException] || !file.exists() =>
        val fnf = new FileNotFoundException(s"File $p does not exist")
        fnf.initCause(e)
        throw fnf
    }
}

/** Checksummed local filesystem over [[NioRawLocalFileSystem]] — the stock
  * [[LocalFileSystem]] (same `.crc` shadow files, same on-disk layout,
  * same umask-applied permissions) minus the shell forks. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The one place the engine picks the Hadoop filesystem for a warehouse.
  *
  * A `file:` warehouse gets [[NioLocalFileSystem]]; any other scheme
  * (`hdfs:`, `s3a:`, ...) keeps the stock filesystem its conf names. The
  * choice reaches Spark's readers and writers as per-call data source
  * options ([[options]]), never through the session conf or the
  * process-wide `FileSystem` cache: `fs.file.impl.disable.cache` is what
  * makes a per-call `fs.file.impl` take effect at all, because the cache
  * otherwise hands back the stock instance it already holds for `file:`. */
object WarehouseFs {

  // the nio class needs the `unix` attribute view (Linux, macOS)
  private val unixView =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private def isLocal(conf: Configuration, path: String): Boolean = {
    val scheme = Option(new Path(path).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    unixView && scheme == "file"
  }

  /** Reader/writer options for I/O under `path`; empty off `file:`. */
  def options(conf: Configuration, path: String): Map[String, String] =
    if (isLocal(conf, path))
      Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true")
    else Map.empty

  /** Filesystem handle for driver-side metadata I/O under `path`. */
  def get(conf: Configuration, path: String): FileSystem =
    if (isLocal(conf, path)) {
      val fs = new NioLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    } else new Path(path).getFileSystem(conf)
}
