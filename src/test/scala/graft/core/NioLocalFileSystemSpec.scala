package graft.core

import graft.SparkSpec
import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** [[NioLocalFileSystem]] against the stock [[LocalFileSystem]] on the same
  * trees: same statuses, same permissions on what it creates, same `.crc`
  * shadows, same missing-path errors — and no forked process for any of
  * it. Plus the [[WarehouseFs]] choice of filesystem per warehouse scheme. */
class NioLocalFileSystemSpec extends SparkSpec {

  private def local(fs: FileSystem, conf: Configuration = new Configuration()): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }
  private def stock(conf: Configuration = new Configuration()) = local(new LocalFileSystem, conf)
  private def nio(conf: Configuration = new Configuration()) = local(new NioLocalFileSystem, conf)

  private def setMode(p: String, mode: String): Unit =
    Files.setPosixFilePermissions(Paths.get(p), PosixFilePermissions.fromString(mode))

  private def summary(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getModificationTime, s.getBlockSize,
      s.getReplication, s.getPermission, s.getOwner, s.getGroup)

  /** A tree with files and dirs of assorted modes, a sticky dir and a .crc. */
  private def tree(): String = {
    val root = tmpDir("graft-niofs-tree")
    val fs = stock()
    Seq("a/b", "c", "sticky").foreach(d => fs.mkdirs(new Path(s"$root/$d")))
    Seq("f1", "a/f2", "a/b/f3", "c/empty").zipWithIndex.foreach { case (f, i) =>
      val out = fs.create(new Path(s"$root/$f"))
      out.write(Array.fill[Byte](i * 100)(7)); out.close()
    }
    setMode(s"$root/a/f2", "rwx--x---")
    setMode(s"$root/c", "rwx------")
    setMode(s"$root/a/b/f3", "r--r--r--")
    Files.setAttribute(Paths.get(s"$root/sticky"), "unix:mode", Integer.valueOf(0x3ff)) // 01777
    root
  }

  test("getFileStatus and listStatus agree with the stock LocalFileSystem") {
    val root = tree()
    val (s, n) = (stock(), nio())
    val paths = Seq("", "f1", "a", "a/f2", "a/b", "a/b/f3", "c", "c/empty", "sticky")
      .map(r => new Path(s"$root/$r"))
    paths.foreach { p =>
      assert(summary(n.getFileStatus(p)) === summary(s.getFileStatus(p)), s"status of $p")
      assert(n.listStatus(p).map(summary).sortBy(_._1.toString).toSeq ===
        s.listStatus(p).map(summary).sortBy(_._1.toString).toSeq, s"listing of $p")
    }
    assert(n.getFileStatus(new Path(s"$root/sticky")).getPermission.getStickyBit)
    assert(n.getFileStatus(new Path(s"$root/a/f2")).getPermission === new FsPermission(0x1c8.toShort)) // 0710
    // .crc shadows stay hidden from the checksummed listing, as in stock
    assert(n.listStatus(new Path(root)).map(_.getPath.getName).toSet ===
      Set("f1", "a", "c", "sticky"))
  }

  test("mkdirs and create apply the same umask-applied permissions as stock") {
    for (umask <- Seq("022", "027")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val modes = Seq(stock(conf), nio(conf)).map { fs =>
        val root = tmpDir("graft-niofs-perm")
        fs.mkdirs(new Path(s"$root/d1/d2"))
        fs.mkdirs(new Path(s"$root/d3"), new FsPermission(0x1e8.toShort)) // 0750
        fs.create(new Path(s"$root/d1/f")).close()
        fs.create(new Path(s"$root/d3/g"), new FsPermission(0x1b6.toShort), true, 4096,
          1.toShort, 1L << 25, null).close() // 0666
        Seq("d1", "d1/d2", "d3", "d1/f", "d1/.f.crc", "d3/g", "d3/.g.crc").map(r =>
          r -> PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(s"$root/$r"))))
      }
      assert(modes(1) === modes(0), s"umask $umask")
    }
  }

  test(".crc shadows are written and verified on read") {
    val root = tmpDir("graft-niofs-crc")
    val fs = nio()
    val p = new Path(s"$root/data.bin")
    val out = fs.create(p)
    out.write("checksummed payload".getBytes("UTF-8")); out.close()
    assert(Files.exists(Paths.get(s"$root/.data.bin.crc")))
    val in = fs.open(p)
    val buf = new Array[Byte](19); in.readFully(buf); in.close()
    assert(new String(buf, "UTF-8") === "checksummed payload")
    // same length, different bytes: the shadow checksum catches it
    Files.write(Paths.get(s"$root/data.bin"), "CHECKSUMMED PAYLOAD".getBytes("UTF-8"))
    intercept[ChecksumException] {
      val in2 = fs.open(p)
      try in2.readFully(new Array[Byte](19)) finally in2.close()
    }
  }

  test("a missing path raises FileNotFoundException, also mid-listing") {
    val root = tree()
    val n = nio()
    Seq(s"$root/nope", s"$root/f1/below-a-file").foreach { p =>
      intercept[FileNotFoundException](n.getFileStatus(new Path(p)))
      intercept[FileNotFoundException](n.listStatus(new Path(p)))
      intercept[FileNotFoundException](n.setPermission(new Path(p), FsPermission.getFileDefault))
    }
    // a child deleted between the directory listing and its stat is skipped,
    // as the stock listing skips it: NIO's NoSuchFileException must arrive
    // as the FileNotFoundException the stock loop catches
    val racing = new NioRawLocalFileSystem {
      override def getFileStatus(p: Path): FileStatus = {
        if (p.getName == "f2") Files.deleteIfExists(Paths.get(s"$root/a/f2"))
        super.getFileStatus(p)
      }
    }
    local(racing)
    assert(racing.listStatus(new Path(s"$root/a")).map(_.getPath.getName).toSet ===
      Set("b", ".f2.crc"))
  }

  test("WarehouseFs: file: warehouses get the nio filesystem, others the stock one") {
    val conf = new Configuration()
    conf.set("fs.graftstub.impl", classOf[RawLocalFileSystem].getName)
    for (wh <- Seq("/tmp/wh", "file:///tmp/wh", "file:/tmp/wh")) {
      assert(WarehouseFs.options(conf, wh) === Map(
        "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true"), wh)
      assert(WarehouseFs.get(conf, wh).isInstanceOf[NioLocalFileSystem], wh)
    }
    for (wh <- Seq("hdfs://nn:8020/wh", "s3a://bucket/wh", "graftstub:///tmp/wh"))
      assert(WarehouseFs.options(conf, wh) === Map.empty, wh)
    assert(WarehouseFs.get(conf, "graftstub:///tmp/wh").getClass === classOf[RawLocalFileSystem])
    // a scheme-less path follows fs.defaultFS
    val remote = new Configuration(conf)
    remote.set("fs.defaultFS", "graftstub:///")
    assert(WarehouseFs.options(remote, "/tmp/wh") === Map.empty)
    // the session's own conf and FileSystem cache are untouched
    val h = Engine.bootstrap(spark, tmpDir("graft-niofs-wh"))
    assert(h.registry.fs.isInstanceOf[NioLocalFileSystem])
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") === null)
    assert(!FileSystem.get(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("engine writes keep the stock layout and permissions, and fork nothing") {
    import spark.implicits._
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val wh = tmpDir("graft-niofs-ingest")
    val h = Engine.bootstrap(spark, wh)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // batches 2 and 3 each carry a row whose v no longer casts: quarantined
    for (i <- 1 to 3)
      h.ingest((s"""{"type_id":"t","data":{"id":"k$i","v":$i}}""" +:
        (if (i > 1) Seq("""{"type_id":"t","data":{"id":"k1","v":"not-a-number"}}""")
         else Nil)).toDF("message"), ingestTime = Some(ts))
    assert(h.compactIfNeeded("t", maxFiles = 1))
    assert(h.table("t").count() === 3L)
    recording.stop()
    val jfr = Files.createTempFile("graft-niofs", ".jfr")
    recording.dump(jfr)
    recording.close()
    import scala.jdk.CollectionConverters._
    val launches = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .map(_.getString("command")).filter(_.contains(wh))
    Files.delete(jfr)
    assert(launches.size === 0, s"process launches on warehouse paths, e.g. ${launches.take(3)}")

    // the same frame written through the stock filesystem lays out the same
    // file kinds (data, .crc shadow) with the same modes
    val ref = tmpDir("graft-niofs-ref") + "/t"
    spark.read.parquet(h.registry.tablePath("t")).write.partitionBy("_part")
      .option(Ingest.NoJobMarker._1, Ingest.NoJobMarker._2).parquet(ref)
    def layout(dir: String) = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        val kind = if (f.getFileName.toString.endsWith(".crc")) "crc" else "data"
        (Paths.get(dir).relativize(f.getParent).toString, kind,
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
      }.toSet finally walk.close()
    }
    assert(layout(h.registry.tablePath("t")) === layout(ref))
    assert(layout(h.registry.quarantinePath("t")).map(_._2) === Set("data", "crc"))
  }
}
