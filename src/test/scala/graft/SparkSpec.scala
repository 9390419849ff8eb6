package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** A fresh temp dir, deleted with its contents at JVM exit. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    SparkSpec.tmpDirs.add(d)
    d
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    Sessions.builder(4).appName("graft-test").getOrCreate()

  // File.deleteOnExit removes only an empty directory, so spec temp dirs
  // are deleted recursively by one hook, as Staging does for its dirs
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    tmpDirs.forEach { d =>
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      catch { case _: Exception => () }
    }
  }))
}
