package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Input self-test support: generates every workload's inputs for a seed
  * and digests them. Text inputs are digested byte by byte. Parquet tables
  * are digested by content (`ResultPins.canonicalHash`): Spark names part
  * files with a random id, and parquet-mr writes each column's encoding
  * list in an order that changes from JVM to JVM. */
object Inputs {
  def digest(spark: SparkSession, work: String, seed: Long): String = {
    new IngestStream(spark, s"$work/ingest", seed, dropFile = false).inputs(s"$work/gen/ingest")
    new ServeMixed(spark, s"$work/serve", seed).inputs(s"$work/gen/serve")
    new QuerySuite(spark, s"$work/query", seed, Map.empty).inputs(s"$work/gen/query")
    val root = Paths.get(work, "gen")
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map { p =>
        val dir = p.getParent
        if (dir.getFileName.toString.endsWith(".parquet"))
          s"${root.relativize(dir)} ${graft.ResultPins.canonicalHash(
            QuerySuite.hashable(spark.read.parquet(dir.toString)))}"
        else s"${root.relativize(dir)} ${sha(Files.readAllBytes(p))}"
      }.toSeq.sorted
    s"${files.size} files ${sha(files.mkString("\n").getBytes("UTF-8"))}"
  }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString
}
