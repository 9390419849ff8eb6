package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session every workload runs on: `local[nproc]` with as
  * many shuffle partitions as cores, UTC, no UI, WARN logging, and the
  * engine's local checkpoint manager. Streams keep every progress update
  * so per-batch figures cover the whole run. Trace runs also register
  * the [[Trace]] listeners. */
object Session {
  def start(nproc: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (trace) Trace.Conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON rendering for the result line (no JSON library ships with
  * the toolchain's Scala; Spark's Jackson would do but this is shorter). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** A closed-loop clock: one client, the next operation starts when the
  * previous one returns. */
object Clock {
  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Storage {
  /** Data files in a type's L0 append zone (`_part=-1`). */
  def l0Files(spark: SparkSession, h: graft.core.Engine.Handle, typeId: String): Int = {
    val p = new org.apache.hadoop.fs.Path(
      h.registry.tablePath(typeId) + s"/_part=${graft.core.Ingest.L0Bucket}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { f =>
      val n = f.getPath.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
  }
}
