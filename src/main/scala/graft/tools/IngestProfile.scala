package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Per-JOB breakdown of one declared query run — names each Spark job by its
  * call site and prints its wall duration, separating fixed driver overhead
  * from data cost. Diagnostic only (the Bench/Verify contracts are the
  * graded surfaces). Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.IngestProfile q_engine_ingest [runs]"
  */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val key = args.headOption.getOrElse("q_engine_ingest")
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", graft.Bench.aqeEnv)
      .config(graft.Tables.NanosAsLong, "true")
      .config("spark.ui.enabled", "false")
      // per-micro-batch duration breakdown (walCommit/queryPlanning/
      // addBatch/...) for streaming keys; conf-registered so the child
      // sessions Declared creates inherit it into THEIR query managers
      .config("spark.sql.streaming.streamingQueryListeners",
        "graft.tools.ProfileStreamListener")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        sys.env.getOrElse("SPARK_GRAFT_CKPT_MGR",
          "graft.streaming.LocalCheckpointFileManager"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val starts = TrieMap.empty[Int, (Long, String)]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
          .replaceAll("\\s+", " ").take(90)
        starts.put(e.jobId, (e.time, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site) =>
          lines.add((t0, f"    job ${e.jobId}%3d ${(e.time - t0) / 1e3}%7.3fs  $site"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = graft.SparkEntry.queries(key)
    for (r <- 1 to runs) {
      lines.clear()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      Thread.sleep(300) // let listener events drain
      println(f"[ingest-profile] $key run $r: wall $wall%.3fs rows=$n")
      // +offset from run start and the DRIVER GAP since the previous
      // job's end — the gaps are planning/codegen/checkpoint-IO, the
      // fixed-cost lever (job COUNT times the gap)
      var prevEnd = w0
      lines.toArray(Array.empty[(Long, String)]).sortBy(_._1)
        .foreach { case (ts, line) =>
          val gap = (ts - prevEnd) / 1e3
          // line format: "    job NNN  W.WWWs  site" — parse wall back out
          val durSec = "([0-9.]+)s".r.findFirstMatchIn(line)
            .map(_.group(1).toDouble).getOrElse(0.0)
          prevEnd = ts + (durSec * 1000).toLong
          println(f"  +${(ts - w0) / 1e3}%7.3fs gap ${math.max(gap, 0)}%6.3fs $line")
        }
      println(f"  tail gap ${math.max((w0 + wall * 1000 - prevEnd) / 1e3, 0)}%.3fs (after last job)")
    }
    spark.stop()
  }
}

/** Conf-registered streaming progress printer (diagnostic): one line per
  * micro-batch with the driver-side duration breakdown — the per-batch
  * "gap" the job listener can't attribute (planning, WAL commits, state
  * commit bookkeeping). */
class ProfileStreamListener
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
      "latestOffset", "walCommit", "commitOffsets", "addBatch")
    val parts = keys.flatMap(k => Option(d.get(k)).map(v => s"$k=${v}ms"))
    val state = p.stateOperators.map(s =>
      s"stateUpdates=${s.allUpdatesMs_safe}ms").mkString(",")
    println(s"    [stream] ${p.name} batch ${p.batchId}: ${parts.mkString(" ")}" +
      (if (state.nonEmpty) s" $state" else ""))
  }
  // stateOperators update time isn't a public stable field across versions
  private implicit class SafeState(s: org.apache.spark.sql.streaming.StateOperatorProgress) {
    def allUpdatesMs_safe: String =
      try s.allUpdatesTimeMs.toString catch { case _: Throwable => "?" }
  }
}
