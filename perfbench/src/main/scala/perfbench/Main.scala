package perfbench

import scala.collection.mutable.ArrayBuffer

/** What one phase of a run observed: per-operation latencies by kind, the
  * work done and the time it took, and how many operations were attempted
  * and failed (a failure is an exception or a wrong answer; it never
  * aborts the run). */
final class Log {
  val samples = ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  var units = 0.0
  var unitSeconds = 0.0
  val hashes = scala.collection.mutable.LinkedHashMap[String, String]()

  def sample(kind: String, seconds: Double): Unit = samples += kind -> seconds
  def op(kind: String, seconds: Double, ok: Boolean): Unit = {
    sample(kind, seconds)
    work(1, seconds)
    tally(1, if (ok) 0 else 1)
  }
  def work(n: Double, seconds: Double): Unit = { units += n; unitSeconds += seconds }
  def tally(n: Long, bad: Long): Unit = { attempted += n; failed += bad }
  def problem(msg: String): Unit = System.err.println(s"[perfbench] check failed: $msg")
  def times(kind: String => Boolean = _ => true): Seq[Double] =
    samples.collect { case (k, s) if kind(k) => s }.toSeq
  def secondsPerUnit: Double = unitSeconds / units
}

trait Workload {
  /** Set-up repetitions whose median is reported (each starts afresh). */
  def setupRepeats: Int = 1
  /** Generates inputs and warms caches; untimed. */
  def setup(log: Log): Unit
  /** The closed loop: operations until `until` (System.nanoTime), at least
    * one full unit of work. */
  def run(until: Long, log: Log, trace: Option[Trace]): Unit
  /** The workload's own end-to-end figures (`e2e.*`). */
  def figures(log: Log): Map[String, Double]
  /** The spans of a traced phase that are one op each. */
  def opSpans(trace: Trace): Seq[Trace.Span] = trace.spans.toArray(Array.empty[Trace.Span]).toSeq
  /** Workload-specific per-layer figures of a traced phase. */
  def layers(log: Log, trace: Trace): Map[String, Double]
}

/** Runs one workload in this JVM and prints the result line. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, recordPins: Option[String], dropFile: Boolean,
                        commit: String, generate: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Opts(m.getOrElse("--workload", ""), m("--seed").toLong, m.getOrElse("--seconds", "10").toInt,
      m.getOrElse("--trace", "0") == "1", m("--work"), m.get("--record-pins"),
      m.getOrElse("--drop-file", "0") == "1", m.getOrElse("--commit", "unknown"),
      m.contains("--generate"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Clock.secondsOf {
      val s = Session.start(nproc, o.trace)
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    if (o.generate) {
      println(s"[perfbench] inputs ${Inputs.digest(spark, o.work, o.seed)}")
      spark.stop()
      return
    }
    val wl: Workload = o.workload match {
      case "ingest_stream" => new IngestStream(spark, o.work, o.seed, o.dropFile)
      case "serve_mixed" => new ServeMixed(spark, o.work, o.seed)
      case "query_suite" => new QuerySuite(spark, o.work, o.seed, Pins.load())
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val setupLog = new Log
    val setupTimes = (1 to wl.setupRepeats).map(_ => Clock.secondsOf(wl.setup(setupLog))._2)
    o.recordPins.foreach(p => Pins.save(p, setupLog.hashes))

    Metrics.resetHeapPeak()
    val log = new Log
    val cpu0 = Metrics.processCpuSeconds()
    wl.run(System.nanoTime() + o.seconds * 1000000000L, log, None)
    val cpuPerUnit = (Metrics.processCpuSeconds() - cpu0) / log.units
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(setupTimes)),
      "throughput_per_s" -> 1.0 / log.secondsPerUnit,
      "latency_s_geomean" -> Stats.geomean(log.times()),
      "cpu_s_per_unit" -> cpuPerUnit)
    val logs = Seq(setupLog, log)
    def failedFrac(ls: Seq[Log]) = ls.map(_.failed).sum.toDouble / ls.map(_.attempted).sum
    val figures = wl.figures(log) ++ Map(
      "e2e.failed_frac" -> failedFrac(logs),
      "bench.heap_peak_mb" -> Metrics.heapPeakMb())

    val (layers, allLogs) =
      if (!o.trace) (Map.empty[String, Double], logs)
      else {
        val traced = new Log
        val hits0 = graft.core.Ingest.schemaCacheHits.get
        val misses0 = graft.core.Ingest.schemaCacheMisses.get
        val tr = Trace.attach(spark)
        wl.run(System.nanoTime() + o.seconds * 1000000000L, traced, Some(tr))
        Trace.detach(spark)
        val hits = graft.core.Ingest.schemaCacheHits.get - hits0
        val lookups = hits + graft.core.Ingest.schemaCacheMisses.get - misses0
        // an untraced phase on each side of the traced one, so that the
        // overhead figure is not the warm-up of the later phase
        val after = new Log
        wl.run(System.nanoTime() + o.seconds * 1000000000L, after, None)
        val measured = Metrics.spark(tr, wl.opSpans(tr)) ++ Metrics.streaming(tr) ++
          wl.layers(traced, tr) ++ figures ++ Map(
            "core.ingest.schema_cache_hit_ratio" ->
              (if (lookups == 0) 0.0 else hits.toDouble / lookups),
            "bench.trace_overhead_frac" ->
              (2 * traced.secondsPerUnit / (log.secondsPerUnit + after.secondsPerUnit) - 1),
            "e2e.failed_frac" -> failedFrac(logs :+ traced :+ after))
        (Metrics.PerLayer.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }.toMap,
          logs :+ traced :+ after)
      }

    println(s"[perfbench] workload=${o.workload} seed=${o.seed} nproc=$nproc " +
      s"spark=${spark.version} commit=${o.commit} seconds=${o.seconds} trace=${o.trace} " +
      s"cache_state=fresh JVM, java.io.tmpdir, warehouse and checkpoints; " +
      s"${setupTimes.size} untimed set-up(s) of ${setupTimes.map(t => f"$t%.3f").mkString(", ")} s " +
      f"after a $sessionS%.3f s session start")
    println("[perfbench] timed ops (s): " +
      log.samples.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    (e2e ++ figures).toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[perfbench] $k%-28s $v%14.6f ${Metrics.unit(k)}")
    }
    val attempted = allLogs.map(_.attempted).sum
    val failed = allLogs.map(_.failed).sum
    val shown = if (o.trace) layers else e2e
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(shown.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Metrics.unit(k))))
      }))))
    spark.stop()
  }
}
