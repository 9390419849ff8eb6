package perfbench

/** Metric names and units (BENCHMARK.json lists the same), and the
  * per-layer figures every workload shares. An "op" is the workload's unit
  * of work: a micro-batch (ingest_stream), an operation (serve_mixed) or a
  * key run (query_suite). Per-layer figures of a layer that did no work on
  * a workload read 0. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_s_geomean" -> "s",
    "cpu_s_per_unit" -> "s")

  val Families: Seq[String] = QuerySuite.Families

  /** Figures of the serve_mixed workload, which BENCHMARK.json does not
    * list (see CHANGES.md); printed when it is run by hand. */
  val ServeFigures: Seq[(String, String)] = Seq(
    "e2e.serve_ops_per_s" -> "1/s", "e2e.get_s_p50" -> "s", "e2e.read_s_p50" -> "s",
    "e2e.write_s_p50" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "e2e.ingest_msgs_per_s" -> "1/s", "e2e.ingest_batch_s_p50" -> "s",
    "e2e.ingest_batch_s_max" -> "s", "e2e.query_total_s" -> "s", "e2e.query_geomean_s" -> "s",
    "e2e.failed_frac" -> "1",
    "bench.trace_overhead_frac" -> "1", "bench.heap_peak_mb" -> "MB",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "core.ingest.jobs_per_batch" -> "count", "core.ingest.tasks_per_batch" -> "count",
    "core.ingest.driver_gap_ms" -> "ms", "core.ingest.schema_cache_hit_ratio" -> "1",
    "core.registry.columns_added" -> "count", "core.registry.evolve_batches" -> "count",
    "sources.decode_ms" -> "ms",
    "core.engine.compactions" -> "count", "core.engine.compact_ms" -> "ms",
    "storage.files_per_type_max" -> "count", "storage.l0_files" -> "count",
    "storage.bytes_per_user_byte" -> "1", "storage.write_bytes_per_user_byte" -> "1",
    "core.engine.get_planning_ms_p50" -> "ms", "core.engine.get_exec_ms_p50" -> "ms",
    "core.engine.get_rows_read_per_result" -> "1", "core.engine.read_planning_ms_p50" -> "ms",
    "core.engine.read_rows_read" -> "count") ++
    Families.flatMap(f => Seq(s"operators.$f.tasks" -> "count",
      s"operators.$f.shuffle_bytes" -> "B", s"operators.$f.exec_ms" -> "ms",
      s"operators.$f.planning_ms" -> "ms", s"plans.$f.codegen_fallback_exprs" -> "count")) ++
    QuerySuite.Keys.map { case (k, _) => s"operators.${k}_s" -> "s" } ++
    Seq("spark.jobs" -> "count/op", "spark.tasks" -> "count/op",
      "spark.task_retries" -> "count", "spark.executor_run_ms" -> "ms/op",
      "spark.executor_cpu_ms" -> "ms/op", "spark.gc_ms" -> "ms/op",
      "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
      "spark.planning_ms" -> "ms/op", "spark.driver_gap_ms" -> "ms/op")

  private val units = (EndToEnd ++ PerLayer ++ ServeFigures).toMap
  def unit(name: String): String = units(name)

  /** Spark-substrate figures per op over the given op spans. */
  def spark(trace: Trace, ops: Seq[Trace.Span]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val jobs = ops.flatMap(trace.jobsIn)
    val stages = jobs.flatMap(_.stages).toSet
    val tasks = trace.tasks.filter(t => stages(t.stage))
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.tasks" -> tasks.size / n,
      "spark.task_retries" -> trace.tasks.count(t => t.attempt > 0 || t.failed).toDouble,
      "spark.executor_run_ms" -> tasks.map(_.runMs).sum / n,
      "spark.executor_cpu_ms" -> tasks.map(_.cpuMs).sum / n,
      "spark.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> tasks.map(_.spill).sum / n,
      "spark.planning_ms" -> ops.flatMap(trace.execsIn).map(_.planningMs).sum / n,
      "spark.driver_gap_ms" -> ops.map(trace.driverGapMs).sum / n)
  }

  /** Median per-batch durations of the micro-batch phases. */
  def streaming(trace: Trace): Map[String, Double] = {
    val batches = trace.progress.filter(_.rows > 0)
    def phase(k: String): Double =
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    Map(
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"))
  }

  /** Compaction rewrites that started inside the op spans, per op. */
  def compactions(trace: Trace, ops: Seq[Trace.Span]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val rewrites = trace.compactions.filter { case (t0, _) => ops.exists(trace.within(_, t0)) }
    Map("core.engine.compactions" -> rewrites.size / n,
      "core.engine.compact_ms" -> rewrites.map { case (t0, t1) => t1 - t0 }.sum / n)
  }

  /** Point gets and reads, from spans named "get" and "read". */
  def serving(trace: Trace, getResults: Long): Map[String, Double] = {
    val spans = trace.spans.toArray(Array.empty[Trace.Span]).toSeq
    val gets = spans.filter(_.name == "get")
    val reads = spans.filter(_.name == "read")
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "core.engine.get_planning_ms_p50" -> p50(gets.map(s => trace.execsIn(s).map(_.planningMs).sum)),
      "core.engine.get_exec_ms_p50" -> p50(gets.map(s => trace.execsIn(s).map(_.execMs).sum)),
      "core.engine.get_rows_read_per_result" ->
        gets.flatMap(trace.tasksIn).map(_.recordsRead).sum.toDouble / math.max(1L, getResults),
      "core.engine.read_planning_ms_p50" -> p50(reads.map(s => trace.execsIn(s).map(_.planningMs).sum)),
      "core.engine.read_rows_read" -> p50(reads.map(s => trace.tasksIn(s).map(_.recordsRead).sum.toDouble)))
  }

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  }
}
