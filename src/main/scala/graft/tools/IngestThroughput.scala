package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Measures the end-to-end ingestion pipeline's single-node throughput:
  * events.parquet → envelopes → decode/flatten/infer/evolve/append, all
  * types, and the run's generated-code compile count (Spark's
  * `CodegenMetrics`), which a per-batch compile regression shows in.
  * Usage: sbt "runMain graft.tools.IngestThroughput [sfDir]". */
object IngestThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.builder(8).appName("graft-ingest-bench").getOrCreate()
    val n = graft.Tables.events(spark, sfDir).count()
    val wh = java.nio.file.Files.createTempDirectory("graft-tp-wh").toString
    val t0 = System.nanoTime()
    val h = graft.Flagship.ingestEvents(spark, sfDir, wh)
    val written = h.registry.knownTypes.filterNot(_ == "descriptor_model")
      .map(t => h.tableLog(t).count()).sum
    val sec = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(f"""{"messages":$n,"written":$written,"sec":$sec%.2f,"msgs_per_sec":${n / sec}%.0f,"codegen_compiles":$compiles}""")
    spark.stop()
  }
}
