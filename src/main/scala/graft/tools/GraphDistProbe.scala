package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Queries, Sessions, Tables}
import graft.operators.GraphOps

/** Once-per-round probe of the DISTRIBUTED graph plans (VERDICT r15 #4).
  *
  * Since the ≤1M-edge driver fast paths landed, the sf-scale bench and
  * every declared graph query exercise only driver-side execution for the
  * iterative graph operators (the declared doc↔word and part↔supplier
  * graphs are far under the cutover). Correctness of the distributed
  * rounds is pinned by GraphOpsSpec's both-path equivalence tests; this
  * probe pins their PERFORMANCE: it runs the exact declared configs with
  * `driverFastPathEdges = 0` and prints one JSON line with wall time and
  * shuffle-write bytes per operator, so a distributed-path perf
  * regression — the code that actually runs at 100× scale — is visible
  * round-over-round instead of only at production scale. run_gates.sh
  * captures the line as GRAPH_DIST.json; round notes quote it.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.tools.GraphDistProbe"
  */
object GraphDistProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus.toInt).getOrCreate()

    // serial probe ⇒ a global stage-completion sum attributes cleanly;
    // reset between operators
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)

    // the SAME edge builders as the declared queries (docWordEdges is the
    // shared private[graft] helper; the part↔supplier graph matches
    // qGraphPagerank literally) so the probe can't drift from them
    def docWord = Queries.docWordEdges(spark, sfDir)
    def partSupp = {
      val e0 = Tables.lineitem(spark, sfDir)
        .select((col("l_partkey") % 100).cast(LongType).as("src"),
          (lit(100L) + col("l_suppkey") % 100).cast(LongType).as("dst"))
        .distinct()
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    }

    // remaining declared configs (VERDICT r16 #5): CC over the dedup
    // shingle-pair graph (q_dedup_cluster), weighted SSSP and HITS over
    // the part↔supplier graph (q_graph_sssp / q_graph_hits), and the
    // degree-oriented triangle plan (q_graph_triangles — no driver fast
    // path exists; timed here so the whole family trends in one artifact)
    def dedupPairs = {
      val docs = Tables.documents(spark, sfDir)
      val sh = docs.select(col("doc_id"),
        explode(transform(graft.operators.DedupOps.shingles(col("text"), 8),
          x => xxhash64(x))).as("sh"))
      graft.operators.DedupOps.keyedPairs(sh, "sh", "doc_id", minN = 2, maxN = 10)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
    }
    def ssspEdges = {
      val e0 = Tables.lineitem(spark, sfDir)
        .groupBy((col("l_partkey") % 100).cast(LongType).as("src"),
          (lit(100L) + col("l_suppkey") % 100).cast(LongType).as("dst"))
        .agg(min("l_quantity").cast(LongType).as("w"))
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .groupBy("src", "dst").agg(min("w").as("w"))
    }
    def hitsEdges = Tables.lineitem(spark, sfDir)
      .select((col("l_partkey") % 100).cast(LongType).as("src"),
        (lit(100L) + col("l_suppkey") % 100).cast(LongType).as("dst"))
      .distinct()
    def triEdges = {
      val po = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o"), (col("l_partkey") % 100).as("p"))
        .distinct()
      po.alias("x").join(po.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
    }

    val ops: Seq[(String, () => Long)] = Seq(
      "pagerank_dist" -> (() =>
        GraphOps.pageRank(partSupp, iterations = 5,
          driverFastPathEdges = 0L).count()),
      "kcore_dist" -> (() =>
        GraphOps.kCore(docWord, k = 22, rounds = 5,
          driverFastPathEdges = 0L).count()),
      "lpa_dist" -> (() =>
        GraphOps.labelPropagation(docWord, rounds = 4,
          driverFastPathEdges = 0L).count()),
      "ppr_dist" -> (() =>
        GraphOps.personalizedPageRank(partSupp, seeds = Seq(0L, 7L),
          iterations = 5, driverFastPathEdges = 0L).count()),
      "cc_dist" -> (() =>
        GraphOps.connectedComponents(dedupPairs,
          driverFastPathEdges = 0L).count()),
      "sssp_dist" -> (() =>
        GraphOps.shortestPaths(ssspEdges, source = 0L, rounds = 4,
          driverFastPathEdges = 0L).count()),
      "hits_dist" -> (() =>
        GraphOps.hits(hitsEdges, iterations = 5,
          driverFastPathEdges = 0L).count()),
      "triangles_dist" -> (() =>
        GraphOps.triangleCount(triEdges).count())
    )

    // JVM/session warmup outside the timed loop (the Bench convention)
    spark.range(1000).selectExpr("sum(id)").collect()
    docWord.count()

    def ms3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = ops.map { case (name, run) =>
      // iterative operators localCheckpoint per round — release the final
      // round's blocks between operators (the caller-owns contract)
      val t0 = System.nanoTime()
      shuffleBytes.set(0L)
      val rows = run()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      (name, sec, shuffleBytes.get(), rows)
    }
    val json = results.map { case (n, sec, sb, rows) =>
      s""""$n":{"sec":${ms3(sec)},"shuffle_mb":${ms3(sb / 1048576.0)},"rows":$rows}"""
    }.mkString(",")
    println(s"""{"probe":"graph_dist","sf":"$sfDir","cpus":"$cpus",""" +
      s""""ts":"${java.time.Instant.now()}","ops":{$json}}""")
    spark.stop()
  }
}
