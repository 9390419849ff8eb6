package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType

/** `query_suite` — why: the operator and plan layers do nearly all the
  * work here (vector/ANN and dedup kernels, graph, text, relational sort
  * and sampling, and a declared stream key); ingest and serving appear only
  * inside the stream key. Heavy kernels set the throughput, the small
  * over-parallelised keys weigh on the geometric mean.
  *
  * Inputs: the sf0.1-shaped tables of [[Tables]] (fixed data seed) and a
  * key order drawn from the workload seed. Each timed key runs
  * `SparkEntry.queries(key)` and writes its whole output to the `noop`
  * sink, so no projection is pruned away. The untimed warm pass runs each
  * key once through `ResultPins.canonicalHash` and compares the hash with
  * the pin recorded for this data. */
object QuerySuite {

  /** The keys and their family (the per-layer `operators.<family>`
    * grouping): a vector and the dedup kernel on the higher-order-function
    * path, two of the small keys that run with too much parallelism, and
    * one key each of graph, text and the declared streams. One pass takes
    * about 7 s at local[4]. */
  val Keys: Seq[(String, String)] = Seq(
    "q_vec_ann_ivf" -> "vec", "q_dedup_embedding" -> "dedup",
    "q_topk_orderby_limit" -> "relational", "q_sample_hash" -> "relational",
    "q_graph_sssp" -> "graph", "q_text_bm25" -> "text", "q_stream_tumbling" -> "stream")

  val Families: Seq[String] = Seq("vec", "dedup", "graph", "text", "relational", "stream")

  /** canonicalHash renders no TIMESTAMP_NTZ; as strings they hash the same
    * wall-clock values. */
  def hashable(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampNTZType) col(f.name).cast("string").as(f.name)
      else col(f.name)
    }: _*)

  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(Keys.map(_._1))
}

final class QuerySuite(spark: SparkSession, work: String, seed: Long, pins: Map[String, String])
    extends Workload {
  private val sfDir = s"$work/sf0.1"
  private val keys = QuerySuite.order(seed)
  private val fns = graft.SparkEntry.queries

  def inputs(dir: String): Unit = Tables.write(spark, dir)

  /** Keys whose output hash did not match its pin; their timed runs count
    * as failed operations. */
  private val wrong = scala.collection.mutable.Set[String]()

  def setup(log: Log): Unit = {
    inputs(sfDir)
    keys.foreach { k =>
      val got =
        try graft.ResultPins.canonicalHash(QuerySuite.hashable(fns(k)(spark, sfDir)))
        catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      log.hashes(k) = got
      if (!pins.get(k).contains(got)) {
        wrong += k
        log.problem(s"$k: hash $got, pinned ${pins.getOrElse(k, "nothing")}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  def run(until: Long, log: Log, trace: Option[Trace]): Unit = {
    var pass = 0
    while (pass == 0 || System.nanoTime() < until) {
      keys.foreach { k =>
        val (ok, t) = Clock.secondsOf {
          Trace.span(trace, k, QuerySuite.Keys.toMap.apply(k)) {
            try {
              fns(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
              true
            } catch {
              case e: Exception => log.problem(s"$k threw: ${e.getMessage}"); false
            }
          }
        }
        log.op(k, t, ok && !wrong(k))
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
      pass += 1
    }
  }

  def figures(log: Log): Map[String, Double] = {
    val passes = log.samples.size.toDouble / keys.size
    Map("e2e.query_total_s" -> log.unitSeconds / passes,
      "e2e.query_geomean_s" -> Stats.geomean(log.times()))
  }

  def layers(log: Log, trace: Trace): Map[String, Double] = {
    val spans = opSpans(trace)
    val passes = math.max(1.0, spans.size.toDouble / keys.size)
    val byFamily = QuerySuite.Families.flatMap { f =>
      val fs = spans.filter(_.family == f)
      val execs = fs.flatMap(trace.execsIn)
      Seq(s"operators.$f.tasks" -> fs.flatMap(trace.tasksIn).size / passes,
        s"operators.$f.shuffle_bytes" -> fs.flatMap(trace.tasksIn).map(_.shuffleWrite).sum / passes,
        s"operators.$f.exec_ms" -> execs.map(_.execMs).sum / passes,
        s"operators.$f.planning_ms" -> execs.map(_.planningMs).sum / passes,
        s"plans.$f.codegen_fallback_exprs" -> execs.map(_.fallbacks).sum / passes)
    }
    val byKey = keys.map { k =>
      s"operators.${k}_s" -> Stats.median(spans.filter(_.name == k).map(s => (s.end - s.start) / 1000.0))
    }
    (byFamily ++ byKey).toMap
  }
}
