package graft.tools

/** Dump formatted physical plans for declared queries — used to audit
  * pushdown (PushedFilters/ReadSchema), join strategy, and whole-stage
  * codegen spans. Usage:
  *   sbt "runMain graft.tools.Explain [sfDir] [queryKey ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val keys = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_project_filter", "q_join_inner_broadcast", "q_agg_hash",
        "q_topk_orderby_limit", "q_pred_range_time", "q_merge_into",
        "q_dedup_embedding", "q_pack_sequences", "q_sample_stratified")
    val spark = graft.Sessions.builder(8).appName("graft-explain").getOrCreate()
    keys.foreach { k =>
      println(s"\n================ $k ================")
      graft.SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
