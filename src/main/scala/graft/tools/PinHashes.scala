package graft.tools

/** Derives the [[graft.ResultPins]] sf0.01 pins: prints each rows-only
  * key's exact row count and canonical content hash as paste-ready Scala
  * map entries. Run after any INTENTIONAL semantic change to a pinned key
  * (update the pin in the same commit, stating why):
  *
  *   sbt "runMain graft.tools.PinHashes"            # all rows-only keys
  *   SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.PinHashes"  # stability probe
  *
  * The cpus knob exists to PROVE partition-order independence: the hash
  * must be identical at local[4] and local[8] or it cannot be pinned.
  */
object PinHashes {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Sessions.builder(cpus.toInt)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      .getOrCreate()
    val rowsOnly =
      (graft.SparkEntry.queries.keySet -- graft.SparkEntry.oracleSql.keySet)
        .toSeq.sorted
    rowsOnly.foreach { key =>
      val df = graft.SparkEntry.queries(key)(spark, sfDir)
      val n = df.count()
      val h = graft.ResultPins.canonicalHash(df)
      println(s"""PIN "$key" -> $n rows, hash "$h",""")
      graft.Queries.cleanScratch()
    }
    spark.stop()
  }
}
