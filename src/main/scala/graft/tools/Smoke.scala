package graft.tools

/** Local smoke driver: runs SparkEntry.entry (the driver's t1 gate) and
  * prints the result. Usage: sbt "runMain graft.tools.Smoke [sfDir]". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder(8).appName("graft-smoke").getOrCreate()
    val df = graft.SparkEntry.entry(spark)
    df.show(50, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
