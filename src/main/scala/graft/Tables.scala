package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  *
  * `events.parquet`'s `ts` column has shipped in two physical shapes across
  * driver rounds: TIMESTAMP(NANOS), which Spark's parquet reader only admits
  * as LongType (spark.sql.legacy.parquet.nanosAsLong — keep it on every
  * session so ns-shaped data stays readable), and TIMESTAMP(MICROS)
  * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. [[events]]
  * normalizes BOTH to the same session-UTC microsecond TimestampType,
  * matching DuckDB's `CAST(ts AS TIMESTAMP)` on either physical type — so
  * every downstream query and oracle text is physical-layout-agnostic.
  */
object Tables {
  /** Conf key every session needs to read ns-shaped events.parquet. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  // Each spark.read.parquet(path) builds a fresh InMemoryFileIndex (full
  // file listing + footer schema read). Over an 85-query Verify/Bench run
  // that fixed cost dominates the sub-second queries, so loaded frames are
  // cached per (session, path). Keys are weak on the session: stopped test
  // sessions fall out; the test tables themselves are immutable (TESTDATA.md)
  // so a cached listing can never go stale.
  private val cache =
    new java.util.WeakHashMap[SparkSession, collection.mutable.Map[String, DataFrame]]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    synchronized {
      cache.computeIfAbsent(spark, _ => collection.mutable.Map.empty)
        .getOrElseUpdate(s"$sfDir/$name",
          spark.read.parquet(s"$sfDir/$name.parquet"))
    }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // ns epoch as int64
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integer div: ns epoch ~1.7e18 overflows double
      case _ => // TIMESTAMP_NTZ (µs, naive) → same wall time as a UTC instant
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** (path, len, mtime) of every file the plan's file-source scans would
    * read — metadata-only (the FileIndex listing is already cached by the
    * scan itself). Non-file sources contribute nothing: their bytes are in
    * the canonicalized plan. Cache keys built from (canonicalized plan,
    * this fingerprint) stay sound across an in-place regeneration of the
    * scanned files (same path, new size or mtime). */
  private[graft] def scanFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
            .sorted.mkString(";")
        case _ => ""
      }
    }.mkString("|")
  }

  /** Per-session memo of a value derived from a frame, keyed by (`tag`,
    * canonicalized analyzed plan, [[scanFingerprint]]): equal keys read
    * equal bytes, so `compute` is a pure function of the key and runs once
    * per distinct frame per session. Sessions are held weakly — a stopped
    * test session's plans and file listings must not stay reachable (the
    * [[load]] pattern). Concurrent first calls may both compute; the first
    * stored value wins. */
  private val memos = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), Any]]()

  private[graft] def memo[T](tag: String, df: DataFrame)(compute: => T): T = {
    val perSession = memos.synchronized {
      memos.computeIfAbsent(df.sparkSession,
        _ => scala.collection.concurrent.TrieMap.empty)
    }
    perSession.getOrElseUpdate(
      (tag, df.queryExecution.analyzed.canonicalized, scanFingerprint(df)),
      compute).asInstanceOf[T]
  }
}
