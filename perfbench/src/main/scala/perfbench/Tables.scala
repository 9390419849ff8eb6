package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic stand-in for the sf0.1 query tables: same table names,
  * column names, physical types (naive timestamps are written as
  * TIMESTAMP_NTZ, i.e. parquet INT64 micros with isAdjustedToUTC=false)
  * and row counts as the sf0.1 fixture the declared queries were built
  * on, with similar value domains. Every value is a hash of (row id,
  * column salt, data seed), so a table is a pure function of the data
  * seed and independent of partitioning. */
object Tables {

  /** Fixed so that the pinned result hashes stay valid; the workload seed
    * only orders the keys. */
  val DataSeed = 42L

  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "dup", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  /** Uniform double in [0, 1) from (id, salt). */
  private def u(salt: Int, id: Column = col("id")): Column =
    shiftrightunsigned(xxhash64(id, lit(DataSeed), lit(salt)), 11)
      .cast("double") / math.pow(2, 53)

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt) * values.size).cast("int") + 1)

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt) * (hi - lo), 2)

  private def epochSeconds(date: String): Long =
    java.time.LocalDate.parse(date).toEpochDay * 86400L

  /** Whole day between `from` and `from + days`, as TIMESTAMP_NTZ (the
    * session runs in UTC, so the cast keeps the wall-clock value). */
  private def day(salt: Int, from: String, days: Int): Column =
    timestamp_seconds(lit(epochSeconds(from)) + (u(salt) * days).cast("long") * 86400L)
      .cast("timestamp_ntz")

  def write(spark: SparkSession, dir: String): Unit = {
    def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), col("id").cast("int") + 1).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (u(1) * 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
        .as("c_mktsegment")))
    save("supplier", range(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (u(4) * 25).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal")))
    save("part", range(20000).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(6, Seq("large", "hot", "blue", "old", "cold", "red", "small", "green")),
        pick(7, Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")))
        .as("p_name"),
      concat(lit("Brand#"), (u(8) * 25).cast("int") + 1).as("p_brand"),
      pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"))
        .as("p_type"),
      ((u(10) * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice")))
    save("orders", range(150000).select(col("id").as("o_orderkey"),
      (u(11) * 15000).cast("long").as("o_custkey"),
      pick(12, Seq("O", "P", "F")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", range(600000).select(
      (u(16) * 150000).cast("long").as("l_orderkey"),
      (u(17) * 20000).cast("long").as("l_partkey"),
      (u(18) * 1000).cast("long").as("l_suppkey"),
      ((u(19) * 7).cast("int") + 1).as("l_linenumber"),
      ((u(20) * 50).cast("int") + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 105000.0).as("l_extendedprice"),
      ((u(22) * 11).cast("int") / 100.0).as("l_discount"),
      ((u(23) * 9).cast("int") / 100.0).as("l_tax"),
      pick(24, Seq("R", "N", "A")).as("l_returnflag"),
      pick(25, Seq("O", "F")).as("l_linestatus"),
      day(26, "1995-01-02", 2498).as("l_shipdate")))
    // ~26 s apart with jitter, increasing with event_id, over 30 days
    save("events", range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(epochSeconds("2024-01-01") * 1000000L) +
        ((col("id") * 25.92 + u(27) * 25.0) * 1e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      (u(28) * 1500).cast("long").as("user_id"),
      pick(29, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
      round(-log(lit(1.0) - u(30)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", (u(31) * 100).cast("int")).as("props")))
    val vocab = array(Vocab.map(lit): _*)
    def textOf(id: Column): Column = array_join(transform(
      sequence(lit(1), (u(32, id) * 88).cast("int") + 8), i =>
        element_at(vocab, (pmod(xxhash64(id, i, lit(DataSeed)), lit(Vocab.size)) + 1)
          .cast("int"))), " ")
    // 3 % near-duplicates: an earlier document's text plus one word
    val source = when(u(35) < 0.03 && col("id") > 10,
      col("id") - 1 - (u(36) * 10).cast("long")).otherwise(col("id"))
    save("documents", range(5000).select(col("id").as("doc_id"),
      when(source =!= col("id"), concat(textOf(source), lit(" dup")))
        .otherwise(textOf(col("id"))).as("text"),
      pick(33, Seq("en", "en", "en", "zh", "es", "fr", "de")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // 10 labelled clusters in 64 dimensions, unit-normalised
    def unit(cols: Column*): Column =
      shiftrightunsigned(xxhash64(cols :+ lit(DataSeed): _*), 11).cast("double") /
        math.pow(2, 53)
    // Box-Muller noise per (row, dimension) around a per-label centre
    val raw = spark.range(0, 2000, 1, 4)
      .withColumn("label", (u(34) * 10).cast("int"))
      .select(col("id"), col("label"), transform(sequence(lit(0), lit(63)), d =>
        sqrt(lit(-2.0) * log(lit(1.0) - unit(col("id"), d, lit(40)))) *
          cos(lit(2 * math.Pi) * unit(d, col("id"), lit(41))) +
          lit(0.6) * (lit(2.0) * unit(col("label"), d, lit(50)) - lit(1.0))).as("raw"))
    save("embeddings", raw.select(col("id").as("vec_id"),
      transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
        (acc, y) => acc + y * y))).cast("float")).as("embedding"),
      col("label")))
  }
}
