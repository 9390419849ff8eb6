package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The co-location contract: bucketed tables join and aggregate with no
  * shuffle exchange in the physical plan. */
class BucketingSpec extends SparkSpec {

  test("bucketed join on the bucket key plans without a shuffle") {
    val li = graft.Tables.lineitem(spark, sf())
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = graft.Tables.orders(spark, sf())
      .selectExpr("o_orderkey AS l_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "b_orders", "l_orderkey", 8)

    val joined = Bucketing.bucketedJoin(spark, "b_lineitem", "b_orders", "l_orderkey")
    assert(joined.count() === 6000) // sf0.001 lineitem rows, all orders match
    assert(Bucketing.isShuffleFree(joined),
      "bucketed join must not shuffle:\n" + joined.queryExecution.executedPlan)

    // bucket-local aggregation: groupBy on the bucket key also shuffle-free
    val agg = spark.table("b_lineitem").groupBy("l_orderkey")
      .agg(sum("l_quantity"))
    agg.count()
    assert(Bucketing.isShuffleFree(agg),
      "bucket-local aggregation must not shuffle:\n" + agg.queryExecution.executedPlan)

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
  }

  test("writeBucketed handles qualified table names in non-default databases") {
    spark.sql("CREATE DATABASE IF NOT EXISTS bspec_db")
    val o = graft.Tables.orders(spark, sf())
      .select("o_orderkey", "o_totalprice")
    // write twice: the second run resolves the LIVE entry's location from
    // the catalog (<warehouse>/bspec_db.db/t) and must drop THAT table,
    // not default.`bspec_db.t`
    Bucketing.writeBucketed(o, "bspec_db.t", "o_orderkey", 4)
    Bucketing.writeBucketed(o, "bspec_db.t", "o_orderkey", 4)
    assert(spark.table("bspec_db.t").count() === o.count())
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("bspec_db.t")).location
    assert(loc.toString.contains("bspec_db.db"),
      s"qualified table not under its database dir: $loc")
    spark.sql("DROP TABLE IF EXISTS bspec_db.t")
    spark.sql("DROP DATABASE IF EXISTS bspec_db")
  }

  test("writeBucketed never deletes an EXTERNAL table's data directory") {
    // an external table's location is user-owned: overwriting the NAME may
    // drop the catalog entry, but the underlying files must survive
    val dir = tmpDir("bspec-ext")
    val o = graft.Tables.orders(spark, sf()).select("o_orderkey", "o_totalprice")
    o.write.mode("overwrite").parquet(dir)
    spark.sql(s"CREATE TABLE bspec_ext (o_orderkey BIGINT, o_totalprice DOUBLE) " +
      s"USING parquet LOCATION '$dir'")
    Bucketing.writeBucketed(o, "bspec_ext", "o_orderkey", 4)
    // the managed replacement works...
    assert(spark.table("bspec_ext").count() === o.count())
    // ...and the external directory's files are untouched
    assert(spark.read.parquet(dir).count() === o.count(),
      s"external data at $dir was deleted by writeBucketed")
    spark.sql("DROP TABLE IF EXISTS bspec_ext")
  }
}
