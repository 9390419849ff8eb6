package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Engine

/** Flagship end-to-end slice (SURVEY §7.3): events.parquet rows become
  * moisturizer envelopes (`type_id` = event_type, `data` = row fields +
  * parsed props), run through the full ingest pipeline — decode, flatten,
  * infer, registry evolution, LWW upsert — then queried back per type.
  */
object Flagship {

  /** events rows → moisturizer envelopes. `ts` rides as a full-precision
    * string (to_json would truncate a timestamp field to millis); the
    * engine's validation casts it back to timestamp because
    * `last_modified` is a registered meta field. */
  def envelopesFrom(spark: SparkSession, events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // props is a JSON string column; lift it to a nested object so the
    // pipeline exercises flatten (props__k etc.); one inference job per
    // distinct slice per session
    val propsSchema = Tables.memo("props-schema", events) {
      spark.read.json(events.select("props").as[String]).schema
    }
    // NO Par.widen here (r22 A/B, negative result): widening the events
    // feed parallelized the ingest's unwrap + shape-signature aggregate
    // (319 ms serial → 86 ms on q_engine_ingest, +17% on that key), but
    // the engine composition keys ingest SMALL slices repeatedly
    // (timetravel ×2, l0_lww's micro-append, point_lookup) where the
    // extra exchange + 32-task stages are pure overhead — the family
    // read NET slower (q_engine_timetravel −33%, q_engine_history −31%,
    // q_engine_l0_lww −27% on a steady-probe back-to-back A/B).
    events.select(to_json(struct(
      col("event_type").as("type_id"),
      struct(
        col("event_id").cast("string").as("id"),
        col("ts").cast("string").as("last_modified"),
        col("user_id"), col("value"),
        from_json(col("props"), propsSchema).as("props")
      ).as("data"))).as("message"))
  }

  /** Ingest `events.parquet` from `sfDir` into a fresh warehouse; returns the
    * engine handle. */
  def ingestEvents(spark: SparkSession, sfDir: String, warehouseDir: String): Engine.Handle = {
    val envelopes = envelopesFrom(spark, Tables.events(spark, sfDir))
    val h = Engine.bootstrap(spark, warehouseDir, overrideWarehouse = true)
    h.ingest(envelopes)
    h
  }

  /** Per-type row counts over the LWW serving views — nonempty whenever the
    * events table is. */
  def perTypeCounts(h: Engine.Handle): DataFrame = {
    val spark = h.spark
    import spark.implicits._
    h.registry.knownTypes.filterNot(_ == "descriptor_model")
      .map(t => h.table(t).groupBy(lit(t).as("event_type")).agg(count(lit(1)).as("n")))
      .reduce(_ unionByName _)
      .orderBy("event_type")
  }

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-flagship-wh").toString
    perTypeCounts(ingestEvents(spark, sfDir, wh))
  }
}
