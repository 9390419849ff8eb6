package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked event-time helpers for streams over file or memory
  * sources. The declared stream rigs in [[Declared]] build their own
  * bodies and do not use these.
  */
object EventTime {

  /** Tumbling-window counts per key. */
  def tumbling(df: DataFrame, ts: String, key: String, width: String): DataFrame =
    df.groupBy(window(col(ts), width), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(key), col("n"))

  /** Watermarked variants for streaming use: late rows beyond `delay` are
    * dropped by the engine (reference has no event-time notion — this is the
    * mandated streaming extension, SURVEY §2.B). */
  def tumblingStream(df: DataFrame, ts: String, key: String, width: String,
                     delay: String): DataFrame =
    tumbling(df.withWatermark(ts, delay), ts, key, width)

  /** Streaming exact dedup within the watermark horizon. */
  def dedupStream(df: DataFrame, ts: String, keys: Seq[String],
                  delay: String): DataFrame =
    df.withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)
}
