package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.core.{Engine, Ingest}
import graft.sources.Codecs

/** Structured-Streaming front end for the ingestion engine.
  *
  * Reference: the Kafka consumer loop (moisturizer/consumer.py:72-83) —
  * subscribe N topics in a consumer group, decode each message, commit it,
  * swallow per-message failures and keep going (at-least-once).
  *
  * Spark shape: `readStream` → `foreachBatch` running the SAME batch
  * pipeline as [[graft.core.Ingest]]. `foreachBatch` is required (not a
  * declarative sink) because the reference picks the SINK per row — the
  * `type_id` decides which table a message lands in, and the schema registry
  * may evolve between batches; both are driver-side decisions Structured
  * Streaming cannot express in a single fixed-schema sink (SURVEY §2.B).
  *
  * A poison message becomes a dead letter or a quarantine row and the
  * stream goes on. A batch whose ingest or maintenance throws fails the
  * query instead: its offsets are not committed, and a restart on the same
  * checkpoint replays it. Delivery is so at-least-once: types that
  * appended before the failure append again on the replay. Rows with an
  * explicit `id` converge under the LWW read view, as Cassandra upserts did
  * for the reference. Rows whose `id` is generated do not: a replay appends
  * them again under fresh ids, and their quarantine rows twice. A
  * per-(stream, batchId, type) idempotent append would close this; none
  * exists yet.
  *
  * Queries carry no name, so any number of them can run on one session.
  */
object StreamingIngest {

  /** Kafka envelope stream (requires the spark-sql-kafka connector on the
    * classpath — present on real clusters; absent in this container, where
    * specs use file/memory sources through [[start]] instead).
    * Mirrors consumer config: topics + group (reference config.py:8-10). */
  def fromKafka(spark: SparkSession, bootstrapServers: String,
                topics: Seq[String], groupId: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("kafka.group.id", groupId)
      .option("startingOffsets", "earliest")
      .load()
      // value: binary msgpack-or-json, exactly the reference's input bytes
      .select(Codecs.decodeMessageUdf(col("value")).as("message"))

  /** Run the engine over any streaming DataFrame bearing a `message` column
    * (JSON envelope). Each micro-batch runs the full batch pipeline:
    * decode → per-type infer/validate/flatten/evolve → append.
    *
    * `writer`/`grants` thread the S24 write-side 403 gate into the
    * consumer loop (VERDICT r19 #3 — streaming parity with
    * [[Engine.Handle.ingestAs]]): when set, each micro-batch runs the
    * write-gated ingest, so a denied type's envelopes arriving mid-stream
    * land in that type's quarantine with the structured 403 error and the
    * stream KEEPS GOING (continue-on-deny = the dead-letter doctrine the
    * reference's consumer already applies to poison messages). The grants
    * frame is collected per batch at metadata scale (one row per
    * (user, type) pair) — a production loop re-reads it so revocations
    * take effect on the next batch, not at restart. */
  def start(h: Engine.Handle, envelopes: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            writer: Option[String] = None,
            grants: Option[DataFrame] = None): StreamingQuery = {
    // a gated stream without grants is a config error: fail at start, not
    // in the first batch
    require(writer.isEmpty || grants.nonEmpty,
      "start(writer = ...) requires the grants frame")
    run(h, envelopes, checkpointDir, trigger, writer, grants)(())
  }

  /** [[start]] plus post-batch maintenance: after each micro-batch, any
    * type whose physical file count crossed `maxFilesPerType` is compacted
    * (LWW-collapse + crash-safe dir swap). The small-files control loop a
    * long-running streaming ingest needs — the check is one directory
    * listing per type, so idle batches cost only metadata.
    *
    * Types are independent tables, so their checks and compactions run
    * concurrently on the bounded [[Ingest.ingestPool]]. The batch waits
    * for every type before it rethrows the first failure (in type order),
    * so one failing type never leaves another's compaction running into
    * the next batch.
    *
    * A compaction writes one file per non-empty id bucket (at most
    * [[Ingest.NumIdBuckets]]). With `maxFilesPerType` below that count, a
    * just-compacted table is already over the threshold, so the next batch
    * re-compacts it ([[Engine.Handle.compactIfNeeded]]). */
  def startWithMaintenance(h: Engine.Handle, envelopes: DataFrame,
                           checkpointDir: String, maxFilesPerType: Int = 64,
                           trigger: Trigger = Trigger.AvailableNow(),
                           writer: Option[String] = None,
                           grants: Option[DataFrame] = None): StreamingQuery = {
    require(writer.isEmpty || grants.nonEmpty,
      "startWithMaintenance(writer = ...) requires the grants frame")
    run(h, envelopes, checkpointDir, trigger, writer, grants) {
      implicit val ec: ExecutionContext = Ingest.ingestPool
      val runs = h.registry.knownTypes.filterNot(_ == "descriptor_model")
        .map(t => Future(h.compactIfNeeded(t, maxFilesPerType)))
      runs.foreach(Await.ready(_, Duration.Inf))
      runs.flatMap(_.value.flatMap(_.failed.toOption)).headOption.foreach(throw _)
    }
  }

  /** The consumer loop both entry points share: each micro-batch runs the
    * (optionally write-gated) batch ingest, then `afterBatch`. A throw from
    * either fails the query before the batch commits. */
  private def run(h: Engine.Handle, envelopes: DataFrame,
                  checkpointDir: String, trigger: Trigger,
                  writer: Option[String], grants: Option[DataFrame])(
                  afterBatch: => Unit): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writer match {
          case Some(u) => h.ingestAs(u, grants.get, batch)
          case None => h.ingest(batch)
        }
        afterBatch
      }
      .start()
}
