package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Structured-Streaming implementations behind DECLARED (oracle-gated)
  * queries: each runs a real streaming job to completion through one
  * runner ([[runStream]], `Trigger.AvailableNow`) over the test table
  * split into several files (`maxFilesPerTrigger` forces multiple
  * micro-batches), then returns the final result as a batch frame. The
  * outputs are constructed to be micro-batch-boundary INVARIANT — equal to
  * the one-shot batch query — so the DuckDB oracle checks streaming
  * execution exactly:
  *
  *  - tumbling agg: per-batch PARTIAL aggregates (count + exact decimal
  *    sums) appended to the sink, merged by a final re-aggregation. Partials
  *    are associative, so any batching yields the batch answer — the
  *    incremental-materialization shape a production streaming agg uses.
  *  - dedup: `dropDuplicates` keyed state emits each key's first occurrence
  *    only; the surviving KEY SET equals batch `SELECT DISTINCT` for every
  *    batch split. (Bounded input here; at 100 TB one bounds the state with
  *    `dropDuplicatesWithinWatermark`.)
  *  - LWW upsert: `foreachBatch` folds each micro-batch into a compacted
  *    serving table (union → LWW window → rewrite), the Cassandra-style
  *    upsert loop of the reference (consumer.py:69-70) — max-by-(ts,id) per
  *    key is order-invariant, so the final state is batching-independent.
  */
object Declared {

  private val Dec = DecimalType(25, 6)

  /** Stream sources stage ONCE per process through [[graft.Staging.dirFor]]:
    * the file source is this harness's stand-in for an existing Kafka
    * topic, and rebuilding it on every run would price rig construction,
    * not the streaming operator. Checkpoints and state dirs stay under the
    * caller's per-run dir, so replay semantics are untouched. The key is
    * the frame itself: [[graft.Tables.memo]] maps each distinct frame
    * (exact canonicalized plan, in-memory rows included, plus its scanned
    * files' fingerprint) to one fresh id, and the layout joins those ids.
    * An equal frame over unchanged files reads equal staged bytes; a new
    * literal, new rows or a file rewritten in place stage anew. */
  private val frameIds = new java.util.concurrent.atomic.AtomicLong()
  private def frameId(df: DataFrame): String =
    graft.Tables.memo("stream-src", df)(s"f${frameIds.incrementAndGet()}")

  /** Staged dir holding `df` as `nFiles` parquet files. Split from the
    * reader so multi-reader queries (the stream-stream joins) and
    * static-side reads share one layout. */
  private[streaming] def writeSrc(df: DataFrame, nFiles: Int): String =
    graft.Staging.dirFor(s"w$nFiles:${frameId(df)}", "graft-stream-src") { d =>
      df.repartition(nFiles).write.mode("overwrite").parquet(d)
    }

  /** Schema of the parquet files under a constructed source dir — one
    * footer-read DRIVER JOB per distinct dir per process instead of one
    * per stream open (every declared streaming key paid it each bench
    * run). Sound: staged dirs are immutable once built, and a rebuild
    * of a vanished one lands at a fresh path. */
  private val srcSchemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]
  private def srcSchema(s: SparkSession, src: String): org.apache.spark.sql.types.StructType =
    srcSchemaCache.getOrElseUpdate(src, s.read.parquet(src).schema)

  /** Warmed child of `s` with its own shuffle width, for the rigs that
    * need an isolated state-sizing conf: [[graft.Sessions.child]] keeps one
    * per (parent, width), so the first-query SessionState init (~270 ms)
    * is paid once per process, not per run of every declared streaming
    * key. The child follows the parent's other runtime settings. A call
    * changes the child's conf only when the parent's conf changed, so
    * concurrent runs on a shared child are safe: checkpoint dirs are
    * per-run and queries carry no name to clash ([[runStream]]).
    * AQE stays on here: disabling it for the tiny per-batch folds was
    * measured slower (q_stream_changes 2.07–2.10 s vs 1.66–1.90 s warm),
    * as its runtime tiny-side broadcasts and post-shuffle coalesce outweigh
    * its per-stage re-planning at this state size. */
  private def sized(s: SparkSession, partitions: Int): SparkSession =
    graft.Sessions.child(s, Map("spark.sql.shuffle.partitions" -> partitions.toString))

  /** Alternating parquet state dirs for the foreachBatch fold rigs.
    * Generation = the framework batchId (the restart/replay discipline —
    * see [[runFold]]). Two per-micro-batch driver
    * round trips are shaved off the naive read/write pair:
    *  - writes land as ONE file (`coalesce(1)`): fold states are bounded
    *    by construction (sketches, per-key LWW winners, moment vectors),
    *    so one task commit beats N shuffle-partition file commits;
    *  - re-reads pin the schema remembered from the first write, skipping
    *    the per-batch parquet footer-inference job (fold state schemas
    *    are fixed for the life of a run; falls back to footer inference
    *    when no write was observed, e.g. resuming over a pre-crash state
    *    in a fresh process).
    * At 100 TB the state would live in a merge-capable keyed table and
    * only touched keys would rewrite; the two-dir parquet swap is the
    * local stand-in (a parquet read cannot overwrite its own inputs). */
  private final class FoldState(dir: String) {
    private val dirs = Seq(dir + "/state0", dir + "/state1")
    private val schemaRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.types.StructType](null)
    def write(df: DataFrame, gen: Long): Unit = {
      df.coalesce(1).write.mode("overwrite")
        .option(graft.core.Ingest.NoJobMarker._1, graft.core.Ingest.NoJobMarker._2)
        .parquet(dirs((gen % 2).toInt))
      schemaRef.compareAndSet(null, df.schema)
    }
    // reads take the session per call: the in-batch fold reads on the rig's
    // sized child session while the end-of-stream read happens on whichever
    // session the caller's downstream plan lives on (cross-session frames
    // must not mix in one plan)
    def read(r: SparkSession, gen: Long): DataFrame = Option(schemaRef.get) match {
      case Some(sch) => r.read.schema(sch).parquet(dirs((gen % 2).toInt))
      case None      => r.read.parquet(dirs((gen % 2).toInt))
    }
  }

  /** Shared scaffold of the foreachBatch FOLD rigs (heavy-hitters, drift,
    * trend, LWW serve, dedup clusters, SCD2, and the standing-index
    * maintenances): one file-source stream over `src` at one file per
    * trigger, AvailableNow, each micro-batch folded onto the previous
    * [[FoldState]] generation. Generation = the BATCH ID the framework
    * hands foreachBatch, not a local counter — the restart/replay
    * discipline: on a checkpoint restart the source skips committed
    * batches but batchId keeps counting, so batch N always folds onto
    * state N−1 (a local counter would reset to 0 and silently rebootstrap
    * from empty), and a replayed batch re-folds onto the RIGHT previous
    * state and rewrites the same generation. Folds must be
    * replay-idempotent, which every caller's fold is by construction:
    * per-row transforms + associative merges.
    * `fold(prev, batch)` gets None for batch 0. Returns the final state
    * read on the CALLER's session `s` (cross-session frames must not mix
    * in one plan), or None if the source produced no micro-batches.
    *
    * The fold runs on a [[sized]] child of `width` shuffle partitions, or
    * on `s` itself when `width` is None; the default is [[FoldWidth]]. */
  private def runFold(s: SparkSession, src: String, dir: String,
                      width: Option[Int] = Some(FoldWidth))
                     (fold: (Option[DataFrame], DataFrame) => DataFrame): Option[DataFrame] = {
    val on = width.fold(s)(sized(s, _))
    val fs = new FoldState(dir)
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    runStream(srcReader(on, src, filesPerTrigger = 1), dir)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = if (batchId == 0L) None else Some(fs.read(on, batchId - 1))
        fs.write(fold(prev, batch), batchId)
        lastBatch.updateAndGet(m => math.max(m, batchId))
        ()
      })
    if (lastBatch.get() < 0L) None else Some(fs.read(s, lastBatch.get()))
  }

  /** Shuffle width of a stateless fold ([[runFold]], changesMaintain):
    * its per-batch work is one small merge onto bounded state, so 4
    * partitions beat the session default (A/B'd per key, r11). The
    * stateful rigs size their state stores separately. */
  private val FoldWidth = 4

  /** Name prefix of q_stream_changes_restart's planned crash run, the one
    * named query: `log4j2.properties` denies MicroBatchExecution messages
    * that start `Query <prefix>`. */
  private[graft] val PlannedCrashPrefix = "graft-planned-crash-"

  /** The one way a rig runs its stream: checkpoint at `dir/ckpt`,
    * `Trigger.AvailableNow`, started and awaited to completion; `sink`
    * sets the rest of the writer. Queries carry no name: Spark refuses a
    * second ACTIVE query of one name on a session, and concurrent runs of
    * a rig share its [[sized]] child. */
  private def runStream(df: DataFrame, dir: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    sink(df.writeStream
      .option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow()))
      .start().awaitTermination()

  /** [[runStream]] into a parquet sink at `dir/out`, read back on the
    * caller's session `s`. */
  private def toParquet(s: SparkSession, df: DataFrame, dir: String): DataFrame = {
    runStream(df, dir)(_.format("parquet").option("path", dir + "/out"))
    s.read.parquet(dir + "/out")
  }

  /** File-source stream over `src`, `filesPerTrigger` files per
    * micro-batch. The reader is built on `s` — pass an isolated child
    * session ([[sized]]) when the run needs its own SQL conf (state
    * sizing). Each call is an INDEPENDENT reader with its own progress. */
  private def srcReader(s: SparkSession, src: String,
                        filesPerTrigger: Int): DataFrame =
    s.readStream
      .schema(srcSchema(s, src))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(src)

  /** Stage `df` as `nFiles` parquet files and open a file-source stream
    * over them, `filesPerTrigger` per micro-batch. */
  private def fileStream(s: SparkSession, df: DataFrame, nFiles: Int,
                         filesPerTrigger: Int): DataFrame =
    srcReader(s, writeSrc(df, nFiles), filesPerTrigger)

  /** Staged dir holding `parts` as ONE parquet file each, with strictly
    * increasing modification times: the file source orders files by
    * mtime, so read with `maxFilesPerTrigger=1` part i IS micro-batch i —
    * the deterministic arrival order the event-time declared queries
    * (session close, late-drop) are constructed around. */
  private def orderedSrc(s: SparkSession, parts: Seq[DataFrame]): String =
    graft.Staging.dirFor(s"o:${parts.map(frameId).mkString(",")}",
        "graft-stream-src") { src =>
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      parts.zipWithIndex.foreach { case (df, i) =>
        val tmp = new org.apache.hadoop.fs.Path(src + s"/_tmp$i")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(tmp, "part-*.parquet")).head.getPath
        val dest = new org.apache.hadoop.fs.Path(srcPath, f"b$i%03d.parquet")
        fs.rename(part, dest)
        fs.delete(tmp, true)
        fs.setTimes(dest, 1700000000000L + i * 60000L, -1)
      }
    }

  /** Streaming tumbling-window count+sum via appended per-batch partials. */
  def tumblingAgg(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    val out = dir + "/out"
    // 3 micro-batches: enough that the final merge folds >2 partial
    // appends; each extra batch is ~0.3s of trigger overhead
    val stream = fileStream(s,
      events.select("event_id", "ts", "event_type", "value"),
      nFiles = 3, filesPerTrigger = 1)
    runStream(stream, dir)(_.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(Dec)).cast(Dec).as("sv"))
          .select(col("window.start").as("window_start"),
            col("window.end").as("window_end"), col("event_type"),
            col("n"), col("sv"))
          // partials are bounded (windows × types): one file per batch
          // beats shuffle-partition-many tiny appends + their merge read
          .coalesce(1)
          .write.mode("append")
          .option(graft.core.Ingest.NoJobMarker._1, graft.core.Ingest.NoJobMarker._2)
          .parquet(out)
        ()
      })
    s.read.parquet(out)
      .groupBy("window_start", "window_end", "event_type")
      .agg(sum("n").as("n"), sum("sv").cast(DoubleType).as("sum_value"))
      .withColumn("n", col("n").cast(LongType))
  }

  /** Streaming SLIDING-window aggregation via the built-in STATEFUL
    * windowed aggregate in APPEND mode — the canonical Structured
    * Streaming aggregation API (state-store-backed, finalized windows
    * emitted when the watermark passes their end), deliberately a
    * different surface than [[tumblingAgg]]'s foreachBatch-partials
    * pattern. Sliding windows (1 h / 30 min hop) put each row in two
    * window states — the overlap bookkeeping tumbling never exercises.
    *
    * Batch-checkability: the source is two event-time-ordered halves, so
    * nothing real is ever late under the 1-day delay and mid-stream
    * watermark advances close windows genuinely incrementally; then ONE
    * far-future sentinel (riding as the last rows of the second file —
    * it only advances the end-of-stream watermark, so it needs no trigger
    * of its own) pushes the watermark past every real window, and the
    * trailing NO-DATA micro-batch (`noDataMicroBatches`,
    * default on — AvailableNow runs it when the watermark advanced)
    * applies the advance and flushes the remaining windows. Sentinels
    * are NOT filtered inside the streaming query (the filter would push
    * below EventTimeWatermark and the watermark would never advance);
    * their own windows stay unflushed in final state, and the batch
    * read-back drops the marker type as a safety net. Every real window
    * closes exactly once ⇒ the emitted set equals the batch sliding
    * aggregate and the q_window_sliding oracle hashes the run. */
  def slidingAgg(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    val ev = events.select(col("ts"), col("event_type"))
    val (_, stream) = orderedHalvesStream(s, ev,
        trailersRideLastFile = true) { (s4, _, hi) =>
      import s4.implicits._
      def sentinel(days: Long) =
        Seq((new java.sql.Timestamp(hi.getTime + days * 24 * 3600 * 1000L),
          "wm_sentinel")).toDF("ts", "event_type")
      Seq(sentinel(30))
    }
    toParquet(s, stream
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n")), dir)
      .filter(col("event_type") =!= "wm_sentinel")
  }

  /** Streaming exact dedup: keyed state keeps first occurrence per key. */
  def dedupKeys(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    // pin the STATE partition count to 8 for the duration of the run: a
    // streaming query fixes its state layout from the conf at first start,
    // and per-partition store commits (delta file + maintenance) dominate
    // this small-key-space dedup — 32 stores would quadruple the fixed
    // cost for zero parallelism gain. Sized to the key cardinality, as a
    // production job would be; results are partition-count invariant.
    // The override lives on an ISOLATED child session (same SparkContext,
    // own SQL conf), so queries planned concurrently on the caller's
    // session never see the 8-partition setting.
    val s8 = sized(s, 8)
    // 2 micro-batches, not 4: the cross-batch keyed state is exercised by
    // the second batch either way, and each extra batch pays a full
    // state-store commit across every shuffle partition
    toParquet(s, fileStream(s8, events.select("user_id", "event_type"),
        nFiles = 2, filesPerTrigger = 1)
      .dropDuplicates("user_id", "event_type"), dir)
  }

  /** Streaming dedup with BOUNDED state — the production variant of
    * [[dedupKeys]]: `dropDuplicatesWithinWatermark` evicts a key's state
    * once the watermark passes its event time + delay, so state size tracks
    * the watermark horizon instead of growing forever (the 100 TB shape;
    * plain `dropDuplicates` state is unbounded). The output stays
    * micro-batch-invariant because the delay spans the fixture's whole
    * event-time range: the watermark never overtakes any key, so nothing is
    * evicted or dropped as late and the surviving KEY SET equals batch
    * `SELECT DISTINCT` for every batch split — which is what lets the batch
    * oracle hash-check the watermarked streaming execution exactly. */
  def dedupKeysWatermarked(s: SparkSession, events: DataFrame,
                           dir: String): DataFrame = {
    // same isolated-session 8-partition state sizing as dedupKeys
    val s8 = sized(s, 8)
    // ts rides along as the watermark column; the projection back to the
    // key pair happens AFTER the stateful dedup
    toParquet(s, fileStream(s8, events.select("user_id", "event_type", "ts"),
        nFiles = 2, filesPerTrigger = 1)
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type"), dir)
  }

  /** Stream-STREAM inner join under the oracle gate — the last major
    * stateful-streaming join API: two independently micro-batched readers
    * over the same event files (clicks vs purchases), each watermarked,
    * joined on user + a 24 h event-time range. Append-mode inner join
    * emits each matched pair exactly ONCE, when both sides have arrived,
    * so the match SET equals the batch interval join for EVERY
    * interleaving of the two sides' micro-batches — batch-invariance by
    * construction. The 3650-day delay spans the fixture so no buffered
    * row is evicted before its partners arrive (the
    * q_stream_dedup_watermark argument); at production horizons the same
    * range condition is what lets Spark clip each side's buffer by the
    * other side's watermark, which is the reason this shape stays bounded
    * on an unbounded stream. */
  def streamStreamJoin(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    // 4, not 8: a stream-stream join commits FOUR state stores per
    // partition per batch (keyToNumValues + keyWithIndexToValue, each
    // side), so the fixed commit cost is double every other stateful
    // shape's — and the user_id key space is small
    val s4 = sized(s, 4)
    val src = writeSrc(
      events.select("event_id", "user_id", "event_type", "ts"), 2)
    // two READERS, not one: each side tracks its own file progress, so the
    // join's state machine sees genuinely independent micro-batches
    def side(tpe: String, uAlias: String, idAlias: String, tsAlias: String) =
      srcReader(s4, src, 1)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(uAlias), col("event_id").as(idAlias),
          col("ts").as(tsAlias))
        .withWatermark(tsAlias, "3650 days")
    toParquet(s, side("click", "c_user", "click_id", "click_ts")
      .join(side("purchase", "b_user", "buy_id", "buy_ts"),
        col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("buy_id"), col("buy_ts")), dir)
  }

  /** Stream-STATIC join — the per-event enrichment shape of a production
    * pipeline (profile lookup on every arriving event): the static side
    * is a batch-computed per-user profile (first event time + lifetime
    * count) BROADCAST into every micro-batch, so the join is stateless —
    * no watermark, no state store — and the append output is trivially
    * micro-batch invariant. The static frame is built on the same child
    * session as the stream (frames from different sessions must not mix
    * in one plan). */
  def streamStaticJoin(s: SparkSession, events: DataFrame,
                       dir: String): DataFrame = {
    val s8 = sized(s, 8)
    val src = writeSrc(events.select("event_id", "user_id", "ts"), 2)
    val stream = srcReader(s8, src, filesPerTrigger = 1)
    val profile = s8.read.parquet(src)
      .groupBy("user_id")
      .agg(min("ts").as("first_ts"), count(lit(1)).as("n_events"))
    toParquet(s, stream.join(broadcast(profile), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("first_ts"), col("n_events"),
        (col("ts") === col("first_ts")).as("is_first")), dir)
  }

  /** Stream-stream LEFT OUTER join — the watermark/state-EVICTION path
    * the inner join never exercises: an unmatched click can only surface
    * (with null buy columns) once both watermarks pass its join window,
    * so append-mode outer rows are emitted by eviction, not by matching.
    * Construction: per-side EVENT-TIME-ORDERED halves (global midpoint),
    * so at a 1-day delay no real row is ever late AND no click's state is
    * evicted before its last possible partner arrives (files are
    * ts-ordered, so every purchase below the current watermark+delay has
    * already been delivered); ONE far-future sentinel per side (user −1
    * at hi + 30 d, riding as the last rows of the side's second file)
    * finishes the job: it pushes both watermarks
    * past every real row's window, and the trailing NO-DATA micro-batch
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, default on —
    * AvailableNow runs it when the watermark advanced; re-verified
    * deterministically 3×, r9) applies the advance and evicts/emits the
    * remaining unmatched clicks. (The earlier two-sentinel shape dated
    * from the filter-pushdown bug below — with the sentinel silently
    * dropped, no second file could save it either.)
    * Sentinels are filtered AFTER the run, in the batch read-back — a
    * post-join `c_user >= 0` INSIDE the streaming query gets pushed below
    * the EventTimeWatermark node (it doesn't reference the event-time
    * column), silently dropping the sentinels before they can advance the
    * watermark (verified: the watermark stays at max-real-click − delay
    * and the last day's unmatched clicks never evict). The emitted real
    * set equals the batch LEFT join — the oracle. */
  def streamStreamJoinOuter(s: SparkSession, events: DataFrame,
                            dir: String): DataFrame = {
    // 4 state partitions — same 4-stores-per-partition argument as the
    // inner variant; runs 2 micro-batches (sentinels ride the second
    // file) plus the watermark-applying no-data batch
    val s4 = sized(s, 4)
    val ev = events.select("event_id", "user_id", "event_type", "ts")
    val (_, hi, cut) = tsMidpoint(ev)
    import s4.implicits._
    def side(tpe: String, uAlias: String, idAlias: String,
             tsAlias: String): DataFrame = {
      val sd = ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"), col("ts"))
      def sentinel(id: Long, days: Long) =
        Seq((-1L, id, new java.sql.Timestamp(
          hi.getTime + days * 24 * 3600 * 1000)))
          .toDF("user_id", "event_id", "ts")
      // the sentinel rides as the LAST ROWS of the second half (the
      // orderedHalvesStream trailersRideLastFile argument): it only needs
      // to advance the side's watermark at end-of-stream, so it doesn't
      // need its own trigger — one fewer join-state commit cycle per side
      val halves = orderedHalves(sd, cut)
      srcReader(s4, orderedSrc(s4,
        Seq(halves.head, halves.last.unionByName(sentinel(-1L, 30)))), 1)
        .select(col("user_id").as(uAlias), col("event_id").as(idAlias),
          col("ts").as(tsAlias))
        .withWatermark(tsAlias, "1 day")
    }
    toParquet(s, side("click", "c_user", "click_id", "click_ts")
      .join(side("purchase", "b_user", "buy_id", "buy_ts"),
        col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"),
        "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("buy_id"), col("buy_ts")), dir)
      .filter(col("user_id") >= 0L)
  }

  /** Stream-stream FULL OUTER join — the third eviction shape: BOTH
    * sides' unmatched rows are produced by the watermark/state-eviction
    * machinery (an unmatched click AND an unmatched purchase each emit
    * null-extended only when both watermarks pass their join window), so
    * this puts both directions of the eviction path under the hash gate.
    * Same rig as [[streamStreamJoinOuter]] (per-side sentinels riding the
    * last real file close every window at end-of-stream and are filtered
    * out — unmatched rows surface them through COALESCE of the two user
    * columns, never as null). */
  def streamStreamJoinFull(s: SparkSession, events: DataFrame,
                           dir: String): DataFrame = {
    val s4 = sized(s, 4)
    val ev = events.select("event_id", "user_id", "event_type", "ts")
    val (_, hi, cut) = tsMidpoint(ev)
    import s4.implicits._
    def side(tpe: String, uAlias: String, idAlias: String,
             tsAlias: String): DataFrame = {
      val sd = ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id"), col("ts"))
      def sentinel(id: Long, days: Long) =
        Seq((-1L, id, new java.sql.Timestamp(
          hi.getTime + days * 24 * 3600 * 1000)))
          .toDF("user_id", "event_id", "ts")
      val halves = orderedHalves(sd, cut)
      srcReader(s4, orderedSrc(s4,
        Seq(halves.head, halves.last.unionByName(sentinel(-1L, 30)))), 1)
        .select(col("user_id").as(uAlias), col("event_id").as(idAlias),
          col("ts").as(tsAlias))
        .withWatermark(tsAlias, "1 day")
    }
    toParquet(s, side("click", "c_user", "click_id", "click_ts")
      .join(side("purchase", "b_user", "buy_id", "buy_ts"),
        col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"),
        "full_outer")
      .select(coalesce(col("c_user"), col("b_user")).as("user_id"),
        col("click_id"), col("click_ts"), col("buy_id"), col("buy_ts")), dir)
      .filter(col("user_id") >= 0L)
  }

  /** (min ts, max ts, midpoint) of an events slice, memoized per frame
    * ([[graft.Tables.memo]]) so its aggregate job runs once per distinct
    * slice per session, not on every run of every ordered-stream key. */
  private def tsMidpoint(ev: DataFrame)
      : (java.sql.Timestamp, java.sql.Timestamp, java.sql.Timestamp) =
    graft.Tables.memo("ts-bounds", ev) {
      val mm = ev.agg(min("ts").as("lo"), max("ts").as("hi")).collect()(0)
      val lo = mm.getTimestamp(0); val hi = mm.getTimestamp(1)
      (lo, hi, new java.sql.Timestamp((lo.getTime + hi.getTime) / 2))
    }

  /** The two EVENT-TIME-ORDERED halves of `sd` split on `cut` — the
    * cross-batch event-time-order premise every watermark-sensitive
    * declared stream's correctness argument rests on, in one place. */
  private def orderedHalves(sd: DataFrame,
                            cut: java.sql.Timestamp): Seq[DataFrame] =
    Seq(sd.filter(col("ts") < lit(cut)), sd.filter(col("ts") >= lit(cut)))

  /** The shared construction both watermark-sensitive declared streams
    * rest on: split `ev` into two EVENT-TIME-ORDERED files on the range
    * midpoint of `ts` (one 1-row aggregate, metadata-scale collect;
    * cross-batch event-time order is the premise the watermark arguments
    * use), append `mkTrailer`'s planted row as the LAST file, and open the
    * ordered stream on an isolated 4-partition child session (state
    * sizing, see below). The trailer builder receives the child
    * session (for its implicits) and the corpus (lo, hi) timestamps. */
  private def orderedHalvesStream(s: SparkSession, ev: DataFrame,
      trailersRideLastFile: Boolean = false)
      (mkTrailers: (SparkSession, java.sql.Timestamp,
                    java.sql.Timestamp) => Seq[DataFrame])
      : (SparkSession, DataFrame) = {
    val (lo, hi, cut) = tsMidpoint(ev)
    // 4 state partitions (re-A/B'd r12 under the nio checkpoint manager:
    // 1.6s vs 1.75s warm on q_stream_sliding — the manager removed the
    // per-store commit forks that once made 8 the r9 winner); results are
    // partition-count invariant (PartitionInvarianceSpec)
    val s4 = sized(s, 4)
    val halves = orderedHalves(ev, cut)
    val trailers = mkTrailers(s4, lo, hi)
    // A trailer whose ONLY job is to advance the watermark past every real
    // row at end-of-stream doesn't need its own trigger: as the LAST ROWS
    // OF THE LAST FILE it advances the watermark after the same batch, the
    // trailing no-data micro-batch still flushes/evicts, and the emitted
    // real set is unchanged — one fewer full state-commit cycle per run.
    // NOT valid when the trailer must arrive AFTER the watermark already
    // passed it (dedupDropLate's planted late row needs its own batch).
    val files =
      if (trailersRideLastFile)
        Seq(halves.head,
          trailers.foldLeft(halves.last)((h, t) => h.unionByName(t)))
      else halves ++ trailers
    (s4, srcReader(s4, orderedSrc(s4, files), 1))
  }

  /** LATE-DATA DROP under the oracle gate: the watermark's actual
    * drop-late-rows path, not just bounded state. The source is two
    * event-time-ordered files of real events followed by a PLANTED row
    * whose event time sits ~10 years before the corpus — below even the
    * 3650-day watermark the real files established — with a marker key no
    * real row carries. `dropDuplicatesWithinWatermark` must filter it
    * before the stateful op (plain `dropDuplicates` verifiably does NOT
    * drop late rows when the time column isn't a key — that leak is what
    * this query exists to pin); the oracle is batch DISTINCT over the
    * REAL events only, so a leaked row is a hash failure, not a spec-only
    * assertion. The 3650-day delay spans the corpus, so no real key is
    * ever late or evicted (the q_stream_dedup_watermark argument) and the
    * real output is exactly the distinct key set. File order is
    * deterministic ([[orderedSrc]] mtimes + maxFilesPerTrigger=1),
    * so no batch-invariance argument is needed — the drop itself is the
    * test. */
  def dedupDropLate(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts"))
    val (_, stream) = orderedHalvesStream(s, ev) { (s4, _, hi) =>
      // watermark when the planted file arrives = max(real) − 3650 d; the
      // planted time must sit below it: hi − 3800 d does (corpus spans days)
      val planted = new java.sql.Timestamp(hi.getTime - 3800L * 24 * 3600 * 1000)
      import s4.implicits._
      Seq(Seq((-99L, "late_sentinel", planted))
        .toDF("user_id", "event_type", "ts"))
    }
    toParquet(s, stream
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type"), dir)
  }

  /** Streaming sessionization under the oracle gate — the last major
    * stateful-streaming API ([[Stateful.sessionize]]:
    * flatMapGroupsWithState + event-time timeout) as a declared run.
    *
    * Construction that makes the output batch-checkable:
    *  - the source is split into two EVENT-TIME-ORDERED files (ts below /
    *    above the range midpoint) — cross-batch order is the premise
    *    watermarking rests on, and it makes the per-key fold monotone;
    *  - a far-future SENTINEL row (user_id = −1, ts past every timeout +
    *    delay) rides as the LAST ROWS of the second file: its watermark
    *    advance times out every open session, so end-of-stream closes
    *    everything — the final no-data micro-batch emits the remaining
    *    sessions (no separate sentinel trigger needed);
    *  - the sentinel's own row is filtered from the output.
    * Mid-stream sessions close genuinely incrementally (arrival-driven
    * closure + timeouts as the watermark passes); state stays bounded at
    * one open session per active user. The emitted set equals batch
    * `session_window(ts, gap)`, so the gaps-and-islands oracle hashes the
    * streaming run exactly. */
  def sessionWindows(s: SparkSession, events: DataFrame, dir: String,
                     gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val ev = events.select(col("user_id"), col("ts"))
    val (s4, stream) = orderedHalvesStream(s, ev,
        trailersRideLastFile = true) { (s4, _, hi) =>
      // sentinel: past every possible timeout (hi + gap) PLUS the watermark
      // delay, with margin — its arrival pushes the watermark beyond every
      // open session's close
      val sentinel = new java.sql.Timestamp(
        hi.getTime + 31L * 24 * 3600 * 1000 + gapMinutes * 60L * 1000)
      import s4.implicits._
      Seq(Seq((-1L, sentinel)).toDF("user_id", "ts"))
    }
    import s4.implicits._ // SessionEvent encoder for .as[] below
    // delay 1 day: with time-ordered files nothing real is ever late (each
    // batch's min ts ≥ the prior watermark already), and the sentinel
    // clears it by a month
    toParquet(s, Stateful.sessionize(s4,
        stream.withWatermark("ts", "1 day").as[Stateful.SessionEvent],
        gapUs)
      .filter(col("user_id") >= 0L).toDF(), dir).select(
      timestamp_micros(col("start_us")).as("session_start"),
      timestamp_micros(col("end_us")).as("session_end"),
      col("user_id"), col("n_events"))
  }

  /** The reference's MAIN LOOP — consumer → decode → engine ingest
    * (consumer.py:57-83) — as a real streaming run: envelopes arrive in
    * micro-batches, each folded through the full engine pipeline
    * ([[StreamingIngest.start]]'s foreachBatch), and the final LWW serving
    * view is returned. Per-batch appends + read-side LWW make the result
    * independent of batching (and of at-least-once replays), which is what
    * lets the batch oracle hash-check the streaming ingest path. */
  /** Shared setup for the declared consumer→engine runs: envelope files,
    * the micro-batched stream over them, a fresh bootstrapped warehouse —
    * then hand (handle, stream, checkpointDir) to the caller's starter
    * (plain ingest or ingest+maintenance) and return the serving view. */
  private def ingestEnvelopes(s: SparkSession, envelopes: DataFrame,
      dir: String, serveType: String)(
      start: (graft.core.Engine.Handle, DataFrame, String) => StreamingQuery)
      : DataFrame = {
    val src = writeSrc(envelopes, nFiles = 2)
    val stream = srcReader(s, src, filesPerTrigger = 1)
    val h = graft.core.Engine.bootstrap(s, dir + "/wh",
      overrideWarehouse = true)
    start(h, stream, dir + "/ckpt").awaitTermination()
    h.table(serveType)
  }

  def engineIngest(s: SparkSession, envelopes: DataFrame, dir: String,
                   serveType: String): DataFrame =
    ingestEnvelopes(s, envelopes, dir, serveType)(
      StreamingIngest.start(_, _, _))

  /** MID-STREAM SCHEMA EVOLUTION through the consumer→engine loop: each
    * element of `parts` arrives as its own micro-batch IN ORDER
    * ([[orderedSrc]] — all parts share the envelope's one-string
    * schema; the schema difference lives inside the JSON payloads), so a
    * field first seen in a later batch makes the registry evolve add-only
    * BETWEEN micro-batches (the reference consumer's reload-after-change,
    * consumer.py:65-67) and rows appended before the column existed serve
    * NULL for it ([[graft.core.Engine.Handle.tableLog]]'s mergeSchema
    * read). The final serving table is batching-invariant — column values
    * ride with their rows and add-only evolution is order-independent —
    * which is what lets a plain-SQL oracle hash the evolving run. */
  def engineIngestEvolving(s: SparkSession, parts: Seq[DataFrame],
                           dir: String, serveType: String): DataFrame = {
    val stream = srcReader(s, orderedSrc(s, parts), 1)
    val h = graft.core.Engine.bootstrap(s, dir + "/wh",
      overrideWarehouse = true)
    StreamingIngest.start(h, stream, dir + "/ckpt").awaitTermination()
    h.table(serveType)
  }

  /** [[engineIngest]] through [[StreamingIngest.startWithMaintenance]]:
    * the post-batch COMPACTION maintenance loop under the oracle gate.
    * After each micro-batch's ingest, any type whose physical file count
    * crossed `maxFilesPerType` is compacted (LWW-collapse + crash-safe dir
    * swap) — the small-files control loop a long-running streaming ingest
    * runs. Sized so the threshold crosses on the SECOND batch (each append
    * writes ≤16 bucket files, compaction collapses back to ≤16), so a real
    * mid-stream compaction happens; maintenance changes layout, never the
    * serving answer, so the q_engine_ingest-shaped oracle hashes the run. */
  def engineIngestCompacting(s: SparkSession, envelopes: DataFrame,
                             dir: String, serveType: String,
                             maxFilesPerType: Int): DataFrame =
    ingestEnvelopes(s, envelopes, dir, serveType)(
      StreamingIngest.startWithMaintenance(_, _, _, maxFilesPerType))

  /** Streaming dedup-CLUSTER maintenance: near-dup edges arrive in
    * micro-batches and the (id, component) labeling is folded forward with
    * [[graft.operators.GraphOps.incrementalComponents]] — the previous
    * labels are themselves a star edge set with the same components as the
    * full history, so after EVERY batch the labeling equals batch CC over
    * all edges seen. That replay-invariance is what lets the recursive-CTE
    * oracle hash-check the streaming run. Per batch the cost is linear in
    * |labels| + |newEdges| (the corpus itself stays at rest) — the
    * maintenance loop a production incremental dedup pipeline runs.
    * Returns every doc labeled (singletons = own cluster) with sizes,
    * matching [[graft.operators.GraphOps.dedupClusters]]'s shape. */
  def incrementalClusters(s: SparkSession, docs: DataFrame, idCol: String,
                          pairs: DataFrame, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    // 2 micro-batches: batch 1 bootstraps the labeling from empty, batch 2
    // proves the incremental fold onto NONEMPTY state (stars ∪ new edges)
    // — the property under test; every extra batch pays a full CC round +
    // state rewrite (~0.6 s at sf0.1, A/B-measured) for no additional
    // coverage (GraphOpsSpec drives 4-batch folds vs union-find truth)
    val noLabels = s.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("id", LongType),
        StructField("component", LongType))))
    val src = writeSrc(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")), nFiles = 2)
    // runs on the caller's session: batch 0 folds onto the empty labeling
    val labels = runFold(s, src, dir, width = None) { (prev, batch) =>
      graft.operators.GraphOps.incrementalComponents(
        prev.getOrElse(noLabels), batch)
    }.getOrElse(noLabels)
    graft.operators.GraphOps.labelWithClusters(docs, idCol, labels)
  }

  /** Streaming LWW serving view maintained across micro-batches: each batch
    * is folded into the compacted state (newest row per user by (ts,
    * event_id)) and the state is rewritten — upsert-merge compaction. The
    * rewrite is full here for oracle-exactness; Engine.compactIfNeeded is
    * the threshold-driven variant of the same loop. */
  def lwwServe(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    // 2 micro-batches: batch 1 bootstraps the state, batch 2 proves the
    // cross-batch fold (union -> LWW -> rewrite); more batches only re-pay
    // the full-state rewrite.
    val src = writeSrc(
      events.select("event_id", "ts", "user_id", "event_type", "value"),
      nFiles = 2)
    // LWW's max-by-(ts,id) makes the replayed rewrite idempotent (the
    // runFold replay discipline)
    runFold(s, src, dir) { (prev, batch) =>
      val cur = prev.fold(batch)(p => batch.unionByName(p))
      graft.operators.Upserts.lwwView(cur, Seq("user_id"), "ts", Seq("event_id"))
    }
      // zero micro-batches (empty source) ⇒ no state dir was ever
      // written — return the empty frame in the source's shape
      .getOrElse(s.read.parquet(src).limit(0))
  }

  /** Streaming HEAVY-HITTERS maintenance — the mergeable-summaries
    * property ([[graft.operators.HeavyHitters]]'s weighted-MG sketches,
    * Agarwal et al.) driven as a real stream: documents arrive in 2
    * micro-batches, each batch's ≤4k-row sketch state folds into the
    * standing state (O(k) at rest — the production shape for continuous
    * vocabulary/domain monitoring), and end-of-stream runs the exact
    * finishing pass over the corpus at rest. With B=2 batches the
    * longest fold path keeps the total undercount < n/k (see
    * [[graft.operators.HeavyHitters.mergeStates]]), so the candidate
    * superset survives streaming and the OUTPUT EQUALS batch exact heavy
    * hitters — q_agg_heavy_hitters' oracle hashes the streaming run.
    * Alternating state dirs + batchId generation ([[runFold]]). */
  def heavyHittersMaintain(s: SparkSession, docs: DataFrame,
                           textCol: String, k: Int, dir: String): DataFrame = {
    import graft.operators.HeavyHitters
    def words(df: DataFrame) =
      df.select(explode(split(col(textCol), " ")).as("word"))
        .filter(col("word") =!= "")
    val src = writeSrc(docs, nFiles = 2)
    val state = runFold(s, src, dir) {
      (prev, batch) =>
        val bs = HeavyHitters.sketchState(words(batch), "word", k)
        prev.fold(bs)(p => HeavyHitters.mergeStates(p, bs, "word", k))
    }.getOrElse(sys.error(
      s"heavyHittersMaintain: stream at $dir committed no micro-batches"))
    HeavyHitters.exactFromState(words(s.read.parquet(src)),
      state, "word", k)
  }

  /** Streaming MINHASH-INDEX maintenance — the LSH signature index kept
    * incrementally (the q_stream_heavy_hitters sketch-maintenance shape
    * for the near-dup family): documents arrive in 2 micro-batches; each
    * batch pays the EXPENSIVE per-document work once — shingling + k-min
    * fixed-family signatures ([[graft.operators.DedupOps
    * .minhashFixedSignatures]]) — and the skinny `(id, sh, sig)` rows fold
    * into the standing index by union (alternating state dirs + batchId
    * generation, as heavyHittersMaintain; signatures are deterministic per
    * document, so a replayed batch rewrites the same state). End-of-stream
    * runs the identical banding + hot-bucket cap + candidate join +
    * exact-Jaccard verify over the index at rest
    * ([[graft.operators.DedupOps.minhashFixedPairsFromSigs]]). Signatures
    * depend only on the document, and the candidate stage only on the
    * final index, so the output is micro-batch-boundary INVARIANT — equal
    * to batch [[graft.operators.DedupOps.minhashLshNearDupsFixed]] — and
    * q_dedup_minhash_fixed's generated oracle hashes the streaming run.
    * At 100 TB the index is the durable asset: per-batch cost stays linear
    * in ARRIVING documents (the corpus-size re-shingle is never re-paid)
    * and the banded join is the same capped-bucket plan as batch. */
  def minhashIndexMaintain(s: SparkSession, docs: DataFrame,
                           idCol: String, textCol: String,
                           k: Int, bands: Int, rowsPerBand: Int,
                           threshold: Double, maxBucket: Int,
                           dir: String): DataFrame = {
    import graft.operators.DedupOps
    val src = writeSrc(docs.select(col(idCol), col(textCol)), nFiles = 2)
    runFold(s, src, dir) { (prev, batch) =>
      val bs = DedupOps.minhashFixedSignatures(batch, idCol, textCol, k,
        bands * rowsPerBand)
      prev.fold(bs)(_.unionByName(bs))
    } match {
      case Some(state) =>
        DedupOps.minhashFixedPairsFromSigs(state,
          bands, rowsPerBand, threshold, maxBucket)
      case None =>
        // empty source: no index was ever written — empty pair frame whose
        // id types follow the CALLER's idCol (an empty batch read has the
        // source schema), matching the non-empty path exactly
        val idT = s.read.parquet(src).schema(idCol).dataType
        s.emptyDataFrame
          .select(lit(null).cast(idT).as("id_a"),
            lit(null).cast(idT).as("id_b"),
            // null-cast, not lit(0.0): the non-empty path's jac is a
            // division, hence NULLABLE — schema equality includes nullability
            lit(null).cast(DoubleType).as("jac")).limit(0)
    }
  }

  /** Streaming END-TO-END PRE-TRAINING PIPELINE — the composed corpus
    * build ([[graft.Queries.qPipelinePretrain]]'s four stages) run as ONE
    * AvailableNow stream, so the INTERACTION of the streaming folds is
    * gated, not just each fold alone (VERDICT r17 #2):
    *
    *  - per micro-batch (the expensive per-document work, paid once per
    *    arriving document): quality gate (per-row metrics → filter), then
    *    content digest + fixed-family MinHash signatures
    *    ([[graft.operators.DedupOps.minhashFixedSignatures]]); the skinny
    *    `(id, digest, sh, sig)` rows fold into the standing state by union
    *    (alternating state dirs + batchId generation, as
    *    [[minhashIndexMaintain]]);
    *  - end of stream (the index-at-rest stages): exact-dedup keepers =
    *    min id per digest over the FINAL state (min is order-free, so
    *    keeper selection is batching-invariant even when a later batch
    *    delivers a smaller id for a seen digest — the reason survivorship
    *    must NOT be applied per batch), the identical banded candidate
    *    join + exact-Jaccard verify over the keepers' signatures, pair
    *    losers dropped, and context-window chunking over the survivors'
    *    text re-read from the source at rest (the heavyHittersMaintain
    *    exact-pass shape).
    *
    * Signatures and digests depend only on the document, and every
    * end-of-stream stage only on the final state, so the output is
    * micro-batch-boundary INVARIANT — equal to batch
    * [[graft.Queries.qPipelinePretrain]] — and the same four-stage CTE
    * oracle hashes the streaming run. Cost note vs batch: the stream signs
    * every QUALITY-passing document (exact-dup losers included) because
    * survivorship is only final at end-of-stream; that per-duplicate
    * signature is the price of invariance, linear in arrivals, and the
    * state stays skinny (one row per quality doc). */
  def pipelinePretrainMaintain(s: SparkSession, docs: DataFrame,
                               k: Int, bands: Int, rowsPerBand: Int,
                               threshold: Double, maxBucket: Int,
                               dir: String): DataFrame = {
    import graft.operators.{DedupOps, TextOps}
    val src = writeSrc(docs.select(col("doc_id"), col("text"),
      col("n_chars")), nFiles = 2)
    val state = runFold(s, src, dir) {
      (prev, batch) =>
        val qual = TextOps.qualityMetrics(batch)
          .filter(col("n_words") >= 5 && col("dedup_ratio") >= 0.3)
          .select("doc_id", "text")
        val bs = DedupOps.minhashFixedSignatures(qual, "doc_id", "text",
            k, bands * rowsPerBand)
          .join(qual.select(col("doc_id").as("id"),
            md5(col("text")).as("digest")), "id")
        prev.fold(bs)(_.unionByName(bs))
    }.getOrElse(sys.error(
      s"pipelinePretrainMaintain: stream at $dir committed no micro-batches"))
    val keepers = state.groupBy("digest").agg(min(col("id")).as("id"))
      .select("id")
    val index = state.join(keepers, "id").select("id", "sh", "sig")
      .localCheckpoint() // two-sided self-join below (the batch-path reuse)
    val pairs = DedupOps.minhashFixedPairsFromSigs(index, bands, rowsPerBand,
      threshold, maxBucket)
    val survivors = keepers
      .join(pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"))
    val ded = s.read.parquet(src).join(survivors, "doc_id")
      .select("doc_id", "text")
    TextOps.chunkTokens(ded, "doc_id", "text", winSize = 64, stride = 48)
  }

  /** Streaming IVF-INDEX maintenance — the ANN index kept incrementally,
    * the FAISS/Milvus continuous-ingestion shape: the coarse codebook is
    * the OFFLINE-TRAINED artifact (deterministic seed-pinned DECIMAL-exact
    * Lloyd — [[graft.operators.VectorOps.lloydCentroids]]; production
    * retrains it periodically, not per batch), and what streams is the
    * INDEX: each micro-batch of arriving vectors pays cell assignment once
    * (pure projection through the native codebook kernel,
    * [[graft.operators.VectorOps.ivfEncode]]) and the skinny
    * `(neighbor_id, cell, nnorm, nv)` rows fold into the standing inverted
    * lists (alternating state dirs + batchId generation; assignment is
    * per-vector, so a replayed batch rewrites the same state).
    * End-of-stream serves queries from the index at rest with the
    * identical probe + exact-rank stage
    * ([[graft.operators.VectorOps.ivfTopKFromIndex]]). Assignment depends
    * only on (vector, codebook) and the probe stage only on the final
    * index, so the output is micro-batch-boundary INVARIANT — equal to
    * batch [[graft.operators.VectorOps.cosineTopKIvf]] — and
    * q_vec_ann_ivf's GENERATED oracle (codebook literals) hashes the
    * streaming run. At 100 TB the per-batch cost stays linear in ARRIVING
    * vectors and a query's cost ∝ nProbe/nCentroids of the standing index. */
  def ivfIndexMaintain(s: SparkSession, emb: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String,
                       k: Int, nCentroids: Int, nProbe: Int,
                       dir: String): DataFrame = {
    import graft.operators.VectorOps
    val cents = VectorOps.lloydCentroids(emb, idCol, vecCol, nCentroids,
      iters = 1)
    val src = writeSrc(emb.select(col(idCol), col(vecCol)), nFiles = 2)
    val index = runFold(s, src, dir) { (prev, batch) =>
      val bs = VectorOps.ivfEncode(batch, idCol, vecCol, cents)
      prev.fold(bs)(_.unionByName(bs))
    }.getOrElse(sys.error(
      s"ivfIndexMaintain: stream at $dir committed no micro-batches"))
    VectorOps.ivfTopKFromIndex(index, queries, idCol, vecCol, cents, k, nProbe)
  }

  /** Streaming HYBRID-SERVING maintenance (VERDICT r18 #6) — the
    * production maintain-then-serve loop closed: BOTH of the hybrid's
    * standing retrieval indexes are kept by streaming folds, and ONE serve
    * runs the same union-RRF fuse the batch key runs.
    *
    *  - lexical: per-batch [[graft.operators.TextOps.docPostings]] rows
    *    fold by plain union (documents partition across batches and
    *    postings derive per row, so the folded index is trivially
    *    batching-invariant);
    *  - vector: the [[ivfIndexMaintain]] fold shape — offline-trained
    *    coarse codebook, per-batch [[graft.operators.VectorOps.ivfEncode]]
    *    assignment into the standing inverted lists;
    *  - serve: query postings read FROM the maintained lexical state,
    *    [[graft.operators.TextOps.postingsOverlapTopN]] +
    *    [[graft.operators.VectorOps.ivfTopKFromIndex]] top-`n` each,
    *    fused with [[graft.operators.VectorOps.rrfFuseUnion]] — the exact
    *    batch q_hybrid_rrf stages.
    *
    * Both folds' final states equal their batch indexes for every
    * batching, and the serve sees only final state, so the output equals
    * batch q_hybrid_rrf and the SAME generated oracle (hybridRrfOracle)
    * hashes the maintained run — this key gates the maintain→serve
    * hand-off. Each fold is its own AvailableNow run (a production loop
    * streams one query per source topic); per-batch cost stays linear in
    * arrivals, state is postings + inverted lists at rest. */
  def hybridMaintainServe(s: SparkSession, docs: DataFrame, emb: DataFrame,
                          n: Int, nCentroids: Int, nProbe: Int,
                          dir: String): DataFrame = {
    import graft.operators.{TextOps, VectorOps}
    val cents = VectorOps.lloydCentroids(emb, "vec_id", "embedding",
      nCentroids, iters = 1)
    // the two INDEPENDENT folds run CONCURRENTLY (guide §2.6 — overlap
    // independent jobs): each is its own
    // AvailableNow run over its own source, checkpoint, and FoldState
    // dirs, so one fold's per-micro-batch driver gaps (offset/commit log,
    // next-batch planning) back-fill with the other's work instead of
    // serializing. The streams carry no name to clash and nothing
    // shared is mutated; both final states are identical to the
    // sequential run's, so the served output is unchanged (r21: the two
    // folds were ~0.9 s of the key's ~2.3 s, almost fully overlapped).
    val docSrc = writeSrc(docs.select(col("doc_id"), col("text")), nFiles = 2)
    val embSrc = writeSrc(emb.select(col("vec_id"), col("embedding")), nFiles = 2)
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    // dedicated 2-thread pool, not the global fork-join pool (ADVICE r21
    // #1): each future parks in awaitTermination, which would starve the
    // shared pool under overlapping rigs; and awaiting BOTH before
    // rethrowing means a failed fold can never leave its sibling running
    // unsupervised past this call
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val postingsF = Future(blocking(runFold(s, docSrc, dir + "/lex") { (prev, batch) =>
        val bs = TextOps.docPostings(batch, "doc_id", "text")
        prev.fold(bs)(_.unionByName(bs))
      }))
      val indexF = Future(blocking(runFold(s, embSrc, dir + "/vec") { (prev, batch) =>
        val bs = VectorOps.ivfEncode(batch, "vec_id", "embedding", cents)
        prev.fold(bs)(_.unionByName(bs))
      }))
      val results = Seq("lexical" -> postingsF, "vector" -> indexF).map {
        case (tag, f) => tag -> Await.ready(f, Duration.Inf).value.get
      }
      results.collectFirst { case (_, scala.util.Failure(e)) => e }
        .foreach(e => throw e)
      val Seq(postings, index) = results.map { case (tag, r) =>
        r.get.getOrElse(sys.error(
          s"hybridMaintainServe: $tag stream at $dir committed no micro-batches"))
      }
      val lex = TextOps.postingsOverlapTopN(postings,
        postings.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("tok")), n)
      val queries = emb.filter(col("vec_id") < 5)
      val vec = VectorOps.ivfTopKFromIndex(index, queries, "vec_id",
          "embedding", cents, n, nProbe)
        .select("query_id", "neighbor_id", "rank")
      VectorOps.rrfFuseUnion(lex, vec,
        rankAName = "lex_rank", rankBName = "vec_rank")
    } finally pool.shutdown()
  }

  /** Streaming INVERTED-INDEX maintenance — the text-search index kept
    * incrementally (the third standing index after the MinHash and IVF
    * folds): each micro-batch of arriving documents pays tokenize +
    * per-batch index build once ([[graft.operators.TextOps.invertedIndex]]
    * — df counts + first-`cap` sorted postings), and the per-term rows
    * fold into the standing index by the index's own MERGE: df adds
    * (documents partition across batches, so no cross-batch dedup), and
    * postings re-truncate to the first `cap` of the merged sorted lists —
    * a min-k summary, whose union-then-truncate is associative, so the
    * final index EQUALS the one-shot batch index for every batching and
    * q_inverted_index's oracle hashes the streaming run. At 100 TB the
    * per-batch cost stays linear in arriving documents and the state is
    * O(vocabulary × cap) at rest — the continuously-updated search-index
    * shape. */
  def invertedIndexMaintain(s: SparkSession, docs: DataFrame,
                            idCol: String, textCol: String, cap: Int,
                            dir: String): DataFrame = {
    import graft.operators.TextOps
    val src = writeSrc(docs.select(col(idCol), col(textCol)), nFiles = 2)
    runFold(s, src, dir) { (prev, batch) =>
      val bs = TextOps.invertedIndex(batch, idCol, textCol, cap)
      prev.fold(bs)(_.unionByName(bs)
        .groupBy("term")
        .agg(sum(col("df_docs")).as("df_docs"),
          slice(array_sort(flatten(collect_list(col("postings")))),
            1, cap).as("postings")))
    }.getOrElse(sys.error(
      s"invertedIndexMaintain: stream at $dir committed no micro-batches"))
  }

  /** Streaming DRIFT maintenance — the distribution-shift monitor run as a
    * stream: each micro-batch's per-(group, value-bin) two-sample counts
    * ([[graft.operators.StatsOps.ksCounts]] — the simplest mergeable
    * summary) fold into the standing state by union + sum, keeping
    * O(groups × grid bins) at rest regardless of rows seen; end-of-stream
    * finishes with [[graft.operators.StatsOps.ksFromCounts]]. Addition is
    * associative, so fold-then-finish EQUALS one-shot batch KS and
    * q_drift_ks' oracle hashes the streaming run. Alternating state dirs
    * + batchId-derived generation, as heavyHittersMaintain above. */
  def driftMaintain(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    import graft.operators.StatsOps
    val ev = events.select(col("event_type"), col("ts"), col("value"))
    val src = writeSrc(ev, nFiles = 2)
    def counts(df: DataFrame) =
      StatsOps.ksCounts(df, "event_type",
        dayofweek(col("ts")).isin(1, 7), "value", gridScale = 1000L)
    val state = runFold(s, src, dir) {
      (prev, batch) =>
        val bs = counts(batch)
        prev.fold(bs)(p => StatsOps.mergeCounts(p, bs))
    }.getOrElse(sys.error(
      s"driftMaintain: stream at $dir committed no micro-batches"))
    StatsOps.ksFromCounts(state, "event_type")
  }

  /** Streaming TREND maintenance — the drift monitor's OLS companion run
    * as a stream: each micro-batch's per-group exact sufficient statistics
    * ([[graft.operators.StatsOps.olsCounts]] — five mergeable moments)
    * fold into the standing state by union + sum, keeping O(groups) at
    * rest regardless of rows seen; end-of-stream finishes the closed-form
    * slope/intercept with [[graft.operators.StatsOps.olsFinish]]. Addition
    * is associative, so fold-then-finish EQUALS one-shot batch OLS and
    * q_trend_ols' oracle hashes the streaming run. Alternating state dirs
    * + batchId-derived generation, as driftMaintain above. */
  def trendMaintain(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    import graft.operators.StatsOps
    val ev = events.select(col("event_type"), col("ts"), col("value"))
    val src = writeSrc(ev, nFiles = 2)
    val state = runFold(s, src, dir) {
      (prev, batch) =>
        val bs = StatsOps.olsCounts(batch, "event_type", "ts", "value")
        prev.fold(bs)(p => StatsOps.olsMerge(p, bs, "event_type"))
    }.getOrElse(sys.error(
      s"trendMaintain: stream at $dir committed no micro-batches"))
    StatsOps.olsFinish(state, "event_type")
  }

  /** Streaming SCD2 maintenance — the CDC "state over time" serving table
    * kept incrementally: each micro-batch of events is folded into the
    * standing history with [[graft.operators.Temporal.scd2Fold]] (seeded
    * change capture + close-open-interval + chain new validity), and after
    * EVERY batch the state equals batch [[graft.operators.Temporal.scd2]]
    * over all events seen — which is what lets q_scd2_history's oracle
    * hash the streaming run. The fold's premise (each key's new events
    * come after its history — what a CDC log provides) holds by
    * construction here: the source is the two event-time-ordered halves.
    * Alternating state dirs + batchId-derived generation, same
    * restart/replay reasoning as [[runFold]]. Per batch the
    * cost is one window over the batch + one key-join against state; the
    * full-state rewrite is the parquet-only stand-in for a merge-capable
    * sink where only touched keys would rewrite. */
  def scd2Maintain(s: SparkSession, events: DataFrame, dir: String): DataFrame = {
    val ev = events.select("user_id", "event_id", "event_type", "ts")
    val (_, _, cut) = tsMidpoint(ev)
    def history(df: DataFrame): DataFrame =
      graft.operators.Temporal.scd2(df, Seq("user_id"), "ts",
        Seq("ts", "event_id"), Seq("event_type"))
    runFold(s, orderedSrc(s, orderedHalves(ev, cut)), dir,
        width = Some(8)) { (prev, batch) =>
      // batch 0 folds onto a zero-row history in the scd2 shape
      graft.operators.Temporal.scd2Fold(prev.getOrElse(history(batch.limit(0))),
        batch, keyCols = Seq("user_id"), tsCol = "ts",
        orderCols = Seq("ts", "event_id"), attrCols = Seq("event_type"))
    }.getOrElse(history(ev.limit(0)))
  }

  /** Streaming CDC maintenance — the `table_changes` STREAM a downstream
    * replicator consumes: each micro-batch folds into the standing LWW
    * state (union → LWW → rewrite, the q_stream_lww loop) AND emits the
    * classified delta against the pre-batch state
    * ([[graft.operators.Upserts.snapshotDiff]] — insert/update with
    * before/after values) to an append-only per-batch change log. The
    * declared output is the whole log.
    *
    * Unlike the split-INVARIANT streams, a change log's content depends on
    * batch membership (which rows were "already present" when a batch
    * lands), so the batch boundary is pinned exactly: the source is two
    * event-time-ordered files cut at NOON of the integer-microsecond
    * midpoint's day — `((minUs+maxUs)/2 / day) * day + day/2`, computed
    * via `unix_micros` (not [[tsMidpoint]]'s millisecond
    * `Timestamp.getTime`) so the DuckDB oracle replays the same cut
    * exactly with `epoch_us`. The state is keyed per (user, DAY): with a
    * mid-day cut all four gate-relevant outcomes occur at sf0.01 —
    * batch-0 inserts (~2k), batch-1 inserts for post-cut days (~2k),
    * UPDATES for cut-day keys with events both sides (~62, carrying the
    * morning winner as the before-image), and ~1.9k pre-cut-day keys
    * whose winner is UNCHANGED and must be ABSENT from the log. (A
    * midnight-adjacent midpoint cut — what `(lo+hi)/2` happens to be on
    * this data — leaves the update branch empty; the noon snap makes the
    * composition robust, not luck.)
    *
    * Idempotent under replay/restart: per-batch log dirs and the
    * batchId-parity state dirs are deterministic overwrites of the same
    * paths (the [[runFold]] argument). At 100 TB the state
    * rewrite becomes a MERGE into a keyed table and the log an append —
    * the per-batch diff is one key-partitioned join either way. */
  def changesMaintain(s: SparkSession, events: DataFrame, dir: String): DataFrame =
    changesMaintainImpl(s, events, dir, crash = false)

  /** [[changesMaintain]] driven THROUGH A CRASH AND RECOVERY — restart
    * correctness under the oracle gate, not just a spec: the first query
    * run throws inside micro-batch 1 at the WORST interleaving (the
    * batch's change-log dir written, the state dir and commit log not);
    * a SECOND query on the SAME checkpoint then replays batch 1 —
    * overwriting the orphaned log dir byte-identically and completing
    * the state write — and runs to completion. The declared output (the
    * whole change log) shares q_stream_changes' oracle shape: a
    * duplicated delta, a rebootstrapped state, or a missed replay is a
    * hash failure. The replay-idempotence this leans on is the per-batch
    * overwrite + batchId-parity state discipline (RestartRecoverySpec
    * cases 1/1b prove the mechanism; this key prices and gates it). */
  def changesMaintainRestart(s: SparkSession, events: DataFrame, dir: String): DataFrame =
    changesMaintainImpl(s, events, dir, crash = true)

  private def changesMaintainImpl(s: SparkSession, events: DataFrame,
                                  dir: String, crash: Boolean): DataFrame = {
    val DayUs = 86400000000L
    val ev = events.select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("d", date_trunc("day", col("ts")))
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).collect()(0)
    // Empty (or all-null-ts) input: nothing to stream — return the
    // empty-schema change log directly (the getLong below would NPE and
    // make the lastBatch<0 fallback at the end unreachable).
    if (mm.isNullAt(0))
      return ev.limit(0).select(col("user_id"), col("d"), lit("").as("change"),
        col("value").as("value_before"), col("value").as("value_after"),
        lit(0).as("batch"))
    val cutUs = ((mm.getLong(0) + mm.getLong(1)) / 2 / DayUs) * DayUs + DayUs / 2
    val s4 = sized(s, FoldWidth)
    val stream = srcReader(s4, orderedSrc(s4, Seq(
      ev.filter(unix_micros(col("ts")) < cutUs),
      ev.filter(unix_micros(col("ts")) >= cutUs))), 1)
    val fs = new FoldState(dir)
    val logDir = dir + "/changes"
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(crash)
    // only the planned crash run is named (PlannedCrashPrefix + a UUID that
    // keeps concurrent runs apart), and the log config denies every
    // MicroBatchExecution message of that query: ANY failure of that run,
    // not only the injected one, loses Spark's ERROR log and surfaces only
    // as the StreamingQueryException rethrown below
    def run(name: Option[String]): Unit = runStream(stream, dir)(w =>
      name.fold(w)(w.queryName).foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev =
          if (batchId == 0L) batch.limit(0)
          else fs.read(s4, batchId - 1)
        // cur feeds BOTH writes (delta, then state — log-first is the
        // crash-ordering RestartRecoverySpec pins); cache so the LWW
        // window runs once per batch, not once per consumer
        val cur = graft.operators.Upserts.lwwView(
          if (batchId == 0L) batch else batch.unionByName(prev),
          Seq("user_id", "d"), "ts", Seq("event_id")).cache()
        try {
          // per-batch deltas are bounded like fold states — one-file commit
          graft.operators.Upserts.snapshotDiffKeys(prev, cur,
              Seq("user_id", "d"), Seq("value"))
            .withColumn("batch", lit(batchId.toInt))
            .coalesce(1)
            .write.mode("overwrite").parquet(logDir + s"/b$batchId")
          if (batchId == 1L && crashArmed.getAndSet(false))
            throw new RuntimeException(
              "graft-injected-crash: change log written, state + commit log not")
          fs.write(cur, batchId)
        } finally cur.unpersist()
        lastBatch.updateAndGet(m => math.max(m, batchId))
        ()
      })
    if (crash) {
      try {
        run(Some(PlannedCrashPrefix + java.util.UUID.randomUUID()))
        throw new IllegalStateException(
          "crash run completed without crashing — injection never fired")
      } catch {
        // Spark versions differ in how foreachBatch user exceptions nest
        // under StreamingQueryException (e.g. a ForeachBatchUserFuncException
        // wrapper) — walk the WHOLE cause chain, not just the first cause.
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .take(16).exists(t => String.valueOf(t.getMessage)
              .contains("graft-injected-crash")) => ()
      }
      require(!crashArmed.get(),
        "injected crash must have fired before the recovery run")
    }
    run(None)
    if (lastBatch.get() < 0L)
      ev.limit(0).select(col("user_id"), col("d"), lit("").as("change"),
        col("value").as("value_before"), col("value").as("value_after"),
        lit(0).as("batch"))
    else s.read.parquet((0L to lastBatch.get()).map(b => logDir + s"/b$b"): _*)
  }
}
