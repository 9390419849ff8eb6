package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Restart-from-checkpoint recovery, actually exercised (VERDICT r9: the
  * batchId-derived state fold in Declared was designed for restarts but
  * never driven through one). Two failure modes, both deterministic:
  *
  *  1. CRASH-AND-REPLAY on the foreachBatch + alternating-state-dir shape
  *     ([[Declared.incrementalClusters]]'s internals, built here from the
  *     same public pieces): the first query commits micro-batch 0, then
  *     crashes INSIDE batch 1 after the state write but before the commit
  *     log records it — the at-least-once window. A NEW query on the SAME
  *     checkpoint must replay batch 1 with the SAME framework batchId
  *     (this is exactly why the state generation is batchId-derived, not a
  *     local counter: a counter would reset and rebootstrap from empty),
  *     and the idempotent rewrite must land the identical final labeling.
  *     Reference analog: the consumer's crash-and-continue loop
  *     (/root/reference/moisturizer/consumer.py:78-83).
  *
  *  2. STOP-AND-RESTART on a built-in stateful append-mode agg
  *     (q_stream_sliding's exact shape — sliding window + watermark +
  *     parquet sink): the first query runs AvailableNow over the files
  *     present and terminates with day-1 windows already FLUSHED to the
  *     sink and day-3 window state UNFLUSHED in the state store; more
  *     files then arrive and a new query on the same checkpoint + sink
  *     must (a) not re-emit the flushed windows, (b) fold the new rows
  *     onto the recovered in-flight window state, (c) end byte-identical
  *     to the uninterrupted run. A lost state store shows up as a wrong
  *     count on the window spanning the restart; a lost sink commit log
  *     shows up as duplicate day-1 rows.
  */
class RestartRecoverySpec extends SparkSpec {

  /** Write `df` as ONE parquet file `b<idx>.parquet` under `srcDir` with a
    * pinned, idx-increasing mtime — the file source orders by mtime, so
    * with maxFilesPerTrigger=1 file idx IS micro-batch idx (the
    * orderedSrc convention in Declared). */
  private def addFile(df: DataFrame, srcDir: String, idx: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(srcDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
    val tmp = new org.apache.hadoop.fs.Path(srcDir + s"/_tmp$idx")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(tmp, "part-*.parquet")).head.getPath
    val dest = new org.apache.hadoop.fs.Path(srcDir, f"b$idx%03d.parquet")
    fs.rename(part, dest)
    fs.delete(tmp, true)
    fs.setTimes(dest, 1700000000000L + idx * 60000L, -1)
  }

  private def reader(src: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---------------------------------------------------------------------
  // 1. crash-and-replay: foreachBatch fold with batchId-derived state
  // ---------------------------------------------------------------------

  private val emptyLabels = StructType(Seq(
    StructField("id", LongType), StructField("component", LongType)))

  /** One streaming run of the incremental-CC fold over `src`. When
    * `crashAtBatch` matches, the foreachBatch body throws AFTER writing
    * the batch's state but BEFORE returning — the commit log never
    * records the batch, simulating a crash in the at-least-once window.
    * `attempts` counts executions per framework batchId across runs. */
  private def runCcFold(src: String, ckpt: String, states: Seq[String],
                        attempts: java.util.concurrent.ConcurrentHashMap[Long, Integer],
                        crashAtBatch: Option[Long]): Long = {
    val crashArmed = new AtomicBoolean(crashAtBatch.isDefined)
    val lastBatch = new AtomicLong(-1L)
    reader(src).writeStream
      .queryName("graft-restart-cc")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev =
          if (batchId == 0L) spark.createDataFrame(
            java.util.List.of[Row](), emptyLabels)
          else spark.read.parquet(states(((batchId - 1) % 2).toInt))
        graft.operators.GraphOps.incrementalComponents(prev, batch)
          .write.mode("overwrite").parquet(states((batchId % 2).toInt))
        attempts.merge(batchId, 1, (a, b) => a + b)
        if (crashAtBatch.contains(batchId) && crashArmed.getAndSet(false))
          throw new RuntimeException(
            "injected crash: state written, commit log not yet updated")
        lastBatch.updateAndGet(m => math.max(m, batchId))
        ()
      }
      .start().awaitTermination()
    lastBatch.get()
  }

  test("crash inside a micro-batch: restart replays it with the same batchId onto the right state") {
    import spark.implicits._
    val edges0 = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val edges1 = Seq((2L, 3L), (5L, 6L)).toDF("src", "dst")

    // uninterrupted run — the ground truth the recovered run must equal
    val uDir = tmpDir("restart-cc-uninterrupted")
    addFile(edges0, uDir + "/src", 0); addFile(edges1, uDir + "/src", 1)
    val uAttempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val uStates = Seq(uDir + "/state0", uDir + "/state1")
    val uLast = runCcFold(uDir + "/src", uDir + "/ckpt", uStates, uAttempts, None)
    assert(uLast === 1L)
    val expected = rows(spark.read.parquet(uStates(1)))

    // crashing run: batch 0 commits, batch 1 crashes post-state-write
    val cDir = tmpDir("restart-cc-crash")
    addFile(edges0, cDir + "/src", 0); addFile(edges1, cDir + "/src", 1)
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val cStates = Seq(cDir + "/state0", cDir + "/state1")
    val thrown = intercept[StreamingQueryException] {
      runCcFold(cDir + "/src", cDir + "/ckpt", cStates, attempts, Some(1L))
    }
    assert(thrown.getMessage.contains("injected crash") ||
      String.valueOf(thrown.getCause).contains("injected crash"))
    assert(attempts.get(0L) === 1 && attempts.get(1L) === 1)

    // NEW query, SAME checkpoint: must resume at batchId=1 (batch 0 is
    // committed — reprocessing it would show attempts(0)=2), replay
    // batch 1 idempotently, and land the identical labeling
    val last = runCcFold(cDir + "/src", cDir + "/ckpt", cStates, attempts, None)
    assert(last === 1L, "restart must resume at the crashed batch, not rebootstrap")
    assert(attempts.get(0L) === 1, "committed batch 0 must not be reprocessed")
    assert(attempts.get(1L) === 2, "uncommitted batch 1 must be replayed exactly once")
    assert(rows(spark.read.parquet(cStates(1))) === expected)

    // final guard: the recovered labeling is the true transitive closure
    val comps = spark.read.parquet(cStates(1)).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === comps(4L), "cross-batch merge must survive the crash")
    assert(comps(5L) === comps(6L))
    assert(comps(5L) !== comps(1L))
  }

  // ---------------------------------------------------------------------
  // 1b. crash-and-replay on the CDC change-log shape (q_stream_changes):
  //     the WORST interleaving — the batch's log dir is already written,
  //     the state dir and commit log are not. Replay must overwrite the
  //     log idempotently (per-batch dirs, not appends), write the state,
  //     and end byte-identical to the uninterrupted run in BOTH outputs.
  // ---------------------------------------------------------------------

  private def runCdcFold(src: String, ckpt: String, states: Seq[String],
                         logDir: String, crashAtBatch: Option[Long]): Long = {
    val crashArmed = new AtomicBoolean(crashAtBatch.isDefined)
    val lastBatch = new AtomicLong(-1L)
    reader(src).writeStream
      .queryName("graft-restart-cdc")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev =
          if (batchId == 0L) batch.limit(0)
          else spark.read.parquet(states(((batchId - 1) % 2).toInt))
        val cur = graft.operators.Upserts.lwwView(
          if (batchId == 0L) batch else batch.unionByName(prev),
          Seq("k"), "ts", Seq("seq"))
        graft.operators.Upserts.snapshotDiffKeys(prev, cur, Seq("k"), Seq("v"))
          .withColumn("batch", lit(batchId.toInt))
          .write.mode("overwrite").parquet(logDir + s"/b$batchId")
        if (crashAtBatch.contains(batchId) && crashArmed.getAndSet(false))
          throw new RuntimeException(
            "injected crash: change log written, state + commit log not")
        cur.write.mode("overwrite").parquet(states((batchId % 2).toInt))
        lastBatch.updateAndGet(m => math.max(m, batchId))
        ()
      }
      .start().awaitTermination()
    lastBatch.get()
  }

  test("CDC change log: crash between log and state writes replays idempotently") {
    import spark.implicits._
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    val b0 = Seq((1L, "x", ts("2024-01-01 00:00:00"), 1L),
                 (2L, "y", ts("2024-01-01 00:00:00"), 2L))
      .toDF("k", "v", "ts", "seq")
    val b1 = Seq((1L, "x2", ts("2024-01-02 00:00:00"), 3L), // update
                 (3L, "z", ts("2024-01-02 00:00:00"), 4L))  // insert
      .toDF("k", "v", "ts", "seq")

    def logRows(dir: String, last: Long): Seq[String] =
      rows(spark.read.parquet((0L to last).map(b => dir + s"/b$b"): _*))

    // uninterrupted ground truth
    val uDir = tmpDir("restart-cdc-uninterrupted")
    addFile(b0, uDir + "/src", 0); addFile(b1, uDir + "/src", 1)
    val uStates = Seq(uDir + "/state0", uDir + "/state1")
    val uLast = runCdcFold(uDir + "/src", uDir + "/ckpt", uStates, uDir + "/log", None)
    assert(uLast === 1L)
    val expectedLog = logRows(uDir + "/log", 1L)
    val expectedState = rows(spark.read.parquet(uStates(1)))
    assert(expectedLog.exists(_.contains("update")) &&
      expectedLog.exists(_.contains("insert")),
      "fixture must exercise both the update and insert branches")

    // crashing run: batch 1's log lands, its state doesn't
    val cDir = tmpDir("restart-cdc-crash")
    addFile(b0, cDir + "/src", 0); addFile(b1, cDir + "/src", 1)
    val cStates = Seq(cDir + "/state0", cDir + "/state1")
    val thrown = intercept[StreamingQueryException] {
      runCdcFold(cDir + "/src", cDir + "/ckpt", cStates, cDir + "/log", Some(1L))
    }
    assert(String.valueOf(thrown.getCause).contains("injected crash") ||
      thrown.getMessage.contains("injected crash"))
    // the at-least-once window is real: the orphaned log exists already
    assert(new java.io.File(cDir + "/log/b1").exists,
      "crash must land AFTER the log write or the test is vacuous")

    // restart on the same checkpoint: replay overwrites log b1 in place
    // (same rows, no duplication) and completes the state write
    val last = runCdcFold(cDir + "/src", cDir + "/ckpt", cStates, cDir + "/log", None)
    assert(last === 1L)
    assert(logRows(cDir + "/log", 1L) === expectedLog,
      "replayed log must be byte-identical — per-batch overwrite, never append")
    assert(rows(spark.read.parquet(cStates(1))) === expectedState)
  }

  // ---------------------------------------------------------------------
  // 2. stop-and-restart: built-in stateful sliding agg (q_stream_sliding)
  // ---------------------------------------------------------------------

  /** One AvailableNow run of the q_stream_sliding pipeline shape over
    * whatever files are currently in `src`. */
  private def runSliding(src: String, ckpt: String, out: String): Unit =
    reader(src)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"))
      .writeStream
      .queryName("graft-restart-sliding")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .format("parquet")
      .option("path", out)
      .start().awaitTermination()

  test("stateful sliding agg: stop after a flushing run, restart folds onto recovered window state") {
    import spark.implicits._
    def ts(v: String) = java.sql.Timestamp.valueOf(v)
    // day-1 windows close during phase A (the day-3 row drags the
    // watermark past them); the day-3 09:00-10:00 'a' window SPANS the
    // restart — one contribution in phase A's file, one in phase B's
    val f0 = Seq(
      (ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 10:15:00"), "b"),
      (ts("2024-01-01 10:40:00"), "a"), (ts("2024-01-03 09:10:00"), "a"))
      .toDF("ts", "event_type")
    val f1 = Seq(
      (ts("2024-01-03 09:20:00"), "b"), (ts("2024-01-03 09:50:00"), "a"))
      .toDF("ts", "event_type")
    val sentinel = Seq((ts("2024-02-10 00:00:00"), "wm_sentinel"))
      .toDF("ts", "event_type")

    // uninterrupted ground truth: all three files, one query
    val uDir = tmpDir("restart-sliding-uninterrupted")
    addFile(f0, uDir + "/src", 0); addFile(f1, uDir + "/src", 1)
    addFile(sentinel, uDir + "/src", 2)
    runSliding(uDir + "/src", uDir + "/ckpt", uDir + "/out")
    val expected = rows(spark.read.parquet(uDir + "/out")
      .filter(col("event_type") =!= "wm_sentinel"))

    // phase A: only f0 present; the run terminates (stream stopped) with
    // day-1 windows flushed and day-3 state in the store
    val rDir = tmpDir("restart-sliding-restart")
    addFile(f0, rDir + "/src", 0)
    runSliding(rDir + "/src", rDir + "/ckpt", rDir + "/out")
    val phaseA = rows(spark.read.parquet(rDir + "/out"))
    assert(phaseA.nonEmpty,
      "phase A must flush the day-1 windows — otherwise the restart test is vacuous")
    assert(phaseA.size < expected.size,
      "phase A must NOT have flushed everything — day-3 state must span the restart")

    // phase B: new files arrive, NEW query on the SAME checkpoint + sink
    addFile(f1, rDir + "/src", 1); addFile(sentinel, rDir + "/src", 2)
    runSliding(rDir + "/src", rDir + "/ckpt", rDir + "/out")
    val got = rows(spark.read.parquet(rDir + "/out")
      .filter(col("event_type") =!= "wm_sentinel"))
    assert(got === expected)

    // the window spanning the restart really did merge state across it
    val spanning = spark.read.parquet(rDir + "/out")
      .filter(col("window_start") === ts("2024-01-03 09:00:00") &&
        col("event_type") === "a").collect()
    assert(spanning.map(_.getAs[Long]("n")).toSeq === Seq(2L),
      "recovered state must fold phase-A and phase-B rows into one count")
  }
}
