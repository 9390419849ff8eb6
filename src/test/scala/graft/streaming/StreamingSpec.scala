package graft.streaming

import graft.SparkSpec
import graft.core.Engine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming behavior: micro-batch ingest through the full engine pipeline,
  * watermarked event-time windows, in-watermark dedup, custom keyed state. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeJsonFiles(dir: String, batches: Seq[Seq[String]]): Unit =
    batches.zipWithIndex.foreach { case (lines, i) =>
      val p = java.nio.file.Paths.get(dir, f"b$i%03d.json")
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      // distinct mtimes: the file source orders batches by modification time
      p.toFile.setLastModified(1700000000000L + i * 60000L)
    }

  test("streaming ingest: file-source envelopes -> per-type tables via foreachBatch") {
    val srcDir = tmpDir("graft-stream-src")
    val ckpt = tmpDir("graft-stream-ckpt")
    writeJsonFiles(srcDir, Seq(
      Seq(
        """{"m":{"type_id":"s1","data":{"id":"a","v":1}}}""",
        """{"m":{"type_id":"s1","data":{"id":"b","v":2}}}""",
        """{"m":{"type_id":"s2","data":{"id":"a","w":"x"}}}"""),
      Seq(
        """{"m":{"type_id":"s1","data":{"id":"a","v":9,"fresh":"new-col"}}}""")))

    val h = Engine.bootstrap(spark, tmpDir("graft-stream-wh"))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .json(srcDir)
      .select(col("m").as("message"))
    val q = StreamingIngest.start(h, stream, ckpt)
    q.awaitTermination(120000)

    val s1 = h.table("s1") // LWW serving view
    assert(s1.count() === 2)
    val a = s1.filter($"id" === "a").collect().head
    assert(a.getAs[Long]("v") === 9L)          // later batch won
    assert(a.getAs[String]("fresh") === "new-col") // schema evolved mid-stream
    assert(h.table("s2").count() === 1)
    assert(h.tableLog("s1").count() === 3)     // append log kept history
  }

  test("h.ingest inside a test foreachBatch reports every micro-batch exactly, " +
      "on the micro-batch's cloned session") {
    val srcDir = tmpDir("graft-stream-report-src")
    writeJsonFiles(srcDir, Seq(
      Seq(
        """{"m":{"type_id":"r1","data":{"id":"a","v":1}}}""",
        """{"m":{"type_id":"r1","data":{"id":"b","v":2}}}""",
        """{"m":{"type_id":"r2","data":{"id":"a","w":"x"}}}"""),
      Seq(
        """{"m":{"type_id":"r1","data":{"id":"c","v":"bad"}}}""", // type conflict
        """{"m":{"type_id":"r1","data":{"id":"d","v":4}}}""",
        """{"m":{"data":{"id":"e"}}}"""), // no type_id: dead letter
      Seq(
        """{"m":{"type_id":"r2","data":{"id":"b","w":"y"}}}""",
        """{"m":{"type_id":"r2","data":{"id":"c","w":"z"}}}""",
        """{"m":{"type_id":"r2","data":{"id":"d"}}}""")))
    val h = Engine.bootstrap(spark, tmpDir("graft-stream-report-wh"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, graft.core.Ingest.Report)]()
    spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(col("m").as("message"))
      .writeStream
      .option("checkpointLocation", tmpDir("graft-stream-report-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        seen.add((batchId, batch.sparkSession ne spark, h.ingest(batch)))
        ()
      }
      .start()
      .awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    val got = seen.asScala.toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(0L, 1L, 2L))
    assert(got.forall(_._2), "each micro-batch runs on a clone of the session")
    assert(got.map(_._3) === Seq(
      graft.core.Ingest.Report(Map("r1" -> 2L, "r2" -> 1L), deadLetters = 0L, quarantined = 0L),
      graft.core.Ingest.Report(Map("r1" -> 1L), deadLetters = 1L, quarantined = 1L),
      graft.core.Ingest.Report(Map("r2" -> 3L), deadLetters = 0L, quarantined = 0L)))
    assert(h.table("r1").count() === 3L && h.table("r2").count() === 4L)
  }

  test("streaming ingest with compaction maintenance keeps serving correct") {
    val srcDir = tmpDir("graft-stream-maint-src")
    val ckpt = tmpDir("graft-stream-maint-ckpt")
    writeJsonFiles(srcDir, Seq(
      Seq("""{"m":{"type_id":"mt","data":{"id":"a","v":1}}}"""),
      Seq("""{"m":{"type_id":"mt","data":{"id":"a","v":2}}}"""),
      Seq("""{"m":{"type_id":"mt","data":{"id":"a","v":3}}}""")))
    val h = Engine.bootstrap(spark, tmpDir("graft-stream-maint-wh"))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(col("m").as("message"))
    // threshold 1: every batch after the first triggers a compaction
    val q = StreamingIngest.startWithMaintenance(h, stream, ckpt, maxFilesPerType = 1)
    q.awaitTermination(120000)
    val served = h.table("mt").collect()
    assert(served.length === 1)
    assert(served.head.getAs[Long]("v") === 3L) // latest batch still wins
    assert(h.tableLog("mt").count() <= 2)       // log was collapsed along the way
  }

  test("maintenance compacts every type in the same batch, concurrently, " +
      "with the sequential result") {
    val types = Seq("c0", "c1", "c2", "c3")
    def rows(f: String => Seq[String]) =
      types.flatMap(t => f(t).map(d => s"""{"m":{"type_id":"$t","data":$d}}"""))
    val srcDir = tmpDir("graft-stream-cmaint-src")
    writeJsonFiles(srcDir, Seq(
      rows(_ => Seq("""{"id":"a","v":1}""", """{"id":"b","v":1}""")),
      // c0's second row no longer casts to the registered long: quarantined
      rows(t => """{"id":"a","v":2}""" +:
        (if (t == "c0") Seq("""{"id":"b","v":"bad"}""") else Nil)),
      rows(_ => Seq("""{"id":"b","v":3,"extra":"x"}"""))))
    def stream() = spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(col("m").as("message"))

    // compaction rewrites per type, read off the `<table>.compact` writes
    val compacted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          "tables/(c\\d)\\.compact".r.findFirstMatchIn(s.physicalPlanDescription)
            .foreach(m => compacted.add(m.group(1)))
        case _ =>
      }
    }
    val h = Engine.bootstrap(spark, tmpDir("graft-stream-cmaint-wh"))
    spark.sparkContext.addSparkListener(listener)
    try {
      // threshold 1: batch 0 leaves one file per type (no compaction); the
      // appends of batches 1 and 2 put every type over it
      StreamingIngest.startWithMaintenance(h, stream(),
        tmpDir("graft-stream-cmaint-ckpt"), maxFilesPerType = 1).awaitTermination(120000)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(compacted.asScala.toSeq.groupBy(identity).map { case (t, n) => t -> n.size } ===
      types.map(_ -> 2).toMap, "each type compacts in batch 1 and in batch 2")

    // the sequential reference: the same stream without maintenance, then
    // one compaction per type on the driver
    val ref = Engine.bootstrap(spark, tmpDir("graft-stream-cmaint-ref"))
    StreamingIngest.start(ref, stream(), tmpDir("graft-stream-cmaint-refckpt"))
      .awaitTermination(120000)
    types.foreach(ref.compact)
    def winners(e: Engine.Handle, t: String) =
      e.table(t).drop("last_modified").collect().map(_.toString).sorted.toSeq
    def quarantine(e: Engine.Handle, t: String) = {
      val p = e.registry.quarantinePath(t)
      if (!new java.io.File(p).exists()) Nil
      else spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    }
    types.foreach { t =>
      assert(winners(h, t) === winners(ref, t), s"LWW winners of $t")
      assert(quarantine(h, t) === quarantine(ref, t), s"quarantine of $t")
      assert(h.registry.get(t) === ref.registry.get(t), s"registry columns of $t")
    }
    assert(quarantine(h, "c0").size === 1 && quarantine(h, "c1").isEmpty)
    assert(h.table("c2").select("id", "v", "extra").collect().map(_.toString).sorted.toSeq
      === Seq("[a,2,null]", "[b,3,x]"))
    // every table ends compacted: no L0 append zone left
    types.foreach(t => assert(!new java.io.File(h.registry.tablePath(t) + "/_part=-1").exists(), t))
  }

  test("write-gated streaming ingest: denied type quarantines mid-stream, " +
      "the stream keeps going (VERDICT r19 #3 — S24 consumer-loop parity)") {
    val srcDir = tmpDir("graft-stream-gate-src")
    val ckpt = tmpDir("graft-stream-gate-ckpt")
    writeJsonFiles(srcDir, Seq(
      Seq("""{"m":{"type_id":"s1","data":{"id":"a","v":1}}}"""),
      // mid-stream poison: no grant for s_x, so its first write is a
      // type-creating CreateForbidden — must quarantine, not kill the loop
      Seq("""{"m":{"type_id":"s_x","data":{"id":"b","v":2}}}"""),
      Seq("""{"m":{"type_id":"s1","data":{"id":"a","v":9}}}""")))
    val h = Engine.bootstrap(spark, tmpDir("graft-stream-gate-wh"))
    val grants = graft.operators.Permissions.table(spark, Seq(
      ("u", "s1", true, true, true))) // may create + write s1; s_x ungranted
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(col("m").as("message"))
    val q = StreamingIngest.start(h, stream, ckpt,
      writer = Some("u"), grants = Some(grants))
    q.awaitTermination(120000)

    // batches 1 and 3 landed (the stream survived the mid-stream deny)
    val s1 = h.table("s1").collect()
    assert(s1.length === 1)
    assert(s1.head.getAs[Long]("v") === 9L) // post-deny batch won LWW
    assert(h.tableLog("s1").count() === 2)
    // the denied envelope took the structured-403 quarantine shape
    val qx = spark.read.parquet(h.registry.quarantinePath("s_x")).collect()
    assert(qx.length === 1)
    assert(qx.head.getAs[Int]("errno") === 403)
    assert(qx.head.getAs[String]("error") === "CreateForbidden")
    assert(!h.registry.knownTypes.contains("s_x")) // never created
    // config error surfaces at start, not as silent per-batch skips
    val err = intercept[IllegalArgumentException] {
      StreamingIngest.start(h, stream, tmpDir("graft-stream-gate-ckpt2"),
        writer = Some("u"))
    }
    assert(err.getMessage.contains("requires the grants frame"))
  }

  test("a batch whose write fails stops the query uncommitted; a restart " +
      "replays it and serves every row once") {
    val srcDir = tmpDir("graft-stream-fail-src")
    val ckpt = tmpDir("graft-stream-fail-ckpt")
    writeJsonFiles(srcDir, Seq(
      Seq("""{"m":{"type_id":"f1","data":{"id":"a","v":1}}}"""),
      Seq("""{"m":{"type_id":"f1","data":{"id":"b","v":2}}}""",
          """{"m":{"type_id":"f2","data":{"id":"x","w":"p"}}}"""),
      Seq("""{"m":{"type_id":"f1","data":{"id":"c","v":3}}}""",
          """{"m":{"type_id":"f2","data":{"id":"y","w":"q"}}}""")))
    val h = Engine.bootstrap(spark, tmpDir("graft-stream-fail-wh"))
    // f2 first arrives in the second batch; a regular file where its table
    // dir belongs makes that batch's append throw
    val blocker = new java.io.File(h.registry.tablePath("f2"))
    blocker.getParentFile.mkdirs()
    assert(blocker.createNewFile())
    def stream() = spark.readStream
      .schema(StructType(Seq(StructField("m", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .select(col("m").as("message"))

    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.start(h, stream(), ckpt).awaitTermination(120000)
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).take(32).toSeq
    assert(chain.exists(_.isInstanceOf[java.io.IOException]),
      s"no write error in the cause chain:\n${chain.mkString("\n")}")
    def committed(b: Int) = new java.io.File(ckpt, s"commits/$b").exists()
    assert(committed(0) && !committed(1), "the failed batch must not commit")

    assert(blocker.delete())
    StreamingIngest.start(h, stream(), ckpt).awaitTermination(120000)
    assert(committed(1) && committed(2))
    def served(t: String) =
      h.table(t).select("id").as[String].collect().sorted.toSeq
    assert(served("f1") === Seq("a", "b", "c"))
    assert(served("f2") === Seq("x", "y"))
  }

  test("two StreamingIngest queries run on one session at the same time") {
    import org.apache.spark.sql.streaming.Trigger
    val live = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    val hLive = Engine.bootstrap(spark, tmpDir("graft-stream-two-wh1"))
    val q1 = StreamingIngest.start(hLive,
      live.toDF().select(col("value").as("message")),
      tmpDir("graft-stream-two-ckpt1"), Trigger.ProcessingTime("100 milliseconds"))
    try {
      live.addData("""{"type_id":"t1","data":{"id":"a","v":1}}""")
      q1.processAllAvailable()
      val srcDir = tmpDir("graft-stream-two-src")
      writeJsonFiles(srcDir, Seq(
        Seq("""{"m":{"type_id":"t2","data":{"id":"b","v":2}}}""")))
      val hFile = Engine.bootstrap(spark, tmpDir("graft-stream-two-wh2"))
      val q2 = StreamingIngest.start(hFile, spark.readStream
          .schema(StructType(Seq(StructField("m", StringType))))
          .json(srcDir).select(col("m").as("message")),
        tmpDir("graft-stream-two-ckpt2"))
      assert(q1.isActive, "the first query is still running")
      q2.awaitTermination(120000)
      live.addData("""{"type_id":"t1","data":{"id":"c","v":3}}""")
      q1.processAllAvailable()
      assert(hLive.table("t1").select("id").as[String].collect().sorted.toSeq
        === Seq("a", "c"))
      assert(hFile.table("t2").select("id").as[String].collect().toSeq === Seq("b"))
    } finally q1.stop()
  }

  test("kafka wiring: loads with the connector, fails ONLY for jar absence without") {
    // the container ships no spark-sql-kafka jar; on a real cluster this
    // same test validates the stream frame shape. Either way it pins that
    // OUR wiring (options, projection) is not the failure.
    scala.util.Try(
      StreamingIngest.fromKafka(spark, "localhost:9092", Seq("t1", "t2"), "g1")) match {
      case scala.util.Success(df) =>
        assert(df.isStreaming && df.columns.toSeq === Seq("message"))
      case scala.util.Failure(e) =>
        // ONLY the source-lookup failure is acceptable — an option or
        // projection bug raises a different error class and fails here
        val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
        assert(msg.contains("DATA_SOURCE_NOT_FOUND") ||
          msg.contains("Failed to find data source: kafka"),
          s"fromKafka failed for a non-connector reason: $e")
    }
  }

  test("watermarked tumbling window aggregation over a stream") {
    val srcDir = tmpDir("graft-stream-win")
    val ckpt = tmpDir("graft-stream-win-ckpt")
    writeJsonFiles(srcDir, Seq(Seq(
      """{"ts":"2024-01-01T00:05:00.000Z","k":"a"}""",
      """{"ts":"2024-01-01T00:55:00.000Z","k":"a"}""",
      """{"ts":"2024-01-01T01:05:00.000Z","k":"b"}""")))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType), StructField("k", StringType))))
      .json(srcDir)
    val agg = EventTime.tumblingStream(stream, "ts", "k", "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("win_out").orderBy("window_start", "k").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("n") === 2) // two 'a' events in hour 0
    assert(rows(1).getAs[String]("k") === "b")
  }

  test("dropDuplicatesWithinWatermark dedups a replayed stream") {
    val srcDir = tmpDir("graft-stream-dedup")
    val ckpt = tmpDir("graft-stream-dedup-ckpt")
    writeJsonFiles(srcDir, Seq(Seq(
      """{"ts":"2024-01-01T00:05:00.000Z","id":1}""",
      """{"ts":"2024-01-01T00:06:00.000Z","id":1}""",
      """{"ts":"2024-01-01T00:07:00.000Z","id":2}""")))
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType), StructField("id", LongType))))
      .json(srcDir)
    val deduped = EventTime.dedupStream(stream, "ts", Seq("id"), "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").select("id").distinct().count() === 2)
    assert(spark.table("dedup_out").count() === 2)
  }

  test("RocksDB state store runs the stateful dedup bit-identically") {
    // the 100 TB state story: when keyed state outgrows executor heap, the
    // same stateful pipeline runs on the bundled RocksDB provider
    // (off-heap, spilling to local disk) with IDENTICAL output — state
    // sizing is an ops decision, not a semantics change. The provider is
    // fixed at stream start from the session conf; an isolated child
    // session scopes it (newSession does NOT inherit runtime conf, which
    // is also why this drives the stream directly rather than through
    // Declared's own-session wrappers).
    val sR = spark.newSession()
    sR.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = tmpDir("graft-rocks-src")
    val ckpt = tmpDir("graft-rocks-ckpt")
    val outDir = tmpDir("graft-rocks-out")
    writeJsonFiles(srcDir, Seq(
      Seq("""{"ts":"2024-01-01T00:05:00.000Z","id":1}""",
          """{"ts":"2024-01-01T00:06:00.000Z","id":1}"""),
      Seq("""{"ts":"2024-01-01T00:07:00.000Z","id":2}""",
          """{"ts":"2024-01-01T00:08:00.000Z","id":1}""")))
    val stream = sR.readStream
      .schema(StructType(Seq(StructField("ts", TimestampType),
        StructField("id", LongType))))
      .option("maxFilesPerTrigger", 1)
      .json(srcDir)
    val q = EventTime.dedupStream(stream, "ts", Seq("id"), "1 hour")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // cross-batch dedup held on the RocksDB-backed state
    assert(sR.read.parquet(outDir).collect().map(_.getLong(1)).sorted.toSeq
      === Seq(1L, 2L))
    // filesystem evidence the provider actually ran: RocksDB commits are
    // zip/changelog uploads, never the HDFS provider's .delta files
    import scala.jdk.CollectionConverters._
    val stateFiles = java.nio.file.Files
      .walk(java.nio.file.Paths.get(ckpt, "state"))
      .iterator().asScala.map(_.toString).toSeq
    assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB state artifacts under $ckpt/state:\n${stateFiles.mkString("\n")}")
    assert(!stateFiles.exists(_.endsWith(".delta")),
      "HDFS-provider .delta files present — RocksDB conf did not take effect")
  }

  test("foreachBatch-maintained SCD2 view stays correct across micro-batches") {
    val srcDir = tmpDir("graft-stream-scd2")
    val ckpt = tmpDir("graft-stream-scd2-ckpt")
    val logDir = tmpDir("graft-stream-scd2-log") + "/log"
    val viewDir = tmpDir("graft-stream-scd2-view") + "/view"
    writeJsonFiles(srcDir, Seq(
      Seq(
        """{"seq":1,"user":1,"status":"new"}""",
        """{"seq":2,"user":1,"status":"new"}""",
        """{"seq":1,"user":2,"status":"active"}"""),
      Seq(
        """{"seq":3,"user":1,"status":"active"}""",
        """{"seq":4,"user":1,"status":"churned"}""")))
    val schema = StructType(Seq(StructField("seq", LongType),
      StructField("user", LongType), StructField("status", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir)
    // the standard streaming-CDC serving pattern: append the change log,
    // re-derive the SCD2 view per micro-batch (idempotent overwrite)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(logDir)
        graft.operators.Temporal.scd2(spark.read.parquet(logDir),
            Seq("user"), "seq", Seq("seq"), Seq("status"))
          .write.mode("overwrite").parquet(viewDir)
      }.start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(viewDir)
      .select("user", "status", "valid_from", "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // equals the batch answer over the full log: user 1 new@1 → active@3 →
    // churned@4 (current), user 2 active@1 (current)
    assert(got === Set(
      (1L, "new", 1L, false), (1L, "active", 3L, false),
      (1L, "churned", 4L, true), (2L, "active", 1L, true)))
  }

  test("incremental dedup at ingest: bloom over the historical corpus gates each batch") {
    val srcDir = tmpDir("graft-stream-incdedup")
    val ckpt = tmpDir("graft-stream-incdedup-ckpt")
    val newDir = tmpDir("graft-stream-incdedup-out") + "/new"
    // the 100 TB stand-in: an existing corpus with known digests
    val historical = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val bloom = graft.operators.BloomJoin.keyBloom(
      historical.select(md5($"text").as("digest")), "digest", expectedItems = 1000)
    val histDigests = historical.select(md5($"text").as("digest"))
    writeJsonFiles(srcDir, Seq(
      Seq(
        """{"doc_id":10,"text":"alpha text"}""",   // dup of historical 1
        """{"doc_id":11,"text":"delta text"}"""),  // new
      Seq(
        """{"doc_id":12,"text":"beta text"}""",    // dup of historical 2
        """{"doc_id":13,"text":"epsilon text"}"""))) // new
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // bloom-negatives are DEFINITELY new (no false negatives) and skip
        // the join entirely; only bloom-positives — true dups plus ~1% false
        // positives — pay the exact anti-join against the historical table
        val batch = df.withColumn("digest", md5($"text"))
        val mc = graft.operators.BloomJoin.mightContain(bloom, $"digest")
        val definitelyNew = batch.filter(!mc)
        val confirmedNew = batch.filter(mc)
          .join(histDigests, Seq("digest"), "left_anti")
        definitelyNew.unionByName(confirmedNew)
          .select("doc_id", "text")
          .write.mode("append").parquet(newDir)
      }.start()
    q.awaitTermination(120000)
    val kept = spark.read.parquet(newDir).select("doc_id")
      .as[Long].collect().toSet
    assert(kept === Set(11L, 13L), s"only genuinely-new docs survive: $kept")
  }

  test("streaming dedup clustering: incremental CC maintained per micro-batch") {
    val srcDir = tmpDir("graft-stream-cc")
    val ckpt = tmpDir("graft-stream-cc-ckpt")
    val lblDir = tmpDir("graft-stream-cc-lbl") + "/labels"
    writeJsonFiles(srcDir, Seq(
      Seq("""{"src":1,"dst":2}""", """{"src":3,"dst":4}"""),
      Seq("""{"src":2,"dst":3}"""),          // merges the two clusters
      Seq("""{"src":10,"dst":11}""")))       // unrelated new cluster
    val schema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (edges: org.apache.spark.sql.DataFrame, _: Long) =>
        val prev =
          try spark.read.parquet(lblDir)
          catch { case _: Exception =>
            Seq.empty[(Long, Long)].toDF("id", "component") }
        // labels table is node-linear state; CC over (stars ∪ new edges)
        // equals CC over the full edge history
        val next = graft.operators.GraphOps
          .incrementalComponents(prev, edges).localCheckpoint()
        next.write.mode("overwrite").parquet(lblDir)
      }.start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(lblDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("flatMapGroupsWithState: event-time timeout emits session close-outs") {
    val srcDir = tmpDir("graft-stream-closeout")
    writeJsonFiles(srcDir, Seq(
      Seq(
        """{"user_id":1,"ts":"2024-01-01T00:00:00.000Z","value":1.0}""",
        """{"user_id":1,"ts":"2024-01-01T00:05:00.000Z","value":2.0}"""),
      Seq(
        // far-future event advances the watermark past user 1's gap
        """{"user_id":2,"ts":"2024-01-01T03:00:00.000Z","value":9.0}""")))
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .json(srcDir)
      .withWatermark("ts", "1 minute")
      .as[Stateful.UserEvent](org.apache.spark.sql.Encoders.product[Stateful.UserEvent])
    val closed = Stateful.sessionCloseouts(spark, stream, gapMs = 30 * 60 * 1000L)
    val q = closed.writeStream.format("memory").queryName("closeout_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("closeout_out").collect()
    assert(rows.length === 1) // user 1's session closed; user 2 still open
    assert(rows.head.getAs[Long]("user_id") === 1L)
    assert(rows.head.getAs[Long]("n_events") === 2L)
    assert(rows.head.getAs[Boolean]("closed"))
  }

  test("mapGroupsWithState per-user profiles (batch-equivalent run)") {
    val events = Seq(
      Stateful.UserEvent(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Stateful.UserEvent(1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 5.0),
      Stateful.UserEvent(2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 3.0)
    ).toDS()
    val profiles = Stateful.userProfiles(spark, events).collect()
      .sortBy(_.user_id)
    assert(profiles.length === 2)
    assert(profiles(0).n_events === 2 && profiles(0).last_value === 5.0)
    assert(profiles(1).n_events === 1 && profiles(1).last_value === 3.0)
  }
}
