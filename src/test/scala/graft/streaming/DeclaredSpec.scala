package graft.streaming

import graft.{SparkSpec, Tables, Queries}
import org.apache.spark.sql.DataFrame

/** The declared streaming queries must be micro-batch-boundary INVARIANT:
  * running the stream over the file-split source yields exactly the one-shot
  * batch answer (that invariance is what lets the DuckDB oracle gate them).
  */
class DeclaredSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("streaming tumbling partials merge to the batch aggregate") {
    val streamed = Queries.qStreamTumbling(spark, sf())
    val batch = Queries.qWindowTumbling(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("stateful sliding-window stream equals the batch sliding aggregate") {
    // append-mode windowed agg: every real window must be flushed exactly
    // once by the sentinel-driven watermark advance, none dropped, no
    // sentinel window leaked
    val streamed = Queries.qStreamSliding(spark, sf())
    val batch = Queries.qWindowSliding(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming heavy-hitters maintenance equals batch exact heavy hitters") {
    val streamed = Queries.qStreamHeavyHitters(spark, sf())
    val batch = Queries.qAggHeavyHitters(spark, sf())
      .orderBy("word")
    assert(rows(streamed) == rows(batch))
  }

  test("streaming drift maintenance equals the one-shot batch KS") {
    val streamed = Queries.qStreamDrift(spark, sf())
    val batch = Queries.qDriftKs(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming trend maintenance equals the one-shot batch OLS") {
    val streamed = Queries.qStreamTrend(spark, sf())
    val batch = Queries.qTrendOls(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming SCD2 maintenance equals the one-shot batch history") {
    val streamed = Queries.qStreamScd2(spark, sf())
    val batch = Queries.qScd2History(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming dedup emits exactly the distinct key set") {
    val streamed = Queries.qStreamDedup(spark, sf())
    val batch = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
    assert(rows(streamed) == rows(batch))
  }

  test("watermarked streaming dedup emits exactly the distinct key set") {
    // bounded-state variant: dropDuplicatesWithinWatermark with a horizon
    // spanning the fixture must still equal batch DISTINCT for every split
    val streamed = Queries.qStreamDedupWatermark(spark, sf())
    val batch = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
    assert(rows(streamed) == rows(batch))
  }

  test("late-drop stream drops the planted row and keeps every real key") {
    val streamed = Queries.qStreamLateDrop(spark, sf())
    // the planted marker must have been dropped by the watermark filter...
    assert(streamed.filter(
      org.apache.spark.sql.functions.col("user_id") < 0L).count() === 0L,
      "planted late row leaked past the watermark")
    // ...and no real key was lost (no eviction: ts is not a dedup key)
    val batch = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
    assert(rows(streamed) == rows(batch))
  }

  test("stream-stream join emits exactly the batch interval-join pair set") {
    import org.apache.spark.sql.functions._
    val streamed = Queries.qStreamStreamJoin(spark, sf())
    val ev = Tables.events(spark, sf())
      .select("event_id", "user_id", "event_type", "ts")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val batch = c.join(p,
        c("user_id") === p("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("buy_id"), col("buy_ts"))
      .orderBy("user_id", "click_id", "buy_id")
    assert(rows(streamed) == rows(batch))
    assert(streamed.count() > 0) // the window must actually match pairs
  }

  test("stream-static join enriches every event with the batch profile") {
    import org.apache.spark.sql.functions._
    val streamed = Queries.qStreamStaticJoin(spark, sf())
    val ev = Tables.events(spark, sf()).select("event_id", "user_id", "ts")
    val profile = ev.groupBy("user_id")
      .agg(min("ts").as("first_ts"), count(lit(1)).as("n_events"))
    val batch = ev.join(profile, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("first_ts"), col("n_events"),
        (col("ts") === col("first_ts")).as("is_first"))
      .orderBy("event_id")
    assert(rows(streamed) == rows(batch))
    // ≥: ties on a user's min ts (us precision) can mark two firsts
    assert(streamed.filter(col("is_first")).count() >= profile.count())
  }

  test("outer stream-stream join: eviction emits exactly the batch left join") {
    import org.apache.spark.sql.functions._
    val streamed = Queries.qStreamStreamJoinOuter(spark, sf())
    val ev = Tables.events(spark, sf())
      .select("event_id", "user_id", "event_type", "ts")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val batch = c.join(p,
        c("user_id") === p("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("buy_id"), col("buy_ts"))
      .orderBy("user_id", "click_id", "buy_id")
    assert(rows(streamed) == rows(batch))
    // the eviction path must actually fire: some clicks have no purchase
    assert(streamed.filter(col("buy_id").isNull).count() > 0)
  }

  test("full-outer stream-stream join: BOTH sides' eviction emits the batch full join") {
    import org.apache.spark.sql.functions._
    val streamed = Queries.qStreamStreamJoinFull(spark, sf())
    val ev = Tables.events(spark, sf())
      .select("event_id", "user_id", "event_type", "ts")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val batch = c.join(p,
        col("c_user") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"),
        "full_outer")
      .select(coalesce(col("c_user"), col("b_user")).as("user_id"),
        col("click_id"), col("click_ts"), col("buy_id"), col("buy_ts"))
      .orderBy("user_id", "click_id", "buy_id")
    assert(rows(streamed) == rows(batch))
    // both eviction directions must actually fire
    assert(streamed.filter(col("buy_id").isNull).count() > 0,
      "no unmatched clicks — left eviction untested")
    assert(streamed.filter(col("click_id").isNull).count() > 0,
      "no unmatched purchases — right eviction untested")
  }

  test("streaming sessionization equals batch session_window exactly") {
    // flatMapGroupsWithState sessions (arrival-closed mid-stream + sentinel
    // timeout flush) must reproduce the session_window aggregate: same
    // starts, same last+gap ends, same per-session event counts
    val streamed = Queries.qStreamSession(spark, sf())
    val batch = Queries.qSessionWindow(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming engine ingest serves the same view as one batch ingest") {
    val streamed = Queries.qStreamEngineIngest(spark, sf())
    // batch twin: the SAME slice through one h.ingest call
    val events = Tables.events(spark, sf())
      .filter(org.apache.spark.sql.functions.col("event_type") === "signup" &&
        org.apache.spark.sql.functions.col("event_id") <= 1500)
    val wh = tmpDir("declared-engine-batch")
    val h = graft.core.Engine.bootstrap(spark, wh, overrideWarehouse = true)
    h.ingest(graft.Flagship.envelopesFrom(spark, events))
    val batch = h.table("signup").select(
        org.apache.spark.sql.functions.col("id").cast("long").as("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("props__k").as("k"),
        org.apache.spark.sql.functions.col("last_modified").as("ts"))
      .orderBy("event_id")
    assert(rows(streamed) == rows(batch))
  }

  test("mid-stream compaction maintenance: layout collapsed, answer unchanged") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf())
      .filter(col("event_type") === "signup" && col("event_id") <= 1000)
    val dir = tmpDir("declared-stream-compact")
    val streamed = graft.streaming.Declared.engineIngestCompacting(spark,
      graft.Flagship.envelopesFrom(spark, events), dir,
      serveType = "signup", maxFilesPerType = 16)
    // the maintenance loop really compacted: two ~16-file appends would
    // leave ~32 files, the post-batch rewrite collapses to <= threshold
    val h = graft.core.Engine.bootstrap(spark, dir + "/wh")
    val nFiles = h.registry.dataFileCount("signup")
    assert(nFiles <= 16, s"maintenance never compacted: $nFiles files")
    // ...and the serving answer equals one batch ingest of the same slice
    val wh = tmpDir("declared-stream-compact-batch")
    val hb = graft.core.Engine.bootstrap(spark, wh, overrideWarehouse = true)
    hb.ingest(graft.Flagship.envelopesFrom(spark, events))
    val cols = Seq("id", "user_id", "value", "props__k", "last_modified")
    assert(rows(streamed.selectExpr(cols: _*).orderBy("id")) ==
      rows(hb.table("signup").selectExpr(cols: _*).orderBy("id")))
  }

  test("streaming minhash-index maintenance equals the one-shot batch near-dups") {
    // per-batch signature folds + end-of-stream candidate stage must land
    // on exactly the batch fixed-family pair set (signatures are
    // per-document; the join sees only the final index)
    val streamed = Queries.qStreamDedupMinhash(spark, sf())
    val batch = Queries.qDedupMinhashFixed(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming end-to-end pretrain pipeline equals the one-shot batch build") {
    // the COMPOSED folds (quality gate + digest + signatures per batch;
    // keepers, banded near-dup, chunking over the state at rest) must land
    // on exactly the batch pipeline's chunk set — keeper min is
    // order-free, every end-of-stream stage sees only the final state
    val streamed = Queries.qStreamPipelinePretrain(spark, sf())
    val batch = Queries.qPipelinePretrain(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("minhash-index maintenance over an empty source: no pairs, right shape") {
    import spark.implicits._
    val docs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val got = graft.streaming.Declared.minhashIndexMaintain(spark, docs,
      "doc_id", "text", k = 3, bands = 8, rowsPerBand = 4,
      threshold = 0.5, maxBucket = 1000, tmpDir("declared-mh-empty"))
    assert(got.columns.toSeq == Seq("id_a", "id_b", "jac"))
    assert(got.isEmpty)
  }

  test("streaming inverted-index maintenance equals the one-shot batch index") {
    // per-batch df-add + first-cap posting re-truncation must land on
    // exactly the batch index (min-k union is associative)
    val streamed = Queries.qStreamTextIndex(spark, sf())
    val batch = Queries.qInvertedIndex(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming IVF-index maintenance equals the one-shot batch ANN") {
    // per-batch cell-assignment folds + end-of-stream probe/rank must land
    // on exactly the batch IVF top-k (assignment is per-vector given the
    // offline-trained codebook; the probe stage sees only the final index)
    val streamed = Queries.qStreamVecIvf(spark, sf())
    val batch = Queries.qVecAnnIvf(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("streaming incremental clusters equal the one-shot batch clustering") {
    // incremental fold over 2 edge micro-batches must land on exactly the
    // batch CC labeling (stars ∪ new edges ≡ full history)
    val streamed = Queries.qStreamDedupCluster(spark, sf())
    val batch = Queries.qDedupCluster(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("incremental clusters with an empty edge stream: every doc a singleton") {
    import spark.implicits._
    val docs = (1L to 4L).toDF("doc_id")
    val pairs = spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")
    val got = graft.streaming.Declared.incrementalClusters(spark, docs,
        "doc_id", pairs, tmpDir("declared-cc-empty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === (1L to 4L).map(i => (i, i, 1L)).toSet)
  }

  test("streaming CDC log: replaying the per-batch deltas reconstructs the final state") {
    import org.apache.spark.sql.functions._
    val log = Queries.qStreamChanges(spark, sf())
    // an append-only source can never produce a delete between pins
    assert(log.filter(col("change") === "delete").isEmpty)
    // every update's before-image genuinely differs from its after-image
    assert(log.filter(col("change") === "update" &&
      col("value_before") <=> col("value_after")).isEmpty)
    // CDC contract: apply batch 0's inserts to an empty state, then batch
    // 1's upserts on top — the replayed state must equal the one-shot
    // batch LWW view (unchanged keys ride through from batch 0)
    val b0 = log.filter(col("batch") === 0)
      .select(col("user_id"), col("d"), col("value_after").as("value"))
    val b1 = log.filter(col("batch") === 1)
      .select(col("user_id"), col("d"), col("value_after").as("value"))
    val replay = b1.unionByName(
      b0.join(b1.select("user_id", "d"), Seq("user_id", "d"), "left_anti"))
    val batchState = graft.operators.Upserts.lwwView(
        Tables.events(spark, sf())
          .withColumn("d", date_trunc("day", col("ts"))),
        Seq("user_id", "d"), "ts", Seq("event_id"))
      .select("user_id", "d", "value")
    assert(rows(replay.orderBy("user_id", "d")) ==
      rows(batchState.orderBy("user_id", "d")))
  }

  test("mid-stream evolution: registry gains the field, pre-evolution rows serve null") {
    import org.apache.spark.sql.functions._
    val out = Queries.qStreamEvolve(spark, sf())
    assert(out.columns.contains("extra"),
      "the add-only evolve must surface the batch-1 field in the serving view")
    val nullExtra = out.filter(col("extra").isNull)
      .select("event_id").collect().map(_.getLong(0))
    assert(nullExtra.nonEmpty && nullExtra.forall(_ <= 700),
      "exactly the pre-evolution (batch-0) ids serve null for the new field")
    assert(out.filter(col("event_id") > 700 &&
      col("extra") =!= col("event_id") * 7).isEmpty)
  }

  test("mid-stream conflict rows land in the quarantine table, not on the floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // minimal twin of q_stream_quarantine with a KNOWN dir so the
    // quarantine side (invisible in the declared serving output) is
    // inspectable: id 1's overwrite is uncastable, id 2's coerces
    def msg(id: Long, lm: String, v: String): String =
      s"""{"type_id":"t","data":{"id":"$id","last_modified":"$lm","value":$v}}"""
    val env0 = Seq(
      msg(1, "2024-01-01 00:00:00", "10.5"),
      msg(2, "2024-01-01 00:00:00", "20.5")).toDF("message")
    val env1 = Seq(
      msg(1, "2024-01-02 00:00:00", "\"conflict\""),
      msg(2, "2024-01-02 00:00:00", "\"123.5\"")).toDF("message")
    val dir = tmpDir("stream-quarantine-twin")
    val served = graft.streaming.Declared
      .engineIngestEvolving(spark, Seq(env0, env1), dir, serveType = "t")
      .select(col("id"), col("value").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(served === Map("1" -> 10.5, "2" -> 123.5),
      "rejected overwrite keeps the original; numeric string coerces and lands")
    val quarantined = spark.read.parquet(dir + "/wh/quarantine/t")
    assert(quarantined.count() === 1L)
    assert(quarantined.filter(col("row_json").contains("conflict")).count() === 1L,
      "the uncastable row must be captured with its payload, not dropped")
  }

  test("CDC restart run equals the uninterrupted run exactly") {
    // the declared restart key crashes inside batch 1 and recovers from
    // the checkpoint; its log must be indistinguishable from a run that
    // never crashed
    val restarted = Queries.qStreamChangesRestart(spark, sf())
    val uninterrupted = graft.streaming.Declared.changesMaintain(spark,
        Tables.events(spark, sf())
          .filter(org.apache.spark.sql.functions.col("event_type") === "signup"),
        tmpDir("cdc-uninterrupted"))
      .select("user_id", "d", "batch", "change", "value_before", "value_after")
      .orderBy("batch", "user_id", "d")
    assert(rows(restarted) == rows(uninterrupted))
  }

  test("streaming LWW state equals the batch LWW view") {
    val streamed = Queries.qStreamLww(spark, sf())
    val batch = graft.operators.Upserts.lwwView(
        Tables.events(spark, sf()), Seq("user_id"), "ts", Seq("event_id"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
    assert(rows(streamed) == rows(batch))
  }

  test("hybrid served from stream-maintained indexes equals the batch hybrid " +
      "(VERDICT r18 #6: the maintain->serve hand-off)") {
    val streamed = Queries.qStreamHybrid(spark, sf())
    val batch = Queries.qHybridRrf(spark, sf())
    assert(rows(streamed) == rows(batch))
  }

  test("stream sources stage per frame: literal, rows and rewritten files") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // one parquet file at a fixed path, so a rewrite keeps the path and
    // changes only its size and mtime
    val input = new java.io.File(tmpDir("graft-srckey"), "data.parquet")
    def putInput(n: Int, mult: Int, mtime: Long): Unit = {
      val out = tmpDir("graft-srckey-out")
      spark.range(n).selectExpr("id", s"id * $mult AS v").coalesce(1)
        .write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, input.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(input.setLastModified(mtime))
    }
    def stage(df: DataFrame): String = Declared.writeSrc(df, nFiles = 2)
    putInput(10, 2, 1700000000000L)
    def below(n: Int) = spark.read.parquet(input.toString).filter(col("id") < n)
    val first = stage(below(5))
    assert(stage(below(5)) === first) // an equal frame reuses its dir
    assert(stage(below(6)) !== first) // a new literal stages anew
    // same path, new bytes: the re-read plan is equal, the files are not
    putInput(20, 3, 1700000001000L)
    val rewritten = stage(below(5))
    assert(rewritten !== first)
    assert(spark.read.parquet(rewritten).selectExpr("sum(v)").head.getLong(0) === 30L)
    // in-memory rows are part of the key, as the dead-letter poison rows are
    def local(rows: Seq[(Long, String)]) = rows.toDF("id", "message")
    val poison = stage(local(Seq(1L -> "%%% not json", 2L -> "")))
    assert(stage(local(Seq(1L -> "%%% not json", 2L -> ""))) === poison)
    assert(stage(local(Seq(1L -> "%%% not json", 3L -> ""))) !== poison)
  }

  test("a keyed stream source stages once per JVM and writes no cross-JVM cache") {
    // a private copy of the input: no earlier spec in this JVM can have
    // staged a source under this input dir's key
    val d = tmpDir("graft-srcstage")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf(), "events.parquet"),
      java.nio.file.Paths.get(d, "events.parquet"))
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def staged(): Set[String] =
      tmp.list().filter(_.startsWith("graft-stream-src")).toSet
    def crossJvmCache(): Option[Set[String]] =
      Option(new java.io.File(tmp, "graft-src-cache").list()).map(_.toSet)
    val (stagedBefore, cacheBefore) = (staged(), crossJvmCache())
    val first = rows(Queries.qStreamTumbling(spark, d))
    val second = rows(Queries.qStreamTumbling(spark, d))
    assert(first.nonEmpty && first == second)
    assert((staged() -- stagedBefore).size === 1)
    assert(crossJvmCache() === cacheBefore)
  }

  test("two concurrent runs of one sized-child rig on one parent both complete") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // a first run stages the source, so the pair below reaches its stream
    // starts together on the shared child session
    val expected = rows(Queries.qStreamDrift(spark, sf()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val runs = Seq.fill(2)(Future(rows(Queries.qStreamDrift(spark, sf()))))
      runs.foreach(r => assert(Await.result(r, Duration(300, "s")) == expected))
    } finally pool.shutdown()
  }

  test("a rig's child session follows its parent's runtime conf; its overrides win") {
    val parent = spark.newSession()
    val width = Map("spark.sql.shuffle.partitions" -> "5")
    val codec = "spark.sql.parquet.compression.codec"
    parent.conf.set(codec, "gzip")
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    val c = graft.Sessions.child(parent, width)
    assert(c ne parent)
    assert(c.conf.get(codec) === "gzip")
    assert(c.conf.get("spark.sql.shuffle.partitions") === "5")
    // a change on the parent is followed on the next call, same child
    parent.conf.set(codec, "zstd")
    assert(graft.Sessions.child(parent, width) eq c)
    assert(c.conf.get(codec) === "zstd")
    // so is an unset
    parent.conf.unset(codec)
    graft.Sessions.child(parent, width)
    assert(!c.conf.getAll.contains(codec))
    assert(c.conf.get("spark.sql.shuffle.partitions") === "5")
    // other overrides get their own child
    assert(graft.Sessions.child(parent, Map("spark.sql.shuffle.partitions" -> "3")) ne c)
  }

  test("the log config denies the planned crash run's messages and no unnamed query's") {
    val props = new java.util.Properties()
    val in = getClass.getResourceAsStream("/log4j2.properties")
    try props.load(in) finally in.close()
    val deny = java.util.regex.Pattern.compile(
      props.getProperty("logger.microbatch.filter.quiet.regex"))
    val ids = "[id = 1, runId = 2]"
    assert(deny.matcher(s"Query ${Declared.PlannedCrashPrefix}${java.util.UUID.randomUUID()}" +
      s" $ids terminated with error").matches())
    assert(!deny.matcher(s"Query $ids terminated with error").matches())
  }
}
