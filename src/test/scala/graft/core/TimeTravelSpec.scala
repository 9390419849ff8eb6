package graft.core

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Time-travel (as-of) reads and version history over the engine's LWW
  * append log — [[Engine.Handle.tableAsOf]] / [[Engine.Handle.history]] /
  * [[Engine.Handle.currentEpoch]]. The snapshot is pinned by PHYSICAL
  * append order (`_ingest_epoch`), so logical-timestamp games (backfills
  * with old `last_modified`) cannot leak into an earlier snapshot; and
  * compaction truncates history to current winners — the documented
  * Cassandra/VACUUM retention trade (Engine.scala scaladoc).
  */
class TimeTravelSpec extends SparkSpec {

  private def envelope(id: String, lm: String, v: Int): String =
    s"""{"type_id":"tt","data":{"id":"$id","last_modified":"$lm","v":$v}}"""

  private def ingestMsgs(h: Engine.Handle, msgs: Seq[String]): Unit = {
    import h.spark.implicits._
    h.ingest(msgs.toDF("message"))
  }

  private def served(df: org.apache.spark.sql.DataFrame): Set[(String, Int)] =
    df.select(col("id"), col("v").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet

  test("as-of read serves the pinned generation; live view serves the overwrite") {
    val h = Engine.bootstrap(spark, tmpDir("tt-wh"), overrideWarehouse = true)
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-01 00:00:00", 1),
      envelope("b", "2024-01-01 00:00:00", 2)))
    val snap = h.currentEpoch("tt")
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-02 00:00:00", 10), // overwrite after the pin
      envelope("c", "2024-01-02 00:00:00", 3))) // insert after the pin
    assert(served(h.tableAsOf("tt", snap)) === Set("a" -> 1, "b" -> 2),
      "pinned snapshot must serve pre-overwrite values and no post-pin inserts")
    assert(served(h.table("tt")) === Set("a" -> 10, "b" -> 2, "c" -> 3),
      "live view must serve the overwrite and the insert")
  }

  test("snapshots follow append order, not logical time: a backfill with an OLD " +
      "last_modified stays invisible at earlier pins") {
    val h = Engine.bootstrap(spark, tmpDir("tt-bf"), overrideWarehouse = true)
    ingestMsgs(h, Seq(envelope("a", "2024-06-01 00:00:00", 1)))
    val snap = h.currentEpoch("tt")
    // backfill: arrives later, stamped EARLIER than the existing row
    ingestMsgs(h, Seq(envelope("b", "2023-01-01 00:00:00", 99)))
    assert(served(h.tableAsOf("tt", snap)) === Set("a" -> 1),
      "physically-later backfill must not appear in the earlier snapshot")
    assert(served(h.table("tt")) === Set("a" -> 1, "b" -> 99))
  }

  test("history: per-id LWW-ascending version ordinals; highest version is the served row") {
    val h = Engine.bootstrap(spark, tmpDir("tt-hist"), overrideWarehouse = true)
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-01 00:00:00", 1),
      envelope("b", "2024-01-01 00:00:00", 2)))
    ingestMsgs(h, Seq(envelope("a", "2024-01-02 00:00:00", 10)))
    val hist = h.history("tt")
      .select(col("id"), col("version"), col("v").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(hist === Set(("a", 1, 1), ("a", 2, 10), ("b", 1, 2)))
    // the top version per id IS the live row
    val top = h.history("tt").withColumn("mx",
        max(col("version")).over(org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .filter(col("version") === col("mx"))
    assert(served(top) === served(h.table("tt")))
  }

  test("retention contract: compaction truncates history to current winners, " +
      "and pre-compaction snapshots serve only the survivors written before the pin") {
    val h = Engine.bootstrap(spark, tmpDir("tt-comp"), overrideWarehouse = true)
    ingestMsgs(h, Seq(envelope("a", "2024-01-01 00:00:00", 1)))
    val snap = h.currentEpoch("tt")
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-02 00:00:00", 10),
      envelope("b", "2024-01-02 00:00:00", 2)))
    h.compact("tt")
    // history collapsed to winners (a@10, b@2), each restarting at version 1
    val hist = h.history("tt")
      .select(col("id"), col("version"), col("v").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(hist === Set(("a", 1, 10), ("b", 1, 2)),
      "compaction keeps only current winners (with their original epochs)")
    // the pre-compaction pin: a's v=1 version was discarded by compaction and
    // b arrived after the pin — the documented lossy-retention outcome is empty
    assert(served(h.tableAsOf("tt", snap)) === Set.empty[(String, Int)],
      "as-of older than the last compaction serves only surviving winners ≤ pin")
    // a pin taken AFTER compaction still works
    val snap2 = h.currentEpoch("tt")
    ingestMsgs(h, Seq(envelope("a", "2024-01-03 00:00:00", 100)))
    assert(served(h.tableAsOf("tt", snap2)) === Set("a" -> 10, "b" -> 2))
  }

  // note: between two pins of an APPEND-ONLY log, only insert/update can
  // occur — snapshotDiff's delete branch fires for out-of-band rewrites
  // (compaction-after-delete), covered by UpsertsSpec's direct diff tests
  test("changesBetween two pins classifies insert/update with before/after values") {
    val h = Engine.bootstrap(spark, tmpDir("tt-cdc"), overrideWarehouse = true)
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-01 00:00:00", 1),
      envelope("b", "2024-01-01 00:00:00", 2)))
    val e1 = h.currentEpoch("tt")
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-02 00:00:00", 10), // update
      envelope("c", "2024-01-02 00:00:00", 3))) // insert
    val e2 = h.currentEpoch("tt")
    val changes = h.changesBetween("tt", e1, e2, Seq("v"))
      .select(col("id"), col("change"),
        col("v_before").cast("int"), col("v_after").cast("int"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(changes === Set(
      ("a", "update", Some(1), Some(10)),
      ("c", "insert", None, Some(3))),
      "unchanged b must be absent; a updates 1→10; c inserts")
    assert(h.changesBetween("tt", e2, e2, Seq("v")).isEmpty,
      "identical pins diff to nothing")
    intercept[IllegalArgumentException] {
      h.changesBetween("tt", e2, e1, Seq("v"))
    }
  }

  test("delete tombstone: serving/lookup drop the id, as-of before the delete " +
      "still serves it, a newer write resurrects it, CDC classifies the delete") {
    val h = Engine.bootstrap(spark, tmpDir("tt-del"), overrideWarehouse = true)
    ingestMsgs(h, Seq(
      envelope("a", "2024-01-01 00:00:00", 1),
      envelope("b", "2024-01-01 00:00:00", 2)))
    val e1 = h.currentEpoch("tt")
    h.delete("tt", Seq("a"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z")))
    // the delete time and epoch are read by reference: a repeated delete on
    // the type (here of an id never written, which serves nothing either
    // way) reuses the first one's generated classes. The check sits right
    // after the first delete because Spark's code cache is shared by the
    // whole JVM: at the end of this case, in the full suite, a repeated
    // delete recompiled 7 classes whose sources were all byte-identical to
    // ones the first delete compiled, so those were cache misses, not a
    // per-delete value in the generated code.
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    h.delete("tt", Seq("never-written"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-06T00:00:00Z")))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "a repeated delete compiles no classes")
    val e2 = h.currentEpoch("tt")
    assert(served(h.table("tt")) === Set("b" -> 2),
      "a deleted id must vanish from the serving view")
    assert(h.get("tt", "a").isEmpty, "point lookup of a deleted id is empty")
    assert(served(h.tableAsOf("tt", e1)) === Set("a" -> 1, "b" -> 2),
      "a snapshot pinned before the delete still serves the row")
    val changes = h.changesBetween("tt", e1, e2, Seq("v"))
      .select(col("id"), col("change"), col("v_before").cast("int"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(changes === Set(("a", "delete", 1)),
      "CDC across the delete classifies it with the true before-image")
    // a LATER write resurrects the id
    ingestMsgs(h, Seq(envelope("a", "2024-01-10 00:00:00", 10)))
    assert(served(h.table("tt")) === Set("a" -> 10, "b" -> 2))
  }

  test("tombstones survive compaction (an older late write stays dead) and " +
      "vacuum ages them out (the gc_grace trade)") {
    val h = Engine.bootstrap(spark, tmpDir("tt-del2"), overrideWarehouse = true)
    ingestMsgs(h, Seq(envelope("a", "2024-01-01 00:00:00", 1)))
    h.delete("tt", Seq("a"),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z")))
    h.compact("tt")
    // compaction retained the winning tombstone: a late append whose
    // last_modified PREDATES it must still lose
    ingestMsgs(h, Seq(envelope("a", "2024-01-02 00:00:00", 7)))
    assert(served(h.table("tt")) === Set.empty[(String, Int)],
      "post-compaction, an older late write must not resurrect a deleted id")
    // the audit log shows the tombstone as a flagged version above the late row
    val hist = h.history("tt")
      .select(col("id"), col("version"), col("_deleted"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(hist === Set(("a", 1, false), ("a", 2, true)),
      "history keeps tombstone versions visible and flagged")
    // vacuum at the current horizon ages the tombstone (and everything it
    // superseded) out of the log entirely
    h.vacuum("tt", h.currentEpoch("tt"))
    assert(served(h.table("tt")) === Set.empty[(String, Int)],
      "vacuum of a tombstone winner removes the id, not resurrects it")
    assert(h.history("tt").isEmpty, "aged-out tombstone leaves no log rows")
    // ...after which an old-stamped write CAN resurrect — the documented
    // gc_grace contract: the horizon must trail the max accepted lateness
    ingestMsgs(h, Seq(envelope("a", "2024-01-03 00:00:00", 8)))
    assert(served(h.table("tt")) === Set("a" -> 8))
  }

  test("currentEpoch pins strictly increase across batches and refuse empty logs") {
    val h = Engine.bootstrap(spark, tmpDir("tt-ep"), overrideWarehouse = true)
    ingestMsgs(h, Seq(envelope("a", "2024-01-01 00:00:00", 1)))
    val e1 = h.currentEpoch("tt")
    ingestMsgs(h, Seq(envelope("b", "2024-01-01 00:00:00", 2)))
    val e2 = h.currentEpoch("tt")
    assert(e2 > e1, "each ingest batch must advance the epoch")
    // an unknown/unwritten type has no log to pin — any failure is loud,
    // never a silent 0-epoch pin
    intercept[Exception] {
      val empty = Engine.bootstrap(spark, tmpDir("tt-empty"), overrideWarehouse = true)
      empty.currentEpoch("no_such_type")
    }
  }
}
