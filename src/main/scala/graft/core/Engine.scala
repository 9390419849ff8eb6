package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Upserts

/** Engine façade: bootstrap + table serving views.
  *
  * Reference: main() bootstrap (moisturizer/__init__.py:20-42,62-83) —
  * create keyspace (optionally dropping first), sync the descriptor table,
  * seed the self-descriptor; `immutable_schema` disables all DDL.
  */
object Engine {

  final case class Handle(spark: SparkSession, registry: SchemaRegistry) {

    /** Raw append-log of a type's table (all versions of all rows).
      *
      * The read schema comes from the REGISTRY, not a mergeSchema footer
      * sweep: evolve is add-only and validation coerces every written row
      * to the registered types, so registered-fields ∪ ingest-meta is by
      * construction a superset of every file's columns — files predating
      * an evolved column surface it as NULL exactly as mergeSchema did,
      * without the per-read distributed footer-merge job (which at 100 TB
      * is a listing+footer pass over every append ever made). Falls back
      * to mergeSchema for a table the registry doesn't know (externally
      * created). */
    def tableLog(typeId: String): DataFrame = {
      val path = registry.tablePath(typeId)
      registry.healPath(path) // finish a compaction swap a crash interrupted
      // another Handle on this warehouse may have evolved the type since
      // our registry loaded — refresh (one getFileStatus when fresh) so
      // the explicit read schema never omits a newly evolved column
      // (mergeSchema used to hide this; compact() through a stale schema
      // would physically DROP the column)
      registry.refreshIfStale()
      registry.get(typeId) match {
        case Some(reg) =>
          import org.apache.spark.sql.types.{BooleanType, LongType, StructType}
          val meta = Set("_ingest_epoch", "_ingest_seq", "_part", Ingest.DeletedCol)
          val full = StructType(reg.fields.filterNot(f => meta(f.name)))
            .add("_ingest_epoch", LongType).add("_ingest_seq", LongType)
            .add(Ingest.DeletedCol, BooleanType) // tombstone marker (NULL in data files)
            .add("_part", LongType) // partition column, discovered from dirs
          spark.read.options(registry.ioOptions).schema(full).parquet(path)
        case None =>
          spark.read.options(registry.ioOptions).option("mergeSchema", "true").parquet(path)
      }
    }

    /** [[tableLog]] of a type that must carry the ingest epoch column
      * (the time-travel and retention paths order by it). */
    private def epochLog(typeId: String): DataFrame = {
      val log = tableLog(typeId)
      require(log.columns.contains("_ingest_epoch"),
        s"table '$typeId' carries no _ingest_epoch column — not an ingest-written table")
      log
    }

    /** The LWW tie-break columns a log carries, in order. */
    private def ties(log: DataFrame): Seq[String] =
      Seq("_ingest_epoch", "_ingest_seq").filter(log.columns.contains)

    /** Last-write-wins by `id` over (a filtered view of) a log. */
    private def lww(log: DataFrame): DataFrame =
      Upserts.lwwView(log, Seq("id"), "last_modified", ties(log))

    /** Serving shape of LWW winners: drop ids whose winner is a delete
      * tombstone, then hide the marker — the read-side half of the
      * tombstone contract ([[Ingest.DeletedCol]]; null-safe: rows written
      * before the first delete surface the marker as NULL) — and the
      * ingest bookkeeping columns. */
    private def served(winners: DataFrame): DataFrame = {
      val live =
        if (winners.columns.contains(Ingest.DeletedCol))
          winners.filter(!coalesce(col(Ingest.DeletedCol), lit(false)))
            .drop(Ingest.DeletedCol)
        else winners
      live.drop("_ingest_epoch", "_ingest_seq", "_part")
    }

    /** Compaction: collapse the append log to its LWW view and atomically
      * swap the table directory (the Cassandra-compaction analog —
      * reference upserts rely on Cassandra compaction collapsing
      * overwritten rows). Preserves the `_part` partition layout and the
      * ingest tie-break columns, so point lookups still prune and later
      * appends still LWW-merge correctly against compacted rows. */
    def compact(typeId: String): Unit = registry.withTableLock(typeId) {
      rewriteLog(typeId)(h => h.lww(h.tableLog(typeId)))
    }

    /** RETENTION-BOUNDED compaction — Delta/Iceberg VACUUM semantics over
      * the parquet append log: versions superseded at or before
      * `horizonEpoch` collapse to their LWW winners while EVERY version
      * appended after the horizon survives verbatim. The serving view,
      * point lookups, `tableAsOf`/`changesBetween` pinned at or after the
      * horizon, and `history` above it are all bit-identical afterwards
      * (the LWW order (last_modified, _ingest_epoch, _ingest_seq) is
      * total, so collapsing a prefix to its per-id maxima preserves every
      * suffix-inclusive maximum); only as-of reads pinned BEFORE the
      * horizon degrade, exactly the [[compact]] retention contract but
      * with a caller-chosen boundary instead of "now". The compaction a
      * production table runs on a cadence: keep N days of CDC-readable
      * history, fold everything older. */
    def vacuum(typeId: String, horizonEpoch: Long): Unit =
      registry.withTableLock(typeId) {
        rewriteLog(typeId) { h =>
          val log = h.epochLog(typeId)
          val collapsed = h.lww(log.filter(col("_ingest_epoch") <= horizonEpoch))
          // age out tombstones past the horizon (gc_grace: the horizon must
          // trail the max accepted write lateness — see Ingest.DeletedCol);
          // [[compact]] retains them, only vacuum's explicit boundary drops
          val prefix =
            if (collapsed.columns.contains(Ingest.DeletedCol))
              collapsed.filter(!coalesce(col(Ingest.DeletedCol), lit(false)))
            else collapsed
          val suffix = log.filter(col("_ingest_epoch") > horizonEpoch)
          prefix.unionByName(suffix)
        }
      }

    /** Shared rewrite-and-swap tail of [[compact]]/[[vacuum]]. The source
      * dir is only touched AFTER the tmp write completes, so the single
      * write job reads the live files directly — no staging copy.
      * Fold the L0 append zone into the real buckets: recompute `_part`
      * from the id so rows that entered as single-file micro appends
      * (`_part=-1`, Ingest.L0Bucket) land in their idBucket partition —
      * the rewrite is what establishes the pruned layout. Repartition on
      * _part: without it each LWW shuffle task writes one file PER bucket
      * it holds (tasks × 16 files), so the output could itself exceed the
      * compactIfNeeded threshold and the maintenance loop would rewrite
      * the table every batch, forever. SIZE-AWARE (the
      * Ingest.SmallAppendRows policy applied to rewrites): a micro-scale
      * table (the streaming-maintenance case) rewrites through ONE task,
      * paying no clustering exchange and 1 commit for the same ≤16 bucket
      * files; past the threshold the rewrite keeps the parallel bucket
      * shuffle a 100 TB table needs. Listing bytes is the same metadata
      * pass compactIfNeeded already does.
      *
      * `build` makes the rewrite on the Handle it is given: under
      * [[InterpretedRewriteBytes]] that is this Handle over a
      * [[graft.Sessions.child]] with [[NoCodegen]], so a micro-scale
      * rewrite compiles no generated code. */
    private def rewriteLog(typeId: String)(build: Handle => DataFrame): Unit = {
      val bytes = registry.dataBytes(typeId)
      val rows = build(
        if (bytes < InterpretedRewriteBytes) copy(spark = graft.Sessions.child(spark, NoCodegen))
        else this)
      val hasPart = rows.columns.contains("_part")
      val folded =
        if (hasPart && rows.columns.contains("id"))
          rows.withColumn("_part", Ingest.idBucket(col("id")))
        else rows
      val smallTable = bytes < 128L * 1024 * 1024
      val out =
        if (!hasPart) folded
        else if (smallTable) folded.coalesce(1).sortWithinPartitions("_part")
        else folded.repartition(col("_part"))
      val tmp = registry.tablePath(typeId) + ".compact"
      val writer = out.write.mode("overwrite").options(Ingest.writeOptions(registry))
      (if (hasPart) writer.partitionBy("_part") else writer).parquet(tmp)
      registry.replaceTable(typeId, tmp)
    }

    /** Serving view: last-write-wins by `id` (Cassandra upsert semantics,
      * reference consumer.py:69-70). Equal-`last_modified` ties break by
      * (`_ingest_epoch` — which batch wrote the row — then `_ingest_seq` —
      * position within the batch), so the LAST message of the last batch
      * wins deterministically, matching the reference's sequential consumer
      * order (consumer.py:79-83). */
    def table(typeId: String): DataFrame = served(lww(tableLog(typeId)))

    /** DELETE by key (reference DELETE /types/{t}/objects/{id},
      * tests/test_views.py:234-241 — delegated to a Cassandra tombstone
      * there; an append-log tombstone here, [[Ingest.DeletedCol]]): appends
      * one tombstone row per id at `deleteTime`'s LWW position. The id
      * disappears from [[table]]/[[get]]/as-of views pinned after the
      * tombstone, still serves before it, survives [[compact]], classifies
      * as `delete` in [[changesBetween]], and ages out via [[vacuum]].
      * A later upsert with a newer `last_modified` resurrects the id. */
    def delete(typeId: String, doomed: DataFrame,
               deleteTime: java.sql.Timestamp): Long =
      Ingest.appendTombstones(spark, registry, typeId, doomed, deleteTime)

    /** [[delete]] convenience for a driver-side id list. */
    def delete(typeId: String, ids: Seq[String],
               deleteTime: java.sql.Timestamp): Long = {
      import spark.implicits._
      delete(typeId, ids.toDF("id"), deleteTime)
    }

    /** Compact when the physical file count exceeds `maxFiles` — a
      * metadata-only check (one directory listing, no data jobs), the
      * policy a maintenance loop runs after streaming appends pile up
      * small files. Returns true when a compaction ran.
      *
      * A compaction leaves one file per non-empty id bucket, up to
      * [[Ingest.NumIdBuckets]]. With `maxFiles` below that count, a
      * just-compacted table is already over the threshold, so the next
      * check compacts it again: the trigger counts files, not appends. */
    def compactIfNeeded(typeId: String, maxFiles: Int = 64): Boolean = {
      val n = registry.dataFileCount(typeId)
      val needed = n > maxFiles
      if (needed) compact(typeId)
      needed
    }

    /** Latest committed ingest epoch of a type's log — the snapshot id a
      * caller pins for a consistent [[tableAsOf]] read. One 1-row agg over
      * the log's epoch column (a min/max-statistics scan, metadata-scale —
      * parquet footers answer it without reading data pages). */
    def currentEpoch(typeId: String): Long = {
      val r = epochLog(typeId).agg(max(col("_ingest_epoch"))).head
      require(!r.isNullAt(0), s"table '$typeId' log is empty — no epoch to pin")
      r.getLong(0)
    }

    /** TIME-TRAVEL serving view: the LWW state as of ingest epoch
      * `epochMicros` (inclusive) — rows appended by later batches are
      * invisible, so an id overwritten after the pinned epoch serves its
      * old version and an id first inserted after it serves nothing. The
      * snapshot is defined by the PHYSICAL append order (`_ingest_epoch`,
      * strictly increasing per batch — Ingest.batchEpochMicros), not by the
      * logical `last_modified`, so a late-arriving backfill with an old
      * timestamp is still correctly excluded from snapshots pinned before
      * its arrival.
      *
      * HISTORY-RETENTION CONTRACT (the Cassandra-compaction analog, same
      * trade the reference inherits from its storage engine): [[compact]]
      * collapses the log to current winners (keeping their original
      * epochs), so versions a compaction discarded are unrecoverable — an
      * as-of read older than the last compaction serves the surviving
      * winners written ≤ the pinned epoch, with overwritten-then-compacted
      * versions absent. Pin snapshots you need, or defer compaction —
      * exactly Delta/Iceberg's VACUUM-vs-time-travel trade, re-expressed
      * over the parquet append log. */
    def tableAsOf(typeId: String, epochMicros: Long): DataFrame =
      served(lww(epochLog(typeId).filter(col("_ingest_epoch") <= epochMicros)))

    /** VERSION HISTORY of a type's table: every surviving appended version
      * of every id, stamped with a per-id `version` ordinal in LWW order
      * ascending (`last_modified`, ties by `_ingest_epoch` then
      * `_ingest_seq` — so the HIGHEST version is exactly the row [[table]]
      * serves). The audit-log
      * read a CDC consumer or a debugging operator wants; one window over
      * the log, no joins. Subject to the same history-retention contract
      * as [[tableAsOf]]: compaction truncates history to current winners. */
    def history(typeId: String): DataFrame = {
      val log = tableLog(typeId)
      val order = (col("last_modified").asc +: ties(log).map(col(_).asc)): Seq[org.apache.spark.sql.Column]
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(order: _*)
      // tombstone versions stay VISIBLE in the audit log (a deletion is a
      // version), flagged by the marker folded to a non-null boolean
      val flagged =
        if (log.columns.contains(Ingest.DeletedCol))
          log.withColumn(Ingest.DeletedCol,
            coalesce(col(Ingest.DeletedCol), lit(false)))
        else log
      flagged.withColumn("version", row_number().over(w))
        .drop("_ingest_epoch", "_ingest_seq", "_part")
    }

    /** CDC read between two pinned snapshots: every id whose served row
      * changed from epoch `fromEpoch` to `toEpoch`, classified
      * insert/update/delete with before/after values
      * ([[Upserts.snapshotDiff]] over two [[tableAsOf]] views — the
      * Delta `table_changes` analog). Same retention contract as
      * [[tableAsOf]]: both pins must postdate the last compaction. Cost:
      * two LWW windows + one full-outer key join, all on the same key
      * partitioning. */
    def changesBetween(typeId: String, fromEpoch: Long, toEpoch: Long,
                       compareCols: Seq[String]): DataFrame = {
      require(fromEpoch <= toEpoch,
        s"changesBetween: fromEpoch $fromEpoch must be <= toEpoch $toEpoch")
      Upserts.snapshotDiff(
        tableAsOf(typeId, fromEpoch), tableAsOf(typeId, toEpoch),
        "id", compareCols)
    }

    /** Point lookup (reference Model.get / GET objects/{id},
      * tests/test_views.py:205-211). The id-bucket predicate is foldable
      * (hash of a literal), so it becomes a PARTITION filter on the `_part`
      * layout — the scan reads 1/NumIdBuckets of the table's files plus the
      * L0 append zone (`_part=-1`, small by construction — compaction folds
      * it away), and every version of the id lives in one of those two
      * partitions so LWW stays correct. */
    def get(typeId: String, id: String): DataFrame = {
      val log = tableLog(typeId)
      val pruned =
        if (log.columns.contains("_part"))
          log.filter(col("_part").isin(
            Ingest.idBucket(lit(id)), lit(Ingest.L0Bucket)))
        else log
      served(lww(pruned)).filter(col("id") === lit(id))
    }

    /** Serving JSON: unflatten `a__b` columns to nested objects and drop
      * null fields (reference schemas.py:42-43,53-55). */
    def toServingJson(df: DataFrame): DataFrame = {
      val nested = Flattener.unflatten(df)
      nested.select(to_json(struct(nested.columns.map(c => col(s"`$c`")).toSeq: _*),
        Map("ignoreNullFields" -> "true")).as("object"))
    }

    def ingest(envelopes: DataFrame, messageCol: String = "message",
               ingestTime: Option[java.sql.Timestamp] = None): Ingest.Report =
      Ingest.ingest(registry, envelopes, messageCol, ingestTime)

    /** Write-gated ingest — S24's POST/PUT 403 contract
      * (tests/test_views.py:79-118): envelopes for a type `user` lacks
      * can_write on (or can_create, for a type-creating first write)
      * route to that type's quarantine table with the structured 403
      * error; the REST of the batch ingests normally (continue-on-deny,
      * the dead-letter doctrine). Decision is per type, driver-side over
      * the batch's fan-out list ([[operators.Permissions.writeDecision]]). */
    def ingestAs(user: String, perms: DataFrame, envelopes: DataFrame,
                 messageCol: String = "message",
                 ingestTime: Option[java.sql.Timestamp] = None): Ingest.Report =
      Ingest.ingest(registry, envelopes, messageCol, ingestTime,
        writer = Some(user), grants = Some(perms))

    /** Health check (reference GET /__heartbeat__,
      * tests/test_views.py:186-190): server/schema liveness booleans. */
    def heartbeat: Map[String, Boolean] = Map(
      "server" -> !spark.sparkContext.isStopped,
      "schema" -> registry.knownTypes.contains("descriptor_model"))
  }

  /** Tables under this many data bytes compact and vacuum on
    * a [[NoCodegen]] child session; larger ones on the Handle's own
    * code-generating session. The interpreted rewrite compiles nothing but
    * pays per row. The bound is the crossover against a cold code cache,
    * one type of 4 payload columns, local[4] on a 4-core VM, 3 runs each,
    * cold codegen vs interpreted: 0.09 MB 0.51–0.68 s vs 0.27–0.35 s;
    * 3.3 MB 1.23–1.30 s vs 0.92–1.25 s; 7.6 MB (codegen partly cached)
    * 1.43–1.85 s vs 1.90–2.35 s; 15 MB 2.6–3.3 s vs 3.6–4.2 s. Against a
    * warm cache codegen is already faster at 3.3 MB (0.75–0.91 s). A
    * type's first rewrite in a session always meets a cold cache; later
    * ones did too while each batch's inlined stamps filled Spark's
    * 100-entry cache (27 compiles per compaction batch of a 6-type stream;
    * 0 with `spark.sql.codegen.cache.maxEntries=1000`). With [[graft.plans.BatchStamps]] the same
    * stream keeps its rewrite classes cached after the first round, and at
    * that micro scale the interpreted rewrite is still faster: 628–835 ms
    * against 774–1107 ms of maintenance per compaction batch. No benchmark
    * workload compacts a table above the bound, so the code-generating
    * side and the bound itself are measured only by these probes. */
  private[core] val InterpretedRewriteBytes = 4L * 1024 * 1024

  /** What a micro-scale rewrite's [[graft.Sessions.child]] sets over the
    * Handle's conf, so it runs without generated code. `factoryMode` is
    * marked internal in Spark; it is the switch that sends the projection,
    * predicate and ordering factories to their interpreted forms. With
    * whole-stage codegen off alone, those factories still compiled 66 and
    * 106 classes in the two compaction batches of an `ingest_stream` round,
    * and maintenance got no faster. */
  private val NoCodegen = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Bootstrap the engine over a warehouse directory (keyspace analog).
    * `overrideWarehouse` mirrors the reference's override_keyspaces drop
    * (__init__.py:23-26); `immutableSchema` mirrors config.py:17. */
  def bootstrap(spark: SparkSession, warehouseDir: String,
                overrideWarehouse: Boolean = false,
                immutableSchema: Boolean = false): Handle = {
    // warehouse lives on whatever Hadoop FileSystem the path names
    // (file:, hdfs:, s3a:, ...) — never driver-local java.io
    val p = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = WarehouseFs.get(spark.sparkContext.hadoopConfiguration, warehouseDir)
    if (overrideWarehouse && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    val registry = new SchemaRegistry(spark, warehouseDir, immutableSchema)
    registry.bootstrap()
    Handle(spark, registry)
  }
}
