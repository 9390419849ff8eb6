package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import graft.plans.BatchStamps
import graft.sources.Codecs

/** The batch ingestion pipeline — the reference's main path re-expressed for
  * Spark (moisturizer/consumer.py:57-70, traced in SURVEY §3.1):
  *
  *   decode → envelope → per-type { infer → validate/coerce → flatten →
  *   evolve registry → defaults → append write }
  *
  * Stage order matters and matches the reference: inference sees the
  * flattened, null-stripped, coerced payload, so nested objects contribute
  * leaf columns and nulls never create columns.
  *
  * Scale notes: the fan-out is per-TYPE (bounded, driver-side loop exactly
  * like the reference's table-per-type design); per-type work is fully
  * distributed (JSON parse, flatten projection, try_cast validation are all
  * codegen'd executor work; no driver collect of data rows). Appends are
  * write-once parquet — the LWW view resolves upserts at read, compaction
  * collapses the log (Upserts.compact).
  */
object Ingest {

  final case class Report(
      perType: Map[String, Long],
      deadLetters: Long,
      quarantined: Long)

  /** Ingest a batch of raw messages (JSON or MsgPack bytes rendered to JSON
    * strings already, e.g. by Codecs.decodeMessageUdf).
    *
    * @param envelopes DataFrame with a string column `message` holding the
    *                  decoded JSON envelope `{type_id, data}`.
    * @param ingestTime logical write time for `last_modified` defaulting —
    *                   injectable for deterministic tests (reference default
    *                   is now(); models.py:55-56).
    */
  def ingest(registry: SchemaRegistry,
             envelopes: DataFrame, messageCol: String = "message",
             ingestTime: Option[java.sql.Timestamp] = None,
             writer: Option[String] = None,
             grants: Option[DataFrame] = None): Report = {
    // Bind to the session that owns the batch: inside foreachBatch that is
    // the micro-batch's clone of the caller's session, carrying the
    // stream's SQL conf. Every frame derived below (parse, written frame,
    // its Observation) is then built and run on that same session, never
    // on the parent.
    val spark = envelopes.sparkSession
    import spark.implicits._

    // Reference processes messages one-by-one; the batch equivalent groups
    // by type. Types are bounded (table-per-type), so driver iteration over
    // the distinct set is metadata-scale, not data-scale. ONE aggregation
    // pass yields both the dead-letter count (null type_id group) and the
    // type fan-out list.
    val cached = Codecs.unwrapAll(envelopes, messageCol)
      .select("type_id", "data_json").cache()
    try {
      // the fan-out agg also flags ARRAY payloads per type: a top-level
      // JSON-array `data` parses to one row PER ELEMENT downstream, so the
      // envelope count is not the sub-batch's row count and cannot pick
      // the L0 append for it — such types take the bulk write. The same
      // pass collects each type's SHAPE-SIGNATURE set (graft_json_shape —
      // the sound inference cache key; see plans/JsonShape.scala): a batch
      // whose signature set was seen before skips the spark.read.json
      // inference scan entirely, the dominant per-batch fixed cost.
      val typeCounts = cached.groupBy("type_id").agg(
        count(lit(1)).as("n"),
        sum(when(ltrim($"data_json").startsWith("["), 1L).otherwise(0L))
          .as("n_array"),
        collect_set(graft.plans.JsonShape.shapeSig($"data_json")).as("sigs"))
        .collect()
      val deadLetters = typeCounts.filter(_.isNullAt(0)).map(_.getLong(1)).sum
      val types = typeCounts.filter(!_.isNullAt(0)).map(_.getString(0)).sorted

      // S24 WRITE-side gate (tests/test_views.py:79-118): when the batch
      // carries a writer identity, each type's admit/deny decides DRIVER-
      // side over the already-collected fan-out list (metadata scale —
      // zero extra distributed work). Denied types' rows route to that
      // type's quarantine with the structured 403 error
      // (Permissions.writeDecision = the one semantic definition) and
      // ingest CONTINUES for the rest of the batch — the dead-letter
      // continue-on-error doctrine applied to authorization.
      val typeRowCounts = typeCounts.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val denied: Map[String, String] = writer match {
        case Some(u) =>
          val g = grants.getOrElse(throw new IllegalArgumentException(
            "ingest(writer = ...) requires the grants frame"))
          // duplicate (user, type) grant rows collapse by OR — the same
          // any-granting-row-admits rule classifyWrites aggregates with,
          // so the two paths stay equal on every input (r19 review: a
          // plain .toMap was nondeterministic last-wins under collect
          // partition order)
          val gm = g.filter(col("user_id") === u)
            .select("type_id", "can_create", "can_write").collect()
            .groupBy(_.getString(0)).map { case (t, rows) =>
              t -> (
                rows.exists(r => !r.isNullAt(1) && r.getBoolean(1)),
                rows.exists(r => !r.isNullAt(2) && r.getBoolean(2)))
            }
          types.flatMap(t => graft.operators.Permissions
            .writeDecision(gm.get(t), registry.knownTypes.contains(t))
            .map(t -> _)).toMap
        case None => Map.empty
      }
      val subTotals = typeCounts.filter(!_.isNullAt(0))
        .map(r => r.getString(0) ->
          (if (r.getLong(2) == 0L) Some(r.getLong(1)) else None)).toMap
      // a type's batch is cacheable iff every row produced a sound shape
      // signature (no bail sentinel) and the shape set is small — then the
      // sorted set IS the cache key
      val shapeSigs = typeCounts.filter(!_.isNullAt(0))
        .map { r =>
          val sigs = r.getSeq[String](3)
          r.getString(0) -> (
            if (sigs.contains(graft.plans.JsonShape.Bail) || sigs.size > 64)
              None
            else Some(sigs.sorted.mkString("\n")))
        }.toMap
      // Types are independent (separate tables, separate registry rows with
      // locked mutations, a quarantine table each) — fan them out
      // concurrently; Spark's scheduler interleaves the jobs. A denied type
      // is one quarantine write, an admitted one a full sub-batch ingest
      // (VERDICT r19 #5: a mass-deny batch must not pay one SEQUENTIAL
      // driver-blocked job per denied type). The denied writes finish
      // before any admitted type starts: a failed 403 write fails the batch
      // before anything is appended, since a retried batch would re-append
      // rows with generated ids, which LWW cannot merge.
      import scala.concurrent.{ExecutionContext, Future}
      implicit val ec: ExecutionContext = Ingest.ingestPool
      def payloads(typeId: String) =
        cached.filter($"type_id" === typeId).select("data_json")
      val (deniedTypes, admitted) = types.toSeq.partition(denied.contains)
      val denials = Future.traverse(deniedTypes) { typeId =>
        Future {
          val code = denied(typeId)
          writeQuarantine(registry, typeId, Validation.quarantineRecords(
            payloads(typeId), errno = 403, error = code,
            message = s"user '${writer.get}' may not ${
              if (code == "CreateForbidden") "create" else "write"} type '$typeId'"))
        }
      }
      val ingests = denials.flatMap(_ => Future.traverse(admitted) { typeId =>
        Future {
          typeId -> ingestType(spark, registry, typeId,
            payloads(typeId).as[String], ingestTime,
            subTotal = subTotals(typeId), shapeSig = shapeSigs(typeId))
        }
      })
      val results = Await.result(ingests, Duration.Inf)
      Report(
        results.map { case (t, (n, _)) => t -> n }.toMap,
        deadLetters,
        results.map(_._2._2).sum +
          denied.keysIterator.map(typeRowCounts).sum)
    } finally cached.unpersist()
  }

  /** Bounded pool for per-type ingest concurrency (driver-side job
    * submission only; the heavy lifting stays on executors). Daemon threads:
    * the pool must never block JVM exit. */
  private[graft] lazy val ingestPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-ingest")
        t.setDaemon(true)
        t
      }))

  /** Longest wait for an append's observed row counts before the exact
    * recount takes over. */
  private val ObservationWait = 2.seconds

  /** Inference cache: (typeId + " " + batch shape-signature set) → the
    * schema `spark.read.json` inferred for that exact shape set. Sound
    * because the signature determines the inferred schema (see
    * plans/JsonShape.scala); process-global because the key is pure batch
    * content — registry state, session, and warehouse never enter it. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Observable hit/miss counters so the skip-the-inference-scan claim is
    * a spec assertion (InferenceSigSpec), not prose. Monotonic,
    * process-global, test-read-only. */
  val schemaCacheHits = new java.util.concurrent.atomic.AtomicLong(0L)
  val schemaCacheMisses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Batch epoch in µs since the Unix epoch — one value per sub-batch,
    * strictly increasing across successive batches (guarded by a monotonic
    * floor so clock granularity can never hand two batches the same epoch). */
  private val lastEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
  private def batchEpochMicros(): Long = {
    val now = java.time.Instant.now()
    val micros = now.getEpochSecond * 1000000L + now.getNano / 1000L
    lastEpoch.updateAndGet(prev => math.max(prev + 1, micros))
  }

  /** Physical layout: per-type tables are partitioned by a stable hash
    * bucket of the primary key, the Spark-native analog of the reference's
    * Cassandra partition_key (models.py:87,131-132). All versions of an id
    * land in one bucket, so point lookups read 1/NumIdBuckets of the files
    * (partition pruning) and the LWW view over a single id stays correct. */
  val NumIdBuckets = 16
  def idBucket(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(NumIdBuckets))

  /** Sub-batches at or under this row count append into the L0 zone
    * (`_part=-1`): ONE file through one write task, no exchange, 1 commit —
    * the LSM delta-file pattern. A micro-batch-scale append that writes
    * every one of the 16 bucket files pays ~16× per-file parquet writer
    * init + commit for a few KB of data (measured: 0.42 s vs 0.15 s for
    * the same rows as one file); at 100 TB append rates that 16× write
    * amplification is the small-files problem itself. Compaction folds L0
    * into the real buckets ([[graft.core.Engine.Handle.compact]] recomputes
    * `_part`), so the bucketed zone holds ~all data and L0 stays bounded by
    * the maintenance cadence. Point lookups prune to {idBucket(id), L0} —
    * two partitions, the second one small by construction. Above the
    * threshold the append shuffles into NumIdBuckets parallel writers
    * directly. */
  val SmallAppendRows = 100000L

  /** L0 partition value — outside idBucket's [0, NumIdBuckets) range. */
  val L0Bucket = -1L

  /** Delete-tombstone marker column (ingest-meta, like `_ingest_epoch`):
    * a log row with `_deleted = true` records that its id was DELETED at
    * its `last_modified`/epoch position in the LWW order. The append-log
    * analog of Delta's delete markers / Cassandra's tombstones (which is
    * where the reference's deletes actually live — Cassandra writes a
    * tombstone for DELETE, tests/test_views.py:234-241): serving views
    * drop ids whose LWW winner is a tombstone, [[graft.core.Engine.Handle.compact]]
    * RETAINS winning tombstones (so a late-arriving write with an older
    * `last_modified` still loses after any number of compactions), and
    * `vacuum(horizon)` ages them out — the gc_grace_seconds trade: the
    * horizon must trail the maximum accepted write lateness, or an aged
    * tombstone lets an older late write resurrect the row. */
  val DeletedCol = "_deleted"

  /** Append delete tombstones for the ids in `doomed` (any column named
    * `id`, cast to the registered string key). One tombstone row per id:
    * the key, `last_modified = deleteTime` (the position the delete takes
    * in the LWW order — later writes win over it, older ones lose),
    * `_deleted = true`, and the batch epoch/seq stamps every ingest write
    * carries. Size-aware like [[ingestType]]'s append: metadata-scale
    * deletes land as ONE L0 file (no exchange), bulk deletes shuffle into
    * the bucketed layout. The delete time and epoch are [[BatchStamps]], so
    * a repeated delete on a type reuses its compiled classes. Returns the
    * tombstone count. */
  def appendTombstones(spark: SparkSession, registry: SchemaRegistry,
                       typeId: String, doomed: DataFrame,
                       deleteTime: java.sql.Timestamp): Long = {
    val tablePath = registry.tablePath(typeId)
    require(registry.fs.exists(new org.apache.hadoop.fs.Path(tablePath)),
      s"delete from '$typeId': table does not exist")
    val rows = doomed.select(col("id").cast(StringType).as("id")).distinct()
      .withColumn("last_modified", BatchStamps.timestamp(deleteTime))
      .withColumn(DeletedCol, lit(true))
      .withColumn("_ingest_epoch", BatchStamps.long(batchEpochMicros()))
      .withColumn("_ingest_seq", monotonically_increasing_id())
      .cache()
    try {
      val n = rows.count()
      val smallAppend = n <= SmallAppendRows
      val partCol = if (smallAppend) lit(L0Bucket) else idBucket(col("id"))
      val written = rows.withColumn("_part", partCol)
      registry.withTableLock(typeId) {
        (if (smallAppend) written.coalesce(1)
         else written.repartition(NumIdBuckets, col("_part")))
          .write.mode("append").partitionBy("_part")
          .options(writeOptions(registry))
          .parquet(tablePath)
      }
      n
    } finally rows.unpersist()
  }

  /** Writer option that suppresses the per-job `_SUCCESS` marker on the
    * engine's OWN table/state writes. The engine's visibility contract is
    * the table lock (and streaming's checkpoint commit log), never the
    * marker — but every micro-batch append pays the marker's
    * file create (plus its checksum shadow on local FS). External
    * consumers that want markers read the tables through their own session
    * conf; the engine's internal write paths don't need them. */
  val NoJobMarker: (String, String) =
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false"

  /** Options of every engine write under the registry's warehouse: the
    * [[NoJobMarker]] plus the warehouse filesystem ([[WarehouseFs]]). */
  private[core] def writeOptions(registry: SchemaRegistry): Map[String, String] =
    registry.ioOptions + NoJobMarker

  /** Append quarantine records to a type's own quarantine table: concurrent
    * type ingests must not share a FileOutputCommitter staging directory. */
  private def writeQuarantine(registry: SchemaRegistry, typeId: String,
                              records: DataFrame): Unit =
    records.withColumn("type_id", lit(typeId))
      .write.mode("append").options(writeOptions(registry))
      .parquet(registry.quarantinePath(typeId))

  /** Row classes of a sub-batch, in the class column every parsed row
    * carries up to its append: written, quarantined as invalid (a value
    * that does not coerce to the registered type, or a missing required
    * field), or dead-lettered as malformed JSON. */
  private val Good = 0
  private val Invalid = 1
  private val Malformed = 2

  /** One type's sub-batch: returns (written, quarantined).
    *
    * Every parsed row gets one class in the class column: good, invalid or
    * malformed. All rows travel to the append, where one
    * [[org.apache.spark.sql.Observation]] counts each class in the write
    * job itself and a filter keeps only the good rows. The invalid and
    * malformed rows then go to the type's quarantine in one write, only
    * when there are any. No separate count job runs.
    *
    * @param subTotal the sub-batch's row count when the caller already has
    *        it (the type fan-out agg does): at or under [[SmallAppendRows]]
    *        the append lands in L0 as one file. None (unknown, or a batch
    *        with top-level JSON-array payloads, which parse to one row per
    *        element) takes the bulk write. */
  def ingestType(spark: SparkSession, registry: SchemaRegistry, typeId: String,
                 payloads: Dataset[String],
                 ingestTime: Option[java.sql.Timestamp],
                 subTotal: Option[Long] = None,
                 shapeSig: Option[String] = None): (Long, Long) = {
    // 1. Parse + infer (schema-on-read): Spark's JSON inference plays the
    //    role of DescriptorFieldType.from_value over the whole sub-batch
    //    (reference models.py:91-96 per message; batching is the idiomatic
    //    Spark equivalent — SURVEY §2.A S8).
    // dropFieldIfAllNull: nulls never create columns (schemas.py:38-40)
    //
    // INFERENCE CACHE: the inferred schema is a pure function of the
    // batch's shape-signature set (plans/JsonShape.scala has the soundness
    // argument), so a (type, signature) hit replaces the inference scan
    // with the remembered schema — same parse code path, same schema,
    // bit-identical rows. Steady-state batches of a known shape (the
    // production common case, and every repeat engine/bench run) skip the
    // dominant per-batch job. No invalidation is ever needed: the key is
    // batch content, not registry state.
    val cacheKey = shapeSig.map(sig => typeId + "\u0000" + sig)
    val cachedSchema = cacheKey.flatMap(k => Option(schemaCache.get(k)))
    val parsed0 = cachedSchema match {
      case Some(known) =>
        schemaCacheHits.incrementAndGet()
        // empty remembered schema = all-{} batch: any empty-schema frame
        // routes through the `parsed0.schema.isEmpty` branch below, which
        // rebuilds the row-preserving 0-column frame from payloads
        if (known.isEmpty) spark.emptyDataFrame
        else spark.read.schema(known).json(payloads)
      case None =>
        schemaCacheMisses.incrementAndGet()
        val p = spark.read.option("dropFieldIfAllNull", "true").json(payloads)
        cacheKey.foreach { k =>
          if (schemaCache.size > 512) schemaCache.clear() // crude LRU bound
          schemaCache.put(k, p.schema)
        }
        p
    }
    // empty payloads ({} / null data) still become rows with meta defaults
    // (reference writes a row with only id/last_modified, consumer.py:37,69)
    val parsed =
      if (parsed0.schema.isEmpty) payloads.toDF("__raw").select()
      else parsed0
    // the corrupt-record column appears when some rows are malformed JSON;
    // it holds the raw payload for the dead-letter copy in the quarantine
    // table (reference consumer.py swallow-and-log keeps the raw message),
    // never a silent drop, and is never a data column
    val corruptCol = "_corrupt_record"

    // 2. Flatten nested objects to `a__b` leaf columns (schemas.py:37-40).
    val flat = Flattener.flatten(parsed)

    // 3. Evolve the registry add-only with the inferred flat schema
    //    (models.py:138-153). Existing columns keep their registered type.
    val incoming = StructType(flat.schema.fields
      .filterNot(_.name == corruptCol)
      .map(f => f.copy(dataType = Inference.normalize(f.dataType))))
    val target = registry.evolve(typeId, incoming)

    // 4. Validate/coerce against the registered schema; incompatible rows
    //    are quarantined, not widened (tests/test_models.py:65-83).
    val (casts, bad) = Validation.validate(flat.schema, target)
    val validity = when(bad, Invalid).otherwise(Good)
    val rowClass =
      if (flat.columns.contains(corruptCol))
        when(col(corruptCol).isNotNull, Malformed).otherwise(validity)
      else validity
    // payload keys are not reserved, so the class column takes a name no
    // parsed or registered column uses (Spark resolves names case-blind)
    val taken = (flat.columns ++ target.fieldNames).map(_.toLowerCase).toSet
    val classCol = Iterator.iterate("_ingest_class")(_ + "_").find(c => !taken(c)).get
    def isClass(c: Int) = col(classCol) === c
    // count(when(...)), not count_if: count_if's rewrite adds a projection
    // that splits the append into one more codegen stage
    val classCounts = Seq(Good -> "written", Invalid -> "invalid",
      Malformed -> "malformed").map { case (c, name) => count(when(isClass(c), 1)).as(name) }

    // 5. Defaults: id (uuid1-hex analog: a random UUID as 32 hex chars)
    //    and last_modified = now (models.py:53-56). Both, and the epoch
    //    below, are batch stamps: read by reference, so a warm batch reuses
    //    the type's compiled append.
    val lm = ingestTime.map(BatchStamps.timestamp).getOrElse(BatchStamps.now())
    val withDefaults = flat.select(casts :+ rowClass.as(classCol): _*)
      .withColumn("id", coalesce(col("id").cast(StringType), BatchStamps.uuidHex()))
      .withColumn("last_modified", coalesce(col("last_modified"), lm))
      // deterministic LWW tie-break for equal last_modified: `_ingest_epoch`
      // orders BATCHES (driver-side µs wall clock, one value per sub-batch),
      // `_ingest_seq` orders rows WITHIN the batch — monotonically_
      // increasing_id is (partitionId << 33 | rowIdx), which follows source
      // order for ordered inputs (files, replayed logs), so the last message
      // of a batch wins exactly like the reference's sequential consumer
      // (consumer.py:79-83). Per-ROW expressions, not a plan-time constant;
      // numbered before the good-row filter, so quarantined rows leave gaps
      // that do not change the order.
      .withColumn("_ingest_epoch", BatchStamps.long(batchEpochMicros()))
      .withColumn("_ingest_seq", monotonically_increasing_id())

    // 6. Append to the per-type table, partitioned by the id-hash bucket
    //    (partition-key layout — point lookups prune to one bucket). Schema
    //    evolution on disk is add-only; readers use mergeSchema
    //    (Engine.table) so older files surface new columns as NULL.
    //    SIZE-AWARE (VERDICT r14 #2): micro-batch-scale sub-batches land in
    //    the L0 zone as one file (see SmallAppendRows); compaction folds
    //    them into the bucketed layout.
    val smallAppend = subTotal.exists(_ <= SmallAppendRows)
    val partCol = if (smallAppend) lit(L0Bucket) else idBucket(col("id"))
    val written = withDefaults.withColumn("_part", partCol)
    // The class counts, observed in the write's result stage: after the
    // coalesce/repartition, so they count each committed task once and add
    // no boundary inside the projection pipeline. The default name is a
    // UUID, so concurrent appends never share an observation.
    val obs = Observation()
    // WRITE-FIRST: the count comes from the append itself, so an empty
    // append is only known after it ran. Table existence is DDL state: an
    // all-quarantined FIRST batch must not leave behind the empty dir its
    // append created (an empty append to an existing table is harmless).
    val tablePath = registry.tablePath(typeId)
    val tpath = new org.apache.hadoop.fs.Path(tablePath)
    // table lock: an append racing a compaction's listing→swap window
    // would otherwise be renamed aside and deleted with the old copy
    val counts = registry.withTableLock(typeId) {
      val existedBefore = registry.fs.exists(tpath)
      // cluster rows by bucket before the partitioned write: ONE file
      // per bucket per append instead of (shuffle partitions × buckets)
      // tiny files — the small-files problem that otherwise eats a
      // table alive at 100 TB append rates (compaction still collapses
      // the per-append log over time)
      // fixed 16-way sizing, NOT repartition(col) + AQE coalescing: the
      // adaptive variant re-plans the exchange per write and measured
      // 2.2 s vs 0.56 s on a streaming-scale append (r14 A/B) — stage
      // materialization overhead dwarfs the 16 tiny task commits
      //
      // Small appends carry a single L0 partition value, so coalesce(1)
      // writes exactly one file with one commit (the upstream micro
      // batch is a handful of partitions — collapsing it costs nothing).
      // Large batches (unknown or > SmallAppendRows) keep the clustered
      // parallel write — one writer task would serialize a real bulk
      // ingest on a 1000-executor cluster.
      (if (smallAppend) written.coalesce(1)
       else written.repartition(NumIdBuckets, col("_part")))
        .observe(obs, classCounts.head, classCounts.tail: _*)
        .filter(isClass(Good)).drop(classCol)
        .write.mode("append").partitionBy("_part")
        .options(writeOptions(registry))
        .parquet(tablePath)
      // the observation is normally filled by the time the write returns;
      // a bounded wait with an exact recount behind it means a lost
      // metrics update can never hang or miscount a batch
      val counts = try Await.result(obs.future, ObservationWait)
      catch {
        case _: TimeoutException =>
          flat.select(rowClass.as(classCol))
            .agg(classCounts.head, classCounts.tail: _*).head()
      }
      if (counts.getLong(0) == 0 && !existedBefore) registry.fs.delete(tpath, true)
      counts
    }
    val n = counts.getLong(0)
    val nInvalid = counts.getLong(1)
    val nMalformed = counts.getLong(2)
    // one quarantine append for both bad classes, built only from the
    // classes this batch has: malformed rows keep their raw payload,
    // invalid rows their flattened, uncoerced values
    val quarantined =
      (if (nMalformed > 0) Seq(Validation.quarantineRecords(
        flat.filter(rowClass === Malformed).select(col(corruptCol).as("raw_payload")),
        errno = 400, message = "malformed payload")) else Nil) ++
      (if (nInvalid > 0) Seq(Validation.quarantineRecords(
        flat.filter(rowClass === Invalid).drop(corruptCol))) else Nil)
    if (quarantined.nonEmpty) writeQuarantine(registry, typeId, quarantined.reduce(_ union _))
    (n, nInvalid + nMalformed)
  }
}
