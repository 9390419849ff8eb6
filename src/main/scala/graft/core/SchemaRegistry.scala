package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** The descriptor registry: one row per type, persisted as a parquet table
  * and cached on the driver.
  *
  * Reference: `DescriptorModel` (moisturizer/models.py:111-174) persisted in
  * Cassandra, plus the consumer's driver-side dict cache
  * (moisturizer/consumer.py:15,41-55). The registry is self-describing — its
  * own schema is a row in itself (reference __init__.py:35-42).
  *
  * Scale notes: descriptor reads/writes are METADATA operations — tiny
  * DataFrames that never touch executor-scale data. The driver cache makes
  * the per-batch lookup O(1) (exactly the reference's cache), and the
  * persisted table is the restart-recovery source of truth. At 1000-executor
  * scale the registry stays driver-small (one row per *type*, not per row of
  * data).
  */
final class SchemaRegistry(spark: SparkSession, val warehouseDir: String,
                           immutableSchema: Boolean = false) {

  private val cache = TrieMap.empty[String, StructType]

  // All warehouse IO goes through the Hadoop FileSystem of the warehouse
  // path (file:, hdfs:, s3a:, ...), never java.io.File — the warehouse is
  // cluster storage, not driver-local disk. WarehouseFs picks the
  // filesystem: `fs` for driver-side metadata IO, `ioOptions` for every
  // Spark read and write under the warehouse.
  private[graft] val fs: org.apache.hadoop.fs.FileSystem =
    WarehouseFs.get(spark.sparkContext.hadoopConfiguration, warehouseDir)
  private[graft] val ioOptions: Map[String, String] =
    WarehouseFs.options(spark.sparkContext.hadoopConfiguration, warehouseDir)
  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)
  private def pathExists(s: String): Boolean = fs.exists(hpath(s))

  /** Crash-safe replace of a live dir with a fully-written tmp dir: the
    * live dir is renamed ASIDE (never deleted before its replacement is in
    * place), the tmp renamed in, then the old copy dropped. At every
    * intermediate point either `dst` or `dst.old` holds a complete copy —
    * [[healPath]] heals the one-rename window on the next access. */
  private def swapPaths(dstPath: String, tmpPath: String): Unit = {
    val dst = hpath(dstPath)
    val old = hpath(dstPath + ".old")
    // Hadoop rename signals most failures by RETURNING FALSE, not throwing —
    // every step must be checked or a failed rename silently drops the
    // write (or worse, the final delete removes the only live copy)
    def must(ok: Boolean, step: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"swap of $dstPath failed at: $step (filesystem rename returned false)")
    if (fs.exists(old)) must(fs.delete(old, true), s"delete stale $old")
    if (fs.exists(dst)) must(fs.rename(dst, old), s"rename $dst aside")
    must(fs.rename(hpath(tmpPath), dst), s"rename $tmpPath into place")
    fs.delete(old, true) // best-effort: .old is now redundant; healPath ignores it when dst exists
  }

  private def swapInDescriptors(tmpPath: String): Unit =
    swapPaths(descriptorsPath, tmpPath)

  /** Heal a crashed swap: if only the `.old` copy survives, restore it. */
  def healPath(dstPath: String): Unit = {
    val dst = hpath(dstPath)
    val old = hpath(dstPath + ".old")
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
  }

  /** Crash-safe replace of a type's physical table with a fully-written
    * replacement dir (compaction's final step). */
  def replaceTable(typeId: String, tmpPath: String): Unit =
    swapPaths(tablePath(typeId), tmpPath)

  /** Per-type write lock: serializes table-dir mutations (append writes,
    * compaction read+swap) WITHIN this JVM — without it an append landing
    * between compaction's file listing and its directory swap would be
    * renamed aside and deleted with the old copy. Cross-process writers
    * need external coordination: a plain-parquet layout has no transaction
    * log (that is Delta/Iceberg territory, out of scope per SURVEY). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withTableLock[T](typeId: String)(body: => T): T = {
    val lock = tableLocks.computeIfAbsent(typeId, _ => new Object)
    lock.synchronized(body)
  }

  /** Data files under a type's table — a recursive listing, metadata-only,
    * skipping `_`/`.` names (markers, checksum shadows). */
  private def dataFiles(typeId: String): Iterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val root = hpath(tablePath(typeId))
    if (!fs.exists(root)) return Iterator.empty
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).filter { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
  }

  /** Number of data files under a type's table (compaction-policy input). */
  def dataFileCount(typeId: String): Int = dataFiles(typeId).size

  /** Total data bytes under a type's table (compaction write-sizing input). */
  def dataBytes(typeId: String): Long = dataFiles(typeId).map(_.getLen).sum

  private def recoverIfNeeded(): Unit = healPath(descriptorsPath)

  private def descriptorsPath = s"$warehouseDir/descriptors"

  /** Defense-in-depth behind Codecs.unwrap's dead-letter gate: typeId lands
    * in filesystem paths (and drop() recursively DELETES the resolved path),
    * so a non-identifier must never reach path construction. */
  private def checkTypeId(typeId: String): String = {
    require(typeId != null && typeId.matches(graft.sources.Codecs.TypeIdPattern),
      s"invalid type_id for path construction: '$typeId'")
    typeId
  }
  def tablePath(typeId: String): String =
    s"$warehouseDir/tables/${checkTypeId(typeId)}"
  def quarantinePath(typeId: String): String =
    s"$warehouseDir/quarantine/${checkTypeId(typeId)}"

  /** Bootstrap: create the descriptors table seeded with its own descriptor
    * (self-describing root, reference __init__.py:20-42). Idempotent. */
  def bootstrap(): Unit = {
    recoverIfNeeded()
    if (!pathExists(descriptorsPath)) {
      val self = Types.descriptorsTableSchema
      writeDescriptor("descriptor_model", self)
    }
    loadAll()
  }

  // --- descriptor persistence: driver-side JSON over the Hadoop FS --------
  //
  // The registry is METADATA — one row per type. Persisting it through
  // Spark parquet jobs cost 4-6 driver-blocking jobs per ingest batch
  // (read-merge-write on every evolve, read+collect on every bootstrap) —
  // the single biggest share of the engine keys' fixed overhead. The store
  // is now a JSON-lines file written/read directly through the Hadoop
  // FileSystem (file:/hdfs:/s3a:), microseconds instead of jobs, under the
  // SAME crash-safe write-new → rename-aside → swap-in discipline (the
  // `descriptors` path stays a directory so swap/heal are unchanged).

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def registryFile(dir: String) = s"$dir/registry.json"

  private def readRows(dir: String): Seq[(String, Long, Seq[(String, FieldDescriptor)])] = {
    val f = hpath(registryFile(dir))
    if (!fs.exists(f)) {
      // A descriptors dir WITHOUT the registry file is a foreign or
      // legacy-format store (e.g. the pre-r11 parquet encoding). Treating
      // it as empty would be destructive: the next writeDescriptor swaps
      // the whole dir, silently wiping every previously registered type.
      // Fail loud instead — an empty registry is only the ABSENT-dir case.
      val occupants = Option(fs.listStatus(hpath(dir))).getOrElse(Array.empty)
        .filterNot(_.getPath.getName.startsWith("."))
      require(occupants.isEmpty,
        s"descriptor store at $dir exists but holds no ${registryFile(dir)} — " +
          "foreign or legacy-format registry; refusing to read it as empty " +
          s"(found: ${occupants.take(5).map(_.getPath.getName).mkString(", ")})")
      return Nil
    }
    val in = fs.open(f)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val node = jsonMapper.readTree(line)
      val props = node.get("properties")
      val fields = props.fieldNames()
      val buf = scala.collection.mutable.ArrayBuffer[(String, FieldDescriptor)]()
      while (fields.hasNext) {
        val name = fields.next()
        val d = props.get(name)
        buf += name -> FieldDescriptor(
          jsonType = d.get("json_type").asText(),
          format = Option(d.get("format")).filterNot(_.isNull).map(_.asText()),
          primaryKey = d.get("primary_key").asBoolean(),
          partitionKey = d.get("partition_key").asBoolean(),
          required = d.get("required").asBoolean(),
          index = d.get("index").asBoolean())
      }
      (node.get("id").asText(), node.get("last_modified_us").asLong(), buf.toSeq)
    }
  }

  private def writeRows(dir: String,
                        rows: Seq[(String, Long, Seq[(String, FieldDescriptor)])]): Unit = {
    val sb = new java.lang.StringBuilder
    rows.sortBy(_._1).foreach { case (id, lmUs, props) =>
      val node = jsonMapper.createObjectNode()
      node.put("id", id)
      node.put("last_modified_us", lmUs)
      val p = node.putObject("properties")
      props.sortBy(_._1).foreach { case (name, d) =>
        val o = p.putObject(name)
        o.put("json_type", d.jsonType)
        d.format match { case Some(fm) => o.put("format", fm); case None => o.putNull("format") }
        o.put("primary_key", d.primaryKey)
        o.put("partition_key", d.partitionKey)
        o.put("required", d.required)
        o.put("index", d.index)
      }
      sb.append(jsonMapper.writeValueAsString(node)).append('\n')
    }
    fs.mkdirs(hpath(dir))
    val out = fs.create(hpath(registryFile(dir)), true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def schemaOfFields(props: Seq[(String, FieldDescriptor)]): StructType = {
    val fields = props.sortBy(_._1).map { case (name, d) => d.toStructField(name) }
    // meta fields first, matching withMetaFields ordering
    Types.withMetaFields(StructType(fields))
  }

  /** Modification time of the persisted store at the last cache load —
    * the staleness signal for a SECOND registry instance on the same
    * path: instance A's evolve changes the file's mtime, so instance B's
    * next [[refreshIfStale]] reloads before serving or merging against a
    * stale schema (pre-r11, mergeSchema reads hid this; the explicit
    * registry-schema read makes freshness the registry's job). Sub-mtime-
    * granularity cross-process races remain theoretical on real stores. */
  private val loadedMtime = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def storeMtime(): Long = {
    val f = hpath(registryFile(descriptorsPath))
    if (fs.exists(f)) fs.getFileStatus(f).getModificationTime else -1L
  }

  /** Reload the cache iff another instance changed the persisted store
    * since our last load. One getFileStatus when fresh. IN-PLACE upsert +
    * prune, never clear-then-load: a cleared window would let a
    * concurrent getOrCreate re-create a live type with an empty schema.
    * Shares the monitor with writeDescriptor, so a refresh never races a
    * local persist.
    *
    * A MISSING or mid-read-vanishing store never prunes: the descriptors
    * dir is legitimately absent during another instance's swap window
    * (between rename-aside and rename-in) — treating that as an empty
    * registry would drop every cached type, and a concurrent getOrCreate
    * could then re-persist a live type with an empty meta-only schema,
    * permanently losing evolved columns. Prune only after a successful
    * read of a PRESENT store; otherwise keep the cache and leave the
    * staleness marker untouched so the next call retries. */
  def refreshIfStale(): Unit = {
    val m = storeMtime()
    if (m != loadedMtime.get()) synchronized {
      if (m != loadedMtime.get()) {
        // (mtime-of-read, rows) — mtime captured immediately BEFORE the
        // read: if another swap lands between read and stamp, the mismatch
        // costs one spurious refresh, never permanent staleness
        def tryRead(): Option[(Long, Seq[(String, Long, Seq[(String, FieldDescriptor)])])] =
          try {
            if (!pathExists(descriptorsPath)) None
            else { val pre = storeMtime(); Some((pre, readRows(descriptorsPath))) }
          } catch { case _: java.io.FileNotFoundException => None }
        tryRead().orElse { healPath(descriptorsPath); tryRead() } match {
          case Some((pre, rows)) =>
            val fresh: Map[String, StructType] =
              rows.map { case (id, _, props) => id -> schemaOfFields(props) }.toMap
            fresh.foreach { case (k, v) => cache.put(k, v) }
            cache.keys.filterNot(fresh.contains).foreach(cache.remove)
            loadedMtime.set(pre)
          case None => // transient swap window: serve the cache as-is
        }
      }
    }
  }

  private def loadAll(): Unit = {
    if (pathExists(descriptorsPath)) {
      readRows(descriptorsPath).foreach { case (id, _, props) =>
        cache.put(id, schemaOfFields(props))
      }
    }
    loadedMtime.set(storeMtime())
  }

  /** Serialize a StructType to a descriptors row and upsert it.
    * Synchronized: concurrent per-type ingest threads (Ingest parallelism)
    * must not interleave the read-modify-write of the descriptors store.
    * Re-reads the persisted store (not the cache) so a second registry
    * instance on the same path never loses rows it didn't load. */
  private def writeDescriptor(typeId: String, schema: StructType): Unit = synchronized {
    // a crashed earlier swap leaves only `.old` — reading that state as an
    // absent store would rewrite the registry with ONLY this type's row
    healPath(descriptorsPath)
    val props = schema.fields.toSeq.map(f => f.name -> Types.fromStructField(f))
    val nowUs = { val i = java.time.Instant.now()
      i.getEpochSecond * 1000000L + i.getNano / 1000L }
    val existing =
      if (pathExists(descriptorsPath))
        readRows(descriptorsPath).filterNot(_._1 == typeId)
      else Nil
    // the write targets `.tmp`, never the path being read; the swap happens
    // only after it completes
    writeRows(descriptorsPath + ".tmp", existing :+ ((typeId, nowUs, props)))
    swapInDescriptors(descriptorsPath + ".tmp")
    // our own write: the caller updates the cache entry in step, so only
    // the staleness marker needs to move (avoids a spurious full reload)
    loadedMtime.set(storeMtime())
  }

  /** Descriptor lookup with create-if-missing (reference consumer.py:41-55,
    * models.py:155-166): cache → table → create empty (meta fields only). */
  def getOrCreate(typeId: String): StructType = {
    refreshIfStale()
    cache.getOrElseUpdate(typeId, {
      if (immutableSchema)
        throw new IllegalStateException(
          s"immutable_schema: unknown type '$typeId'") // reference __init__.py:68-74
      val schema = Types.withMetaFields(StructType(Nil))
      writeDescriptor(typeId, schema)
      schema
    })
  }

  def get(typeId: String): Option[StructType] = cache.get(typeId)
  def knownTypes: Seq[String] = cache.keys.toSeq.sorted

  /** Add-only evolution (reference models.py:138-153): merge newly-inferred
    * fields into the registered schema, persist, refresh cache. No-op when
    * nothing is new or the registry is immutable. A first-seen type is
    * persisted ONCE with its full inferred schema (not empty-then-evolved —
    * every descriptor write is a read-merge-swap of the registry table, so
    * collapsing the two writes halves the metadata cost of new types). */
  def evolve(typeId: String, incoming: StructType): StructType = synchronized {
    checkTypeId(typeId) // never persist a descriptor for a non-identifier id
    refreshIfStale() // merge against another instance's evolves, not a stale cache
    val known = cache.contains(typeId)
    val current = cache.getOrElse(typeId, {
      if (immutableSchema)
        throw new IllegalStateException(
          s"immutable_schema: unknown type '$typeId'") // reference __init__.py:68-74
      Types.withMetaFields(StructType(Nil))
    })
    val merged = Inference.mergeAddOnly(current, incoming)
    if (!known || merged.length != current.length) {
      if (known && immutableSchema)
        throw new IllegalStateException(
          s"immutable_schema: cannot evolve '$typeId'")
      writeDescriptor(typeId, merged)
      cache.put(typeId, merged)
    }
    merged
  }

  /** Drop a type: delete its descriptor row and physical table
    * (reference models.py:176-182). */
  def drop(typeId: String): Unit = synchronized {
    checkTypeId(typeId) // before ANY side effect: drop deletes the resolved path
    cache.remove(typeId)
    if (pathExists(descriptorsPath)) {
      writeRows(descriptorsPath + ".tmp",
        readRows(descriptorsPath).filterNot(_._1 == typeId))
      swapInDescriptors(descriptorsPath + ".tmp")
      loadedMtime.set(storeMtime())
    }
    fs.delete(hpath(tablePath(typeId)), true)
  }

  /** The descriptors table as a DataFrame (for catalog queries) — built
    * from the persisted store; same schema the parquet encoding carried. */
  def descriptorsDf: DataFrame = {
    val rows: Seq[Row] = readRows(descriptorsPath).map { case (id, lmUs, props) =>
      Row(id, new java.sql.Timestamp(lmUs / 1000L),
        props.map { case (n, d) =>
          n -> Row(d.jsonType, d.format.orNull, d.primaryKey, d.partitionKey,
            d.required, d.index)
        }.toMap)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      Types.descriptorsTableSchema)
  }
}
