package graft.core

import graft.SparkSpec
import graft.sources.Codecs
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end engine behavior mirroring the reference's test suite semantics
  * (SURVEY §5.2): infer→create round-trip, add-a-field evolution,
  * type-conflict quarantine, LWW overwrite, null-drop. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")

  private def freshEngine() = Engine.bootstrap(spark, tmpDir("graft-wh"))

  private def env(msgs: String*) = msgs.toDF("message")

  test("infer -> create -> read round-trip with defaults") {
    val h = freshEngine()
    val report = h.ingest(env(
      """{"type_id":"t1","data":{"field":"foo","n":42,"f":42.42,"b":true}}"""),
      ingestTime = Some(t0))
    assert(report.perType === Map("t1" -> 1L))
    val df = h.table("t1")
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(schema("field") === StringType)
    assert(schema("n") === LongType)
    assert(schema("f") === DoubleType)
    assert(schema("b") === BooleanType)
    val row = df.collect().head
    assert(row.getAs[String]("id") != null) // auto uuid
    assert(row.getAs[java.sql.Timestamp]("last_modified") === t0)
    // generated ids are 32 lowercase hex chars, distinct across the
    // partitions of a batch and across batches
    def idless(from: Int) = spark.range(from, from + 200, 1, 4).select(concat(
      lit("""{"type_id":"u","data":{"n":"""), col("id").cast("string"), lit("}}")).as("message"))
    h.ingest(idless(0))
    h.ingest(idless(200))
    val ids = h.table("u").select("id").as[String].collect()
    assert(ids.length === 400 && ids.distinct.length === 400)
    assert(ids.forall(_.matches("[0-9a-f]{32}")), ids.take(3).mkString(","))
  }

  test("write-gated ingest: denied types quarantine with the 403 error; " +
      "the rest of the batch continues (VERDICT r18 #3, ref tests/test_views.py:79-118)") {
    val h = freshEngine()
    // t1 exists (created ungated); t_new does not
    h.ingest(env("""{"type_id":"t1","data":{"id":"seed","v":1}}"""),
      ingestTime = Some(t0))
    val perms = graft.operators.Permissions.table(spark, Seq(
      ("u", "t1", true, false, false), // read-only: writes deny
      ("u", "t_ok", true, true, true))) // may create t_ok
    val report = h.ingestAs("u", perms, env(
      """{"type_id":"t1","data":{"id":"a","v":2}}""", // exists, no can_write
      """{"type_id":"t_new","data":{"id":"b"}}""", // new, no can_create
      """{"type_id":"t_ok","data":{"id":"c","v":3}}"""), // new, can_create
      ingestTime = Some(t1))
    // continue-on-deny: the admitted type ingested normally
    assert(report.perType === Map("t_ok" -> 1L))
    assert(report.quarantined === 2L)
    assert(h.table("t_ok").count() === 1L)
    // the denied write never reached t1 (seed row untouched, LWW unbumped)
    val t1rows = h.table("t1").collect()
    assert(t1rows.length === 1 && t1rows.head.getAs[String]("id") === "seed")
    // structured 403 error shape in each type's quarantine
    val q1 = spark.read.parquet(h.registry.quarantinePath("t1")).collect()
    assert(q1.length === 1)
    assert(q1.head.getAs[Int]("errno") === 403)
    assert(q1.head.getAs[String]("error") === "WriteForbidden")
    // row_json nests the raw payload as an escaped JSON string
    assert(q1.head.getAs[String]("row_json").contains("\\\"id\\\":\\\"a\\\""))
    val qn = spark.read.parquet(h.registry.quarantinePath("t_new")).collect()
    assert(qn.length === 1)
    assert(qn.head.getAs[String]("error") === "CreateForbidden")
    // the denied type was never created
    assert(!h.registry.knownTypes.contains("t_new"))
    // duplicate (user, type) grant rows collapse by OR on the INGEST
    // path too (r19 review: .toMap was partition-order last-wins) — a
    // deny row + a grant row must admit deterministically
    val dupPerms = graft.operators.Permissions.table(spark, Seq(
      ("u", "t1", false, false, false),
      ("u", "t1", false, false, true)))
    val dupReport = h.ingestAs("u", dupPerms, env(
      """{"type_id":"t1","data":{"id":"dup","v":9}}"""), ingestTime = Some(t1))
    assert(dupReport.perType === Map("t1" -> 1L))
    assert(dupReport.quarantined === 0L)
  }

  test("mass-deny batch: every denied type quarantines (concurrent fan-out, " +
      "VERDICT r19 #5); admitted types still land") {
    val h = freshEngine()
    val perms = graft.operators.Permissions.table(spark, Seq(
      ("u", "t_ok", true, true, true))) // everything else denies
    val report = h.ingestAs("u", perms, env(
      """{"type_id":"d1","data":{"id":"a"}}""",
      """{"type_id":"d2","data":{"id":"b"}}""",
      """{"type_id":"d3","data":{"id":"c"}}""",
      """{"type_id":"d3","data":{"id":"c2"}}""",
      """{"type_id":"t_ok","data":{"id":"ok"}}"""), ingestTime = Some(t0))
    assert(report.perType === Map("t_ok" -> 1L))
    assert(report.quarantined === 4L)
    for (t <- Seq("d1", "d2", "d3")) {
      val qs = spark.read.parquet(h.registry.quarantinePath(t)).collect()
      assert(qs.length === (if (t == "d3") 2 else 1), s"quarantine of $t")
      assert(qs.forall(_.getAs[Int]("errno") === 403))
      assert(qs.forall(_.getAs[String]("error") === "CreateForbidden"))
      assert(!h.registry.knownTypes.contains(t))
    }
    // a failed 403 write fails the batch before any admitted type appends:
    // a file where d4's quarantine directory goes makes its write fail
    h.registry.fs.create(new org.apache.hadoop.fs.Path(
      h.registry.quarantinePath("d4"))).close()
    intercept[Exception](h.ingestAs("u", perms, env(
      """{"type_id":"d4","data":{"id":"x"}}""",
      """{"type_id":"t_ok","data":{"id":"ok2"}}"""), ingestTime = Some(t1)))
    assert(h.table("t_ok").collect().map(_.getAs[String]("id")).toSeq === Seq("ok"))
  }

  test("add-a-field evolves schema add-only; old rows read as null") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","field":"foo"}}"""), ingestTime = Some(t0))
    h.ingest(env("""{"type_id":"t","data":{"id":"b","field":"x","field2":"bar"}}"""), ingestTime = Some(t0))
    val df = h.table("t")
    assert(df.columns.contains("field2"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[String]("field2") == null)
    assert(rows(1).getAs[String]("field2") === "bar")
    // registry agrees
    assert(h.registry.get("t").get.fieldNames.contains("field2"))
  }

  test("type conflict quarantines the row, never widens (ref tests/test_models.py:65-83)") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","n":42}}"""), ingestTime = Some(t0))
    val r2 = h.ingest(env("""{"type_id":"t","data":{"id":"b","n":"bar"}}"""), ingestTime = Some(t0))
    assert(r2.quarantined === 1L)
    assert(r2.perType("t") === 0L)
    val df = h.table("t")
    assert(df.schema("n").dataType === LongType) // not widened
    assert(df.count() === 1L)
    // int into a float column DOES fit (colander coercion accepts it)
    val r3 = h.ingest(env("""{"type_id":"t","data":{"id":"c","n":7}}"""), ingestTime = Some(t1))
    assert(r3.perType("t") === 1L)
  }

  test("LWW upsert: same id overwrites; last_modified bumps (ref PUT semantics)") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":1}}"""), ingestTime = Some(t0))
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":2}}"""), ingestTime = Some(t1))
    val df = h.table("t")
    assert(df.count() === 1L)
    val row = df.collect().head
    assert(row.getAs[Long]("v") === 2L)
    assert(row.getAs[java.sql.Timestamp]("last_modified") === t1)
    assert(h.tableLog("t").count() === 2L) // append log keeps history
    // compaction collapses the log to the LWW view
    val compactPath = tmpDir("graft-compact")
    graft.operators.Upserts.compact(
      h.tableLog("t"), Seq("id"), "last_modified", compactPath + "/t")
    val compacted = spark.read.parquet(compactPath + "/t")
    assert(compacted.count() === 1L)
    assert(compacted.collect().head.getAs[Long]("v") === 2L)
  }

  test("within-batch LWW tie: equal (id, last_modified) -> later message wins " +
      "(ref sequential consumer order, consumer.py:79-83)") {
    val h = freshEngine()
    // one batch, same id, same explicit last_modified, different payloads —
    // a plan-time-constant _ingest_seq would pick a nondeterministic winner
    val r = h.ingest(env(
      """{"type_id":"t","data":{"id":"a","v":1,"last_modified":"2024-01-01T00:00:00Z"}}""",
      """{"type_id":"t","data":{"id":"a","v":2,"last_modified":"2024-01-01T00:00:00Z"}}""",
      """{"type_id":"t","data":{"id":"a","v":3,"last_modified":"2024-01-01T00:00:00Z"}}"""))
    assert(r.perType("t") === 3L)
    val served = h.table("t").collect()
    assert(served.length === 1)
    assert(served.head.getAs[Long]("v") === 3L) // the LAST message of the batch
    // and a LATER batch with the same (id, last_modified) beats the earlier one
    h.ingest(env(
      """{"type_id":"t","data":{"id":"a","v":9,"last_modified":"2024-01-01T00:00:00Z"}}"""))
    assert(h.table("t").collect().head.getAs[Long]("v") === 9L)
    // serving view no longer exposes the ingest bookkeeping columns
    assert(!h.table("t").columns.exists(c => c.startsWith("_ingest")))
  }

  test("nested objects flatten to __ columns; nulls never create columns") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","a":{"b":1},"z":null}}"""), ingestTime = Some(t0))
    val df = h.table("t")
    assert(df.columns.contains("a__b"))
    assert(!df.columns.contains("z")) // null dropped before inference
    assert(df.collect().head.getAs[Long]("a__b") === 1L)
  }

  test("missing type_id is dead-lettered; null data is {} (ref consumer.py:33-39)") {
    val h = freshEngine()
    val r = h.ingest(env(
      """{"data":{"x":1}}""",
      """{"type_id":"t","data":null}"""), ingestTime = Some(t0))
    assert(r.deadLetters === 1L)
    assert(r.perType("t") === 1L) // empty payload row still written with defaults
  }

  test("msgpack decode with JSON fallback (ref consumer.py:24-31)") {
    // {"type_id":"mp","data":{"k":7}} in msgpack:
    // fixmap2, fixstr"type_id", fixstr"mp", fixstr"data", fixmap1, fixstr"k", 7
    val mp: Array[Byte] = Array[Byte](
      0x82.toByte,
      0xa7.toByte, 't', 'y', 'p', 'e', '_', 'i', 'd',
      0xa2.toByte, 'm', 'p',
      0xa4.toByte, 'd', 'a', 't', 'a',
      0x81.toByte, 0xa1.toByte, 'k', 0x07)
    assert(Codecs.msgpackToJson(mp) === Some("""{"type_id":"mp","data":{"k":7}}"""))
    // JSON bytes fall through msgpack to the JSON branch
    val js = """{"type_id":"j","data":{}}""".getBytes("UTF-8")
    assert(Codecs.decodeMessage(js) === """{"type_id":"j","data":{}}""")
    // garbage -> null
    assert(Codecs.decodeMessage(Array[Byte](0xc1.toByte)) == null)

    val h = freshEngine()
    val df = Seq(mp, js).toDF("value")
      .withColumn("message", Codecs.decodeMessageUdf(col("value")))
    val r = h.ingest(df, ingestTime = Some(t0))
    assert(r.perType.keySet === Set("mp", "j"))
  }

  test("serving json unflattens and strips nulls (ref schemas.py:42-55)") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","a":{"b":1},"s":"x"}}"""), ingestTime = Some(t0))
    val out = h.toServingJson(h.table("t").drop("last_modified")).collect().head.getString(0)
    assert(out.contains(""""a":{"b":1}"""))
    assert(out.contains(""""s":"x""""))
  }

  test("traversal-shaped type_id dead-letters; no path escapes the warehouse") {
    val wh = tmpDir("graft-wh-sec")
    val h = Engine.bootstrap(spark, wh)
    val marker = tmpDir("graft-outside") // a sibling dir a traversal could hit
    val r = h.ingest(env(
      """{"type_id":"../../x","data":{"id":"a","v":1}}""",
      """{"type_id":"ok_type-1","data":{"id":"b","v":2}}"""), ingestTime = Some(t0))
    assert(r.deadLetters === 1L)
    assert(r.perType === Map("ok_type-1" -> 1L))
    assert(h.registry.knownTypes.forall(_.matches(graft.sources.Codecs.TypeIdPattern)))
    // nothing was created outside the warehouse tables dir
    val tables = new java.io.File(s"$wh/tables").listFiles()
    assert(tables == null || tables.forall(_.getName.matches("[A-Za-z0-9_-]+")))
    assert(new java.io.File(marker).exists()) // sibling untouched
    // and the registry refuses to build (or delete!) a traversal path
    intercept[IllegalArgumentException] { h.registry.tablePath("../../x") }
    intercept[IllegalArgumentException] { h.registry.drop("../../x") }
  }

  test("registry restart preserves array element types; later appends don't poison") {
    val wh = tmpDir("graft-wh-arr")
    val h = Engine.bootstrap(spark, wh)
    h.ingest(env("""{"type_id":"t","data":{"id":"a","tags":[1,2,3],"xs":[1.5,2.5]}}"""),
      ingestTime = Some(t0))
    assert(h.table("t").schema("tags").dataType === ArrayType(LongType))
    // fresh registry over the same warehouse — the persisted-descriptor path
    val h2 = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh); r.bootstrap(); r })
    assert(h2.registry.get("t").get("tags").dataType === ArrayType(LongType))
    assert(h2.registry.get("t").get("xs").dataType === ArrayType(DoubleType))
    // second batch through the RELOADED registry: same array types appended,
    // mergeSchema read stays healthy
    h2.ingest(env("""{"type_id":"t","data":{"id":"b","tags":[7],"xs":[9.5]}}"""),
      ingestTime = Some(t1))
    val df = h2.table("t")
    assert(df.count() === 2)
    assert(df.schema("tags").dataType === ArrayType(LongType))
    assert(df.filter(col("id") === "b").collect().head
      .getAs[Seq[Long]]("tags") === Seq(7L))
    // array-of-struct fields (JSON arrays of objects) round-trip the
    // descriptor codec too: catalogString "struct<...>" element encoding
    h2.ingest(env("""{"type_id":"t2","data":{"id":"a","objs":[{"a":1,"b":"x"}]}}"""),
      ingestTime = Some(t0))
    val h3 = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh); r.bootstrap(); r })
    val objsType = h3.registry.get("t2").get("objs").dataType
    assert(objsType.isInstanceOf[ArrayType] &&
      objsType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType],
      s"objs reloaded as $objsType")
    h3.ingest(env("""{"type_id":"t2","data":{"id":"b","objs":[{"a":2,"b":"y"}]}}"""),
      ingestTime = Some(t1))
    assert(h3.table("t2").count() === 2)
  }

  /** Distinct write-job ids in the parquet file names under `dir`: one
    * per append (FileOutputCommitter names files part-NNNNN-<job uuid>). */
  private def appendJobs(dir: String): Set[String] = {
    val part = "part-\\d+-([0-9a-f-]{36}).*".r
    new java.io.File(dir).listFiles().map(_.getName)
      .collect { case part(job) => job }.toSet
  }

  test("malformed payloads get a dead-letter copy in quarantine, not a silent drop") {
    val h = freshEngine()
    // `_ingest_class` is an ordinary payload key: stored as data, on the
    // first batch and on every later one
    h.ingest(env("""{"type_id":"t","data":{"id":"s","v":0,"_ingest_class":"x"}}"""),
      ingestTime = Some(t0))
    val r = h.ingest(env(
      """{"type_id":"t","data":{"id":"a","v":1,"_ingest_class":"y"}}""",
      """{"type_id":"t","data":5}""", // scalar data -> corrupt JSON row
      """{"type_id":"t","data":{"id":"b","v":"bad"}}"""), // v is registered long
      ingestTime = Some(t0))
    assert(r === Ingest.Report(Map("t" -> 1L), deadLetters = 0L, quarantined = 2L))
    // both bad classes land in ONE quarantine append
    assert(appendJobs(h.registry.quarantinePath("t")).size === 1)
    val q = spark.read.parquet(h.registry.quarantinePath("t")).collect()
      .sortBy(_.getAs[Int]("errno"))
    assert(q.map(_.getAs[Int]("errno")).toSeq === Seq(400, 999))
    val Array(malformed, invalid) = q
    assert(malformed.getAs[String]("row_json") === """{"raw_payload":"5"}""") // raw payload preserved
    assert(malformed.getAs[String]("message") === "malformed payload")
    assert(invalid.getAs[String]("row_json") === """{"id":"b","v":"bad"}""")
    assert(invalid.getAs[String]("message") === "validation failed")
    assert(q.forall(_.getAs[String]("error") === "Invalid parameters"))
    assert(q.forall(_.getAs[String]("type_id") === "t"))
    assert(h.table("t").orderBy("id").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("_ingest_class")).toSeq ===
      Seq("a" -> "y", "s" -> "x"))
  }

  test("registry runs on the Hadoop FileSystem API (explicit file: scheme)") {
    val wh = "file:" + tmpDir("graft-wh-fs")
    val h = Engine.bootstrap(spark, wh, overrideWarehouse = true)
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":1}}"""), ingestTime = Some(t0))
    assert(h.table("t").count() === 1L)
    // restart-reload over the same URI-style path
    val h2 = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh); r.bootstrap(); r })
    assert(h2.registry.get("t").isDefined)
    h2.ingest(env("""{"type_id":"t","data":{"id":"b","v":2}}"""), ingestTime = Some(t1))
    assert(h2.table("t").count() === 2L)
    // crash-window recovery: simulate a crash between the two renames
    // (descriptors moved aside, replacement not yet in place)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$wh/descriptors"),
      new org.apache.hadoop.fs.Path(s"$wh/descriptors.old"))
    val h3 = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh); r.bootstrap(); r })
    assert(h3.registry.get("t").isDefined) // healed from .old
    assert(h3.table("t").count() === 2L)
  }

  test("partition-key layout: small appends land in L0 as one file; compaction buckets by id hash; point lookup prunes partitions") {
    val h = freshEngine()
    h.ingest(env((1 to 40).map(i =>
      s"""{"type_id":"t","data":{"id":"k$i","v":$i}}"""): _*), ingestTime = Some(t0))
    // micro-batch-scale append: ONE L0 partition dir, ONE data file (the
    // LSM delta zone — no 16-way write amplification per micro append)
    val tableDir = new java.io.File(h.registry.tablePath("t"))
    val dirs0 = tableDir.listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs0.toSeq === Seq(s"_part=${graft.core.Ingest.L0Bucket}"))
    val l0Files = new java.io.File(tableDir, dirs0.head).listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(l0Files.length === 1)
    // point lookup against the uncompacted table is still correct
    assert(h.get("t", "k7").collect().map(_.getAs[Long]("v")).toSeq === Seq(7L))
    // compaction folds L0 into the id-hash buckets
    h.compact("t")
    val dirs = tableDir.listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("_part=")))
    assert(dirs.length > 1) // 40 ids spread over several of the 16 buckets
    assert(!dirs.contains(s"_part=${graft.core.Ingest.L0Bucket}")) // L0 folded away
    // point lookup: correct row AND a partition filter in the scan
    val got = h.get("t", "k7")
    assert(got.collect().map(_.getAs[Long]("v")).toSeq === Seq(7L))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_part"),
      "expected a _part partition filter in the scan:\n" + plan)
    // serving views never expose the layout column
    assert(!h.table("t").columns.contains("_part"))
    assert(!got.columns.contains("_part"))
  }

  test("bulk appends (> SmallAppendRows) write the bucketed layout directly, no L0") {
    // the declared sf-test ingests are all micro-batch scale and take the
    // L0 path — this is the only coverage of the bulk clustered write
    val h = freshEngine()
    val n = Ingest.SmallAppendRows + 1
    // a few invalid (last_modified registers as a timestamp) and malformed
    // rows ride along: the class counts are observed after the bucket
    // exchange
    val invalid = (1 to 3).map(i =>
      s"""{"type_id":"t","data":{"id":"bad$i","v":$i,"last_modified":"never"}}""")
    val malformed = Seq("""{"type_id":"t","data":5}""", """{"type_id":"t","data":"x"}""")
    val envelopes = spark.range(n).select(concat(
      lit("""{"type_id":"t","data":{"id":"k"""), col("id"),
      lit("""","v":"""), col("id"), lit("}}")).as("message"))
      .union(env(invalid ++ malformed: _*))
    val r = h.ingest(envelopes, ingestTime = Some(t0))
    assert(r.perType === Map("t" -> n) && r.quarantined === 5L)
    val q = spark.read.parquet(h.registry.quarantinePath("t"))
      .groupBy("errno").count().collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    assert(q === Map(400 -> 2L, 999 -> 3L))
    val dirs = new java.io.File(h.registry.tablePath("t"))
      .listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(!dirs.contains(s"_part=${Ingest.L0Bucket}"), "bulk append must not land in L0")
    assert(dirs.length === Ingest.NumIdBuckets) // 100k ids cover all 16 buckets
    assert(h.table("t").count() === n)
    // point lookup prunes to one bucket dir and LWW-reads the right row
    assert(h.get("t", "k77").collect().head.getAs[Long]("v") === 77L)
  }

  test("compact collapses the log in place; pruned lookups and later LWW appends survive") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":1}}""",
      """{"type_id":"t","data":{"id":"b","v":2}}"""), ingestTime = Some(t0))
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":3}}"""), ingestTime = Some(t1))
    assert(h.tableLog("t").count() === 3L)
    val before = h.table("t").orderBy("id").collect().map(r =>
      (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq

    // a micro-scale table compacts on the interpreted session
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    h.compact("t")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "a small-table compaction compiles no classes")
    assert(h.tableLog("t").count() === 2L) // log collapsed to live rows
    // one file per non-empty id bucket, and the L0 zone folded away
    assert(bucketFiles(h, "t") === oneFilePerBucket(Seq("a", "b")))
    val after = h.table("t").orderBy("id").collect().map(r =>
      (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq
    assert(after === before)
    // partition layout preserved: lookups still prune
    val plan = h.get("t", "a").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_part"))
    assert(h.get("t", "a").collect().head.getAs[Long]("v") === 3L)
    // a LATER append still LWW-wins over compacted rows
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":9}}"""),
      ingestTime = Some(java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
    assert(h.get("t", "a").collect().head.getAs[Long]("v") === 9L)
    // a rewrite follows the session's settings when it runs, also on the
    // interpreted session an earlier compaction made: a codec set (then
    // unset) afterwards names the rewritten files
    val codec = "spark.sql.parquet.compression.codec"
    def names = partFiles(h, "t").map(_._2)
    val prev = spark.conf.getOption(codec)
    spark.conf.set(codec, "gzip")
    try h.compact("t") finally prev.fold(spark.conf.unset(codec))(spark.conf.set(codec, _))
    assert(names.nonEmpty && names.forall(_.endsWith(".gz.parquet")), names.mkString(","))
    h.compact("t")
    assert(names.nonEmpty && !names.exists(_.endsWith(".gz.parquet")), names.mkString(","))
  }

  /** (partition dir, file name) of each parquet part file of a type's table. */
  private def partFiles(h: Engine.Handle, typeId: String): Seq[(String, String)] =
    new java.io.File(h.registry.tablePath(typeId)).listFiles().toSeq
      .filter(_.isDirectory).flatMap(d => d.listFiles().map(d.getName -> _.getName))
      .filter { case (_, f) => f.startsWith("part-") && f.endsWith(".parquet") }

  /** Parquet part files per partition directory of a type's table. */
  private def bucketFiles(h: Engine.Handle, typeId: String): Map[String, Int] = {
    val files = partFiles(h, typeId)
    new java.io.File(h.registry.tablePath(typeId)).listFiles()
      .filter(_.isDirectory).map(d => d.getName -> files.count(_._1 == d.getName)).toMap
  }

  /** The layout a compaction leaves for `ids`: one file per id bucket. */
  private def oneFilePerBucket(ids: Seq[String]): Map[String, Int] =
    ids.toDF("id").select(Ingest.idBucket(col("id"))).as[Long].collect()
      .toSet.map((b: Long) => s"_part=$b" -> 1).toMap

  test("compact of a table past the interpreted bound runs generated code " +
      "and leaves the same layout and LWW winners") {
    val h = freshEngine()
    // 40k ids with a 64-hex-char pad each; the second batch rewrites the
    // upper half later
    val n = 40000
    def batch(from: Int, v: Int) = spark.range(from, n, 1, 4).select(concat(
      lit("""{"type_id":"big","data":{"id":"k"""), col("id").cast("string"),
      lit(s"""","big_v":$v,"big_pad":""""), sha2(col("id").cast("string"), 256),
      lit("\"}}")).as("message"))
    h.ingest(batch(0, 1), ingestTime = Some(t0))
    h.ingest(batch(n / 2, 2), ingestTime = Some(t1))
    assert(h.registry.dataBytes("big") >= Engine.InterpretedRewriteBytes)

    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    h.compact("big")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > compiles,
      "a table past the bound compacts on the code-generating session")
    assert(h.tableLog("big").count() === n.toLong) // log collapsed to live rows
    assert(bucketFiles(h, "big") === oneFilePerBucket((0 until n).map(i => s"k$i")))
    val winners = h.table("big").groupBy("big_v").count().as[(Long, Long)].collect().toMap
    assert(winners === Map(1L -> n / 2, 2L -> n / 2))
    assert(h.get("big", s"k${n - 1}").select("big_v").as[Long].collect() === Array(2L))
  }

  test("compactIfNeeded triggers on file count only (metadata policy)") {
    val h = freshEngine()
    (1 to 4).foreach { i =>
      h.ingest(env(s"""{"type_id":"t","data":{"id":"a","v":$i}}"""), ingestTime = Some(t0))
    }
    val before = h.registry.dataFileCount("t")
    assert(before >= 4) // one file per append at minimum
    assert(!h.compactIfNeeded("t", maxFiles = 1000)) // under threshold: no-op
    assert(h.registry.dataFileCount("t") === before)
    assert(h.compactIfNeeded("t", maxFiles = 2)) // over threshold: compacts
    assert(h.registry.dataFileCount("t") < before)
    assert(h.table("t").collect().head.getAs[Long]("v") === 4L)
  }

  test("L0 maintenance contract: micro-append growth -> compactIfNeeded keeps the table bounded; lookups stay pruned mid-stream") {
    // VERDICT r15 #5: the L0 zone's scaladoc claims it is "bounded by
    // compaction cadence" — this pins the claim. A maintenance loop of 18
    // micro-appends with the file-count policy after each one must (a)
    // never observe the table above the policy's bound right after the
    // check, (b) actually fire the policy repeatedly as L0 refills, and
    // (c) keep point lookups partition-pruned and LWW-correct at EVERY
    // intermediate zone mix (pure L0, pure buckets, buckets + refilling L0).
    val h = freshEngine()
    val maxFiles = 4
    var compactions = 0
    for (i <- 1 to 18) {
      val ts = new java.sql.Timestamp(t0.getTime + i * 60000L)
      h.ingest(env(s"""{"type_id":"t","data":{"id":"k${i % 3}","v":$i}}"""),
        ingestTime = Some(ts))
      // mid-stream lookup: correct LWW winner whatever zones hold the id
      val got = h.get("t", s"k${i % 3}")
      assert(got.collect().head.getAs[Long]("v") === i.toLong, s"append $i")
      // and the scan is pruned — the {idBucket(id), L0} two-partition
      // contract renders as a _part partition filter, never a full scan
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("_part"),
        s"append $i: expected a _part partition filter:\n$plan")
      if (h.compactIfNeeded("t", maxFiles = maxFiles)) compactions += 1
      // the invariant the maintenance cadence guarantees: bounded file
      // count after every policy pass (compaction rewrites to <= 3 bucket
      // files here — 3 ids — so the bound holds with slack for new L0)
      val n = h.registry.dataFileCount("t")
      assert(n <= maxFiles, s"after append $i + policy: $n files > $maxFiles")
    }
    assert(compactions >= 3,
      s"policy fired only $compactions times over 18 micro-appends — L0 is not being folded")
    // L0 refills between compactions and the LAST state still serves: the
    // final winners are the last write per id
    val fin = h.table("t").orderBy("id").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq
    assert(fin === Seq(("k0", 18L), ("k1", 16L), ("k2", 17L)))
  }

  test("vacuum: prefix collapses to LWW winners, suffix history survives, horizon reads exact") {
    val h = freshEngine()
    val t2 = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    // gen 1: a,b,c — gen 2: a,b overwritten — horizon — gen 3: a again
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":1}}""",
      """{"type_id":"t","data":{"id":"b","v":2}}""",
      """{"type_id":"t","data":{"id":"c","v":3}}"""), ingestTime = Some(t0))
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":10}}""",
      """{"type_id":"t","data":{"id":"b","v":20}}"""), ingestTime = Some(t1))
    val horizon = h.currentEpoch("t")
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":100}}"""),
      ingestTime = Some(t2))
    val latest = h.currentEpoch("t")
    def served(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getAs[String]("id"), r.getAs[Long]("v"))).toSeq
    val before = served(h.table("t"))
    val asOfHorizonBefore = served(h.tableAsOf("t", horizon))
    val changesBefore = h.changesBetween("t", horizon, latest, Seq("v"))
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("change"))).toSeq

    h.vacuum("t", horizon)
    assert(h.tableLog("t").count() === 4L,
      "3 winners of gens 1-2 + gen-3's row must survive the vacuum")
    // serving, horizon-pinned as-of, and horizon-anchored CDC are exact
    assert(served(h.table("t")) === before)
    assert(served(h.tableAsOf("t", horizon)) === asOfHorizonBefore)
    assert(h.changesBetween("t", horizon, latest, Seq("v"))
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("change"))).toSeq
      === changesBefore)
    // history: suffix version survives (a has 2), prefix collapsed (b,c 1)
    val versions = h.history("t").groupBy("id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(versions === Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    // pre-horizon as-of reads DEGRADE: winners keep their ORIGINAL epochs
    // (the compact contract), so a pin before the horizon sees only the
    // surviving winners written <= the pin — a/b's gen-1 versions are
    // gone (their winners carry gen-2's epoch), c's gen-1 row IS the winner
    val asOfGen1 = served(h.tableAsOf("t", horizon - 1))
    assert(asOfGen1 === Seq(("c", 3L)),
      "pre-horizon as-of must serve only surviving winners written <= the pin")
    // a later append still LWW-wins over vacuumed rows
    h.ingest(env("""{"type_id":"t","data":{"id":"b","v":200}}"""),
      ingestTime = Some(java.sql.Timestamp.valueOf("2024-01-04 00:00:00")))
    assert(h.get("t", "b").collect().head.getAs[Long]("v") === 200L)
  }

  test("replaying the same batch is effectively idempotent (LWW absorbs the duplicate)") {
    val h = freshEngine()
    val batch = env(
      """{"type_id":"t","data":{"id":"a","v":1}}""",
      """{"type_id":"t","data":{"id":"b","v":2}}""")
    h.ingest(batch, ingestTime = Some(t0))
    val first = h.table("t").orderBy("id").collect().toSeq
    h.ingest(batch, ingestTime = Some(t0)) // replay: same ids, same last_modified
    assert(h.tableLog("t").count() === 4L) // log keeps both copies
    val replayed = h.table("t").orderBy("id").collect().toSeq
    assert(replayed === first) // serving view unchanged — replay-safe
  }

  test("immutable schema refuses new types and evolution") {
    val wh = tmpDir("graft-wh-imm")
    val h = Engine.bootstrap(spark, wh)
    h.ingest(env("""{"type_id":"t","data":{"id":"a","v":1}}"""), ingestTime = Some(t0))
    val frozen = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh, immutableSchema = true); r.bootstrap(); r })
    // known type, known fields: fine
    frozen.ingest(env("""{"type_id":"t","data":{"id":"b","v":2}}"""), ingestTime = Some(t1))
    assert(frozen.table("t").count() === 2)
    // new field or new type: refused
    intercept[IllegalStateException] {
      frozen.ingest(env("""{"type_id":"t","data":{"id":"c","w":9}}"""), ingestTime = Some(t1))
    }
    intercept[IllegalStateException] {
      frozen.ingest(env("""{"type_id":"t2","data":{"id":"c"}}"""), ingestTime = Some(t1))
    }
  }

  test("drop removes table and descriptor (ref models.py:176-182)") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"t","data":{"id":"a"}}"""), ingestTime = Some(t0))
    assert(h.registry.knownTypes.contains("t"))
    h.registry.drop("t")
    assert(!h.registry.knownTypes.contains("t"))
    assert(!new java.io.File(h.registry.tablePath("t")).exists())
  }

  test("second handle on the same warehouse sees another handle's evolve; compact keeps the column") {
    // the r11 explicit-schema serving read makes freshness the registry's
    // job: handle B (loaded before A's evolve) must refresh before serving
    // or compacting, or compact would physically DROP the evolved column
    val wh = tmpDir("graft-wh-two-handles")
    val a = Engine.bootstrap(spark, wh, overrideWarehouse = true)
    a.ingest(env("""{"type_id":"t","data":{"id":"x","v":1}}"""), ingestTime = Some(t0))
    val b = Engine.Handle(spark,
      { val r = new SchemaRegistry(spark, wh); r.bootstrap(); r })
    assert(b.registry.get("t").exists(!_.fieldNames.contains("extra")))
    // A evolves t and appends a row carrying the new column
    a.ingest(env("""{"type_id":"t","data":{"id":"y","v":2,"extra":"keep"}}"""),
      ingestTime = Some(t1))
    // B serves the evolved column without re-bootstrapping...
    val served = b.table("t").orderBy("id").collect()
    assert(served.map(_.getAs[String]("extra")).toSeq === Seq(null, "keep"))
    // ...and B's compact preserves it
    b.compact("t")
    val after = b.table("t").orderBy("id").collect()
    assert(after.map(_.getAs[String]("extra")).toSeq === Seq(null, "keep"))
    assert(after.length === 2)
  }

  test("a foreign/legacy descriptors dir fails loud instead of reading as empty") {
    val wh = tmpDir("graft-wh-foreign")
    val dir = new java.io.File(wh, "descriptors")
    dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    intercept[IllegalArgumentException] {
      val r = new SchemaRegistry(spark, wh); r.bootstrap()
    }
  }

  test("concurrent ingests of one type into one handle: each report counts " +
      "its own batch, the table holds the sum") {
    val h = freshEngine()
    h.ingest(env("""{"type_id":"cc","data":{"id":"seed","v":0}}"""), ingestTime = Some(t0))
    // distinct sizes and quarantine counts, so a count that lands in the
    // other thread's report shows
    def batch(tag: String, good: Int, bad: Int) = env(
      (0 until good).map(i => s"""{"type_id":"cc","data":{"id":"$tag$i","v":$i}}""") ++
        (0 until bad).map(i => s"""{"type_id":"cc","data":{"id":"${tag}x$i","v":"bad"}}"""): _*)
    val sides = Seq(("a", 37, 2), ("b", 53, 5))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sides.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val rounds = 3
    try (1 to rounds).foreach { round =>
      val start = new java.util.concurrent.CyclicBarrier(sides.size)
      val reports = Await.result(Future.sequence(sides.map { case (tag, good, bad) =>
        Future {
          val frame = batch(s"r$round$tag", good, bad)
          start.await()
          h.ingest(frame, ingestTime = Some(t1))
        }
      }), 5.minutes)
      sides.zip(reports).foreach { case ((tag, good, bad), r) =>
        assert(r.perType === Map("cc" -> good.toLong), s"round $round side $tag")
        assert(r.quarantined === bad.toLong, s"round $round side $tag")
      }
    } finally pool.shutdown()
    assert(h.table("cc").count() === 1L + rounds * sides.map(_._2).sum)
  }

  test("a warm ingest of a known-shape type runs the fan-out aggregation and " +
      "the append, and no count job") {
    val h = freshEngine()
    def rows(from: Int) = (from until from + 20).map(i =>
      s"""{"type_id":"jc","data":{"id":"k$i","v":$i,"s":"x$i"}}""")
    // cold batch: creates the table and remembers the batch's shape
    h.ingest(env(rows(0): _*), ingestTime = Some(t0))
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
    // the report and the stage names of every job one ingest starts
    def traced(batch: org.apache.spark.sql.DataFrame, at: java.sql.Timestamp) = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.add(e.stageInfos.map(_.name).mkString(" + "))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = h.ingest(batch, ingestTime = Some(at))
        bridge.waitListenerBusEmpty(spark.sparkContext, 10000L)
        (r, jobs)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val hits = Ingest.schemaCacheHits.get()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (r, jobs) = traced(env(rows(20): _*), t1)
    assert(Ingest.schemaCacheHits.get() === hits + 1, "the warm batch skips inference")
    // its stamps (a new ingestTime and epoch, a new uuid seed) are read
    // by reference, so it reuses the cold batch's generated classes
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "the warm batch compiles no classes")
    assert(r.perType === Map("jc" -> 20L) && r.quarantined === 0L)
    // the fan-out aggregation is three jobs under AQE (the cached
    // envelopes' table-cache stage, its shuffle map stage, then the
    // collect); the append is one. A recount would be a fifth.
    assert(jobs.size === 4, jobs.toString)
    assert(h.table("jc").count() === 40L)
    // a dirty warm batch (one invalid, one malformed row; a new shape set,
    // so inference runs) adds the inference scan and ONE quarantine write:
    // the append's observation counts all three classes
    val (dirty, dirtyJobs) = traced(env(rows(40) ++ Seq(
      """{"type_id":"jc","data":{"id":"bad","v":"x","s":"y"}}""",
      """{"type_id":"jc","data":5}"""): _*), t1)
    assert(dirty.perType === Map("jc" -> 20L) && dirty.quarantined === 2L)
    assert(dirtyJobs.size === 6, dirtyJobs.toString)
    assert(h.table("jc").count() === 60L)
  }
}
