package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.Engine
import graft.sources.Codecs
import graft.streaming.StreamingIngest

/** `ingest_stream` — why: the paper's consumer loop, where the per-batch
  * floor, inference, evolve and maintenance compaction do most of the
  * work and no query operator runs.
  *
  * One round is a file stream of [[IngestStream.BatchFiles]] envelope files,
  * one file per micro-batch, through `Codecs.decodeMessageUdf` into
  * `StreamingIngest.startWithMaintenance` under `Trigger.AvailableNow`,
  * into a fresh warehouse and checkpoint. Rounds repeat, each with its own
  * seeded inputs, until the run's seconds are used. After each round the
  * warehouse is reconciled with the generator's ground truth. */
object IngestStream {
  val BatchFiles = 10
  val MessagesPerFile = 300
  val Types = 6
  /** Every type gets one L0 file per batch, so the maintenance loop
    * compacts every type in batch 9 of a round, and again in batch 10
    * (a compaction leaves up to 16 id-bucket files). */
  val MaxFilesPerType = 8
  /** Explicit-id pool per type and round: ~3 versions per id. */
  val IdPool = 40

  final class Truth {
    var sent = 0L
    var bytes = 0L
    val quarantined = mutable.Map[String, Long]().withDefaultValue(0L)
    val uuidRows = mutable.Map[String, Long]().withDefaultValue(0L)
    /** (type, id) -> (last_modified, n) of the accepted LWW winner. */
    val winners = mutable.Map[(String, String), (Long, Long)]()
    val fields = mutable.Map[String, Set[String]]().withDefaultValue(Set.empty)
  }

  private val Pool: Seq[(String, SplittableRandom => V)] = Seq(
    "amount" -> (r => D(r.nextInt(100000) / 100.0 + 0.01)),
    "label" -> (r => S("l" + r.nextInt(50))),
    "flag" -> (r => B(r.nextBoolean())),
    "geo" -> (r => O(Seq("lat" -> D(r.nextInt(18000) / 100.0 - 89.99),
      "lon" -> D(r.nextInt(36000) / 100.0 - 179.99)))),
    "meta" -> (r => O(Seq("src" -> S("s" + r.nextInt(9)), "v" -> L(r.nextInt(5))))),
    "score" -> (r => L(r.nextInt(1000000))),
    "note" -> (r => S("n" + r.nextInt(100000))))

  private def typeName(i: Int) = f"t$i%02d"

  /** Registry fields the engine adds to every type. */
  private val Meta = Set("id", "last_modified", "_ingest_epoch", "_ingest_seq", "_part",
    graft.core.Ingest.DeletedCol)
}

final class IngestStream(spark: SparkSession, work: String, seed: Long, dropFile: Boolean)
    extends Workload {
  import IngestStream._

  override def setupRepeats: Int = 3

  /** Base payload fields per type: four seed-chosen fields of [[Pool]]
    * (nested `geo`/`meta` exercise flatten), plus `n` (message number) and
    * `qty` (the field type conflicts hit). Fixed for the whole run. */
  private val baseFields: IndexedSeq[Seq[(String, SplittableRandom => V)]] = {
    val r = new java.util.Random(seed)
    (0 until Types).map(_ => scala.util.Random.javaRandomToRandom(r).shuffle(Pool).take(4))
  }
  private val zipf: Array[Double] = {
    val w = (1 to Types).map(k => 1.0 / math.pow(k, 1.2))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private var nextN = 0L
  private var roundNo = 0

  /** Writes one round's envelope files (base64 of the raw message bytes,
    * one message per line) and returns their ground truth. In every batch
    * each type's first message has an explicit id and its second none, so
    * a clean batch repeats the shape set of the one before. A `warm` round
    * is three small batches of every type (base shapes, a drift, bad rows):
    * it fills the inference cache with the base shapes and runs every
    * ingest path once. */
  def generate(dir: String, round: Int, warm: Boolean): Truth = {
    val r = new SplittableRandom(seed * 1000003L + round)
    val t = new Truth
    val extra = mutable.Map[Int, Seq[(String, SplittableRandom => V)]]().withDefaultValue(Nil)
    val usedLm = mutable.Set[Long]()
    // types registered by an earlier batch: only those can receive bad rows
    // (a first sighting would register the bad shape instead)
    val seen = mutable.Set[String]()
    val seenNow = mutable.Set[String]()
    Files.createDirectories(Paths.get(dir))
    val files = if (warm) 3 else BatchFiles
    for (b <- 0 until files) {
      // scheduled drift: new fields for two types (inference-cache misses,
      // registry evolve); dirty batches carry the conflicts and malformed rows
      val drift = if (warm) b == 1 else b % 4 == 1
      val dirty = if (warm) b == 2 else b % 4 == 3
      if (drift) (0 until 2).foreach { j =>
        val ty = pickType(r)
        val name = s"d${if (round < 0) "w" + -round else round}_${b}_$j"
        val gen: SplittableRandom => V = r.nextInt(4) match {
          case 0 => x => L(x.nextInt(1000))
          case 1 => x => D(x.nextInt(10000) / 100.0 + 0.01)
          case 2 => x => S("v" + x.nextInt(100))
          case _ => x => O(Seq("x" -> L(x.nextInt(1000))))
        }
        extra(ty) = extra(ty) :+ (name -> gen)
      }
      seen ++= seenNow
      val lines = new StringBuilder
      val occurrences = mutable.Map[Int, Int]().withDefaultValue(0)
      val msgs = if (warm) Types * 4 else MessagesPerFile
      for (m <- 0 until msgs) {
        val n = nextN; nextN += 1
        t.sent += 1
        val ty = if (warm || m < 2 * Types) m % Types else pickType(r)
        val tn = typeName(ty)
        occurrences(ty) += 1
        val explicit = occurrences(ty) match {
          case 1 => true
          case 2 => false
          case _ => r.nextInt(100) < 30
        }
        val roll = r.nextInt(1000)
        val payload: V =
          if (roll < 5 && occurrences(ty) > 2) null // a dead letter: no type_id
          else if (dirty && roll < 30 && seen(tn) && occurrences(ty) > 2) {
            t.quarantined(tn) += 1
            S("{\"broken\": ")
          } else {
            val conflict = dirty && roll < 130 && seen(tn) && occurrences(ty) > 2
            seenNow += tn
            val id = s"$tn-${r.nextInt(IdPool)}"
            var lm = 0L
            if (explicit) {
              do lm = 1700000000000000L + r.nextLong(2592000000000L) while (!usedLm.add(lm))
            }
            val meta =
              if (explicit) Seq("id" -> S(id), "last_modified" -> S(Timestamps.render(lm)))
              else Nil
            val body = (baseFields(ty) ++ extra(ty)).map { case (k, g) => k -> g(r) }
            val qty = if (conflict) S("x" + r.nextInt(100)) else L(r.nextInt(1000))
            val data = O(meta ++ Seq("n" -> L(n), "qty" -> qty) ++ body)
            t.fields(tn) = t.fields(tn) ++ Envelopes.leaves(data)
              .filterNot(f => f == "id" || f == "last_modified")
            if (conflict) t.quarantined(tn) += 1
            else if (!explicit) t.uuidRows(tn) += 1
            else if (t.winners.get(tn -> id).forall(_._1 < lm)) t.winners(tn -> id) = (lm, n)
            data
          }
        val envelope =
          if (payload == null) O(Seq("data" -> O(Seq("n" -> L(n)))))
          else O(Seq("type_id" -> S(tn), "data" -> payload))
        val bytes =
          if (r.nextInt(100) < 30) Envelopes.msgpack(envelope)
          else Envelopes.json(envelope).getBytes(UTF_8)
        t.bytes += bytes.length
        lines.append(java.util.Base64.getEncoder.encodeToString(bytes)).append('\n')
      }
      val f = Paths.get(dir, f"batch-$b%03d.txt")
      Files.write(f, lines.toString.getBytes(UTF_8))
      // the file source orders by modification time
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
        1600000000000L + b * 1000L))
    }
    t
  }

  private def pickType(r: SplittableRandom): Int = {
    val x = r.nextDouble()
    zipf.indexWhere(x < _) match { case -1 => Types - 1; case i => i }
  }

  final case class RoundResult(seconds: Double, messages: Long, bytes: Long,
                               batchSeconds: Seq[Double], handle: Engine.Handle)

  /** Streams one round's files into a fresh warehouse. */
  def stream(dir: String, tag: String, t: Truth, trace: Option[Trace]): RoundResult = {
    val h = Engine.bootstrap(spark, s"$work/$tag-wh", overrideWarehouse = true)
    // did the batch grow the registry? (read after each batch)
    trace.foreach { tr =>
      var columns = 0
      tr.onProgress = () => {
        val now = registryColumns(h)
        if (now > columns) { evolveBatches += 1; columns = now }
      }
    }
    val envelopes = spark.readStream.format("text")
      .option("maxFilesPerTrigger", "1")
      .load(dir)
      .select(Codecs.decodeMessageUdf(unbase64(col("value"))).as("message"))
    val (q, seconds) = Clock.secondsOf {
      val q = StreamingIngest.startWithMaintenance(h, envelopes, s"$work/$tag-ckpt",
        maxFilesPerType = MaxFilesPerType, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
    RoundResult(seconds, t.sent, t.bytes, batches, h)
  }

  private def types(h: Engine.Handle): Seq[String] =
    h.registry.knownTypes.filterNot(_ == "descriptor_model")

  /** Payload columns the registry holds over all types. */
  private def registryColumns(h: Engine.Handle): Int =
    try types(h).flatMap(h.registry.get).map(_.fieldNames.count(!Meta(_))).sum
    catch { case _: Exception => 0 }

  def inputs(dir: String): Unit = {
    generate(s"$dir/warm", -1, warm = true)
    generate(s"$dir/round", 1, warm = false)
  }

  def setup(log: Log): Unit = {
    roundNo += 1
    val dir = s"$work/warm-$roundNo"
    val truth = generate(dir, -roundNo, warm = true)
    val res = stream(dir, s"warm-$roundNo", truth, None)
    check(res.handle, truth, log, count = false, None)
  }

  // counters of the traced round in progress, and each traced round's figures
  private var evolveBatches = 0
  private var getResults = 0L
  private val tracedRounds = mutable.ArrayBuffer[Map[String, Double]]()

  def run(until: Long, log: Log, trace: Option[Trace]): Unit = {
    var first = true
    while (first || System.nanoTime() < until) {
      roundNo += 1
      val dir = s"$work/round-$roundNo"
      val truth = generate(dir, roundNo, warm = false)
      if (dropFile && first) Files.delete(Paths.get(dir, "batch-007.txt"))
      evolveBatches = 0
      val res = stream(dir, s"round-$roundNo", truth, trace)
      res.batchSeconds.foreach(log.sample("batch", _))
      log.work(res.messages, res.seconds)
      trace.foreach(tr => tracedRounds += storage(res, dir, tr))
      check(res.handle, truth, log, count = true, trace)
      first = false
    }
  }

  /** Storage and decode figures of a traced round (outside its timing). */
  private def storage(res: RoundResult, dir: String, tr: Trace): Map[String, Double] = {
    tr.onProgress = () => ()
    val h = res.handle
    val l0 = types(h).map(Storage.l0Files(spark, h, _)).sum
    val decodeMs = Clock.secondsOf(spark.read.text(dir)
      .select(Codecs.decodeMessageUdf(unbase64(col("value"))))
      .write.format("noop").mode("overwrite").save())._2 * 1000
    val written = batchSpans(tr).flatMap(tr.tasksIn).map(_.bytesWritten).sum
    Map("core.registry.columns_added" -> registryColumns(h).toDouble,
      "core.registry.evolve_batches" -> evolveBatches.toDouble,
      "sources.decode_ms" -> decodeMs,
      "storage.files_per_type_max" -> types(h).map(h.registry.dataFileCount).max.toDouble,
      "storage.l0_files" -> l0.toDouble,
      "storage.bytes_per_user_byte" -> types(h).map(h.registry.dataBytes).sum.toDouble / res.bytes,
      "storage.write_bytes_per_user_byte" -> written.toDouble / res.bytes)
  }

  private def batchSpans(tr: Trace): Seq[Trace.Span] =
    tr.progress.filter(_.rows > 0).map(p =>
      Trace.Span("batch", "ingest", p.start, p.start + p.durations.getOrElse("triggerExecution", 0L)))

  override def opSpans(trace: Trace): Seq[Trace.Span] = batchSpans(trace)

  /** Reconciles a warehouse with the generator: per type, the LWW view's
    * rows without explicit id and the explicit ids' winners (by message
    * number), the quarantine rows and the registry columns; plus a sample
    * of point lookups. Every message not accounted for is a failure. */
  private def check(h: Engine.Handle, t: Truth, log: Log, count: Boolean,
                    trace: Option[Trace]): Unit = {
    var bad = 0L
    def miss(n: Long, what: => String): Unit =
      if (n != 0) { bad += math.abs(n); log.problem(what) }
    val types = (t.uuidRows.keySet ++ t.quarantined.keySet ++ t.winners.keys.map(_._1)).toSeq.sorted
    types.foreach { tn =>
      val rows =
        if (h.registry.get(tn).isEmpty) Array.empty[(String, Long)]
        else Trace.span(trace, "read", "read")(h.table(tn).select(col("id"), col("n")).collect())
          .map(r => r.getString(0) -> r.getLong(1))
      val explicitIds = rows.filter(_._1.startsWith(tn + "-")).toMap
      miss(rows.length - explicitIds.size - t.uuidRows(tn),
        s"$tn: ${rows.length - explicitIds.size} rows without explicit id, expected ${t.uuidRows(tn)}")
      val expected = t.winners.collect { case ((`tn`, id), (_, n)) => id -> n }
      miss((expected.keySet ++ explicitIds.keySet).count(id => expected.get(id) != explicitIds.get(id)),
        s"$tn: explicit-id winners differ from the LWW model")
      val qPath = h.registry.quarantinePath(tn)
      val qObs =
        if (!Files.exists(Paths.get(qPath))) 0L else spark.read.parquet(qPath).count()
      miss(qObs - t.quarantined(tn), s"$tn: $qObs quarantined, expected ${t.quarantined(tn)}")
      val cols = h.registry.get(tn).map(_.fieldNames.toSet -- Meta).getOrElse(Set.empty)
      miss((cols diff t.fields(tn)).size + (t.fields(tn) diff cols).size,
        s"$tn: registry columns ${cols.toSeq.sorted} differ from ${t.fields(tn).toSeq.sorted}")
    }
    val byKey = t.winners.toSeq.sortBy(_._1)
    val sample = new SplittableRandom(seed).ints(8, 0, math.max(1, byKey.size)).toArray
      .distinct.filter(_ < byKey.size).map(byKey)
    sample.foreach { case ((tn, id), (_, n)) =>
      val got = Trace.span(trace, "get", "get")(h.get(tn, id).collect())
        .map(_.getAs[Long]("n")).toSeq
      getResults += got.size
      miss(if (got == Seq(n)) 0 else 1, s"get($tn, $id) = $got, expected $n")
    }
    if (count) log.tally(t.sent, math.min(bad, t.sent))
    else if (bad > 0) log.tally(1, 1)
  }

  def figures(log: Log): Map[String, Double] = Map(
    "e2e.ingest_msgs_per_s" -> 1.0 / log.secondsPerUnit,
    "e2e.ingest_batch_s_p50" -> Stats.median(log.times()),
    "e2e.ingest_batch_s_max" -> log.times().max)

  def layers(log: Log, trace: Trace): Map[String, Double] = {
    val spans = batchSpans(trace)
    // every job inside a batch is the foreachBatch body: ingest and upkeep
    val core = spans.flatMap(trace.jobsIn)
    val coreStages = core.flatMap(_.stages).toSet
    val n = math.max(1, spans.size).toDouble
    val perRound = tracedRounds.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(tracedRounds.map(_(k)).toSeq)).toMap
    perRound ++ Metrics.serving(trace, getResults) ++ Metrics.compactions(trace, spans) ++ Map(
      "core.ingest.jobs_per_batch" -> core.size / n,
      "core.ingest.tasks_per_batch" -> trace.tasks.count(t => coreStages(t.stage)) / n,
      "core.ingest.driver_gap_ms" ->
        (if (spans.isEmpty) 0.0 else Stats.median(spans.map(trace.driverGapMs))))
  }
}

object Timestamps {
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)
  def render(micros: Long): String =
    fmt.format(java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))
}
