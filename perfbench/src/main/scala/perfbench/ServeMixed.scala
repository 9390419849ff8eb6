package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Engine

/** `serve_mixed` — why: reads beside writes on the LWW store. Point-lookup
  * pruning, the LWW view and the planning fixed cost do most of the work;
  * inference does almost none. Small writes pile up L0 files that lookups
  * must read, so a compaction-policy change that helps ingest_stream shows
  * its cost here.
  *
  * Set-up bulk-ingests a seeded corpus through `Engine.Handle.ingest` in
  * three batches; `acct` goes over `Ingest.SmallAppendRows`, so its first
  * batch takes the bucketed write, and the epoch after each batch is kept
  * as a pin. The timed phase is one client running a seeded mix of point
  * gets, reads (`table` aggregate, `tableAsOf` a pin, `changesBetween` two
  * pins) and writes (small upsert or delete, then `compactIfNeeded`).
  * Every answer is checked against the generator's own LWW, tombstone and
  * compaction model. */
object ServeMixed {
  val Types: Seq[(String, Int)] = Seq("acct" -> 101000, "note" -> 6000)
  /** One block of ops: 14 gets (G), one `table` aggregate (A), `tableAsOf`
    * (P) and `changesBetween` (C) read each, two upserts (U) and a delete
    * (D). The timed loop runs whole blocks. */
  val Block = "GGAGGUGGGPGDGGUGGCGG"
  val Ops = Block.length * 40
  private val T0 = 1700000000000000L
  private val Day = 86400000000L

  /** One version of an id in the model; `epoch` is the write's sequence. */
  final case class Ver(lm: Long, epoch: Int, deleted: Boolean, v: Long, grp: String)

  sealed trait Op { def t: String }
  final case class Get(t: String, id: String) extends Op
  final case class TableAgg(t: String) extends Op
  final case class AsOf(t: String, pin: Int) extends Op
  final case class Changes(t: String, from: Int, to: Int) extends Op
  final case class Upsert(t: String, rows: Seq[(String, Long, Long, String)]) extends Op
  final case class Delete(t: String, ids: Seq[String], lm: Long) extends Op

  def message(t: String, id: String, lm: Long, v: Long, grp: String): String =
    Envelopes.json(O(Seq("type_id" -> S(t), "data" -> O(Seq("id" -> S(id),
      "last_modified" -> S(Timestamps.render(lm)), "v" -> L(v), "grp" -> S(grp))))))
}

final class ServeMixed(spark: SparkSession, work: String, seed: Long) extends Workload {
  import ServeMixed._
  import spark.implicits._

  override def setupRepeats: Int = 3

  /** The model: every surviving version per (type, id), as the engine's log
    * holds them. */
  private val log0 = mutable.Map[String, mutable.HashMap[String, List[Ver]]]()
  private var handle: Engine.Handle = _
  private var pins = Map[(String, Int), Long]()
  private var ops: IndexedSeq[Op] = IndexedSeq.empty
  private var epoch = 0
  private var rep = 0
  /** Index of the next op; the traced phase continues the list. */
  private var next = 0
  private var userBytes = 0L
  // traced-phase counters: rows returned by gets, bytes of upserted messages
  private var getResults = 0L
  private var writtenUserBytes = 0L

  private def winner(vs: List[Ver], maxEpoch: Int = Int.MaxValue): Option[Ver] =
    vs.filter(_.epoch <= maxEpoch).maxByOption(_.lm)
  private def live(t: String, maxEpoch: Int = Int.MaxValue): Iterator[(String, Ver)] =
    log0(t).iterator.flatMap { case (id, vs) =>
      winner(vs, maxEpoch).filterNot(_.deleted).map(id -> _) }

  /** Set-up batch k of the corpus: batch 0 inserts every id, batches 1 and
    * 2 update 4 % and 3 % of them with newer timestamps. */
  private def corpus(r: SplittableRandom, k: Int): Seq[(String, String, Long, Long, String)] =
    Types.flatMap { case (t, n) =>
      val used = mutable.Set[Long]()
      def fresh(base: Long): Long = {
        var lm = 0L
        do lm = base + r.nextLong(10 * Day) while (!used.add(lm))
        lm
      }
      val ids = if (k == 0) 0 until n else Seq.fill(n * (5 - k) / 100)(r.nextInt(n)).distinct
      ids.map(i => (t, s"${t.head}$i", fresh(T0 + k * 20 * Day), r.nextLong(1000000L),
        s"g${r.nextInt(10)}"))
    }

  /** Writes the set-up corpus files and the op list, and builds the model
    * the set-up ingest will produce. */
  def inputs(dir: String): Seq[(String, Map[String, Long])] = {
    Files.createDirectories(Paths.get(dir))
    val r = new SplittableRandom(seed)
    log0.clear(); Types.foreach { case (t, _) => log0(t) = mutable.HashMap() }
    val files = (0 until 3).map { k =>
      val rows = corpus(r, k)
      val file = Paths.get(dir, s"setup-$k.txt")
      val text = rows.map { case (t, id, lm, v, g) => message(t, id, lm, v, g) }.mkString("", "\n", "\n")
      Files.write(file, text.getBytes(UTF_8))
      userBytes += text.length
      rows.foreach { case (t, id, lm, v, g) => record(t, id, Ver(lm, k, deleted = false, v, g)) }
      file.toString -> rows.groupBy(_._1).map { case (t, xs) => t -> xs.size.toLong }
    }
    epoch = files.size
    ops = generateOps(new SplittableRandom(seed * 31 + 7))
    Files.write(Paths.get(dir, "ops.txt"), ops.mkString("", "\n", "\n").getBytes(UTF_8))
    files
  }

  def setup(log: Log): Unit = {
    rep += 1
    userBytes = 0L
    val files = inputs(s"$work/serve-$rep")
    handle = Engine.bootstrap(spark, s"$work/serve-$rep-wh", overrideWarehouse = true)
    pins = files.zipWithIndex.flatMap { case ((file, counts), k) =>
      val report = handle.ingest(spark.read.text(file).select(col("value").as("message")))
      if (!checkReport(report, counts, log)) log.tally(1, 1)
      Types.map { case (t, _) => (t, k) -> handle.currentEpoch(t) }
    }.toMap
    next = 0
  }

  private def record(t: String, id: String, v: Ver): Unit =
    log0(t)(id) = v :: log0(t).getOrElse(id, Nil)

  private def checkReport(r: graft.core.Ingest.Report, expected: Map[String, Long], log: Log): Boolean = {
    val ok = r.perType == expected && r.quarantined == 0 && r.deadLetters == 0
    if (!ok) log.problem(s"ingest report $r, expected $expected")
    ok
  }

  /** The op list, made before timing from the seed and the model's winners
    * (compaction never changes a winner, so the list does not depend on
    * when compactions run). */
  private def generateOps(r: SplittableRandom): IndexedSeq[Op] = {
    val win = mutable.Map[(String, String), Long]()
    log0.foreach { case (t, m) => m.foreach { case (id, vs) => win(t -> id) = winner(vs).get.lm } }
    val ids = Types.map { case (t, _) => t -> mutable.ArrayBuffer(log0(t).keys.toSeq.sorted: _*) }.toMap
    var clock = T0 + 100 * Day
    val used = mutable.Set[Long]()
    def zipfId(t: String): String = {
      val n = ids(t).size
      ids(t)((math.pow(n + 1.0, r.nextDouble()) - 1).toInt.min(n - 1))
    }
    var newIds = 0
    // blocks of Block.size ops in a fixed order; only ids, values and pins
    // come from the seed, so every run sees the same mix
    var upserts = 0
    (0 until Ops).map { i =>
      Block(i % Block.size) match {
        case 'G' =>
          val t = if (r.nextInt(100) < 80) "acct" else "note"
          if (r.nextInt(100) < 10) Get(t, s"$t-miss-$i") else Get(t, zipfId(t))
        case 'A' => TableAgg("acct")
        case 'P' => AsOf("acct", r.nextInt(3))
        case 'C' => val a = r.nextInt(2); Changes("acct", a, a + 1 + r.nextInt(2 - a))
        case 'U' =>
          upserts += 1
          val t = if (upserts % 2 == 1) "acct" else "note"
          val picked = mutable.LinkedHashSet[String]()
          while (picked.size < 15) picked += zipfId(t)
          val rows = picked.toSeq.zipWithIndex.map { case (id, j) =>
            val lm =
              if (j < 3) { // a late write: older than the winner, so it loses
                var x = 0L
                do x = win(t -> id) - 1 - r.nextLong(1000000000L) while (!used.add(x))
                x
              } else { clock += 1000; win(t -> id) = clock; clock }
            (id, lm, r.nextLong(1000000L), s"g${r.nextInt(10)}")
          } ++ (0 until 5).map { _ =>
            newIds += 1
            val id = s"${t.head}new$newIds"
            ids(t) += id
            clock += 1000; win(t -> id) = clock
            (id, clock, r.nextLong(1000000L), s"g${r.nextInt(10)}")
          }
          Upsert(t, rows)
        case _ =>
          val t = "acct"
          val doomed = Seq.fill(3)(zipfId(t)).distinct
          clock += 1000
          doomed.foreach(id => win(t -> id) = clock)
          Delete(t, doomed, clock)
      }
    }
  }

  def run(until: Long, log: Log, trace: Option[Trace]): Unit = {
    val first = next
    getResults = 0L
    writtenUserBytes = 0L
    while ((next == first || next % Block.length != 0 || System.nanoTime() < until) &&
        next < ops.size) {
      val op = ops(next)
      val kind = op match {
        case _: Get => "get"
        case _: TableAgg | _: AsOf | _: Changes => "read"
        case _ => "write"
      }
      val (answer, seconds) = Clock.secondsOf {
        Trace.span(trace, kind, kind) {
          try Right(execute(op)) catch { case e: Exception => Left(e) }
        }
      }
      val ok = answer match {
        case Left(e) => log.problem(s"$op threw ${e.getMessage}"); false
        case Right(a) => verify(op, a, log)
      }
      log.op(kind, seconds, ok)
      next += 1
    }
  }

  /** Runs one op; reads return their whole (small) result. */
  private def execute(op: Op): Any = op match {
    case Get(t, id) =>
      val rows = handle.get(t, id).collect().map(r => (r.getAs[Long]("v"), r.getAs[String]("grp"))).toSeq
      getResults += rows.size
      rows
    case TableAgg(t) => summary(handle.table(t))
    case AsOf(t, p) => summary(handle.tableAsOf(t, pins(t -> p)))
    case Changes(t, a, b) =>
      handle.changesBetween(t, pins(t -> a), pins(t -> b), Seq("v"))
        .groupBy("change").agg(count(lit(1)), sum("v_before"), sum("v_after"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3)))
        .toSet
    case Upsert(t, rows) =>
      val msgs = rows.map { case (id, lm, v, g) => message(t, id, lm, v, g) }
      writtenUserBytes += msgs.map(_.length + 1).sum
      userBytes += msgs.map(_.length + 1).sum
      val report = handle.ingest(msgs.toDF("message"))
      val compacted = handle.compactIfNeeded(t)
      (report, compacted)
    case Delete(t, ids, lm) =>
      val n = handle.delete(t, ids, timestamp(lm))
      (n, handle.compactIfNeeded(t))
  }

  private def summary(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum("v")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def timestamp(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      micros / 1000000L, (micros % 1000000L) * 1000L))

  /** Applies a write to the model and compares a read with it. */
  private def verify(op: Op, answer: Any, log: Log): Boolean = {
    def expect(want: Any): Boolean = {
      val ok = want == answer
      if (!ok) log.problem(s"$op answered $answer, model says $want")
      ok
    }
    def modelSummary(xs: Iterator[(String, Ver)]): (Long, Long) =
      xs.foldLeft((0L, 0L)) { case ((n, s), (_, v)) => (n + 1, s + v.v) }
    op match {
      case Get(t, id) =>
        expect(log0(t).get(id).flatMap(winner(_)).filterNot(_.deleted).map(v => (v.v, v.grp)).toSeq)
      case TableAgg(t) => expect(modelSummary(live(t)))
      case AsOf(t, p) => expect(modelSummary(live(t, p)))
      case Changes(t, a, b) =>
        val before = live(t, a).toMap
        val after = live(t, b).toMap
        val rows = (before.keySet ++ after.keySet).toSeq.flatMap { id =>
          (before.get(id), after.get(id)) match {
            case (None, Some(x)) => Some(("insert", 0L, x.v))
            case (Some(x), None) => Some(("delete", x.v, 0L))
            case (Some(x), Some(y)) if x.v != y.v => Some(("update", x.v, y.v))
            case _ => None
          }
        }
        expect(rows.groupBy(_._1).map { case (c, xs) =>
          (c, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum) }.toSet)
      case Upsert(t, rows) =>
        rows.foreach { case (id, lm, v, g) => record(t, id, Ver(lm, epoch, deleted = false, v, g)) }
        epoch += 1
        val (report, compacted) = answer.asInstanceOf[(graft.core.Ingest.Report, Boolean)]
        if (compacted) compact(t)
        checkReport(report, Map(t -> rows.size.toLong), log)
      case Delete(t, ids, lm) =>
        ids.foreach(id => record(t, id, Ver(lm, epoch, deleted = true, 0L, "")))
        epoch += 1
        val (n, compacted) = answer.asInstanceOf[(Long, Boolean)]
        if (compacted) compact(t)
        n == ids.size || { log.problem(s"$op wrote $n tombstones"); false }
    }
  }

  /** Compaction keeps each id's LWW winner, tombstones included. */
  private def compact(t: String): Unit =
    log0(t).mapValuesInPlace((_, vs) => winner(vs).toList)

  def figures(log: Log): Map[String, Double] = Map(
    "e2e.serve_ops_per_s" -> 1.0 / log.secondsPerUnit,
    "e2e.get_s_p50" -> Stats.median(log.times(_ == "get")),
    "e2e.read_s_p50" -> Stats.median(log.times(_ == "read")),
    "e2e.write_s_p50" -> Stats.median(log.times(_ == "write")))

  def layers(log: Log, trace: Trace): Map[String, Double] = {
    val spans = opSpans(trace)
    val writes = spans.filter(_.name == "write")
    val core = writes.flatMap(trace.jobsIn)
    val coreStages = core.flatMap(_.stages).toSet
    val nw = math.max(1, writes.size).toDouble
    val types = Types.map(_._1)
    val l0 = types.map(Storage.l0Files(spark, handle, _)).sum
    Metrics.compactions(trace, spans) ++ Metrics.serving(trace, getResults) ++ Map(
      "core.ingest.jobs_per_batch" -> core.size / nw,
      "core.ingest.tasks_per_batch" -> trace.tasks.count(t => coreStages(t.stage)) / nw,
      "core.ingest.driver_gap_ms" ->
        (if (writes.isEmpty) 0.0 else Stats.median(writes.map(trace.driverGapMs))),
      "storage.files_per_type_max" -> types.map(handle.registry.dataFileCount).max.toDouble,
      "storage.l0_files" -> l0.toDouble,
      "storage.bytes_per_user_byte" -> types.map(handle.registry.dataBytes).sum.toDouble / userBytes,
      "storage.write_bytes_per_user_byte" ->
        writes.flatMap(trace.tasksIn).map(_.bytesWritten).sum.toDouble / math.max(1L, writtenUserBytes))
  }
}
