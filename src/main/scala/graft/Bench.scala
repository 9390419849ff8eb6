package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Fixed single-threaded CPU probe: 400M xorshift64 rounds, pure register
    * arithmetic (no allocation, no memory traffic). Its wall time depends
    * only on how much CPU the host actually gives one thread, so a probe
    * timed BEFORE and AFTER the sweep lets any reader decide whether a
    * bench sample was taken on a contended host (VERDICT r8: the driver's
    * 54.9s headline was 31% above two controlled runs of identical code —
    * the artifact must be able to prove that about itself). Deterministic,
    * result folded into the return so the JIT can't dead-code the loop.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 400000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val t = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("[bench] impossible") // defeat DCE
    t
  }

  /** Min of 3 probe runs: single samples carry ±25% JIT/scheduler jitter
    * (observed 0.75 vs 0.59 s back-to-back); the min of 3 is the best CPU
    * slice the host would give us, which under SUSTAINED contention still
    * inflates — exactly the signal the stamp is for.
    */
  def calibrateMin(): Double = (1 to 3).map(_ => calibrate()).min

  /** Quiet-epoch reference for the single-thread probe.
    * `value_norm = value × (CALIB_REF / probe)` rescales a sample onto
    * the reference epoch so the 2× gate survives host swaps: a 1.3×
    * slower host inflates queries and probe together, and the ratio
    * cancels the epoch while leaving real code regressions visible.
    *
    * EPOCH RE-ADJUDICATION (r22, VERDICT r21 #3): 0.68 s was the
    * pre-Aug-14 microVM class (NOTES "hardware epoch" entry); the
    * replacement host's quiet probe reads 0.851–0.879 s across SIX
    * hand-adjudicated quiet draws (r21 baseline/close, the r21 driver
    * draw, r22 baseline + two r22 A/B draws — all cotenant-free,
    * standalone-shaped, calib drift ≤ 1.03, sweep median/min ≤ 1.09),
    * while a genuinely loaded r22 draw read its par probe 1.40× drifted
    * with median inflation 1.18×. With the old 0.68 reference every draw
    * on this host stamped `contended` via calib_vs_ref, permanently
    * blocking the anchor ratchet. CalibRef is therefore re-anchored to
    * this epoch's quiet floor (0.85); pre-r22 `value_norm` numbers
    * reference the old epoch — multiply them by 0.85/0.68 = 1.25 to
    * compare. Update together with the mirrored thresholds in
    * tools/refresh_bench_ref.py `classify()` (and run its
    * `--epoch-reset` once after re-anchoring so old-epoch floors don't
    * min-merge into the new epoch's). */
  val CalibRef = 0.85

  /** ALL-CORES probe: the single-thread probe's blind spot (found r9) is
    * a co-tenant stealing PARALLELISM — min-of-3 on one thread still
    * finds a quiet core while 32-way query stages run 1.3–1.7× slow
    * across the board. This times `host_cores` concurrent copies of the
    * same register loop (each 1/8 the single-thread length): on a quiet
    * host wall time ≈ the scaled single-thread time; under co-tenant
    * load it inflates roughly with the stolen share.
    */
  def calibrateParallel(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val threads = (1 to n).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var j = 0
        while (j < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
        if (x == 42L) System.err.println("[bench] impossible")
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of 3 parallel probes — same rationale as [[calibrateMin]]:
    * single samples carry scheduler/JIT jitter (observed 0.117 vs 0.204 s
    * back-to-back, r9); sustained parallel contention still inflates the
    * min, which is the signal the stamp exists to carry. */
  def calibrateParallelMin(): Double = (1 to 3).map(_ => calibrateParallel()).min

  /** Pids of OTHER sbt/spark/graft JVMs on the host — the known source of
    * contended sweeps (r11: the driver's artifact ran concurrently with a
    * throughput remeasure and stamped 26 phantom 1.5–7× regressions).
    * Self and ancestors (the sbt launcher that forked us) are excluded. */
  def otherGraftJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    import scala.jdk.OptionConverters._
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(Option(self))(_.flatMap(_.parent().toScala))
      .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala.filter { p =>
      !ancestors.contains(p.pid()) && {
        val cmd = p.info().commandLine().orElse("")
        cmd.contains("java") &&
          (cmd.contains("sbt") || cmd.contains("spark") || cmd.contains("graft"))
      }
    }.map(_.pid()).toSeq
  }

  /** Per-key MIN map of the committed quiet reference sweep
    * (`BENCH_ref.local<cpus>.json`, written at round close from a
    * verified-quiet BENCH_full.json — one anchor file per parallelism
    * config, nothing merged across configs). VERDICT r12 #1: every
    * in-sweep integrity check was
    * a ratio of the sweep against ITSELF, so sustained contention that
    * inflated one key 15× (median and min together — salvage's
    * median/min > 1.8 trigger never fired) while leaving the whole-sweep
    * ratio at 1.14 passed every gate. The reference map is the missing
    * external anchor: a key whose min blows 2.5× past its committed quiet
    * min gets re-measured in-JVM (stamped), so the driver's artifact of
    * record self-repairs localized sustained contention too. Absent file
    * → empty map (first round, or a fresh clone) — the self-ratio checks
    * still run. */
  /** Family of a declared key = the token after `q_` (`q_vec_ann_pq` →
    * `vec`). Used by the SEGMENT-level anchor check: three rounds of
    * correlated-tail escapes (r12 phantom tail, r13 q_join_bucketed at
    * 2.13×<2.5×, r14 eight vec keys at 1.7–1.99×<2×) proved a per-key
    * threshold can never catch a whole family drifting together at ~1.8× —
    * each key stays under the single-key trigger while the family sum runs
    * far above its anchor sum. */
  def familyOf(name: String): String = {
    val parts = name.split("_")
    if (parts.length >= 2 && parts(0) == "q") parts(1) else "other"
  }

  def loadRefMins(path: String): Map[String, Double] =
    try loadKeyMap(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      "queries_min")
    catch { case _: Exception => Map.empty }

  /** Top-level STRING field of a JSON artifact (e.g. the anchor's
    * `sf_fingerprint`) — empty when the file or field is absent. */
  def loadRefField(path: String, field: String): String =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      ("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"").r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    } catch { case _: Exception => "" }

  /** Kernel dirty + writeback pages (kB) — the run-shape witness. A bench
    * launched right after a heavy write phase (the full suite, the
    * driver's verify step) starts with GBs of dirty pages whose writeback
    * contends with the sweep's scratch IO while BOTH CPU probes stay
    * steady (NOTES r15: 95.4 s post-suite vs 81.8 s standalone, same
    * commit, same probes). −1 on non-Linux hosts. */
  def dirtyKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collect {
        case l if l.startsWith("Dirty:") || l.startsWith("Writeback:") =>
          l.split("\\s+")(1).toLong
      }.sum
      finally src.close()
    } catch { case _: Exception => -1L }

  /** Block-layer bytes this PROCESS caused to be read/written
    * (`/proc/self/io` read_bytes/write_bytes) — the per-key IO witness
    * (VERDICT r16 #6): med/min wall time caught every CPU regression this
    * project has had, but the two escapes that reached the artifact of
    * record (r15 page-cache shadow, r16 stream gap) were both IO, which no
    * CPU probe sees. Deltas around each measure() call make an IO-inflated
    * key attributable from the artifact alone. (-1,-1) on non-Linux. */
  def procIo(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try {
        var r = -1L; var w = -1L
        src.getLines().foreach { l =>
          if (l.startsWith("read_bytes:")) r = l.split("\\s+")(1).toLong
          else if (l.startsWith("write_bytes:")) w = l.split("\\s+")(1).toLong
        }
        (r, w)
      } finally src.close()
    } catch { case _: Exception => (-1L, -1L) }

  /** Host-wide iowait ticks (`/proc/stat` cpu line, field 5) — catches IO
    * stalls charged to kernel writeback threads rather than this process
    * (the exact mechanism of the r15 post-suite shadow). -1 on non-Linux. */
  def iowaitTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(5).toLong
      finally src.close()
    } catch { case _: Exception => -1L }

  /** Sync-write latency probe (VERDICT r16 #1): the CPU probes have an IO
    * LATENCY blind spot — a host whose block device (or filesystem
    * journal) serves fsync slowly inflates exactly the checkpoint/
    * metadata-bound streaming keys while every CPU probe stays steady, and
    * the r16 A/B proved the stream family is NOT slow for this reason on
    * the builder's host (tmpfs scratch moved family IO 253 MB→60 KB and
    * the wall time did not improve). This measures the mechanism directly
    * in whatever environment the sweep actually runs in: median wall ms of
    * `rounds` create→write(4 KB)→fsync→delete cycles in java.io.tmpdir —
    * the exact operation a streaming micro-batch's checkpoint commit
    * performs. Quiet local reference ≈0.1–0.3 ms; a reading 5–10× that in
    * the artifact of record names slow-sync-IO from the JSON alone. */
  def fsyncProbeMs(rounds: Int = 20): Double =
    try {
      val tmp = java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      val payload = new Array[Byte](4096)
      // per-process unique names: a co-tenant JVM's probe must not unlink
      // or pre-create this one's files mid-measurement (the contended runs
      // are exactly the ones the witness exists to attribute)
      val tag = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
      val times = (1 to rounds).map { i =>
        val p = tmp.resolve(s"graft-fsync-probe-$tag-$i")
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try { ch.write(java.nio.ByteBuffer.wrap(payload)); ch.force(true) }
        finally ch.close()
        val t = (System.nanoTime() - t0) / 1e6
        java.nio.file.Files.deleteIfExists(p)
        t
      }.sorted
      times(times.size / 2)
    } catch {
      // degrade like the sibling witnesses (procIo/iowaitTicks): a broken
      // tmpdir (e.g. a typo'd SPARK_GRAFT_TMPDIR) must flag the stamp,
      // not abort the sweep before any artifact exists
      case _: Exception => -1.0
    }

  /** JIT code-cache occupancy (used KB summed over the CodeHeap pools) —
    * one of the two sweep-tail witnesses (VERDICT r18 #2): the r18 driver
    * artifact read its last-alphabetically keys at 4–7× with EVERY
    * existing instrument quiet — end-of-sweep JVM degradation (JIT
    * code-cache / GC class) that re-runs of long-compiled probe code can
    * never see. Occupancy near the pool ceiling at the tail keys names
    * that draw from the JSON alone. -1 on exotic JVMs. */
  def codeCacheUsedKb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.startsWith("CodeHeap") ||
          p.getName.contains("Code Cache"))
        .map(_.getUsage.getUsed).sum / 1024
    } catch { case _: Exception => -1L }

  /** Cumulative GC wall ms across all collectors — the second sweep-tail
    * witness: a key whose runs absorbed a large GC delta reads slow for a
    * JVM-state reason, not an operator reason. -1 on exotic JVMs. */
  def gcTotalMs(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    } catch { case _: Exception => -1L }

  /** Re-measure `keys` in a FRESH CHILD JVM (VERDICT r18 #2): the r18
    * driver artifact's ref-salvage re-measured its flagged sweep-tail keys
    * in the SAME degraded JVM and falsely "confirmed" them. A child
    * process (same classpath + JVM flags, filtered to exactly these keys,
    * its own BENCH_full at a temp path) measures them with fresh JIT/GC
    * state — the reading that separates a positional JVM artifact from a
    * real regression. Returns (median, min) per key parsed from the
    * child's artifact; empty map on any failure (caller falls back to the
    * in-JVM re-measure). Child runs with SPARK_GRAFT_BENCH_CHILD=1 so it
    * never forks grandchildren. */
  /** One child-measured key: (median, min) plus the child's OWN witness
    * stamps — (io_read_kb, io_write_kb, iowait_ticks) and
    * (gc_ms, code_cache_kb) — so the parent artifact's per-key stamps
    * keep describing the sample whose timing survives the min-merge
    * (r19 review: child timings with degraded-parent stamps would
    * misdiagnose exactly the draws this machinery exists to attribute). */
  final case class ChildSample(median: Double, min: Double,
                               io: (Long, Long, Long), jvm: (Long, Long))

  def childRemeasure(keys: Seq[String], sfDir: String,
                     cpus: String): Map[String, ChildSample] = {
    var tmpOut: java.nio.file.Path = null
    try {
      import scala.jdk.CollectionConverters._
      tmpOut = java.nio.file.Files.createTempFile("graft-bench-child", ".json")
      java.nio.file.Files.deleteIfExists(tmpOut)
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xdebug"))
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_FILTER", keys.mkString(","))
      // exact names: substring matching would sweep every superstring key
      pb.environment().put("SPARK_GRAFT_BENCH_FILTER_EXACT", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_FULL", tmpOut.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      // the parent IS a graft JVM — the child must not wait for it
      pb.environment().put("SPARK_GRAFT_BENCH_WAIT", "0")
      // and must not re-pay the settle loop: the host was already flushed
      pb.environment().put("SPARK_GRAFT_BENCH_SETTLE", "0")
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val done = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { p.destroyForcibly(); Map.empty }
      else if (p.exitValue() != 0) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(tmpOut),
          java.nio.charset.StandardCharsets.UTF_8)
        val med = loadKeyMap(txt, "queries")
        val min = loadKeyMap(txt, "queries_min")
        val ior = loadKeyMap(txt, "io_read_kb")
        val iow = loadKeyMap(txt, "io_write_kb")
        val iwt = loadKeyMap(txt, "iowait_ticks")
        val gcm = loadKeyMap(txt, "gc_ms")
        val ccb = loadKeyMap(txt, "code_cache_kb")
        def lv(m: Map[String, Double], k: String): Long =
          m.get(k).map(_.toLong).getOrElse(-1L)
        // a key that ERRORED in the child carries a meaningless
        // elapsed-to-throw timing — it must not win the merge or ratchet
        // the anchor (r19 second review). The scan is scoped to the
        // errors OBJECT (ADVICE r19 #2: a whole-artifact scan relied on
        // error values being the only string-valued per-key entries —
        // another key's truncated error text, or any future string-valued
        // stamp, containing `"key":"` would silently discard a healthy
        // child sample).
        // parse the object's TOP-LEVEL keys rather than substring-matching
        // `"k":"` inside the body: an error VALUE embedding an escaped
        // JSON fragment for another key would false-positive and silently
        // drop that key's healthy child sample (ADVICE r20 #3)
        val errKeys = jsonObjectKeys(jsonObjectBody(txt, "errors"))
        def childErrored(k: String): Boolean = errKeys.contains(k)
        keys.filter { k =>
          val e = childErrored(k)
          if (e) System.err.println(
            s"[bench] child re-measure of $k ERRORED — keeping the parent sample")
          !e
        }.flatMap(k => for (m <- med.get(k); n <- min.get(k)) yield
          k -> ChildSample(m, n,
            (lv(ior, k), lv(iow, k), lv(iwt, k)),
            (lv(gcm, k), lv(ccb, k)))).toMap
      }
    } catch { case _: Exception => Map.empty }
    finally if (tmpOut != null)
      try java.nio.file.Files.deleteIfExists(tmpOut)
      catch { case _: Exception => () }
  }

  /** Body of the first JSON object named `field` in `txt` (between its
    * braces, exclusive), found by a string-aware walk: escaped quotes and
    * braces INSIDE string values don't terminate the object, so an error
    * message containing `}` can't truncate the extraction. Empty string
    * when the field is absent (ADVICE r19 #2). No JSON lib on the
    * classpath — same constraint as [[loadKeyMap]]. */
  def jsonObjectBody(txt: String, field: String): String = {
    val key = txt.indexOf("\"" + field + "\"")
    val start = if (key < 0) -1 else txt.indexOf('{', key)
    if (start < 0) return ""
    var i = start + 1
    var depth = 1
    var inString = false
    var escaped = false
    while (i < txt.length && depth > 0) {
      val c = txt.charAt(i)
      if (escaped) escaped = false
      else if (inString) {
        if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else c match {
        case '"' => inString = true
        case '{' => depth += 1
        case '}' => depth -= 1
        case _   => ()
      }
      i += 1
    }
    if (depth == 0) txt.substring(start + 1, i - 1) else ""
  }

  /** Top-level keys of a JSON object BODY (as returned by
    * [[jsonObjectBody]]): a key is a string literal read at depth 0 in
    * key position (object start or after a top-level comma), with the
    * same string-aware walk — escaped quotes, nested objects/arrays, and
    * key-looking fragments INSIDE string values don't confuse it
    * (ADVICE r20 #3). Escape sequences inside keys are left verbatim;
    * bench keys are plain `[A-Za-z0-9_]` so none occur. */
  def jsonObjectKeys(body: String): Set[String] = {
    val keys = scala.collection.mutable.Set[String]()
    var i = 0
    var depth = 0
    var expectKey = true
    while (i < body.length) {
      val c = body.charAt(i)
      c match {
        case '"' =>
          // scan the string literal
          val sb = new StringBuilder
          var j = i + 1
          var escaped = false
          var done = false
          while (j < body.length && !done) {
            val d = body.charAt(j)
            if (escaped) { sb.append(d); escaped = false }
            else if (d == '\\') { sb.append(d); escaped = true }
            else if (d == '"') done = true
            else sb.append(d)
            j += 1
          }
          if (depth == 0 && expectKey) {
            // a key only if the next non-space char is ':'
            var k = j
            while (k < body.length && body.charAt(k).isWhitespace) k += 1
            if (k < body.length && body.charAt(k) == ':') keys += sb.toString
          }
          expectKey = false
          i = j - 1
        case '{' | '[' => depth += 1; expectKey = false
        case '}' | ']' => depth -= 1; expectKey = false
        case ',' => if (depth == 0) expectKey = true
        case _ => ()
      }
      i += 1
    }
    keys.toSet
  }

  /** First flat string→number JSON object named `field` in `txt` — the
    * loadRefMins parser generalized (no JSON lib on the classpath). The
    * body comes from the string-aware [[jsonObjectBody]] walk (one
    * definition of "find this JSON object" in the file — r20 review: the
    * old first-`}` cut was only safe while every parsed object held
    * purely numeric values). */
  def loadKeyMap(txt: String, field: String): Map[String, Double] = {
    val body = jsonObjectBody(txt, field)
    raw""""([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Dirty-at-start above this ⇒ the sweep launched inside another
    * phase's writeback shadow — stamp `run_shape:"post_suite"`. Measured
    * floor: the sbt launch ITSELF dirties ~410 MB (target/ writes, logs)
    * before Bench.main runs — observed 420–424 MB on three r16 launches
    * with a fully synced host seconds earlier — so the threshold sits at
    * 1 GiB: above every self-inflicted launch, far below the multi-GB
    * residue of a 35-min suite or a full Verify pass. */
  val PostSuiteDirtyKb = 1048576L

  /** Families flagged by the PREVIOUS round's driver artifact
    * (`segment_flagged` in the highest-numbered BENCH_r*.json under the
    * cwd). Segment hysteresis (VERDICT r15 #3): a family that needed a
    * segment re-measure last round gets a LOWER trigger this round
    * (1.25× vs 1.3×), so a family can't idle just under the threshold
    * round after round (r15: vec at 1.297×). Missing/unparseable
    * artifacts → empty set (fresh clone). */
  def prevSegmentFlags(): Set[String] =
    try {
      import scala.jdk.CollectionConverters._
      val re = raw"BENCH_r(\d+)\.json".r
      val dirStream = java.nio.file.Files.list(java.nio.file.Paths.get("."))
      val files =
        try dirStream.iterator().asScala.flatMap { p =>
          p.getFileName.toString match {
            case re(n) => Some(n.toInt -> p)
            case _     => None
          }
        }.toSeq
        finally dirStream.close()
      if (files.isEmpty) Set.empty
      else {
        // the driver's BENCH_r{N}.json wraps the bench's JSON line inside
        // a "tail" STRING field (quotes escaped) — unescape before the
        // index scan so both raw and wrapped artifacts parse
        val txt = new String(java.nio.file.Files.readAllBytes(files.maxBy(_._1)._2),
          java.nio.charset.StandardCharsets.UTF_8).replace("\\\"", "\"")
        val k = txt.indexOf("\"segment_flagged\":")
        if (k < 0) Set.empty
        else {
          val start = txt.indexOf('[', k)
          val end = txt.indexOf(']', start)
          if (start < 0 || end < 0) Set.empty
          else raw""""([^"]+)"""".r.findAllMatchIn(txt.substring(start, end + 1))
            .map(_.group(1)).toSet
        }
      }
    } catch { case _: Exception => Set.empty }

  /** Draw-level degradation verdict (VERDICT r19 #2): classify the whole
    * sweep as quiet / contended / jit_tail from its own witnesses, so the
    * anchor refresh can refuse to ratchet from a non-quiet draw
    * AUTOMATICALLY instead of via a hand adjudication in NOTES.
    * Thresholds are calibrated on the two adjudicated r19 draws and sit
    * between them with headroom:
    *   committed quiet 82.25 s — par_drift 1.01, calib_drift 1.01, 3.2%
    *   of anchored keys >1.5× their floor, min-sum 1.10× anchor, code
    *   cache flat (warmup had filled it);
    *   driver contended 98.23 s — par_drift 1.12, 7.8% >1.5×, min-sum
    *   1.21×, code cache +60 MB across the alphabet (the JIT sweep-tail
    *   signature).
    * `contended` = host interference (probes drifted, or the anchored
    * keys inflated broadly); `jit_tail` = the JVM itself degraded through
    * the sweep — detected as POSITIONAL inflation (the tail quartile of
    * the run order inflated vs its anchors while the head quartile reads
    * quiet), not as raw code-cache growth: the decontaminated r19 quiet
    * draw grew its cache 66 → 166 MB through the alphabet like every
    * fresh JVM does (the apparent "flat 167 MB" head was end-of-sweep
    * re-measure stamps sitting at early-alphabet positions), so growth
    * per se is normal; what is NOT normal is the r18 signature — late-run
    * keys reading multiples of their floors with quiet probes (measured:
    * quiet draw tail/head median ratio 0.98, degraded driver draw 1.12,
    * r18's episode ≫1.5). Keys re-measured out of position (in-JVM
    * salvage late in the sweep, fresh-child samples) are excluded from
    * the positional series by the caller. Either verdict ⇒ the draw's
    * values must not ENTER the anchor (new keys / resets) — the per-key
    * min-merge of existing floors stays safe (one-way).
    * MIRRORED in tools/refresh_bench_ref.py `classify()` for artifacts
    * that predate the stamp — keep the thresholds in sync. */
  /** CALIBRATION NOTE (VERDICT r20 #6, re-adjudicated r22 per VERDICT
    * r21 #3): thresholds below — par_drift 1.25, calib_drift 1.30,
    * calib_vs_ref 1.25, inflated_frac 0.05, min-sum 1.15, positional
    * 1.15 — are calibrated on the CURRENT host epoch (CalibRef 0.85, see
    * its scaladoc for the six adjudicated draws). par_drift moved
    * 1.08 → 1.25 because this host's all-cores probe jitters to 1.20 on
    * provably quiet draws (observed quiet drifts 1.03/1.05/1.12/1.20
    * with cotenants 0 and median/min ≤ 1.09) while the one genuinely
    * loaded draw read 1.40 — 1.25 separates the observed populations
    * with margin on both sides; sustained parallel theft that stays
    * under it is still caught by the anchored-key signals (the r19
    * driver shape flags via inflated_frac/minsum either way, pinned in
    * BenchClassifySpec). The `calibVsRef > 1.25` trigger IS the
    * hardware-swap guard: on a different epoch every draw stamps
    * `contended`, which conservatively blocks anchor seeding/refresh
    * until `CalibRef` and the thresholds are re-verified against
    * hand-adjudicated draws on the new hardware — update CalibRef and
    * the mirrored values in tools/refresh_bench_ref.py `classify()`
    * together, then `--epoch-reset` the anchor. */
  def classifyDraw(calibBefore: Double, calibAfter: Double, calibRef: Double,
                   parBefore: Double, parAfter: Double,
                   minsInRunOrder: Seq[(String, Double)],
                   refMins: Map[String, Double],
                   positionExcluded: Set[String]): (String, String) = {
    def drift(a: Double, b: Double): Double =
      if (a > 0 && b > 0) math.max(a, b) / math.min(a, b) else 1.0
    val parDrift = drift(parBefore, parAfter)
    val calibDrift = drift(calibBefore, calibAfter)
    val calibVsRef =
      if (calibRef > 0) math.max(calibBefore, calibAfter) / calibRef else 1.0
    val anchored = minsInRunOrder.filter { case (k, _) =>
      refMins.getOrElse(k, 0.0) > 0 }
    val inflFrac =
      if (anchored.isEmpty) 0.0
      else anchored.count { case (k, v) => v > 1.5 * refMins(k) }
        .toDouble / anchored.size
    val minsumRatio =
      if (anchored.isEmpty) 1.0
      else anchored.map(_._2).sum /
        anchored.map { case (k, _) => refMins(k) }.sum
    // positional inflation: head- vs tail-quartile MEDIAN of the per-key
    // min/anchor ratios in run order, over keys whose surviving sample
    // was actually measured at its position
    val pos = anchored.filterNot { case (k, _) => positionExcluded(k) }
      .map { case (k, v) => v / refMins(k) }
    val q = pos.size / 4
    def med(s: Seq[Double]): Double =
      if (s.isEmpty) 1.0 else s.sorted.apply(s.size / 2)
    val (headMed, tailMed) =
      if (pos.size < 50) (1.0, 1.0)
      else (med(pos.take(q)), med(pos.takeRight(q)))
    val contended =
      parDrift > 1.25 || calibDrift > 1.30 || calibVsRef > 1.25 ||
        (anchored.size >= 50 && (inflFrac > 0.05 || minsumRatio > 1.15))
    val jitTail =
      headMed > 0 && tailMed / headMed > 1.15 && tailMed > 1.15
    val verdict =
      if (contended) "contended"
      else if (jitTail) "jit_tail"
      else "quiet"
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val signals =
      s"""{"par_drift":${f3(parDrift)},"calib_drift":${f3(calibDrift)},""" +
      s""""calib_vs_ref":${f3(calibVsRef)},"anchored":${anchored.size},""" +
      s""""inflated_frac":${f3(inflFrac)},"minsum_ratio":${f3(minsumRatio)},""" +
      s""""pos_head_med":${f3(headMed)},"pos_tail_med":${f3(tailMed)}}"""
    (verdict, signals)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Sweep serialization (VERDICT r11 #1): an artifact measured while
    // another graft JVM runs is not comparable round-over-round. Wait for
    // co-tenants to drain (bounded); if they persist, proceed but STAMP
    // the fact — a missing artifact is worse than a flagged one, and the
    // salvage pass below re-measures whatever they inflated.
    val waitBudgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT", "180").toInt
    var cotenants = otherGraftJvms()
    if (cotenants.nonEmpty) {
      System.err.println(s"[bench] waiting up to ${waitBudgetSec}s for other graft JVMs to exit: ${cotenants.mkString(",")}")
      val deadline = System.nanoTime() + waitBudgetSec * 1000000000L
      while (cotenants.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(5000)
        cotenants = otherGraftJvms()
      }
      if (cotenants.nonEmpty)
        System.err.println(s"[bench] ** proceeding under co-tenant load (stamped): ${cotenants.mkString(",")} **")
    }
    // Page-cache quiesce (found r15): a bench launched right after a heavy
    // JVM phase (the full test suite, or the driver's verify step) reads
    // ~15% slow across every IO-heavy key while BOTH CPU probes stay
    // perfectly steady — gigabytes of dirty pages from the prior phase
    // contend with the sweep's scratch writes via the kernel's writeback
    // threads, which no CPU probe can see (measured: 95.4 s post-suite vs
    // 81.8 s standalone, identical probes, same commit). Blocking sync(s)
    // up front flush that backlog before anything is timed, and the
    // artifact STAMPS the shape it launched in (VERDICT r15 #2) — dirty
    // pages at start, post-flush residue, flush wall time, and the derived
    // run_shape — so a post-suite reading is attributable from the JSON
    // alone instead of via a NOTES forensic.
    val dirtyAtStart = dirtyKb()
    val syncT0 = System.nanoTime()
    val settleDeadline = syncT0 +
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE", "60").toInt * 1000000000L
    var dirtyNow = dirtyAtStart
    var syncRounds = 0
    while (syncRounds == 0 ||
           (dirtyNow > 65536L && System.nanoTime() < settleDeadline)) {
      try { new ProcessBuilder("sync").inheritIO().start().waitFor() }
      catch { case _: Exception => () } // best-effort (non-POSIX hosts)
      syncRounds += 1
      dirtyNow = dirtyKb()
      if (dirtyNow > 65536L && System.nanoTime() < settleDeadline)
        Thread.sleep(2000) // let concurrent writers drain before re-flushing
    }
    val syncMs = (System.nanoTime() - syncT0) / 1e6
    val runShape =
      if (dirtyAtStart < 0) "unknown"
      else if (dirtyAtStart > PostSuiteDirtyKb) "post_suite"
      else "standalone"
    if (runShape == "post_suite")
      System.err.println(f"[bench] run_shape=post_suite: ${dirtyAtStart / 1024} MB dirty at launch, flushed in ${syncMs / 1000}%.1f s (residue ${math.max(dirtyNow, 0L) / 1024} MB)")
    val spark = Sessions.builder(cpus.toInt)
      // local-mode rig: nio checkpoint manager dodges the no-native-lib
      // shell-fork tax on every streaming metadata write (see
      // streaming/LocalCheckpointFileManager)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/session warmup outside the timed loop: one trivial job + parquet
    // footer reads so the first measured query doesn't absorb session init
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings",
      "part", "supplier", "nation", "region").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").schema catch { case _: Throwable => }
    }
    // comma-separated substring terms, OR-matched (empty = every key) —
    // run_gates.sh's contention rerun passes the flagged keys as one list.
    // Parsed BEFORE the streaming warmup so a batch-only filtered run
    // doesn't pay an untimed streaming query it can't benefit from.
    val filter = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILTER", "")
    val filterTerms = filter.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // EXACT mode (r19 review): the child-JVM salvage passes exact key
    // names — substring matching would drag every superstring key into
    // the child sweep (q_vec_ann_ivf → ...ivf_indexed/ivfpq/...) and burn
    // its 15-minute budget on keys nobody flagged
    val filterExact = sys.env.get("SPARK_GRAFT_BENCH_FILTER_EXACT").contains("1")
    def matches(name: String): Boolean =
      filterTerms.isEmpty ||
        (if (filterExact) filterTerms.contains(name)
         else filterTerms.exists(name.contains))
    // Streaming-machinery warmup OUTSIDE the timed loop (VERDICT r16 #1,
    // mechanism named by the r17 key-order A/B: a full sweep with the
    // stream family FIRST read it at 25.00 s vs 21.35 s sorted on the same
    // quiet host — almost exactly the driver artifact's 25.34 — while
    // total_min stayed equal, i.e. a ~3.7 s one-time class-load + C2
    // compilation tax for the micro-batch engine lands on whichever keys
    // exercise it first and decays over ~20 keys. Batch keys get their
    // equivalent from the range/footer warmup above; the stream family got
    // nothing. One untimed run of the cheapest declared streaming key
    // loads MicroBatchExecution, the checkpoint manager, state machinery,
    // the rigs' sized child sessions, and enqueues the C2 work before
    // anything is measured.)
    if (SparkEntry.queries.keys.exists(k => k.startsWith("q_stream") && matches(k)))
      SparkEntry.queries.get("q_stream_trend").foreach { fn =>
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
        Queries.cleanScratch()
      }
    // calibration probe brackets the sweep (one discard run up front so
    // the measured probes aren't paying JIT warmup of the probe loop)
    calibrate()
    val calibBefore = calibrateMin()
    calibrateParallel() // JIT warmup for the parallel loop body
    val calibParBefore = calibrateParallelMin()
    fsyncProbeMs(5) // warm the probe path (class load, first-touch)
    val fsyncBefore = fsyncProbeMs()
    // 3 runs per query; report the MEDIAN as the headline (robust to one
    // GC/codegen spike) AND keep the MIN per query (robust to sustained
    // host contention, which inflates median and min differently — a
    // contended sample shows median >> min on many keys at once, plus an
    // inflated calibration probe); sorted key order keeps rounds
    // comparable query-by-query.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // a throwing query must NOT make the sweep look faster (r9 VERDICT:
    // the old `catch → -1L` recorded near-zero time and reported
    // success) — record the first error message per key and surface it
    // in the artifact + a loud stderr summary; run_gates.sh hard-fails
    // on any. Timings for errored keys still carry the elapsed-to-throw
    // wall time, which the err flag marks as meaningless.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-key IO stamps (VERDICT r16 #6): deltas of /proc/self/io +
    // host iowait around each measure() call (all `runs` runs of the key).
    // Salvage re-measures OVERWRITE the entry — the stamp describes
    // the most recent sample of the key, matching the timing that survives
    // the min-merge in the common case.
    val ioStamps = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
    // Per-key JVM witnesses (VERDICT r18 #2): GC ms absorbed across the
    // key's runs + JIT code-cache occupancy when the key finished — the
    // end-of-sweep JVM-degradation signature no re-run of long-compiled
    // probe code can see. Same overwrite-on-re-measure policy as ioStamps.
    val jvmStamps = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def measure(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame):
        (String, Double, Double) = {
      val (ior0, iow0) = procIo()
      val iwt0 = iowaitTicks()
      val gc0 = gcTotalMs()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // queries that localCheckpoint (minhash/simhash/embedding dedup)
        // leave lineage-truncated blocks pinned in block-manager storage;
        // released AFTER EVERY RUN so run 1's blocks don't pressure the
        // runs being medianed (and runs×queries never accumulate)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        // scratch dirs are no longer deleted per-tag on creation (the
        // concurrent-suite hazard); the bench is the one context where
        // runs×queries dirs of sf0.1 data would pile up — drop them here,
        // after the count materialized everything that read from them
        Queries.cleanScratch()
        t
      }.sorted
      // every run, not just the median and min: warm-up and run-to-run
      // spread stay visible on stderr (stdout carries only the headline)
      System.err.println(f"[bench] $name%-28s ${times.map(t => f"$t%.3f").mkString(" ")}")
      val (ior1, iow1) = procIo()
      val iwt1 = iowaitTicks()
      val gc1 = gcTotalMs()
      ioStamps(name) = (
        if (ior0 >= 0 && ior1 >= 0) (ior1 - ior0) / 1024 else -1L,
        if (iow0 >= 0 && iow1 >= 0) (iow1 - iow0) / 1024 else -1L,
        if (iwt0 >= 0 && iwt1 >= 0) iwt1 - iwt0 else -1L)
      jvmStamps(name) = (
        if (gc0 >= 0 && gc1 >= 0) gc1 - gc0 else -1L,
        codeCacheUsedKb())
      (name, times(times.size / 2), times.head)
    }
    // one wall timestamp for the whole draw: stamped as `ts` AND the seed
    // of the salvage shuffle (ADVICE r19 #4 — a fixed seed made the
    // "shuffled" re-measure order identical every sweep, so end-of-salvage
    // positional degradation always landed on the same pseudo-random tail
    // keys; seeding from the stamped ts varies the order across sweeps
    // while keeping it reproducible from the artifact alone)
    val sweepTs = java.time.Instant.now()
    val primary: Seq[(String, Double, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(r => matches(r._1)).map { case (name, fn) => measure(name, fn) }
    val calibAfter = calibrateMin()
    val calibParAfter = calibrateParallelMin()
    val fsyncAfter = fsyncProbeMs()
    // In-JVM contention salvage (VERDICT r11 #1): a key whose median is
    // >1.8× its own min was hit by TRANSIENT contention during the sweep —
    // re-measure exactly those keys now (the co-tenant may have drained)
    // and keep the better (median, min) pair per key, so the artifact the
    // DRIVER captures is already salvaged (run_gates' cross-JVM rerun
    // remains the backstop). The merge never makes a key worse. Sustained
    // contention (median and min inflated together) is what the probe
    // stamps + the co-tenant stamp are for — no in-JVM rerun can fix it.
    val flagged = primary.filter(r => r._3 > 0 && r._2 / r._3 > 1.8).map(_._1)
    // Reference-anchored salvage (VERDICT r12 #1): a key whose MIN sits
    // >2× its committed quiet reference min was inflated by SUSTAINED
    // contention (median/min stays ≤1.8 — the self-ratio trigger is blind
    // to it). Re-measure those too; if the key is genuinely slower now
    // the re-measure confirms it and the stamp says so. Trigger dropped
    // 2.5 → 2.0 at r14 (VERDICT r13 #5: the round's one real drift, a
    // 2.13× on q_join_bucketed, slipped under 2.5) — the anchor map is
    // refreshed every round close, so 2× leaves headroom over quiet
    // run-to-run jitter (~1.3×) while catching drifts the old trigger
    // missed.
    // Per-config anchor (VERDICT r14 #4, single-source since r18 per
    // VERDICT r17 #7): local[4] and local[32] mins are not comparable
    // (scheduling, shuffle width, per-task overheads differ). The ONLY
    // anchor source is BENCH_ref.local<cpus>.json for THIS run's
    // parallelism; no legacy mixed-config fallback — a config with no
    // captured anchor gets no reference salvage rather than a wrong one.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      s"BENCH_ref.local$cpus.json")
    val refMins = loadRefMins(refPath)
    val refFlagged = primary.filter { r =>
      refMins.get(r._1).exists(ref => ref > 0 && r._3 > 2.0 * ref)
    }.map(_._1).filterNot(flagged.contains)
    val salvaged = scala.collection.mutable.ArrayBuffer[String]()
    val refSalvaged = scala.collection.mutable.ArrayBuffer[String]()
    // Ref-salvage isolation (VERDICT r18 #2): the r18 driver artifact's
    // sweep-tail keys read 4–7× from end-of-sweep JVM degradation, and the
    // in-JVM ref-salvage re-measured them in the SAME degraded state —
    // falsely confirming the draw. Ref-flagged keys therefore re-measure
    // in a FRESH CHILD JVM (childRemeasure — fresh JIT/GC state is the
    // only reading that separates a positional artifact from a real
    // regression); the in-JVM pass remains the fallback when the child
    // fails, in SHUFFLED order so positional degradation can't land on
    // the same alphabetical tail it flagged. Transient (median/min)
    // salvage stays in-JVM by design — its premise is that the co-tenant
    // drained, not that the JVM degraded. Children never fork
    // grandchildren (SPARK_GRAFT_BENCH_CHILD).
    val isChild = sys.env.get("SPARK_GRAFT_BENCH_CHILD").contains("1")
    var refSalvageMode = "none"
    val childMeasured: Map[String, ChildSample] =
      if (refFlagged.nonEmpty && !isChild) {
        System.err.println(s"[bench] reference salvage (min >2x $refPath): fresh child JVM for ${refFlagged.size} key(s): ${refFlagged.mkString(",")}")
        val m = childRemeasure(refFlagged, sfDir, cpus)
        // partial child coverage must not claim fresh-JVM isolation for
        // the keys that fell back to the in-JVM pass (r19 review)
        refSalvageMode =
          if (m.isEmpty) "in_jvm_child_failed"
          else if (refFlagged.forall(m.contains)) "child_jvm"
          else "child_jvm_partial"
        if (m.isEmpty)
          System.err.println("[bench] ** child JVM re-measure failed — falling back to in-JVM (shuffled) **")
        m
      } else {
        if (refFlagged.nonEmpty) refSalvageMode = "in_jvm_is_child"
        Map.empty
      }
    val allFlagged = flagged ++ refFlagged.filterNot(childMeasured.contains)
    // per-key sample provenance for child-salvaged keys (ADVICE r19 #1):
    // the witness stamps describe the sample whose MIN survives the merge
    // (the anchor-refresh feed), so child stamps are adopted ONLY when the
    // child won the min; when provenance is mixed (child median over a
    // parent min, or vice versa) the flag says so instead of the stamps
    // silently describing the losing sample
    val sampleSource = scala.collection.mutable.LinkedHashMap[String, String]()
    // keys whose SURVIVING MIN came from an out-of-position re-measure
    // (in-JVM salvage late in the sweep, or a fresh child JVM): they must
    // not feed the verdict's positional-inflation series (r20 review).
    // Keys whose re-measure did NOT improve keep their in-position
    // primary sample and stay in — an end-of-sweep fallback that falsely
    // "confirms" a degraded tail (the r18 episode) leaves the evidence
    // visible instead of hiding it
    val reStamped = scala.collection.mutable.Set[String]()
    val merged: Seq[(String, Double, Double)] =
      if (allFlagged.isEmpty && childMeasured.isEmpty) primary
      else {
        if (flagged.nonEmpty)
          System.err.println(s"[bench] contention salvage: re-measuring ${flagged.size} key(s): ${flagged.mkString(",")}")
        val remeasured = new scala.util.Random(sweepTs.toEpochMilli).shuffle(allFlagged)
          .map(k => k -> measure(k, SparkEntry.queries(k))).toMap ++
          childMeasured.map { case (k, cs) => k -> ((k, cs.median, cs.min)) }
        primary.map { r =>
          remeasured.get(r._1) match {
            case Some(n) =>
              // replaced = the re-measure improved EITHER surviving value
              // (median feeds the headline, MIN feeds the anchor refresh —
              // r19 second review: gating on median alone let a
              // min-winning child sample feed queries_min unmarked and
              // unstamped)
              if (n._3 < r._3) reStamped += r._1
              if (n._2 < r._2 || n._3 < r._3) {
                (if (refFlagged.contains(r._1)) refSalvaged else salvaged) += r._1
                // the stamps describe the sample whose MIN survives: a
                // child sample that wins the min brings its OWN fresh-JVM
                // witnesses along (r19 review); a child that won only the
                // MEDIAN leaves the parent stamps (they still describe the
                // surviving min) and the provenance flag records the mix
                // (ADVICE r19 #1)
                childMeasured.get(r._1).foreach { cs =>
                  val winsMin = n._3 < r._3
                  val winsMed = n._2 < r._2
                  if (winsMin) {
                    ioStamps(r._1) = cs.io
                    jvmStamps(r._1) = cs.jvm
                  }
                  sampleSource(r._1) =
                    if (winsMin && winsMed) "child"
                    else if (winsMin) "child_min_parent_median"
                    else "parent_min_child_median"
                }
              }
              (r._1, math.min(n._2, r._2), math.min(n._3, r._3))
            case None => r
          }
        }
      }
    // SEGMENT-level anchor salvage (VERDICT r14 #1): a whole family can
    // drift at ~1.8× with every key UNDER the 2× single-key trigger (r14:
    // eight q_vec_* keys at 1.7–1.99× summed to 1.50× the family's anchor
    // sum and none was re-measured). Compare each family's min-SUM against
    // the anchor's sum over the SAME keys (only keys present in both, so a
    // new key can't inflate the ratio) and, when a family with ≥3 anchored
    // keys exceeds 1.3×, re-measure the ENTIRE family in-JVM and min-merge.
    // 1.3× sits above quiet family-sum jitter (sums average out per-key
    // noise, observed ≤1.1×) and below every escape this check exists for
    // (1.32× stream / 1.50× vec in r14). The merge never makes a key worse;
    // a family that stays high after its re-measure is a confirmed
    // regression and the stamp says so.
    // Hysteresis (VERDICT r15 #3): a family the PREVIOUS artifact flagged
    // re-triggers at 1.25× instead of 1.3×, so it can't idle one part in
    // a thousand under the threshold round after round (r15: vec family
    // at 1.297× after two flagged rounds).
    val prevFlags = prevSegmentFlags()
    val segFlagged: Seq[String] = merged
      .filter(r => refMins.contains(r._1))
      .groupBy(r => familyOf(r._1)).toSeq
      .filter { case (_, rs) => rs.size >= 3 }
      .flatMap { case (fam, rs) =>
        val anchorSum = rs.map(r => refMins(r._1)).sum
        val sweepSum = rs.map(_._3).sum
        val trigger = if (prevFlags.contains(fam)) 1.25 else 1.3
        if (anchorSum > 0 && sweepSum > trigger * anchorSum) {
          System.err.println(f"[bench] segment salvage: family '$fam' min-sum ${sweepSum}%.2f vs anchor ${anchorSum}%.2f (${sweepSum / anchorSum}%.2fx, trigger $trigger) — re-measuring all ${rs.size} keys")
          Some(fam)
        } else None
      }.sorted
    val segReplaced = scala.collection.mutable.ArrayBuffer[String]()
    val results: Seq[(String, Double, Double)] =
      if (segFlagged.isEmpty) merged
      else {
        // child-measured keys are excluded: they were JUST re-measured in a
        // fresh JVM — another measure() here would run in the (possibly
        // degraded) parent and clobber the child witnesses with
        // degraded-parent stamps, undoing the isolation (r19 second review)
        val keys = merged.map(_._1).filter(k => segFlagged.contains(familyOf(k)))
          .filterNot(childMeasured.contains)
        val remeasured = keys
          .map(k => k -> measure(k, SparkEntry.queries(k))).toMap
        merged.map { r =>
          remeasured.get(r._1) match {
            case Some(n) =>
              if (n._3 < r._3) { segReplaced += r._1; reStamped += r._1 }
              (r._1, math.min(n._2, r._2), math.min(n._3, r._3))
            case None => r
          }
        }
      }
    // draw-level verdict from the witnesses (VERDICT r19 #2): the
    // positional series excludes keys whose surviving sample was NOT
    // measured at its run position — fresh-child samples (sample_source
    // records those) and keys re-measured in-JVM late in the sweep
    // (their end-of-sweep readings sit at early-alphabet positions and
    // would flatten or fake a real tail)
    val childStamped: Set[String] = sampleSource.collect {
      case (k, s) if s == "child" || s == "child_min_parent_median" => k
    }.toSet
    val posExcluded = childStamped ++ reStamped
    // the anchored-key signals are meaningful only when the anchor's
    // floors were measured on THESE input bytes — against a regenerated
    // dataset they read as broad "inflation" and would stamp a spurious
    // contended verdict that blocks the refresh's own data-reset path
    // (r20 review)
    val sweepFp = Staging.fingerprint(Seq(sfDir))
    val anchorFp = loadRefField(refPath, "sf_fingerprint")
    // mtime-only data flips (a touch / re-copy of identical bytes) change
    // the mtime-bearing fingerprint but not the path+size one; the
    // anchor's floors are still valid there, and skipping the anchored
    // signals in that window would let a broadly-inflated draw with quiet
    // probes stamp 'quiet' and seed NEW keys at inflated floors — the
    // exact case the verdict exists to block (ADVICE r20 #1)
    val sweepFpSizes = Staging.sizeFingerprint(Seq(sfDir))
    val anchorFpSizes = loadRefField(refPath, "sf_fingerprint_sizes")
    // content witness (ADVICE r20 #2): a same-size regeneration passes the
    // sizes comparison — when BOTH stamps carry the witness it must match
    // too (pre-r21 anchors lack it and stay comparable on sizes alone)
    val sweepFpContent = Staging.contentFingerprint(Seq(sfDir))
    val anchorFpContent = loadRefField(refPath, "sf_fingerprint_content")
    val refMinsForVerdict =
      if (anchorFp.isEmpty || anchorFp == sweepFp) refMins
      else if (anchorFpSizes.nonEmpty && anchorFpSizes == sweepFpSizes &&
               (anchorFpContent.isEmpty || anchorFpContent == sweepFpContent)) {
        System.err.println(s"[bench] anchor sf_fingerprint differs but sf_fingerprint_sizes matches (mtime-only data flip) — anchored-key verdict signals kept")
        refMins
      } else {
        System.err.println(s"[bench] anchor sf_fingerprint differs from the sweep's — anchored-key verdict signals skipped")
        Map.empty[String, Double]
      }
    val (degVerdict, degSignals) = classifyDraw(
      calibBefore, calibAfter, CalibRef, calibParBefore, calibParAfter,
      results.map(r => r._1 -> r._3),
      refMinsForVerdict,
      posExcluded.toSet)
    if (degVerdict != "quiet")
      System.err.println(s"[bench] ** draw degradation verdict: $degVerdict — $degSignals — the anchor refresh will not enter NEW floors from this draw **")
    // ONE JSON line, but field order matters: the harness keeps only the
    // TAIL of the run's output, so with 100+ queries the line's head gets
    // truncated. Put the big per-query map FIRST and the headline
    // metric/value/total LAST so they always survive truncation; 3-decimal
    // timings keep the whole line as small as possible.
    def ms3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qmap(f: ((String, Double, Double)) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + ms3(f(r))).mkString("{", ",", "}")
    // headline = sum of the ROUNDED per-query medians, so the printed total
    // always equals the sum of the printed entries exactly (ADVICE r5)
    val total = results.map(r => ms3(r._2).toDouble).sum
    val totalMin = results.map(r => ms3(r._3).toDouble).sum
    // probe-normalized headlines: rescale onto the documented quiet-epoch
    // reference host (CalibRef) so a hardware-epoch swap (the 00:03Z
    // Aug 14 reboot: probe 0.68 → 0.86 s, every query ×1.3) doesn't eat
    // the 2× gate margin. The best probe of the bracket (min of
    // before/after) estimates the epoch — a transiently-contended single
    // probe must not over-normalize the sample in our favor.
    val probe = math.min(calibBefore, calibAfter)
    val norm = CalibRef / probe
    // JSON string escaping for error messages (quotes/backslash/control chars)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ** ${errors.size} QUERY(S) ERRORED — timings for these keys are meaningless **")
      errors.foreach { case (k, v) => System.err.println(s"[bench]   $k: $v") }
    }
    // Family-level IO roll-up for the stdout line (the driver keeps only the
    // tail of stdout — ~12 families fit where 200+ per-key maps would not);
    // the full per-key maps go to BENCH_full.json below.
    def famIoJson(pick: ((Long, Long, Long)) => Long): String =
      ioStamps.toSeq.groupBy(kv => familyOf(kv._1)).toSeq.sortBy(_._1)
        .map { case (fam, kvs) =>
          val vs = kvs.map(kv => pick(kv._2)).filter(_ >= 0)
          "\"" + fam + "\":" + (if (vs.isEmpty) -1L else vs.sum)
        }.mkString("{", ",", "}")
    def keyIoJson(pick: ((Long, Long, Long)) => Long): String =
      ioStamps.map { case (k, v) => "\"" + k + "\":" + pick(v) }
        .mkString("{", ",", "}")
    // provenance stamp, split in two (VERDICT r21 #2: the all-in-one stdout
    // line outgrew the driver's stdout capture in r20 — `parsed: null`, a
    // second consecutive round without a per-query prev table). `stampLite`
    // is what the round-over-round comparison and the epoch adjudication
    // need next to the queries map; `stampHeavy` is the salvage/fingerprint/
    // IO forensics, which live in BENCH_full.json (the refresh tool and
    // run_gates.sh read the file, not stdout) and on a separate stdout line
    // that may truncate harmlessly.
    val stampLite =
      s""""cpus":"$cpus","host_cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""ts":"$sweepTs",""" +
      s""""calib_before_sec":${ms3(calibBefore)},"calib_after_sec":${ms3(calibAfter)},""" +
      s""""calib_par_before_sec":${ms3(calibParBefore)},"calib_par_after_sec":${ms3(calibParAfter)},""" +
      s""""degradation":${jstr(degVerdict)},""" +
      s""""degradation_signals":$degSignals,""" +
      s""""calib_ref":$CalibRef,"errors":$errJson"""
    val stampHeavy =
      s""""fsync_ms_before":${ms3(fsyncBefore)},"fsync_ms_after":${ms3(fsyncAfter)},""" +
      s""""cotenant_jvms_at_start":${cotenants.size},""" +
      s""""run_shape":${jstr(runShape)},"dirty_kb_at_start":$dirtyAtStart,""" +
      s""""dirty_kb_after_sync":$dirtyNow,"sync_sec":${ms3(syncMs / 1000.0)},""" +
      s""""segment_hysteresis":${prevFlags.toSeq.sorted.map(jstr).mkString("[", ",", "]")},""" +
      s""""salvage_rerun":${flagged.map(jstr).mkString("[", ",", "]")},""" +
      s""""salvage_replaced":${salvaged.map(jstr).mkString("[", ",", "]")},""" +
      s""""ref_flagged":${refFlagged.map(jstr).mkString("[", ",", "]")},""" +
      s""""ref_replaced":${refSalvaged.map(jstr).mkString("[", ",", "]")},""" +
      s""""ref_salvage_mode":${jstr(refSalvageMode)},""" +
      s""""segment_flagged":${segFlagged.map(jstr).mkString("[", ",", "]")},""" +
      s""""segment_replaced":${segReplaced.map(jstr).mkString("[", ",", "]")},""" +
      s""""bench_ref_path":${jstr(refPath)},""" +
      // testdata-generation binding (VERDICT r18 #4): the anchor refresh
      // refuses to min-merge floors measured on DIFFERENT input bytes —
      // this stamp is the sweep's half of that handshake
      s""""sf_fingerprint":${jstr(sweepFp)},""" +
      // sizes-only companion (ADVICE r19 #3): stable across touch/re-copy
      // and byte-identical regeneration, so the refresh can tell an
      // mtime-only change (keep the floors) from a real data change
      // (wholesale reset) instead of resetting on every stamp flip
      s""""sf_fingerprint_sizes":${jstr(sweepFpSizes)},""" +
      s""""sf_fingerprint_content":${jstr(sweepFpContent)},""" +
      s""""sample_source":${sampleSource.toSeq.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString("{", ",", "}")},""" +
      // keys whose surviving MIN came from an out-of-position in-JVM
      // re-measure — the verdict's positional series excluded these, and
      // the refresh's mirrored classifier reads the same list
      s""""min_replaced":${reStamped.toSeq.sorted.map(jstr).mkString("[", ",", "]")},""" +
      s""""key_order":"sorted",""" +
      s""""tmpdir":${jstr(sys.props.getOrElse("java.io.tmpdir", "/tmp"))},""" +
      s""""io_read_kb_family":${famIoJson(_._1)},""" +
      s""""io_write_kb_family":${famIoJson(_._2)},""" +
      s""""iowait_ticks_family":${famIoJson(_._3)}"""
    val normTail =
      s""""total_min_norm":${ms3(totalMin * norm)},"value_norm":${ms3(total * norm)},"""
    // stdout protocol (VERDICT r21 #2): the forensics line FIRST (it has no
    // "value" key, so run_gates.sh's `grep "value" | tail -1` and any
    // last-line parse land on the compact line), then the compact
    // queries+headline line LAST — the driver keeps the TAIL of stdout, so
    // the line the round-over-round comparison needs is the one nearest the
    // end and is ~7 KB instead of r20's ~20 KB.
    println(s"""{"instrumentation":1,"sf":"$sfDir",$stampHeavy}""")
    val line = s"""{"queries":${qmap(_._2)},"sf":"$sfDir",""" +
      s""""n_queries":${results.size},$stampLite,"total_min":${ms3(totalMin)},$normTail""" +
      s""""metric":"total","value":${ms3(total)},"unit":"sec"}"""
    println(line)
    // companion file with the FULL artifact: the per-query MEDIAN map (same
    // keys as previous rounds' diffs), the per-query MIN map, and the
    // provenance stamp — the harness keeps only the tail of stdout, so with
    // 130+ queries the printed map's head is truncated; the file lets every
    // key be diffed round-over-round AND lets the reader detect a contended
    // sample (calib probes high, medians >> mins). Filtered runs skip the
    // DEFAULT write (a partial map would silently replace the full
    // artifact) but honor an EXPLICIT SPARK_GRAFT_BENCH_FULL path — the
    // contention-rerun protocol writes its partial sample there on purpose.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full.json")
    def keyJvmJson(pick: ((Long, Long)) => Long): String =
      jvmStamps.map { case (k, v) => "\"" + k + "\":" + pick(v) }
        .mkString("{", ",", "}")
    val fullLine = s"""{"queries":${qmap(_._2)},"queries_min":${qmap(_._3)},""" +
      s""""io_read_kb":${keyIoJson(_._1)},"io_write_kb":${keyIoJson(_._2)},""" +
      s""""iowait_ticks":${keyIoJson(_._3)},""" +
      s""""gc_ms":${keyJvmJson(_._1)},"code_cache_kb":${keyJvmJson(_._2)},""" +
      s""""sf":"$sfDir","n_queries":${results.size},$stampLite,$stampHeavy,""" +
      s""""total_min":${ms3(totalMin)},$normTail"metric":"total","value":${ms3(total)},"unit":"sec"}"""
    if (filter.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_FULL"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullLine + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}") }
    spark.stop()
  }
}
