package graft

/** JVM-lifetime staging of deterministic intermediate parquet dirs shared
  * across bench repeats (the stagedFrame / ensureEncoded convention): built
  * once per key, read back after. Centralizes the three lifecycle concerns
  * the ad-hoc per-map versions each half-handled:
  *  - per-KEY build locking (one memoizing holder per key; builds never
  *    run inside the map's own bin locks) — unrelated stagings no longer
  *    serialize behind one build;
  *  - deletion at JVM exit (shutdown hook) — staged corpora no longer
  *    accumulate in the system temp dir across processes, including the
  *    half-written dir of a FAILED build;
  *  - an input-content fingerprint folded into the key, so inputs
  *    regenerated at the SAME path mid-JVM re-stage instead of silently
  *    serving the stale corpus.
  * Use ONLY for inputs whose derivation is priced by another declared key
  * (staging away a key's own gated semantics would hollow the slot).
  * Users: Queries' staged frames and warehouse fixtures, the text and
  * vector index stages, MultimodalOps' media stage, and the declared
  * stream rigs' file sources (streaming.Declared, keyed per frame through
  * [[Tables.memo]]). */
private[graft] object Staging {
  /** Per-key memoized build: the lazy val gives one-build-per-holder
    * semantics under the HOLDER's monitor, so a slow Spark build never
    * runs inside ConcurrentHashMap.compute's bin lock (where it would
    * serialize hash-colliding keys and break CHM's short-computation
    * contract). */
  private final class Holder(prefix: String, build: String => Unit) {
    lazy val path: String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      created.add(d) // registered BEFORE the build so no outcome strands it
      try build(d)
      catch {
        case e: Throwable =>
          // a failed build must not strand its half-written dir (the
          // holder stays uninitialized, so a retry re-runs the build)
          try org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(d))
          catch { case _: Exception => () }
          throw e
      }
      d
    }
  }

  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, Holder]()
  // every temp dir ever created, independent of holder state — the
  // shutdown hook must not touch Holder.path (forcing an unbuilt lazy val
  // would RUN the build at JVM exit)
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    created.forEach { d =>
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      catch { case _: Exception => () }
    }
  }))

  /** Content fingerprint of input paths: (relative path, size, mtime) per
    * REGULAR file, walked recursively (ADVICE r14 #2: a one-level listing
    * saw only the subdirectory entry of a partitioned `_part=` layout,
    * whose size/mtime need not change when files inside it are rewritten).
    * Metadata-only; never reads file contents. Missing paths fail fast: a
    * typo'd input would otherwise fingerprint as a constant and silently
    * disable the staleness detection. */
  def fingerprint(paths: Seq[String]): String =
    fingerprintWith(paths, withMtime = true)

  /** Sizes-only companion of [[fingerprint]] (ADVICE r19 #3): relative
    * path + byte size per regular file, NO mtimes — stable across a
    * touch, a re-copy, and a byte-identical regeneration, while a real
    * data change almost surely moves some file's size. The bench stamps
    * BOTH so the anchor refresh can tell an mtime-only flip (keep the
    * floors) from a genuine testdata regeneration (wholesale reset).
    * Staged-dir keys keep using the mtime-bearing [[fingerprint]] —
    * over-rebuilding a stage is cheap; serving stale bytes is not. */
  def sizeFingerprint(paths: Seq[String]): String =
    fingerprintWith(paths, withMtime = false)

  /** Cheap content WITNESS companion of [[sizeFingerprint]] (ADVICE r20
    * #2): relative path + byte size + a hash of each file's first and
    * last 4 KiB — for parquet that spans the magic header and the footer
    * metadata, which a regeneration virtually cannot reproduce
    * byte-identically. Guards the size-collision case: a regeneration
    * that preserves every file's size is indistinguishable from an
    * mtime-only touch under [[sizeFingerprint]] alone, and would keep
    * anchor floors measured on different bytes. Stamped as its own field
    * (`sf_fingerprint_content`) so pre-r21 anchors, which lack it, stay
    * comparable on the sizes stamp. Never reads more than 8 KiB per
    * file. */
  def contentFingerprint(paths: Seq[String]): String =
    fingerprintWith(paths, withMtime = false, withWitness = true)

  private def edgeWitness(f: java.io.File): Int = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val n = raf.length()
      val head = new Array[Byte](math.min(4096L, n).toInt)
      raf.readFully(head)
      val tail = new Array[Byte](math.min(4096L, n).toInt)
      raf.seek(math.max(0L, n - tail.length))
      raf.readFully(tail)
      java.util.Arrays.hashCode(head) * 31 + java.util.Arrays.hashCode(tail)
    } finally raf.close()
  }

  private def fingerprintWith(paths: Seq[String], withMtime: Boolean,
                              withWitness: Boolean = false): String = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).sortBy(_.getName)
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else if (withMtime) Seq(s"$rel:${f.length}:${f.lastModified}")
      else if (withWitness) Seq(s"$rel:${f.length}:${edgeWitness(f)}")
      else Seq(s"$rel:${f.length}")
    val parts = paths.flatMap { p =>
      val f = new java.io.File(p)
      require(f.exists(), s"Staging.fingerprint: input path missing: $p")
      walk(f, f.getName)
    }
    java.lang.Long.toHexString(
      parts.foldLeft(1125899906842597L)((h, s) => 31 * h + s.hashCode))
  }

  /** Staged dir for `key`: reuse if already built and still on disk,
    * otherwise run `build` into a fresh temp dir. Callers fold the input
    * identity (path + [[fingerprint]]) and any algorithm identity (codec,
    * layout params) into `key`. */
  @scala.annotation.tailrec
  def dirFor(key: String, prefix: String)(build: String => Unit): String = {
    val h = dirs.computeIfAbsent(key, _ => new Holder(prefix, build))
    val p = h.path // builds (once) under the holder's own lock
    if (new java.io.File(p).exists()) p
    else { // staged dir deleted externally: drop the holder and rebuild
      System.err.println(
        s"[staging] staged dir for '$key' vanished ($p) — rebuilding")
      dirs.remove(key, h)
      dirFor(key, prefix)(build)
    }
  }
}
