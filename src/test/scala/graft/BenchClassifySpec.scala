package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function contracts of the bench's draw-verdict machinery
  * (VERDICT r19 #2): the classifier's three verdicts on the adjudicated
  * r19 signal shapes (thresholds MIRRORED in tools/refresh_bench_ref.py
  * `classify()` — tools/test_refresh_bench_ref.py pins the same shapes
  * there), and the readers of the anchor file the verdict compares
  * against. */
class BenchClassifySpec extends AnyFunSuite {

  private def mins(n: Int, base: Double, inflFrac: Double = 0.0,
                   tail: Option[Double] = None): Seq[(String, Double)] = {
    val nInfl = (n * inflFrac).toInt
    val vs = (0 until n).map { i =>
      f"q_k$i%03d" -> (if (i < nInfl) 1.6 else base)
    }
    tail match {
      case Some(t) => vs.dropRight(n / 4) ++ vs.takeRight(n / 4)
        .map { case (k, _) => k -> t }
      case None => vs
    }
  }
  private val anchor: Map[String, Double] =
    (0 until 217).map(i => f"q_k$i%03d" -> 1.0).toMap

  test("quiet draw: r19 committed-sweep shape") {
    val (v, _) = Bench.classifyDraw(0.738, 0.747, 0.68, 0.101, 0.102,
      mins(217, 1.09, inflFrac = 0.032), anchor)
    assert(v === "quiet")
  }

  test("contended draw: r19 driver-sweep shape (par drift + broad inflation)") {
    val (v, s) = Bench.classifyDraw(0.738, 0.747, 0.68, 0.111, 0.124,
      mins(217, 1.21, inflFrac = 0.078), anchor)
    assert(v === "contended", s)
  }

  test("r22 epoch: quiet par-probe jitter up to 1.20x stays quiet, 1.40x flags") {
    // this host's all-cores probe jitters to 1.198x on hand-adjudicated
    // quiet draws (cotenants 0, flat anchored profile, median/min <= 1.09)
    // — the old 1.08 threshold over-flagged every draw; the one genuinely
    // loaded r22 draw read 1.40x with broad inflation
    val (v1, s1) = Bench.classifyDraw(0.857, 0.852, 0.85, 0.139, 0.116,
      mins(217, 1.05, inflFrac = 0.03), anchor)
    assert(v1 === "quiet", s1)
    val (v2, s2) = Bench.classifyDraw(0.864, 0.858, 0.85, 0.183, 0.131,
      mins(217, 1.05, inflFrac = 0.03), anchor)
    assert(v2 === "contended", s2)
  }

  test("jit_tail draw: quiet probes, tail quartile inflated vs floors") {
    val (v, s) = Bench.classifyDraw(0.738, 0.747, 0.68, 0.101, 0.102,
      mins(217, 1.0, tail = Some(1.4)), anchor)
    assert(v === "jit_tail", s)
  }

  test("no anchor => probes alone decide") {
    val (v1, _) = Bench.classifyDraw(0.7, 0.7, 0.68, 0.10, 0.10,
      mins(217, 5.0), Map.empty)
    assert(v1 === "quiet")
    val (v2, _) = Bench.classifyDraw(0.7, 0.95, 0.68, 0.10, 0.10,
      mins(217, 1.0), Map.empty)
    assert(v2 === "contended") // calib drift 1.36 > 1.30
  }

  test("loadKeyMap reads flat numeric maps through the string-aware walk") {
    val txt = """{"errors":{"q_x":"msg with } brace"},"queries_min":{"q_a":0.5,"q_b":2.25}}"""
    assert(Bench.loadKeyMap(txt, "queries_min") ===
      Map("q_a" -> 0.5, "q_b" -> 2.25))
    assert(Bench.loadKeyMap(txt, "nope") === Map.empty)
  }

  test("loadRefMins/loadRefField read the committed local[32] anchor") {
    val ref = "BENCH_ref.local32.json"
    assert(Bench.loadRefMins(ref).size === 218)
    assert(Bench.loadRefField(ref, "sf_fingerprint") === "661ed51a2ee35319")
    val missing = "BENCH_ref.absent.json"
    assert(Bench.loadRefMins(missing) === Map.empty)
    assert(Bench.loadRefField(missing, "sf_fingerprint") === "")
  }
}
