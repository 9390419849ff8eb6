#!/usr/bin/env bash
# Full local validation: unit specs, t1 smoke, t2 oracle gate, bench.
# Usage: tools/run_gates.sh   (from /root/repo)
set -euo pipefail

echo "== 1/5 unit + behavioral specs"
# ADVICE r19 #5: the sf0.1 content-pin escape hatch is for inner-loop
# iteration ONLY — a gate/seal run that inherits it from a stale shell
# would report green with the bench-scale pins silently canceled
if [ "${SPARK_GRAFT_SKIP_SF10_PINS:-}" = "1" ]; then
  echo "[gates] SPARK_GRAFT_SKIP_SF10_PINS=1 inherited — unsetting for the sealing run"
  unset SPARK_GRAFT_SKIP_SF10_PINS
fi
sbt -batch test 2>&1 | grep -E '\*\*\*|Tests:' | tail -2
python3 tools/test_check_oracle.py
python3 tools/test_refresh_bench_ref.py

echo "== 2/5 t1 smoke (flagship entry, sf0.001)"
sbt -batch "runMain graft.tools.Smoke" 2>&1 | grep -E 'rows=' | tail -1

echo "== 3/5 t2 correctness (sf0.01 vs DuckDB oracle)"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft-gates" \
  2>&1 | grep -E '\[verify\].*failed' || true
python3 tools/check_oracle.py /tmp/graft-gates /root/testdata/sf0.01 | tail -1

echo "== 4/5 bench (sf0.1)"
# Sweep isolation (VERDICT r11 #1): REFUSE to start the artifact sweep
# while any other sbt/spark JVM runs on the host — r11's contended driver
# capture ran concurrently with a throughput remeasure and stamped 26
# phantom regressions. (Bench itself also waits + stamps, but a gate run
# must fail loudly rather than measure under load.)
SELF_TREE=$$
for _i in $(seq 1 36); do
  OTHER_JVMS=$(pgrep -f 'java.*(sbt|spark)' || true)
  # drop our own process tree (the sbt JVMs this script itself spawned are
  # gone by now — any hit is a foreign JVM)
  OTHER_JVMS=$(for p in $OTHER_JVMS; do
    a=$p; mine=0
    while [ "$a" != "1" ] && [ -n "$a" ]; do
      [ "$a" = "$SELF_TREE" ] && mine=1 && break
      a=$(ps -o ppid= -p "$a" 2>/dev/null | tr -d ' ') || break
    done
    [ "$mine" = "0" ] && echo "$p"
  done)
  [ -z "$OTHER_JVMS" ] && break
  [ "$_i" = "1" ] && echo "[gates] waiting for foreign JVM(s) before bench: $OTHER_JVMS"
  sleep 5
done
if [ -n "$OTHER_JVMS" ]; then
  echo "[gates] ** REFUSING to bench: foreign sbt/spark JVM(s) still running: $OTHER_JVMS **"
  exit 1
fi
# Config policy (VERDICT r14 #4): the DRIVER's artifact of record runs at
# local[32]; the committed workflow benches at the SAME parallelism so
# round-over-round claims and the anchor min-merge never mix configs.
# Anchors are per-config (BENCH_ref.local<cpus>.json — Bench picks the one
# matching its cpus; refresh_bench_ref.py refuses cross-config merges).
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>&1 | grep -oE '"value":[0-9.]+' | tail -1

# Contention self-check: the bench stamps BENCH_full.json with a fixed
# single-thread CPU probe timed before and after the sweep. If the two
# probes disagree >1.3x (or either is far above the probe's quiet-host
# time), the host was contended during the sweep and the medians above are
# not comparable round-over-round — rerun on a quiet host before judging.
python3 - <<'EOF'
import json
try:
    b = json.load(open("BENCH_full.json"))
except Exception as e:
    raise SystemExit(f"[gates] no BENCH_full.json to check: {e}")
cb, ca = b.get("calib_before_sec"), b.get("calib_after_sec")
if cb and ca:
    ratio = max(cb, ca) / min(cb, ca)
    msg = f"[gates] calibration probes: before={cb}s after={ca}s ratio={ratio:.2f}"
    if ratio > 1.3:
        print(msg + "  ** WARNING: >1.3x disagreement — host contended during sweep, medians unreliable **")
    else:
        print(msg + "  (steady)")
else:
    print("[gates] ** WARNING: BENCH_full.json carries no calibration probes — stale/foreign artifact? **")
# the single-thread probe's blind spot (r9): a co-tenant can steal
# PARALLELISM while one core stays quiet — observed as x1.3-1.7 on the
# parallel-heavy dedup/engine keys with a steady 1-thread probe, and
# reproduced by isolated re-runs. The all-cores probe times host_cores
# concurrent 1/8-length loops. Quiet estimate: cb/8 x2 for SMT (32
# hyperthreads on 16 physical cores halve per-thread throughput when all
# run at once). Flag when either probe blows 2x past that, or when the
# probe degraded >=1.5x across the sweep.
pb, pa = b.get("calib_par_before_sec"), b.get("calib_par_after_sec")
if pb and pa and cb:
    quiet_smt = cb / 8.0 * 2.0
    worst = max(pb, pa)
    msg = f"[gates] all-cores probes: before={pb}s after={pa}s (SMT quiet est ~{quiet_smt:.2f}s)"
    if worst > 2 * quiet_smt or max(pb, pa) / min(pb, pa) > 1.5:
        print(msg + "  ** WARNING: parallelism contended during sweep — parallel-heavy medians inflated **")
    else:
        print(msg + "  (steady)")
# independent of the probe fields: a contended sweep also shows total
# median >> total min across many queries at once. HARD GATE (VERDICT r11
# #1a): a contended artifact must never be left in place where it could be
# committed or promoted — move it aside and fail.
med, mn = b.get("value"), b.get("total_min")
if med and mn and med / mn > 1.3:
    import os
    os.replace("BENCH_full.json", "/tmp/BENCH_full.contended.json")
    print(f"[gates] ** FAIL: total median {med}s is {med/mn:.2f}x total min {mn}s — "
          "sustained contention; artifact moved to /tmp/BENCH_full.contended.json. "
          "Rerun on a quiet host. **")
    raise SystemExit(1)
# probe-normalized headline: value_norm rescales the sample onto the
# documented quiet-epoch reference host (calib_ref, pinned in
# Bench.scala) — judge the 2x gate on BOTH; raw is the literal sample,
# normalized is the epoch-comparable number.
vn, mnn, cr = b.get("value_norm"), b.get("total_min_norm"), b.get("calib_ref")
if vn:
    print(f"[gates] headline raw: value={med}s total_min={mn}s | normalized to calib_ref={cr}s epoch: value_norm={vn}s total_min_norm={mnn}s")
else:
    print("[gates] ** WARNING: BENCH_full.json carries no value_norm — stale artifact? **")
# reference anchor (VERDICT r12 #1): every check above is a ratio of the
# sweep against itself — localized SUSTAINED contention (one key 15x with
# median/min <= 1.3 and whole-sweep ratio ~1.1) passes them all. Compare
# each key's min against the committed quiet reference map (2x: VERDICT
# r13 #5 — a real 2.13x drift slipped under 2.5x; the anchor map is
# refreshed every round close so 2x clears quiet jitter). Bench reports
# every sample as measured, so a key over 2x is either a regression or a
# contended draw — the artifact's `degradation` stamp tells which.
# single anchor source per config (VERDICT r17 #7) — no legacy fallback
ref_path = b.get("bench_ref_path") or f"BENCH_ref.local{b.get('cpus','')}.json"
try:
    ref = json.load(open(ref_path)).get("queries_min", {})
except Exception:
    ref = {}
if ref:
    qm = b.get("queries_min", {})
    over = sorted((k, qm[k], ref[k]) for k in qm
                  if ref.get(k, 0) > 0 and qm[k] > 2.0 * ref[k])
    if over:
        print(f"[gates] {len(over)} key(s) min >2x the committed quiet reference ({ref_path}):")
        for k, v, r in over:
            print(f"[gates]   {k}: {v}s vs ref {r}s")
        print(f"[gates] ** WARNING: reference outliers in a draw stamped "
              f"degradation={b.get('degradation')!r} — rerun on a quiet host "
              f"before calling them regressions **")
    else:
        print(f"[gates] reference check: all {len(qm)} keys within 2x of {ref_path} mins")
else:
    print("[gates] (no anchor file — reference anchor check skipped)")
# a query that THROWS must fail the gate — its recorded time is
# elapsed-to-throw and the correctness sweep may not have run yet
errs = b.get("errors")
if errs:
    print(f"[gates] ** {len(errs)} BENCH QUERY(S) ERRORED — failing the gate **")
    for k, v in errs.items():
        print(f"[gates]   {k}: {v}")
    raise SystemExit(1)
EOF

echo "== 5/5 distributed graph plans (sf0.1, driverFastPathEdges=0)"
# VERDICT r15 #4: the declared graph queries all take the ≤1M-edge driver
# fast path at sf scale, so the distributed rounds — the plans that run at
# 100x — were never timed. The probe runs the exact declared configs with
# the fast path off and records wall time + shuffle bytes per operator;
# the artifact (GRAPH_DIST.json) makes a distributed-path regression
# visible round-over-round.
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.tools.GraphDistProbe" \
  2>&1 | grep -oE '\{"probe":"graph_dist".*\}' | tail -1 | tee GRAPH_DIST.json
