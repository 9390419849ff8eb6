#!/usr/bin/env python3
"""Round-close BENCH_ref refresh (VERDICT r13 #5, r14 #4).

Merges the committed anchor with the round's verified-quiet sweep
(BENCH_full.json): per-key MIN of the two, so the anchor keeps tracking
best-known-quiet; keys no longer declared drop out, new keys enter at
their sweep value. Refuses to run when the sweep's calibration stamps
show a contended host (a noisy sweep must never loosen the anchor).

Config policy (VERDICT r14 #4): local[4] and local[32] mins are not
comparable, so anchors are PER-CONFIG — the default output path is
`BENCH_ref.local<cpus>.json` derived from the sweep's own cpus stamp,
and a merge into an anchor stamped with a DIFFERENT cpus is refused.

Ratchet guard (ADVICE r14 #3): the per-key min-merge is one-way, so a
single mis-measured anomalously FAST sample would permanently tighten a
key's floor until every honest run flags. A key improving more than 3x
below its old anchor is therefore NOT merged (kept at the old floor) and
reported — if the speedup is real (an intentional optimization), rerun
with --allow-improvement <key,key,...> in the same commit as the change.

Reset (r18): a key whose SEMANTICS changed (redefined implementation)
keeps a stale floor under the min-merge — the old min measures a
different computation. --reset <key,key> makes the listed keys enter at
the sweep value, discarding the old floor; use it in the same commit as
the redefinition, stating why.

Testdata binding (VERDICT r18 #4): the driver regenerates
/root/testdata in place, and an anchor min measured on the OLD bytes is
not a floor for the NEW bytes — the r18 anchor silently carried such
floors and only luck (keys got faster) kept it honest. The sweep stamps
`sf_fingerprint` (Staging.fingerprint of the sf dir); the anchor stores
it; a MISMATCH makes every key enter at the sweep value wholesale (the
--reset semantics, automatic) instead of min-merging across data
generations. A sweep or anchor without the stamp (pre-r19) merges as
before with a loud warning.

Draw verdict (VERDICT r19 #2): the sweep stamps a `degradation` verdict
(quiet | contended | jit_tail) computed from its own witnesses
(probe drift, anchored-key inflation, code-cache growth — Bench.scala
`classifyDraw`, thresholds MIRRORED in `classify()` below for artifacts
that predate the stamp). A NON-QUIET draw may still min-merge existing
floors (one-way, can only tighten) but must never ENTER values into the
anchor: new keys are held out, --reset is refused, and a
fingerprint-change wholesale reset is refused — an inflated entry floor
makes every later ratio look good (the r19 hand adjudication, now a
rule).

mtime-only changes (ADVICE r19 #3): the sweep also stamps
`sf_fingerprint_sizes` (path+size, no mtimes). When the mtime-bearing
fingerprint flips but the sizes one matches, the testdata was touched or
re-copied, not regenerated — the floors stay valid, so no reset; the
anchor adopts the new stamps.

Hardware-epoch reset (r22): floors measured on a DIFFERENT hardware
epoch are not floors for this one in either direction — a faster old
epoch's mins make every new draw read inflated forever (blocking the
ratchet the same way the r21 calib_vs_ref refusals did), and min-merging
across epochs hides real regressions behind fast old samples.
--epoch-reset enters the sweep wholesale (the --reset semantics for
every key), refused unless the draw is quiet; use it exactly once, in
the same commit that re-anchors Bench.CalibRef, stating the adjudication.

Usage: python3 tools/refresh_bench_ref.py [BENCH_full.json] [BENCH_ref.localN.json]
           [--allow-improvement k1,k2] [--reset k1,k2] [--epoch-reset]
"""
import json
import sys


def classify(full, anchor_mins, anchor_fp_matches=True):
    """Mirror of Bench.classifyDraw for artifacts without the
    `degradation` stamp (pre-r20). Same thresholds — keep in sync.

    anchor_fp_matches=False skips the anchored-key signals: floors
    measured on DIFFERENT input bytes read as broad "inflation" and would
    stamp a spurious contended verdict that blocks the data-reset path
    this very tool implements (r20 review)."""
    def drift(a, b):
        return max(a, b) / min(a, b) if a and b and a > 0 and b > 0 else 1.0
    par = drift(full.get("calib_par_before_sec", 0),
                full.get("calib_par_after_sec", 0))
    cal = drift(full.get("calib_before_sec", 0),
                full.get("calib_after_sec", 0))
    calib_ref = full.get("calib_ref", 0.68)
    vs_ref = (max(full.get("calib_before_sec", 0),
                  full.get("calib_after_sec", 0)) / calib_ref
              if calib_ref > 0 else 1.0)
    mins = full.get("queries_min", {})
    if not anchor_fp_matches:
        anchor_mins = {}
    anchored = [k for k in mins if anchor_mins.get(k, 0) > 0]
    infl = (sum(1 for k in anchored if mins[k] > 1.5 * anchor_mins[k])
            / len(anchored) if anchored else 0.0)
    minsum = (sum(mins[k] for k in anchored)
              / sum(anchor_mins[k] for k in anchored) if anchored else 1.0)
    # jit_tail = POSITIONAL inflation: tail- vs head-quartile MEDIAN of
    # the per-key min/anchor ratios in RUN order (graft.Bench runs keys
    # sorted). Raw code-cache growth is NOT a signal — a fresh JVM grows
    # its cache through the alphabet on quiet draws too (the
    # decontaminated r19 quiet draw: 66 -> 166 MB).
    pos = [mins[k] / anchor_mins[k] for k in sorted(anchored)]
    q = len(pos) // 4

    def med(s):
        return sorted(s)[len(s) // 2] if s else 1.0
    head, tail = ((med(pos[:q]), med(pos[-q:])) if len(pos) >= 50
                  else (1.0, 1.0))
    # par threshold 1.25 (r22 epoch re-adjudication — mirrored from
    # Bench.classifyDraw; this host's all-cores probe jitters to 1.20 on
    # hand-adjudicated quiet draws)
    if (par > 1.25 or cal > 1.30 or vs_ref > 1.25 or
            (len(anchored) >= 50 and (infl > 0.05 or minsum > 1.15))):
        return "contended"
    if head > 0 and tail / head > 1.15 and tail > 1.15:
        return "jit_tail"
    return "quiet"


def main(argv):
    allow = set()
    reset = set()
    epoch_reset = False
    args = []
    it = iter(argv)
    for a in it:
        if a == "--allow-improvement":
            allow = set(next(it).split(","))
        elif a == "--reset":
            reset = set(next(it).split(","))
        elif a == "--epoch-reset":
            epoch_reset = True
        else:
            args.append(a)
    full_path = args[0] if len(args) > 0 else "BENCH_full.json"
    full = json.load(open(full_path))
    cpus = str(full.get("cpus", ""))
    if not cpus:
        print(f"[refresh] REFUSED: {full_path} carries no cpus stamp — "
              "cannot pick a per-config anchor")
        return 1
    ref_path = args[1] if len(args) > 1 else f"BENCH_ref.local{cpus}.json"
    # max of the two stamps: contention during EITHER half of the sweep
    # can inflate a new key's entry (existing keys are protected by the
    # per-key min-merge, new entrants are not)
    calib = max(full.get("calib_before_sec", 9), full.get("calib_after_sec", 9))
    calib_ref = full.get("calib_ref", 0.68)
    if calib > 1.25 * calib_ref:
        print(f"[refresh] REFUSED: sweep calib {calib:.3f} > 1.25x ref "
              f"{calib_ref:.2f} — contended host, anchor not refreshed")
        return 1
    new = full.get("queries_min", {})
    if not new:
        print(f"[refresh] REFUSED: {full_path} has no queries_min — "
              "a truncated sweep must not wipe the anchor")
        return 1
    sweep_fp = full.get("sf_fingerprint", "")
    sweep_fps = full.get("sf_fingerprint_sizes", "")
    sweep_fpc = full.get("sf_fingerprint_content", "")
    old_fp = ""
    old_fps = ""
    old_fpc = ""
    data_reset = False
    try:
        ref = json.load(open(ref_path))
        old = ref.get("queries_min", {})
        old_fp = str(ref.get("sf_fingerprint", ""))
        old_fps = str(ref.get("sf_fingerprint_sizes", ""))
        old_fpc = str(ref.get("sf_fingerprint_content", ""))
        # An anchor WITHOUT a cpus stamp is the legacy mixed-config file —
        # defaulting it to the sweep's cpus (ADVICE r15 #4) silently let
        # exactly the cross-config merge this guard exists for. Refuse and
        # point at the migration path instead.
        old_cpus = str(ref.get("cpus", ""))
        if not old_cpus:
            print(f"[refresh] REFUSED: {ref_path} carries no cpus stamp "
                  "(legacy mixed-config anchor) — start a per-config anchor "
                  f"by merging into BENCH_ref.local{cpus}.json instead")
            return 1
        if old_cpus != cpus:
            print(f"[refresh] REFUSED: sweep cpus={cpus} but {ref_path} is "
                  f"stamped cpus={old_cpus} — cross-config merge")
            return 1
    except FileNotFoundError:
        old = {}
    # draw verdict: the stamp when present, else the mirrored classifier
    # over the artifact + current anchor (pre-r20 artifacts). Anchored-key
    # signals only apply when the anchor's floors were measured on the
    # sweep's input bytes (r20 review: a regeneration would otherwise
    # classify contended and deadlock its own data-reset path).
    fp_matches = not (sweep_fp and old_fp and sweep_fp != old_fp)
    verdict = full.get("degradation") or classify(full, old, fp_matches)
    if verdict != "quiet":
        sig = full.get("degradation_signals", "computed from witnesses")
        print(f"[refresh] draw degradation verdict: {verdict} "
              f"(signals: {sig}) — NEW floors will not enter from this draw")
        if not old:
            print("[refresh] REFUSED: no existing anchor and the draw is "
                  f"{verdict} — an anchor seeded from a degraded draw "
                  "inflates every later ratio; rerun on a quiet host")
            return 1
        if reset:
            print("[refresh] REFUSED: --reset would enter floors from a "
                  f"{verdict} draw — rerun the sweep quiet first")
            return 1
        if epoch_reset:
            print("[refresh] REFUSED: --epoch-reset would seed the anchor "
                  f"from a {verdict} draw — rerun the sweep quiet first")
            return 1
    if old and sweep_fp and old_fp and sweep_fp != old_fp:
        # content witness (ADVICE r20 #2): a same-size regeneration passes
        # the sizes comparison — when BOTH stamps carry the witness it must
        # match too (pre-r21 anchors lack it: sizes alone still decides)
        if (sweep_fps and old_fps and sweep_fps == old_fps
                and (not (sweep_fpc and old_fpc) or sweep_fpc == old_fpc)):
            # mtime-only flip (ADVICE r19 #3): same relative paths and
            # byte sizes — the testdata was touched or re-copied, not
            # regenerated. The floors stay valid; adopt the new stamp.
            print(f"[refresh] sf_fingerprint changed ({old_fp} -> "
                  f"{sweep_fp}) but sf_fingerprint_sizes matches "
                  f"({sweep_fps}): mtime-only change — keeping the floors, "
                  "adopting the new stamp")
        else:
            # regenerated testdata: the old floors measure DIFFERENT
            # bytes — min-merging them would hold phantom floors forever
            # (or hide a real regression behind a lucky old min). Enter
            # the sweep wholesale; the ratchet guard is inapplicable.
            if verdict != "quiet":
                print(f"[refresh] REFUSED: testdata changed ({old_fp} -> "
                      f"{sweep_fp}) but the draw is {verdict} — a wholesale "
                      "reset would seed the anchor from a degraded draw; "
                      "rerun on a quiet host")
                return 1
            print(f"[refresh] sf_fingerprint changed ({old_fp} -> {sweep_fp}): "
                  "testdata was regenerated — entering sweep values WHOLESALE "
                  "(automatic --reset), old floors discarded")
            old = {}
            data_reset = True
    elif old and not (sweep_fp and old_fp):
        missing = "sweep" if not sweep_fp else "anchor"
        print(f"[refresh] WARNING: {missing} carries no sf_fingerprint "
              "stamp (pre-r19) — min-merge cannot verify the floors were "
              "measured on these input bytes")
    if epoch_reset and old:
        print("[refresh] --epoch-reset: hardware epoch re-anchored — "
              "entering sweep values WHOLESALE, old-epoch floors discarded "
              f"({len(old)} old keys)")
        old = {}
        data_reset = True
    merged, held, held_new = {}, [], []
    for k, v in sorted(new.items()):
        if k in reset:
            merged[k] = v  # semantics changed: old floor measures a
            # different computation — enter at the sweep value
        elif k not in old:
            if verdict != "quiet":
                held_new.append(k)  # a degraded draw must not SEED floors
            else:
                merged[k] = v
        elif v < old[k] / 3.0 and k not in allow:
            merged[k] = old[k]
            held.append(k)
        else:
            merged[k] = min(v, old[k])
    carried = []
    if verdict != "quiet":
        # a non-quiet draw holds NEW keys out of the anchor; symmetrically,
        # keys present in the old anchor but absent from the sweep (e.g.
        # errored out of queries_min under contention) must not silently
        # lose their ratchet floor — carry them forward (ADVICE r20 #4)
        for k in sorted(set(old) - set(new)):
            merged[k] = old[k]
            carried.append(k)
    entered = sorted(set(merged) - set(old))
    dropped = sorted(set(old) - set(new) - set(carried))
    improved = sorted(k for k in new if k in old and merged[k] < old[k])
    if reset:
        print(f"[refresh] reset to sweep value (redefined keys): "
              f"{','.join(sorted(reset & set(new)))}")
    out = {"queries_min": merged, "refreshed_from": full.get("ts"),
           "calib": calib, "cpus": cpus}
    # carry the anchor's stamp forward when the sweep lacks one — an
    # unstamped (pre-r19) sweep must not silently strip the binding and
    # disable the guard for every later refresh (r19 review)
    if sweep_fp or old_fp:
        out["sf_fingerprint"] = sweep_fp or old_fp
    if sweep_fps or old_fps:
        out["sf_fingerprint_sizes"] = sweep_fps or old_fps
    if sweep_fpc or old_fpc:
        out["sf_fingerprint_content"] = sweep_fpc or old_fpc
    out["draw_verdict"] = verdict
    json.dump(out, open(ref_path, "w"), indent=0)
    mode = (" [EPOCH-RESET]" if epoch_reset and data_reset
            else " [DATA-RESET]" if data_reset else "")
    print(f"[refresh] {ref_path} (cpus={cpus}){mode}: {len(merged)} keys "
          f"({len(improved)} improved, {len(entered)} new, {len(dropped)} dropped)")
    if held_new:
        print(f"[refresh] {len(held_new)} NEW key(s) held out of the anchor "
              f"({verdict} draw): {','.join(held_new)} — they enter on the "
              "next quiet refresh")
    if carried:
        print(f"[refresh] {len(carried)} old-only key(s) carried forward "
              f"({verdict} draw, absent from the sweep): {','.join(carried)}")
    if held:
        print(f"[refresh] ratchet guard held {len(held)} implausible >3x "
              f"improvement(s) at the old floor: {','.join(held)} — "
              "if intentional, rerun with --allow-improvement")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
