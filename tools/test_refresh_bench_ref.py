#!/usr/bin/env python3
"""Tests for refresh_bench_ref.py's merge policy — especially the
testdata-generation binding (VERDICT r18 #4): an anchor whose
sf_fingerprint differs from the sweep's must NOT min-merge (its floors
measure different bytes); it enters the sweep wholesale.

Run: python3 tools/test_refresh_bench_ref.py
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import refresh_bench_ref as tool  # noqa: E402


def run(full, ref, argv_extra=()):
    d = tempfile.mkdtemp(prefix="graft-refresh-test-")
    full_p = os.path.join(d, "BENCH_full.json")
    ref_p = os.path.join(d, "BENCH_ref.local32.json")
    json.dump(full, open(full_p, "w"))
    if ref is not None:
        json.dump(ref, open(ref_p, "w"))
    rc = tool.main([full_p, ref_p, *argv_extra])
    out = json.load(open(ref_p)) if os.path.exists(ref_p) else None
    return rc, out


BASE_FULL = {
    "cpus": "32", "ts": "t", "calib_before_sec": 0.70,
    "calib_after_sec": 0.70, "calib_ref": 0.68,
    "queries_min": {"q_a": 2.0, "q_b": 1.0},
}


def test_min_merge_same_fingerprint():
    full = dict(BASE_FULL, sf_fingerprint="fp1")
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    # min-merge: q_a keeps the anchor floor, q_b ratchets down
    assert out["queries_min"] == {"q_a": 1.5, "q_b": 1.0}
    assert out["sf_fingerprint"] == "fp1"


def test_fingerprint_mismatch_enters_wholesale():
    full = dict(BASE_FULL, sf_fingerprint="fp2")
    ref = {"queries_min": {"q_a": 0.1, "q_b": 0.1}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    # regenerated data: old floors (measured on fp1 bytes) discarded —
    # sweep values enter wholesale, ratchet guard inapplicable
    assert out["queries_min"] == {"q_a": 2.0, "q_b": 1.0}
    assert out["sf_fingerprint"] == "fp2"


def test_missing_stamp_warns_but_merges():
    full = dict(BASE_FULL)  # no sf_fingerprint (pre-r19 sweep)
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"] == {"q_a": 1.5, "q_b": 1.0}
    assert "sf_fingerprint" not in out


def test_unstamped_sweep_preserves_anchor_fingerprint():
    full = dict(BASE_FULL)  # pre-r19 sweep, no stamp
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    # the binding survives: the next stamped sweep can still detect a
    # regeneration against fp1
    assert out["sf_fingerprint"] == "fp1"


def test_ratchet_guard_still_holds_3x_improvements():
    full = dict(BASE_FULL, sf_fingerprint="fp1",
                queries_min={"q_a": 0.1, "q_b": 1.0})
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"]["q_a"] == 1.5  # held (>3x, same data)


def test_contended_sweep_refused():
    full = dict(BASE_FULL, sf_fingerprint="fp1", calib_after_sec=1.2)
    ref = {"queries_min": {"q_a": 1.5}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 1
    assert out["queries_min"] == {"q_a": 1.5}  # untouched


def test_cross_config_refused():
    full = dict(BASE_FULL, sf_fingerprint="fp1")
    ref = {"queries_min": {"q_a": 1.5}, "cpus": "4", "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 1


def test_nonquiet_draw_carries_old_only_keys_forward():
    # ADVICE r20 #4: a key in the old anchor but absent from the sweep
    # (errored out under contention) keeps its ratchet floor on a
    # non-quiet draw instead of silently dropping out
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="contended")
    ref = {"queries_min": {"q_a": 1.5, "q_gone": 0.4}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"]["q_gone"] == 0.4  # carried, not dropped
    assert out["queries_min"]["q_a"] == 1.5


def test_quiet_draw_still_drops_old_only_keys():
    # quiet draws keep the undeclared-key cleanup semantics
    full = dict(BASE_FULL, sf_fingerprint="fp1")
    ref = {"queries_min": {"q_a": 1.5, "q_gone": 0.4}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert "q_gone" not in out["queries_min"]


def test_content_witness_mismatch_resets_despite_size_match():
    # ADVICE r20 #2: same-size regeneration — sizes match but the content
    # witness differs, so the floors measure different bytes: wholesale
    full = dict(BASE_FULL, sf_fingerprint="fp2", sf_fingerprint_sizes="sz1",
                sf_fingerprint_content="cw2")
    ref = {"queries_min": {"q_a": 0.1, "q_b": 0.1}, "cpus": "32",
           "sf_fingerprint": "fp1", "sf_fingerprint_sizes": "sz1",
           "sf_fingerprint_content": "cw1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"] == {"q_a": 2.0, "q_b": 1.0}
    assert out["sf_fingerprint_content"] == "cw2"


def test_content_witness_absent_on_anchor_sizes_alone_decides():
    # pre-r21 anchor without the witness stays comparable on sizes
    full = dict(BASE_FULL, sf_fingerprint="fp2", sf_fingerprint_sizes="sz1",
                sf_fingerprint_content="cw2")
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1", "sf_fingerprint_sizes": "sz1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"] == {"q_a": 1.5, "q_b": 1.0}  # mtime-only
    assert out["sf_fingerprint_content"] == "cw2"


def test_epoch_swap_stamps_contended_and_blocks_refresh():
    # VERDICT r20 #6: on a hardware epoch whose probe reads far from
    # calib_ref, the calib_vs_ref trigger classifies every draw contended
    # (the conservative hardware-swap guard) and the refresh refuses to
    # seed a fresh anchor from it until the thresholds are re-verified
    full = dict(BASE_FULL, sf_fingerprint="fp1",
                calib_before_sec=0.88, calib_after_sec=0.88)  # 1.29x ref
    assert tool.classify(full, {}) == "contended"
    rc, out = run(full, None)
    assert rc == 1 and out is None


# ---- draw-verdict consumption (VERDICT r19 #2) ----

def test_stamped_contended_draw_holds_new_keys_but_min_merges():
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="contended")
    ref = {"queries_min": {"q_a": 1.5}, "cpus": "32", "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 0
    # q_a min-merges (one-way, still safe); NEW q_b held out of the anchor
    assert out["queries_min"] == {"q_a": 1.5}
    assert out["draw_verdict"] == "contended"


def test_stamped_contended_draw_refuses_reset():
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="jit_tail")
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref, ("--reset", "q_a"))
    assert rc == 1
    assert out["queries_min"] == {"q_a": 1.5, "q_b": 3.0}  # untouched


def test_contended_draw_refuses_wholesale_data_reset():
    full = dict(BASE_FULL, sf_fingerprint="fp2", degradation="contended")
    ref = {"queries_min": {"q_a": 0.1, "q_b": 0.1}, "cpus": "32",
           "sf_fingerprint": "fp1"}
    rc, out = run(full, ref)
    assert rc == 1
    assert out["queries_min"] == {"q_a": 0.1, "q_b": 0.1}  # untouched


def test_contended_draw_refuses_seeding_a_fresh_anchor():
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="contended")
    rc, out = run(full, None)
    assert rc == 1
    assert out is None  # no anchor written


# ---- mtime-only fingerprint flips (ADVICE r19 #3) ----

def test_mtime_only_change_keeps_floors_adopts_stamp():
    full = dict(BASE_FULL, sf_fingerprint="fp2", sf_fingerprint_sizes="sz1")
    ref = {"queries_min": {"q_a": 1.5, "q_b": 3.0}, "cpus": "32",
           "sf_fingerprint": "fp1", "sf_fingerprint_sizes": "sz1"}
    rc, out = run(full, ref)
    assert rc == 0
    # sizes match: touched/re-copied, not regenerated — floors kept
    assert out["queries_min"] == {"q_a": 1.5, "q_b": 1.0}
    assert out["sf_fingerprint"] == "fp2"
    assert out["sf_fingerprint_sizes"] == "sz1"


def test_sizes_change_still_resets_wholesale():
    full = dict(BASE_FULL, sf_fingerprint="fp2", sf_fingerprint_sizes="sz2")
    ref = {"queries_min": {"q_a": 0.1, "q_b": 0.1}, "cpus": "32",
           "sf_fingerprint": "fp1", "sf_fingerprint_sizes": "sz1"}
    rc, out = run(full, ref)
    assert rc == 0
    assert out["queries_min"] == {"q_a": 2.0, "q_b": 1.0}  # wholesale
    assert out["sf_fingerprint_sizes"] == "sz2"


# ---- the mirrored classifier reproduces the r19 adjudications ----
# signal values distilled from the two real r19 draws (see Bench.scala
# classifyDraw scaladoc): committed quiet 82.25 s (flat positional
# profile, tail/head 0.98) vs driver 98.23 s (par drift 1.12, 7.8%
# inflated, min-sum 1.21x, tail/head 1.12)

def _synth(n_keys, infl_frac, per_key, par, tail_ratio=None):
    """Artifact with `infl_frac` of keys >1.5x anchor (alphabet-uniform),
    every other key at `per_key`x, and optionally the LAST quartile of
    the run order lifted to `tail_ratio`x (the jit_tail shape)."""
    keys = [f"q_k{i:03d}" for i in range(n_keys)]
    mins = {}
    n_infl = int(n_keys * infl_frac)
    for i, k in enumerate(keys):
        mins[k] = 1.6 if i % n_keys < n_infl else per_key
    if tail_ratio is not None:
        for k in keys[-(n_keys // 4):]:
            mins[k] = tail_ratio
    return {
        "cpus": "32", "calib_ref": 0.68,
        "calib_before_sec": 0.738, "calib_after_sec": 0.747,
        "calib_par_before_sec": par[0], "calib_par_after_sec": par[1],
        "queries_min": mins,
    }, {k: 1.0 for k in keys}


def test_classifier_quiet_draw():
    # r19 committed draw shape: par 0.101/0.102, 3.2% inflated, min-sum
    # ~1.10x, flat positional profile
    full, anchor = _synth(217, 0.032, 1.09, (0.101, 0.102))
    assert tool.classify(full, anchor) == "quiet"


def test_classifier_contended_draw():
    # r19 driver draw shape: par 0.111/0.124 (1.12x drift), 7.8%
    # inflated, min-sum ~1.21x — any one of the three trips it
    full, anchor = _synth(217, 0.078, 1.21, (0.111, 0.124))
    assert tool.classify(full, anchor) == "contended"


def test_classifier_jit_tail_draw():
    # quiet probes, quiet head — but the last quartile of the run order
    # reads 1.4x its floors (the r18 sweep-tail signature, which read
    # multiples on the worst keys)
    full, anchor = _synth(217, 0.0, 1.0, (0.101, 0.102), tail_ratio=1.4)
    assert tool.classify(full, anchor) == "jit_tail"


def test_quiet_regeneration_still_data_resets():
    # r20 review: against a REGENERATED dataset the old floors read as
    # broad "inflation" — the anchored-key signals must be skipped on a
    # fingerprint mismatch, or the classifier deadlocks the data reset
    # ('contended' -> refusal -> no quiet rerun can ever succeed)
    full, _ = _synth(217, 0.50, 1.40, (0.101, 0.102))
    full["sf_fingerprint"] = "fp2"  # regenerated; probes quiet
    ref = {"queries_min": {f"q_k{i:03d}": 1.0 for i in range(217)},
           "cpus": "32", "sf_fingerprint": "fp1"}
    d = tempfile.mkdtemp(prefix="graft-refresh-test-")
    full_p, ref_p = (os.path.join(d, "BENCH_full.json"),
                     os.path.join(d, "BENCH_ref.local32.json"))
    json.dump(full, open(full_p, "w"))
    json.dump(ref, open(ref_p, "w"))
    rc = tool.main([full_p, ref_p])
    out = json.load(open(ref_p))
    assert rc == 0
    assert out["queries_min"]["q_k216"] == 1.4  # wholesale reset happened


# ---- hardware-epoch reset (r22) ----

def test_epoch_reset_quiet_enters_wholesale():
    # floors measured on a different hardware epoch are discarded rather
    # than min-merged (a faster old epoch's floors would read every new
    # draw as inflated forever)
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="quiet",
                calib_before_sec=0.86, calib_after_sec=0.86,
                calib_ref=0.85)  # re-anchored epoch: probe ~ref
    ref = {"queries_min": {"q_a": 0.7, "q_b": 0.4}, "cpus": "32",
           "sf_fingerprint": "fp1"}  # old-epoch (faster-host) floors
    rc, out = run(full, ref, ("--epoch-reset",))
    assert rc == 0
    assert out["queries_min"] == {"q_a": 2.0, "q_b": 1.0}


def test_epoch_reset_refused_on_nonquiet():
    full = dict(BASE_FULL, sf_fingerprint="fp1", degradation="contended",
                calib_ref=0.85, calib_before_sec=0.86, calib_after_sec=0.86)
    ref = {"queries_min": {"q_a": 0.7}, "cpus": "32", "sf_fingerprint": "fp1"}
    rc, out = run(full, ref, ("--epoch-reset",))
    assert rc == 1
    assert out["queries_min"] == {"q_a": 0.7}  # untouched


def test_classifier_new_epoch_par_jitter_is_quiet():
    # r22 adjudication: this host's all-cores probe jitters to 1.20x on
    # provably quiet draws (cotenants 0, flat anchored profile) — the old
    # 1.08 threshold over-flagged; 1.25 keeps the quiet population quiet
    full, anchor = _synth(217, 0.032, 1.09, (0.116, 0.139))  # 1.198x
    full["calib_ref"] = 0.85
    full["calib_before_sec"] = 0.86
    full["calib_after_sec"] = 0.86
    assert tool.classify(full, anchor) == "quiet"
    # ...while the genuinely loaded r22 draw (1.40x par drift) still flags
    full2, anchor2 = _synth(217, 0.032, 1.09, (0.131, 0.183))
    full2["calib_ref"] = 0.85
    full2["calib_before_sec"] = 0.86
    full2["calib_after_sec"] = 0.86
    assert tool.classify(full2, anchor2) == "contended"


if __name__ == "__main__":
    fns = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    # every fixture dir goes under one root that is removed at the end
    with tempfile.TemporaryDirectory(prefix="graft-refresh-test-") as root:
        tempfile.tempdir = root
        for fn in fns:
            fn()
            print(f"PASS {fn.__name__}")
    print(f"{len(fns)} passed")
