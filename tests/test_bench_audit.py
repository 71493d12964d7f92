"""Bench-gate ratchet checks (round-10 verdict #3 / watch item (c)).

The trained rows' FIRST bench baselines were set at the pre-fused-
trainer marks (23.2 / 25.5 s); until the r10 driver bench recorded the
fused-trainer level (4.08 / 9.80 s) a ~5x trainer regression would have
passed the gate. These tests pin that the ratchet now keys off the
fused marks and that a deliberately-slowed trainer FAILS the audit —
the local A/B the verdict asked for, kept as a permanent regression pin
(best_prior only ever decreases, so the assertions stay valid as
future rounds ratchet further down).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)

from bench_audit import ABS_FLOOR, REL_BAND, audit, best_prior  # noqa: E402

TRAINED = {
    "unreg_l2_topk_cosine_pq_trained",
    "unreg_l2_topk_cosine_ivfpq_trained",
}


def test_trained_row_baselines_ratcheted_to_fused_marks():
    prior = best_prior(TRAINED)
    assert prior["unreg_l2_topk_cosine_pq_trained"][0] <= 4.08, prior
    assert prior["unreg_l2_topk_cosine_ivfpq_trained"][0] <= 9.80, prior


NEW_ROWS = {
    "l1_dedup_clusters",
    "unreg_l2_knn_label_noise_ivf",
    "unreg_l3_trigram_xent",
    "unreg_e10_props_json_stats",
}


def test_new_row_baselines_at_driver_marks():
    """Round-12 verdict #4: the four rows that joined the gate in r11
    carry their first driver marks as baselines (dedup_clusters 7.17,
    knn-ivf 5.16, trigram 1.37, props-json 0.67). The round-12 idle
    10-run re-probe (BASELINE.md) measured medians 8.36 / 5.09 / — / —
    with tight bands, so these marks are real floors, not contention
    flukes. best_prior only decreases; the assertions stay valid as
    future rounds ratchet down."""
    prior = best_prior(NEW_ROWS)
    assert prior["l1_dedup_clusters"][0] <= 7.17, prior
    assert prior["unreg_l2_knn_label_noise_ivf"][0] <= 5.16, prior
    assert prior["unreg_l3_trigram_xent"][0] <= 1.37, prior
    assert prior["unreg_e10_props_json_stats"][0] <= 0.67, prior


def test_round12_rows_join_the_gate():
    """The three ANN rows added in round 12 (residual IVF-PQ, SQ8,
    IVF+SQ8) must be in the bench HEADLINE list so the next driver
    bench records their first gate baselines (session first marks:
    ~8.5-10.4 / 1.39-1.55 / 1.60 s at sf0.1; best_prior pins follow
    once a BENCH_r*.json carries them)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import HEADLINE, _extra_queries

    extras = _extra_queries()
    for q in (
        "unreg_l2_topk_cosine_ivfpq_residual",
        "unreg_l2_topk_cosine_sq8",
        "unreg_l2_topk_cosine_ivfsq8",
    ):
        assert q in HEADLINE, q
        assert q in extras, q


R12_ANN_ROWS = {
    "unreg_l2_topk_cosine_ivfpq_residual",
    "unreg_l2_topk_cosine_sq8",
    "unreg_l2_topk_cosine_ivfsq8",
}


def test_r12_ann_row_baselines_at_driver_marks():
    """Round-13 verdict #4: the three ANN rows that joined the gate in
    round 12 carry their first driver marks as ratchet baselines
    (residual 9.854, sq8 1.215, ivfsq8 1.699 in BENCH_r12.json — all
    inside their pre-registered idle bands 9.23-13.46 / 1.57-2.39 /
    1.94-3.24, the sq8 pair BELOW band: driver marks are real floors).
    best_prior only decreases, so these stay valid as future rounds
    ratchet down (the round-13 fused gate probe should pull the
    residual row under its mark)."""
    prior = best_prior(R12_ANN_ROWS)
    assert prior["unreg_l2_topk_cosine_ivfpq_residual"][0] <= 9.854, prior
    assert prior["unreg_l2_topk_cosine_sq8"][0] <= 1.215, prior
    assert prior["unreg_l2_topk_cosine_ivfsq8"][0] <= 1.699, prior


R13_NEW_ROWS = {
    "unreg_l2_topk_cosine_opq_trained",
    "unreg_l5_curate_corpus",
}


def test_r13_new_row_baselines_at_driver_marks():
    """Round-14 verdict #2: the two rows that joined the gate in round
    13 carry their first driver marks as ratchet baselines (opq_trained
    9.57, curate_corpus 7.206 in BENCH_r13.json — both inside their
    pre-registered idle bands 7.80-11.12 and 5.70-7.22 mini). best_prior
    only decreases, so these stay valid as future rounds ratchet down."""
    prior = best_prior(R13_NEW_ROWS)
    assert prior["unreg_l2_topk_cosine_opq_trained"][0] <= 9.57, prior
    assert prior["unreg_l5_curate_corpus"][0] <= 7.206, prior


# ---------------------------------------------------------------------------
# Round-14 verdict #1: canary-normalized gate. The r13 driver bench ran
# at loadavg 9.19 and flagged two advisories that took a four-sitting
# weather ledger to adjudicate; the gate now divides each row's mark by
# an interleaved constant-work canary so host speed cancels. These
# tests pin the normalization math and the two behaviors the switch
# exists for: a host slowdown that inflates everything uniformly must
# PASS, and a genuine normalized regression must FAIL.

from bench_audit import canary_ref, norm_prior  # noqa: E402


def test_normalize_math():
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import _norm_mark

    # one run bracketed by two canaries: 1.0 / mean(0.4, 0.6) = 2.0
    assert _norm_mark([1.0], [0.4, 0.6]) == 2.0
    # min over runs: run 2 is the cleanest (2.0/0.5=4.0 vs 3.0/0.5=6.0)
    assert _norm_mark([3.0, 2.0], [0.5, 0.5, 0.5]) == 4.0
    # a burst hitting run 1 AND its brackets cancels (4.0/mean(1,1) =
    # 4.0); run 2's half-loaded bracket gives 2.0/mean(1.0,0.5) =
    # 2.6667 and min picks it
    assert _norm_mark([4.0, 2.0], [1.0, 1.0, 0.5]) == 2.6667
    # malformed windows never divide — the row drops out of the series
    assert _norm_mark([1.0], [0.5]) is None          # missing bracket
    assert _norm_mark([], [0.5]) is None             # no runs
    assert _norm_mark([1.0], [0.0, 0.0]) is None     # zero divisor


def test_norm_baseline_registered_and_covers_headline():
    """The one-time band registration at the switch: canary_ref > 0 and
    a normalized mark for every current HEADLINE row, so the driver's
    first normalized bench (BENCH_r14) is gated, not free."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from bench import HEADLINE

    cref = canary_ref()
    assert cref and 0.1 < cref < 5.0, cref
    prior = norm_prior(set(HEADLINE))
    missing = [q for q in HEADLINE if q not in prior]
    assert not missing, f"HEADLINE rows without a norm baseline: {missing}"


def test_norm_gate_weather_immune():
    """THE switch's raison d'être: a host running 3x slow inflates every
    absolute mark 3x (far beyond the legacy gate's 1.3x+0.35s limit) but
    the canary inflates identically, so the normalized marks are
    unchanged and the gate passes."""
    from bench_audit import best_prior as abs_prior

    prior = norm_prior({"l1_dedup_clusters"}, 32)
    assert "l1_dedup_clusters" in prior, "needs the registered baseline"
    mark, _src = prior["l1_dedup_clusters"]
    abs_best = abs_prior({"l1_dedup_clusters"})["l1_dedup_clusters"][0]
    cref = canary_ref()
    slow = {
        "queries": {"l1_dedup_clusters": abs_best * 3.0},
        "queries_norm": {"l1_dedup_clusters": mark},  # unchanged ratio
        "canary_median": cref * 3.0,
    }
    regs, lines = audit(slow)
    assert not regs, (regs, lines)
    # sanity: the same absolute mark WOULD have tripped the legacy gate
    legacy_regs, _ = audit({"queries": {"l1_dedup_clusters": abs_best * 3.0}})
    assert legacy_regs


def test_norm_gate_fires_on_real_regression():
    """A 2.5x normalized regression on a heavyweight row (where the
    converted noise floor is small relative to the mark) must fail."""
    prior = norm_prior({"unreg_l2_topk_cosine_ivfpq_residual"}, 32)
    assert "unreg_l2_topk_cosine_ivfpq_residual" in prior
    mark, _ = prior["unreg_l2_topk_cosine_ivfpq_residual"]
    bad = {
        "queries_norm": {"unreg_l2_topk_cosine_ivfpq_residual": mark * 2.5},
        "canary_median": canary_ref(),
    }
    regs, _ = audit(bad)
    assert regs, "2.5x normalized regression passed the gate"


def test_missing_norm_prior_falls_back_to_absolute_gate():
    """A degraded norm baseline must DEGRADE the gate, never disarm it
    (round-14 review finding): a normalized-format result whose
    queries_norm omits a row (or whose norm_baseline.json is gone)
    still gates that row on the ABSOLUTE best-prior series."""
    from bench_audit import best_prior as abs_prior

    abs_best = abs_prior({"e1_pricing_summary"})["e1_pricing_summary"][0]
    clusters_mark = norm_prior({"l1_dedup_clusters"}, 32)["l1_dedup_clusters"][0]
    new = {
        # e1 regressed 10x in absolute seconds and carries NO norm mark
        "queries": {
            "e1_pricing_summary": abs_best * 10.0,
            "l1_dedup_clusters": 5.0,
        },
        "queries_norm": {"l1_dedup_clusters": clusters_mark},
        "canary_median": canary_ref(),
    }
    regs, lines = audit(new)
    assert any("e1_pricing_summary" in r and "absolute fallback" in r
               for r in regs), (regs, lines)
    assert not any("l1_dedup_clusters" in r for r in regs), regs


def test_norm_floor_protects_subsecond_rows():
    """Sub-second rows keep their documented ±0.35 s jitter allowance in
    normalized units (0.35 / canary_ref): a tiny row whose norm doubles
    but stays inside the converted floor must NOT fire."""
    from bench_audit import ABS_FLOOR as _AF

    prior = norm_prior({"unreg_e10_props_json_stats"}, 32)
    assert "unreg_e10_props_json_stats" in prior
    mark, _ = prior["unreg_e10_props_json_stats"]
    floor = _AF / canary_ref()
    inside = {
        "queries_norm": {
            "unreg_e10_props_json_stats": mark * (1.0 + REL_BAND)
            + floor
            - 0.01
        },
        "canary_median": canary_ref(),
    }
    regs, _ = audit(inside)
    assert not regs, regs


def test_gate_fails_an_unrouted_knn():
    """A kNN label-noise form regressed to the flat double-assignment
    (the exact form's 17.7 s at sf0.1 — the shape the round-11 125x
    probe caught at 1372.9 s) must trip the gate."""
    regs, _ = audit({"queries": {"unreg_l2_knn_label_noise_ivf": 17.7}})
    assert regs, "flat-assignment kNN mark passed the gate"


def test_gate_fails_a_slowed_trainer():
    """A trainer regressed back to the pre-fuse sequential form (23.2 s
    for pq_trained) must trip the gate — this is exactly the regression
    the stale first-mark baselines would have let through."""
    regs, _lines = audit(
        {"queries": {"unreg_l2_topk_cosine_pq_trained": 23.2}}
    )
    assert regs, "pre-fuse trainer mark passed the gate"
    # and the current fused mark (plus normal variance) still passes
    prior = best_prior(TRAINED)["unreg_l2_topk_cosine_pq_trained"][0]
    ok_mark = prior * (1.0 + REL_BAND) + ABS_FLOOR - 0.01
    regs_ok, _ = audit(
        {"queries": {"unreg_l2_topk_cosine_pq_trained": ok_mark}}
    )
    assert not regs_ok


def test_history_filtered_by_core_count():
    """r16: normalized marks are not comparable across core counts (a
    c8 sitting's canary runs ~2.8x slower while latency-bound rows
    barely move, so its marks read far LOWER on identical code). The
    audit must filter its history to the result's own core count —
    BENCH_r15_c8.json (driver wrapper cpus=8) had silently ratcheted
    the 32-core baselines down."""
    from bench_audit import _bench_history, norm_prior

    names32 = {n for n, _ in _bench_history(32)}
    names8 = {n for n, _ in _bench_history(8)}
    assert "BENCH_r15_c8.json" not in names32
    assert "BENCH_r15_c8.json" in names8
    # the poisoned prior observed at r16 round open: curate_corpus's
    # best prior came from the c8 file at ~1.67 — the 32-core-filtered
    # prior must not be that value
    p32 = norm_prior({"unreg_l5_curate_corpus"}, 32)
    assert p32["unreg_l5_curate_corpus"][1] != "BENCH_r15_c8.json"
    # a 32-core result is audited only against 32-core history
    probe = {
        "queries": {"unreg_l5_curate_corpus": 3.5},
        "queries_norm": {"unreg_l5_curate_corpus": 6.0},
        "canary_median": 0.46,
        "cpus": 32,
    }
    regs, lines = audit(probe)
    joined = "\n".join(lines)
    assert "BENCH_r15_c8.json" not in joined


def test_bench_emits_exactly_one_stdout_line_under_noise():
    """r16 (verdict #6): the driver contract is ONE JSON line on
    stdout. BENCH_r14.json failed to parse driver-side at rc 0 —
    something shared fd 1. bench._claim_stdout points fd 1 at stderr
    and reserves the real stdout for the result line; anything the
    process (Python OR a subprocess, standing in for the JVM) writes
    afterwards must land on stderr."""
    import json
    import subprocess
    import sys as _sys

    code = r"""
import json, os, subprocess, sys
sys.path.insert(0, "/root/repo")
from bench import _claim_stdout
emit = _claim_stdout()
print("stray python print after the claim")
subprocess.run(["echo", "subprocess banner after the claim"])
sys.stdout.flush()
emit(json.dumps({"metric": "m", "value": 1.0}))
print("stray python print after the emit")
sys.stdout.flush()
"""
    r = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
    out_lines = [ln for ln in r.stdout.splitlines() if ln]
    assert len(out_lines) == 1, r.stdout
    assert json.loads(out_lines[0])["value"] == 1.0
    assert "stray python print after the claim" in r.stderr
    assert "subprocess banner after the claim" in r.stderr
    assert "stray python print after the emit" in r.stderr


def test_norm_floor_uses_own_canary_off_32_cores():
    """The registered canary_ref is a 32-core mark. A sitting at another
    core count normalizes its rows by its OWN canary, so the ±ABS_FLOOR
    seconds must convert through that canary too: through the 32-core
    ref, an 8-core sitting (canary ~1.0 s vs 0.49 s) got twice its
    noise allowance and passed a regression of that size."""
    q = "consolidate_flagship"
    mark, _src = norm_prior({q}, 8)[q]
    cmed = 1.025  # BENCH_r16_c8.json's canary median
    limit = mark * (1.0 + REL_BAND) + ABS_FLOOR / cmed
    over = {"queries_norm": {q: limit + 0.1}, "canary_median": cmed,
            "cpus": 8}
    regs, lines = audit(over)
    assert any(q in r for r in regs), lines
    inside = {"queries_norm": {q: limit - 0.01}, "canary_median": cmed,
              "cpus": 8}
    regs, lines = audit(inside)
    assert not regs, lines
