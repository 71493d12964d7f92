"""Energy-gated residual IVF-PQ (operators/pq.py — full FAISS IVFADC,
Jégou 2011 §IV, with the measured break-even gate): the gate's regime
decisions on isotropic vs clustered inputs, gated-fallback equality
with the plain trained build, the residual form's recall win in its
own regime (clustered data), and determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import pq
from concerts_etl_sa_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _norm2,
)
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR


def _clustered_emb(spark, n=600, n_clusters=6, dim=64, sigma=0.10):
    """Planted-Gaussian clustered embeddings (the test_labelqa fixture
    device, unlabeled): unit centers, points = center + sigma*noise —
    the regime residual encoding exists for. sigma=0.10 puts the mean
    residual energy ~0.4 (vectors are ~0.78 cosine from their center),
    comfortably under the 1.0 gate. Deterministic (seeded)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    cl = np.arange(n) % n_clusters
    x = centers[cl] + sigma * rng.normal(size=(n, dim))
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).withColumn("norm2", _norm2("embedding"))
    return df, x


def _np_truth(x) -> set[tuple[int, int]]:
    """Exact top-TOP_K cosine pairs (queries = ids < N_QUERIES,
    candidates = the rest), numpy-computed."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn[:N_QUERIES] @ xn[N_QUERIES:].T
    truth = set()
    for qi in range(N_QUERIES):
        top = np.argsort(-sims[qi], kind="stable")[:TOP_K]
        truth.update((qi, int(ci) + N_QUERIES) for ci in top)
    return truth


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["q_id"], r["c_id"]) for r in df.select("q_id", "c_id").collect()}


def _gate_stats(spark, emb_raw):
    """(E_res, E_ctr) exactly as the production gate computes them —
    shared by the three-regime tests below."""
    from concerts_etl_sa_spark.operators.kmeans import (
        TRAIN_POINTS_PER_CENTROID,
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.similarity import _assign_buckets

    fitted, _ = kmeans_fit(
        emb_raw, k=8, max_iters=3,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * 8,
    )
    coarse = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    emb = (
        emb_raw
        if "norm2" in emb_raw.columns
        else emb_raw.withColumn("norm2", _norm2("embedding"))
    )
    cands = emb.filter(F.col("vec_id") >= N_QUERIES)
    res = pq._residual_frame(
        _assign_buckets(cands, coarse, n_keep=1), pq._unit_coarse(coarse)
    )
    n_cand = emb_raw.count() - N_QUERIES
    cap = 256 * pq.PQ_K
    return (
        pq._residual_energy(res, cap, n=n_cand),
        pq._centered_energy(cands, cap, n=n_cand),
    )


def test_gate_measures_all_three_regimes(spark):
    """The re-derived RELATIVE gate statistic (round 13): the ratio
    E_res/E_ctr must put the two regimes where plain coding wins —
    isotropic (measured 1.48/1.0 ≈ 1.48) and the realistic
    anisotropic single-blob documents fixture (0.32/0.37 ≈ 0.88) —
    ABOVE the threshold, and the multi-modal planted-cluster
    regime (where residual coding wins) BELOW it. The realistic row is
    the round-13 find: the old absolute 1.0 gate read its 0.32 energy
    as residual territory and shipped the losing layout."""
    from .realistic_emb import realistic_embeddings

    iso_res, iso_ctr = _gate_stats(
        spark, load_table(spark, SF_DIR, "embeddings")
    )
    clustered, _ = _clustered_emb(spark)
    clu_res, clu_ctr = _gate_stats(spark, clustered)
    real_df, _, _ = realistic_embeddings(spark, SF_DIR)
    real_res, real_ctr = _gate_stats(
        spark, real_df.select("vec_id", "embedding")
    )

    ratio = pq.RESIDUAL_GATE_RATIO
    assert iso_res >= ratio * iso_ctr, (iso_res, iso_ctr)
    assert real_res >= ratio * real_ctr, (real_res, real_ctr)
    assert clu_res < ratio * clu_ctr, (clu_res, clu_ctr)
    # the absolute anchors stay measured: isotropic residuals above
    # the unit energy, both sub-unit regimes well under it
    assert clu_res < 0.7 < 1.2 < iso_res, (clu_res, iso_res)
    # the realistic blob is the regime the ratio exists for: absolute
    # energy deep under 1.0 (the old gate's mistake) yet ratio-high
    assert real_res < 0.7, real_res
    assert real_res / real_ctr > ratio, (real_res, real_ctr)


def test_gated_fallback_equals_plain_trained(spark):
    """On the isotropic fixture the gate must select the plain build,
    and the result must be EXACTLY topk_cosine_ivfpq_trained (same
    trainer calls, same args — the fallback is not a lookalike, it is
    the same composition)."""
    a = sorted(
        map(tuple, pq.topk_cosine_ivfpq_residual(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, pq.topk_cosine_ivfpq_trained(spark, SF_DIR).collect())
    )
    assert a == b


def test_residual_wins_its_regime_and_is_deterministic(spark):
    """On clustered embeddings the gate selects residual codes and the
    residual index must beat the plain trained index at equal budget
    (same k_coarse/k_codes/nprobe) — the reason IVFADC quantizes
    residuals. Both recalls vs the numpy-exact truth; the margin is
    pinned at the measured gap's floor. Determinism: two builds give
    identical rows."""
    emb, x = _clustered_emb(spark)
    truth = _np_truth(x)

    res = pq.topk_cosine_ivfpq_residual_df(emb)
    got_res = _pairs(res)
    got_res2 = _pairs(pq.topk_cosine_ivfpq_residual_df(emb))
    assert got_res == got_res2
    plain = pq.topk_cosine_ivfpq_residual_df(emb, force_residual=False)
    got_plain = _pairs(plain)

    r_res = len(got_res & truth) / len(truth)
    r_plain = len(got_plain & truth) / len(truth)
    # measured: residual 0.270 vs plain 0.170 at sigma=0.10 (and
    # 0.170 vs 0.090 at sigma=0.05 — the margin GROWS as clusters
    # tighten, the IVFADC prediction). Absolute recall is modest by
    # construction: top-5 among ~100 same-cluster near-ties through
    # 8x16 codes — the same near-tie regime as the sign-LSH/PQ floors
    # in test_pq.py. Floors at measured-minus-noise.
    assert r_res >= r_plain + 0.05, (r_res, r_plain)
    assert r_res >= 0.20, r_res


def test_residual_index_build_is_shuffle_free(spark):
    """The residual index (assign -> residual -> encode) must stay a
    pure projection chain like the plain encode path: coarse
    assignment is a broadcast-HOF ranking, the residual subtract is a
    broadcast K-row join, encode is a broadcast codebook lookup — no
    hash/range exchange on the data side at any step (the property
    that makes the build corpus-scan-shaped at 100 TB)."""
    from concerts_etl_sa_spark.operators.kmeans import (
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.similarity import _assign_buckets

    emb, _ = _clustered_emb(spark, n=200)
    fitted, _hist = kmeans_fit(emb, k=4, max_iters=2)
    coarse = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    cand_res = pq._residual_frame(
        _assign_buckets(
            emb.filter(F.col("vec_id") >= N_QUERIES), coarse, n_keep=1
        ),
        pq._unit_coarse(coarse),
    )
    books = pq.pq_train_fused(cand_res, k=4, max_iters=1)
    enc = pq.pq_encode(
        cand_res,
        pq.pq_codebook_from_trained(spark, books),
        keep=("centroid_id",),
    )
    enc.count()
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_fused_gate_equals_separate_probes(spark):
    """The one-job production gate probe (_gate_energies, round-13
    item #7) must reproduce the separate _residual_energy /
    _centered_energy statistics exactly — same stride sample, same
    element expressions, same driver-side accumulation order — on both
    an isotropic and a clustered input."""
    from concerts_etl_sa_spark.operators.kmeans import (
        TRAIN_POINTS_PER_CENTROID,
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.similarity import _assign_buckets

    for emb_raw in (
        load_table(spark, SF_DIR, "embeddings"),
        _clustered_emb(spark, n=300)[0],
    ):
        fitted, _ = kmeans_fit(
            emb_raw, k=8, max_iters=2,
            train_sample_rows=TRAIN_POINTS_PER_CENTROID * 8,
        )
        coarse = centroids_df(spark, fitted).withColumn(
            "c_n2", _norm2("centroid_vec")
        )
        emb = (
            emb_raw
            if "norm2" in emb_raw.columns
            else emb_raw.withColumn("norm2", _norm2("embedding"))
        )
        cands = emb.filter(F.col("vec_id") >= N_QUERIES)
        n_cand = emb_raw.count() - N_QUERIES
        cap = 256 * pq.PQ_K
        cand_res = pq._residual_frame(
            _assign_buckets(cands, coarse, n_keep=1),
            pq._unit_coarse(coarse),
        )
        sep = (
            pq._residual_energy(cand_res, cap, n=n_cand),
            pq._centered_energy(cands, cap, n=n_cand),
        )
        fused = pq._gate_energies(cands, coarse, cap, n=n_cand)
        assert fused == sep, (fused, sep)


def test_realistic_fixture_gate_selects_plain_and_plain_not_worse(spark):
    """Round-13 re-pin on the realistic document-derived fixture: the
    relative gate must select the PLAIN build (gated output exactly
    equals the forced-plain build — same composition, bit-identical),
    and that choice must be the right one: forced-residual recall may
    not beat plain by the winning margin (measured plain 0.33 vs
    residual 0.30 — residual LOSES here despite absolute energy 0.32,
    the old gate's misclassification)."""
    from .realistic_emb import (
        np_truth_pairs,
        realistic_embeddings,
        recall_vs_truth,
    )

    emb, x, _ = realistic_embeddings(spark, SF_DIR)
    emb = emb.select("vec_id", "embedding")
    n = len(x)

    gated = sorted(
        map(tuple, pq.topk_cosine_ivfpq_residual_df(emb, n_total=n).collect())
    )
    plain = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, force_residual=False, n_total=n
            ).collect(),
        )
    )
    assert gated == plain

    truth = np_truth_pairs(x)
    r_plain = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=False, n_total=n),
        truth,
    )
    r_res = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True, n_total=n),
        truth,
    )
    # plain must not be the losing choice (0.05 = the in-regime winning
    # margin test_residual_wins_its_regime pins on the cluster fixture)
    assert r_res < r_plain + 0.05, (r_res, r_plain)
    assert r_plain >= 0.25, r_plain


def test_langblob_near_threshold_regime(spark):
    """Round-14 boundary-band pin (the fixture that REFUTED the 0.75
    threshold): the lang-weighted multi-blob fixture measures
    engine ratio 0.770 — inside the 0.65-0.85 band, UNDER the
    re-derived 0.85 threshold — so the gate must select RESIDUAL
    (gated output exactly equals the forced-residual build), and that
    choice must be the winning one by at least the 0.05 noise floor
    (measured: residual 0.40 vs plain 0.27 — under the old 0.75 gate
    this corpus shipped the 0.13-losing plain layout)."""
    from .realistic_emb import (
        langblob_embeddings,
        np_truth_pairs,
        recall_vs_truth,
    )

    emb_df, x, _ = langblob_embeddings(spark, SF_DIR)
    emb = emb_df.select("vec_id", "embedding")
    n = len(x)

    e_res, e_ctr = _gate_stats(spark, emb)
    ratio = e_res / e_ctr
    assert 0.65 < ratio < pq.RESIDUAL_GATE_RATIO, (e_res, e_ctr, ratio)

    gated = sorted(
        map(tuple, pq.topk_cosine_ivfpq_residual_df(emb, n_total=n).collect())
    )
    resid = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, force_residual=True, n_total=n
            ).collect(),
        )
    )
    assert gated == resid

    truth = np_truth_pairs(x)
    r_res = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True, n_total=n),
        truth,
    )
    r_plain = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(
            emb, force_residual=False, n_total=n
        ),
        truth,
    )
    assert r_res >= r_plain + 0.05, (r_res, r_plain)
    assert r_res >= 0.30, r_res  # measured 0.40; floor at minus-noise


def test_gate_decoupled_from_build_k(spark):
    """The gate is a CORPUS statistic at GATE_REF_K, not a build-k one:
    on the realistic blob the build-k ratio drifts under the threshold
    as k_coarse grows (0.91 at k=8 -> 0.68 at the auto-K 83 on the
    5000-doc fixture) while plain keeps winning recall (k=83 A/B:
    plain 0.23 vs residual 0.18 — BASELINE.md). A non-default k_coarse
    build must therefore still gate to plain on this corpus: gated
    output == forced-plain output at k_coarse=24."""
    from .realistic_emb import realistic_embeddings

    emb, x, _ = realistic_embeddings(spark, SF_DIR)
    emb = emb.select("vec_id", "embedding")
    n = len(x)
    gated = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, k_coarse=24, n_total=n
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, k_coarse=24, force_residual=False, n_total=n
            ).collect(),
        )
    )
    assert gated == plain


SF01_DIR = "/root/testdata/sf0.1"


@pytest.mark.slow
def test_sf01_realistic_regime_gate_selects_plain(spark):
    """Bench-scale pin (round-15 verdict #3, regime table's sf0.1
    column): the realistic fixture rebuilt on sf0.1 documents (5000
    rows, 10x the standing floors' scale) must stay on the PLAIN side
    of the 0.85 gate — measured ratio 0.9195 at the k=8 reference fit
    (vs 0.877-0.883 at 500 docs: scale-stable), gated == forced-plain
    bit-exact, and plain not the losing choice (recall plain 0.170 vs
    residual 0.160). A gate-side flip here means the corpus statistic
    is NOT scale-stable — investigate before touching the threshold."""
    from .realistic_emb import (
        np_truth_pairs,
        realistic_embeddings,
        recall_vs_truth,
    )

    emb_df, x, _ = realistic_embeddings(spark, SF01_DIR)
    emb = emb_df.select("vec_id", "embedding")
    n = len(x)

    e_res, e_ctr = _gate_stats(spark, emb)
    ratio = e_res / e_ctr
    assert ratio > pq.RESIDUAL_GATE_RATIO, (e_res, e_ctr, ratio)
    assert 0.85 < ratio < 1.0, ratio  # measured 0.9195; band, not a pin

    gated = sorted(
        map(tuple, pq.topk_cosine_ivfpq_residual_df(emb, n_total=n).collect())
    )
    plain = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, force_residual=False, n_total=n
            ).collect(),
        )
    )
    assert gated == plain

    truth = np_truth_pairs(x)
    r_plain = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=False, n_total=n),
        truth,
    )
    r_res = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True, n_total=n),
        truth,
    )
    assert r_res < r_plain + 0.05, (r_res, r_plain)
    assert r_plain >= 0.12, r_plain  # measured 0.170; floor minus noise


@pytest.mark.slow
def test_sf01_langblob_regime_gate_selects_residual(spark):
    """Bench-scale pin for the near-threshold fixture: langblob at
    sf0.1 measures ratio 0.7550 (vs 0.770 at 1x — stable, SAME side of
    0.85), the gate selects residual (gated == forced-residual
    bit-exact), and the choice costs nothing: measured residual 0.210
    vs plain 0.210 at this scale. NOTE the margin DECAY — +0.13 at 1x,
    +0.06 at the round-14 10x rebuild, a tie here — so the pin is
    'residual not worse than plain', not 'residual wins': as N grows at
    fixed k_coarse=8, both layouts bottleneck on the coarse prune, and
    the codebook layout stops being the binding constraint. The gate's
    job (never ship the losing layout) still holds at every measured
    scale."""
    from .realistic_emb import (
        langblob_embeddings,
        np_truth_pairs,
        recall_vs_truth,
    )

    emb_df, x, _ = langblob_embeddings(spark, SF01_DIR)
    emb = emb_df.select("vec_id", "embedding")
    n = len(x)

    e_res, e_ctr = _gate_stats(spark, emb)
    ratio = e_res / e_ctr
    assert 0.65 < ratio < pq.RESIDUAL_GATE_RATIO, (e_res, e_ctr, ratio)

    gated = sorted(
        map(tuple, pq.topk_cosine_ivfpq_residual_df(emb, n_total=n).collect())
    )
    resid = sorted(
        map(
            tuple,
            pq.topk_cosine_ivfpq_residual_df(
                emb, force_residual=True, n_total=n
            ).collect(),
        )
    )
    assert gated == resid

    truth = np_truth_pairs(x)
    r_res = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True, n_total=n),
        truth,
    )
    r_plain = recall_vs_truth(
        pq.topk_cosine_ivfpq_residual_df(
            emb, force_residual=False, n_total=n
        ),
        truth,
    )
    assert r_res >= r_plain - 0.05, (r_res, r_plain)
    assert r_res >= 0.15, r_res  # measured 0.210; floor minus noise


def test_forced_residual_on_isotropic_degrades_but_works(spark):
    """force_residual=True on the isotropic fixture: the regime the
    gate exists to avoid. Must still return a full valid top-k frame
    (N_QUERIES*TOP_K rows), just with the measured-worse ranking — the
    override is a probe, not a footgun that crashes."""
    emb = load_table(spark, SF_DIR, "embeddings")
    out = pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True)
    rows = out.collect()
    assert len(rows) == N_QUERIES * TOP_K
    assert len(_pairs(out)) == N_QUERIES * TOP_K


def _json_logs(err: str, msg: str) -> list[dict]:
    import json

    recs = [json.loads(line[line.index("{"):]) for line in err.splitlines()
            if '"logger": "concerts_etl_sa_spark"' in line]
    return [r for r in recs if r["msg"] == msg]


def test_dispatch_decisions_are_json_lines_on_stderr(spark, capfd):
    """Each Lloyd strategy choice (one site serving kmeans_fit and
    pq_train_fused) and each residual gate decision is one JSON line on
    stderr, with the quantities it was decided on."""
    from concerts_etl_sa_spark.operators.kmeans import (
        DRIVER_TRAIN_MAX_ROWS,
        _driver_train_auto,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    capfd.readouterr()
    pq.topk_cosine_ivfpq_residual_df(emb)
    pq.topk_cosine_ivfpq_residual_df(emb, force_residual=True)
    assert _driver_train_auto(None, None, 8) is False
    err = capfd.readouterr().err

    lloyd = _json_logs(err, "lloyd dispatch")
    # gated build: coarse fit + codebooks; forced: the same two
    assert [r["k"] for r in lloyd[:-1]] == [8, pq.PQ_K] * 2
    for r in lloyd[:-1]:
        assert r["driver_train"] is (r["bound"] <= DRIVER_TRAIN_MAX_ROWS)
    assert lloyd[-1] == {**lloyd[-1], "bound": None, "k": 8,
                         "driver_train": False}

    gated, forced = _json_logs(err, "residual gate")
    assert gated["use_residual"] is (
        gated["e_res"] < pq.RESIDUAL_GATE_RATIO * gated["e_ctr"]
    )
    assert gated["ratio"] == gated["e_res"] / gated["e_ctr"]
    assert forced == {**forced, "forced": True, "use_residual": True}
    assert "e_res" not in forced
