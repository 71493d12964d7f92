"""Quality harnesses for the approximate families (SURVEY §2.L1/L2):
trained-IVF recall vs the fixed index, IVF recall frame invariants, and
the simhash precision/recall metric with a pinned lower bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators.dedup import simhash_quality
from concerts_etl_sa_spark.operators.similarity import (
    TOP_K,
    _recall_frame,
    ivf_recall,
    topk_cosine_bruteforce,
    topk_cosine_ivf,
    topk_cosine_ivf_trained,
)

from .conftest import SF_DIR


def _mean_recall(spark, approx_df):
    bf = topk_cosine_bruteforce(spark, SF_DIR).select("q_id", "c_id")
    fr = _recall_frame(bf, approx_df.select("q_id", "c_id"))
    return fr.agg(F.avg("recall_at_k")).collect()[0][0]


def test_trained_ivf_recall_not_worse_than_fixed(spark):
    # same K and nprobe on both sides, so the comparison isolates
    # centroid QUALITY: Lloyd's-trained centroids must match or beat the
    # 4 fixed table vectors (measured 0.72 vs 0.72 at sf0.001)
    fixed = _mean_recall(spark, topk_cosine_ivf(spark, SF_DIR))
    trained = _mean_recall(
        spark, topk_cosine_ivf_trained(spark, SF_DIR, k_centroids=4, nprobe=2)
    )
    assert trained >= fixed - 1e-9, (trained, fixed)


def test_trained_ivf_shape_invariants(spark):
    out = topk_cosine_ivf_trained(spark, SF_DIR, k_centroids=8).collect()
    assert all(1 <= r.rn <= TOP_K for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    # every query produced results; ranks are contiguous from 1; cosines
    # are non-increasing in rank within a query
    assert len(by_q) == 20
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            a.cosine >= b.cosine for a, b in zip(rows, rows[1:])
        ), q


def test_ivf_recall_frame_bounds(spark):
    rows = ivf_recall(spark, SF_DIR).collect()
    assert len(rows) == 20
    assert all(0.0 <= r.recall_at_k <= 1.0 for r in rows)
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    # fixed 4-centroid/2-probe index measured 0.72 at sf0.001; probing
    # half the lists must beat coin-flip territory
    assert mean >= 0.5, mean


def test_realistic_fixture_compression_family_recall_floors(spark):
    """Round-13 re-pin (verdict item #1): the compression family's
    recall@TOP_K on the REALISTIC document-derived fixture — clustered
    anisotropic geometry from real testdata text, not the isotropic
    synthetic table the round-12 numbers were pinned on. Measured at
    sf0.001: IVF(trained k=8, nprobe=2) 0.81, SQ8 0.99, PQ(trained)
    0.29 — the family's ordering (exact > SQ8 >> IVF > PQ) holds on
    realistic geometry too; floors at measured-minus-noise. All builds
    deterministic (hash-thinned samples, Lloyd's, no RNG)."""
    from concerts_etl_sa_spark.operators import pq
    from concerts_etl_sa_spark.operators.kmeans import (
        TRAIN_POINTS_PER_CENTROID,
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.similarity import (
        _ivf_topk,
        _norm2,
    )

    from .realistic_emb import (
        np_truth_pairs,
        realistic_embeddings,
        recall_vs_truth,
    )

    df, x, _ = realistic_embeddings(spark, SF_DIR)
    emb = df.select("vec_id", "embedding")
    n = len(x)
    truth = np_truth_pairs(x)

    fitted, _ = kmeans_fit(
        emb, k=8, max_iters=3,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * 8, train_sample_n=n,
    )
    coarse = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    r_ivf = recall_vs_truth(
        _ivf_topk(df.select("vec_id", "embedding", "norm2"), coarse,
                  nprobe=2),
        truth,
    )
    r_sq8 = recall_vs_truth(pq.topk_cosine_sq8_df(emb), truth)
    books = pq.pq_train_fused(
        emb, k=pq.PQ_K, max_iters=3,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * pq.PQ_K,
        train_sample_n=n,
    )
    r_pq = recall_vs_truth(
        pq.topk_cosine_pq_df(emb, pq.pq_codebook_from_trained(spark, books)),
        truth,
    )
    assert r_sq8 >= 0.95, r_sq8
    assert r_ivf >= 0.70, r_ivf
    assert r_pq >= 0.20, r_pq
    assert r_sq8 > r_ivf > r_pq, (r_sq8, r_ivf, r_pq)


@pytest.mark.slow
def test_sf01_realistic_compression_family_floors_and_labelqa(spark):
    """Bench-scale re-pin (round-15 verdict #3): the compression
    family's recall ordering and floors, and the IVF-pruned labelqa's
    agreement with the exact form, on the realistic fixture rebuilt
    over sf0.1 documents (5000 rows — 10x the standing sf0.001 pins).
    Measured: IVF(trained k=8, nprobe=2) 0.830, SQ8 0.970, PQ(trained)
    0.200; labelqa agreement 0.820 at the production nprobe=4/auto-K
    (K=83 lists) — far above the isotropic table's 0.59 at equal
    nprobe, the clustered-geometry claim the production default rests
    on. Floors at measured-minus-noise; ordering exact > SQ8 >> IVF >
    PQ must hold at scale."""
    from concerts_etl_sa_spark.operators import labelqa as LQ
    from concerts_etl_sa_spark.operators import pq
    from concerts_etl_sa_spark.operators.kmeans import (
        TRAIN_POINTS_PER_CENTROID,
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.semdedup import (
        SEMDEDUP_CENTROID_RESIDUE,
        _auto_stride,
    )
    from concerts_etl_sa_spark.operators.similarity import _ivf_topk, _norm2

    from .realistic_emb import (
        np_truth_pairs,
        realistic_embeddings,
        recall_vs_truth,
    )

    sf01 = "/root/testdata/sf0.1"
    df, x, _ = realistic_embeddings(spark, sf01)
    emb = df.select("vec_id", "embedding")
    n = len(x)
    truth = np_truth_pairs(x)

    fitted, _ = kmeans_fit(
        emb, k=8, max_iters=3,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * 8, train_sample_n=n,
    )
    coarse = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    r_ivf = recall_vs_truth(
        _ivf_topk(df.select("vec_id", "embedding", "norm2"), coarse,
                  nprobe=2),
        truth,
    )
    r_sq8 = recall_vs_truth(pq.topk_cosine_sq8_df(emb), truth)
    books = pq.pq_train_fused(
        emb, k=pq.PQ_K, max_iters=3,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * pq.PQ_K,
        train_sample_n=n,
    )
    r_pq = recall_vs_truth(
        pq.topk_cosine_pq_df(emb, pq.pq_codebook_from_trained(spark, books)),
        truth,
    )
    assert r_sq8 >= 0.93, r_sq8
    assert r_ivf >= 0.75, r_ivf
    assert r_pq >= 0.15, r_pq
    assert r_sq8 > r_ivf > r_pq, (r_sq8, r_ivf, r_pq)

    # labelqa agreement on the 2000-row prefix: the exact side is the
    # documented NON-scale N^2 form, and the full 5000-row exact kNN
    # costs minutes at the suite's local[4] — the prefix keeps the pin
    # 4x the sf0.001 scale at a bounded runtime. Measured: 0.8425 on
    # the 2000-prefix (0.820 on the full 5000 at derivation — same
    # clustered-geometry story, both far above the isotropic 0.59).
    sub = df.filter(F.col("vec_id") < 2000)
    n_sub = sub.count()
    labeled = sub.select(
        "vec_id", "embedding", "label", _norm2("embedding").alias("norm2")
    )
    exact = {
        r.vec_id: r.is_suspect
        for r in LQ.knn_label_noise_df(labeled).collect()
    }
    st = _auto_stride(n_sub, 60)
    cents = (
        sub.filter(
            (F.col("vec_id") % st) == F.lit(SEMDEDUP_CENTROID_RESIDUE % st)
        ).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
            _norm2("embedding").alias("c_n2"),
        )
    )
    ivf = {
        r.vec_id: r.is_suspect
        for r in LQ.knn_label_noise_ivf_df(labeled, cents, nprobe=4).collect()
    }
    agree = sum(1 for k in exact if ivf.get(k) == exact[k]) / len(exact)
    assert agree >= 0.78, agree  # measured 0.8425


def test_simhash_quality_pinned_bounds(spark):
    row = simhash_quality(spark, SF_DIR).collect()[0]
    assert row.n_truth > 0 and row.n_pred > 0
    assert row.n_hit <= min(row.n_pred, row.n_truth)
    # hamming<=6 over the 60-bit simhash: the round-6 widening (32 -> 60
    # bits, 8 -> 15-bit blocks) traded a little recall for two orders of
    # magnitude of precision — measured at sf0.001: recall 0.964 -> 0.893,
    # precision 0.0026 -> 0.245, predicted pairs ~39k -> 102. The wider
    # blocks are also the scale fix: 4*32768 block buckets instead of
    # 4*256, so the candidate self-join stops being ~N^2/1024.
    assert row.recall >= 0.85, row.recall
    assert row.precision >= 0.1, row.precision


def test_minhash_quality_precision_is_one_by_construction(spark):
    from concerts_etl_sa_spark.operators.dedup import minhash_quality

    row = minhash_quality(spark, SF_DIR).collect()[0]
    assert row.n_truth > 0
    # every emitted pair passed the exact-Jaccard verify, so a predicted
    # pair inside the eval sample IS a truth pair
    assert row.precision == 1.0, row.precision
    # banding recall: P(share >= 1 of 4 bands) for J >= 0.5 is high;
    # measured 1.0 at sf0.001
    assert row.recall >= 0.9, row.recall


def test_near_dup_quality_precision_one_recall_theory_consistent(spark):
    """Sign-bucket near-dup: precision is 1.0 BY CONSTRUCTION (every
    emitted pair passes the exact cosine verify); recall must match the
    sign-LSH collision theory — P(all 8 sign bits agree) ~ (1 - θ/π)^8,
    ~1.6% at the synthetic data's weak τ=0.30 (θ≈72.5°). The harness
    exists precisely to surface this production trade: the bucket
    targets true DUPLICATES (τ→1, θ→0, recall→1), not 0.3-cosine
    neighbors."""
    import math

    from concerts_etl_sa_spark.operators.similarity import (
        NEAR_DUP_COSINE,
        NEAR_DUP_QUALITY_WIDTHS,
        near_dup_quality,
    )

    from .conftest import SF_DIR

    rows = {
        (r.n_bands, r.bits_per_band): r
        for r in near_dup_quality(spark, SF_DIR).collect()
    }
    assert set(rows) == set(NEAR_DUP_QUALITY_WIDTHS)
    p_bit = 1 - math.acos(NEAR_DUP_COSINE) / math.pi  # P(one sign agrees)
    for (nb, bp), r in rows.items():
        assert r.precision == 1.0, (nb, bp, r.precision)
        assert r.n_hit == r.n_pred
        # banded blocking: per-band collision p = p_bit^bits,
        # OR-combined recall 1-(1-p)^bands
        theory = 1 - (1 - p_bit**bp) ** nb
        assert 0.25 * theory <= r.recall <= 4 * theory, (nb, bp, r.recall)
    # the sweep must expose the banding trade measurably: more bands at
    # the same width can only add candidates (recall superset of the
    # default's first two bands), and a single band over the SAME dims
    # the default reads is a structural subset (all 8 bits agreeing
    # implies both default 4-bit bands agree) — both inequalities are
    # theorems. (2, 8) reads dims 9-16 the default never consults, so
    # its ordering vs the default is fixture-empirical; the theory-band
    # loop above is its only assertion.
    default = rows[NEAR_DUP_QUALITY_WIDTHS[0]]
    assert rows[(4, 4)].recall >= default.recall
    assert rows[(1, 8)].recall <= default.recall


def test_band_width_over_dim_raises(spark):
    """Over-wide banding must fail at plan-build time: element_at past
    the array end yields NULL, NULL >= 0 falls to otherwise(0), and the
    out-of-range bits would silently read as constant zeros — collapsing
    buckets instead of sharpening them (round-9 advice item)."""
    import pytest

    from concerts_etl_sa_spark.operators.similarity import (
        _band_keys,
        _band_keys_sql,
    )

    with pytest.raises(ValueError, match="72 dims"):
        _band_keys("embedding", n_bands=9, bits_per_band=8)
    with pytest.raises(ValueError, match="72 dims"):
        _band_keys_sql("embedding", n_bands=9, bits_per_band=8)
    # the widest legal width still builds
    assert _band_keys_sql("embedding", n_bands=8, bits_per_band=8)
