"""OPQ (Ge et al. 2013 / FAISS OPQMatrix+PQ, round 13): rotation
orthogonality + determinism, the dot-preservation invariant, and the
no-harm + absolute recall floors vs plain trained PQ on both the
isotropic table and the realistic document-derived fixture."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import pq
from concerts_etl_sa_spark.operators.pq import (
    PQ_K,
    _nrm,
    _rotated_frame,
    opq_rotation,
)
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR
from .realistic_emb import np_truth_pairs, realistic_embeddings, recall_vs_truth


def _base(emb):
    return emb.select(
        "vec_id", "embedding", _nrm(emb, "embedding").alias("_nrm")
    )


def test_opq_rotation_orthogonal_and_deterministic(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    r1 = opq_rotation(_base(emb), 256 * PQ_K, n)
    r2 = opq_rotation(_base(emb), 256 * PQ_K, n)
    assert r1 == r2
    r = np.array(r1)
    assert np.abs(r @ r.T - np.eye(r.shape[0])).max() < 1e-9


def test_rotated_frame_preserves_norms_and_dots(spark):
    """R orthogonal => unit norms stay unit and pairwise dots are
    exactly preserved (to FP) — the property that makes OPQ's ranking
    error pure quantization error."""
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    rot = opq_rotation(_base(emb), 256 * PQ_K, n)
    rotated = _rotated_frame(emb, rot).filter(F.col("vec_id") < 40)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in rotated.collect()}
    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id") < 40).collect()
    }
    for vid, u in rows.items():
        assert abs(np.linalg.norm(u) - 1.0) < 1e-9, vid
    ids = sorted(rows)
    for a, b in zip(ids[:10], ids[10:20]):
        ua, ub = raw[a] / np.linalg.norm(raw[a]), raw[b] / np.linalg.norm(raw[b])
        assert abs(float(rows[a] @ rows[b]) - float(ua @ ub)) < 1e-9


def test_opq_identity_rotation_equals_plain_pq(spark):
    """With R = I the OPQ pipeline IS plain trained PQ (same trainer,
    same args, same frame up to the no-op rotation projection) — the
    structural no-harm anchor."""
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    ident = [
        [1.0 if i == j else 0.0 for j in range(64)] for i in range(64)
    ]
    rotated = _rotated_frame(emb, ident)
    books = pq.pq_train_fused(
        rotated, k=PQ_K, max_iters=3,
        train_sample_rows=256 * PQ_K, train_sample_n=n,
    )
    a = sorted(map(tuple, pq.topk_cosine_pq_df(
        rotated, pq.pq_codebook_from_trained(spark, books)
    ).collect()))
    b = sorted(map(tuple, pq.topk_cosine_pq_trained(spark, SF_DIR).collect()))
    assert a == b


def test_opq_recall_floors_both_fixtures(spark):
    """Engine-measured: isotropic 0.30 vs plain 0.29, realistic 0.32
    vs 0.29 (sf0.001, deterministic builds). Pins: OPQ never below
    plain PQ, and absolute floors at measured-minus-noise."""
    # isotropic table
    rows = sorted(
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = np_truth_pairs(x)
    r_opq = recall_vs_truth(pq.topk_cosine_opq_trained(spark, SF_DIR), truth)
    r_pq = recall_vs_truth(pq.topk_cosine_pq_trained(spark, SF_DIR), truth)
    assert r_opq >= r_pq - 1e-9, (r_opq, r_pq)
    assert r_opq >= 0.28, r_opq

    # realistic document-derived fixture
    df, xr, _ = realistic_embeddings(spark, SF_DIR)
    emb = df.select("vec_id", "embedding")
    n = len(xr)
    truth_r = np_truth_pairs(xr)
    rot = opq_rotation(_base(emb), 256 * PQ_K, n)
    rotated = _rotated_frame(emb, rot)
    books = pq.pq_train_fused(
        rotated, k=PQ_K, max_iters=3,
        train_sample_rows=256 * PQ_K, train_sample_n=n,
    )
    r_opq_real = recall_vs_truth(
        pq.topk_cosine_pq_df(
            rotated, pq.pq_codebook_from_trained(spark, books)
        ),
        truth_r,
    )
    books_p = pq.pq_train_fused(
        emb, k=PQ_K, max_iters=3,
        train_sample_rows=256 * PQ_K, train_sample_n=n,
    )
    r_pq_real = recall_vs_truth(
        pq.topk_cosine_pq_df(
            emb, pq.pq_codebook_from_trained(spark, books_p)
        ),
        truth_r,
    )
    assert r_opq_real >= r_pq_real - 1e-9, (r_opq_real, r_pq_real)
    assert r_opq_real >= 0.30, r_opq_real


def test_opq_recall_floor_langblob(spark):
    """Round-14 (verdict #5): OPQ >= plain PQ on the near-threshold
    multi-blob fixture too — the prior margins (0.30-vs-0.29 /
    0.32-vs-0.29) were one flipped neighbor from inverting; here the
    measured gap is OPQ 0.39 vs PQ 0.32 (multi-blob covariance is
    exactly what the rotation redistributes), so the floor has real
    margin."""
    from .realistic_emb import langblob_embeddings

    df, xr, _ = langblob_embeddings(spark, SF_DIR)
    emb = df.select("vec_id", "embedding")
    n = len(xr)
    truth = np_truth_pairs(xr)
    rot = opq_rotation(_base(emb), 256 * PQ_K, n)
    rotated = _rotated_frame(emb, rot)
    books = pq.pq_train_fused(
        rotated, k=PQ_K, max_iters=3,
        train_sample_rows=256 * PQ_K, train_sample_n=n,
    )
    r_opq = recall_vs_truth(
        pq.topk_cosine_pq_df(
            rotated, pq.pq_codebook_from_trained(spark, books)
        ),
        truth,
    )
    books_p = pq.pq_train_fused(
        emb, k=PQ_K, max_iters=3,
        train_sample_rows=256 * PQ_K, train_sample_n=n,
    )
    r_pq = recall_vs_truth(
        pq.topk_cosine_pq_df(
            emb, pq.pq_codebook_from_trained(spark, books_p)
        ),
        truth,
    )
    assert r_opq >= r_pq - 1e-9, (r_opq, r_pq)
    assert r_opq >= 0.35, r_opq  # measured 0.39; floor at minus-noise


def test_opq_ivfpq_no_harm_and_shape(spark):
    """The full FAISS production string (OPQ+IVF+PQ): at equal budget
    (k_coarse/k_codes/nprobe) the rotated composition must not rank
    worse than plain IVF+PQ-trained on the isotropic table, and must
    return the full valid top-k frame."""
    from concerts_etl_sa_spark.operators.similarity import N_QUERIES, TOP_K

    rows = sorted(
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = np_truth_pairs(x)
    opq_df = pq.topk_cosine_opq_ivfpq_trained(spark, SF_DIR)
    out = opq_df.collect()
    assert len(out) == N_QUERIES * TOP_K
    r_opq = recall_vs_truth(opq_df, truth)
    r_plain = recall_vs_truth(
        pq.topk_cosine_ivfpq_trained(spark, SF_DIR), truth
    )
    assert r_opq >= r_plain - 1e-9, (r_opq, r_plain)


def test_opq_shape_invariants(spark):
    from concerts_etl_sa_spark.operators.similarity import N_QUERIES, TOP_K

    out = pq.topk_cosine_opq_trained(spark, SF_DIR).collect()
    assert len(out) == N_QUERIES * TOP_K
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == N_QUERIES
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1)), q
        assert all(a.adc >= b.adc for a, b in zip(rs, rs[1:])), q


def test_opq_rotation_empty_sample_is_identity(spark):
    """No training rows: the rotation degrades to the DIM x DIM
    identity, so OPQ falls back to plain PQ instead of failing."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 0)
    rot = opq_rotation(_base(emb), 256 * PQ_K, 0)
    assert rot == np.eye(64).tolist()
