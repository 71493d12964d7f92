"""Multi-keep K-aware assignment routing (round-12: the ADVICE items on
the multi-keep ``_assign_routed``): probe-width default, two-level and
three-level dispatch, total-probe bit-exactness, and the measured
kept-set agreement floors at real K.

Context: the all-vectors-as-queries kNN paths (labelqa) probe n_keep
lists per vector, so their query leg needs the same routing tiers the
single-keep dispatcher has. Round-11 shipped the two-level multi form
but probed only ``(n_keep+1)//2`` coarse groups (2 for the labelqa
default n_keep=4 — kept-set overlap with flat 0.39) and had no
three-level branch. Round-12 defaults the probe to ``max(2, n_keep)``
(overlap 0.57 at the same K) and adds the three-level multi dispatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import kmeans as KM
from concerts_etl_sa_spark.operators.similarity import (
    _assign_buckets,
    _assign_routed,
    _emb_normed,
    _norm2,
)

SF01_DIR = "/root/testdata/sf0.1"
N_KEEP = 4


def _k400_setup(spark):
    from concerts_etl_sa_spark.operators.semdedup import (
        SEMDEDUP_CENTROID_RESIDUE,
        _auto_stride,
    )
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = _emb_normed(spark, SF01_DIR)
    stride = _auto_stride(emb.count(), 5)  # K=400 >= TWO_LEVEL_MIN_K
    cents = (
        load_table(spark, SF01_DIR, "embeddings", spread=False)
        .filter(
            (F.col("vec_id") % stride)
            == F.lit(SEMDEDUP_CENTROID_RESIDUE % stride)
        )
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
            _norm2("embedding").alias("c_n2"),
        )
    )
    return emb, cents


def _kept_sets(df):
    out = {}
    for r in df.select("vec_id", "centroid_id").collect():
        out.setdefault(r["vec_id"], set()).add(r["centroid_id"])
    return out


def _overlap(kept, flat):
    return sum(len(kept[k] & v) for k, v in flat.items()) / (
        N_KEEP * len(flat)
    )


def test_multi_two_level_total_probe_bit_exact(spark):
    """nprobe >= the number of coarse groups makes the candidate set ALL
    fine centroids, so the kept slice must equal the flat top-n_keep
    BIT-EXACTLY (same rounded-cosine struct sort, same id tiebreak) —
    total coverage of the multi-keep broadcast expression machinery."""
    emb, cents = _k400_setup(spark)
    flat = _kept_sets(_assign_buckets(emb, cents, n_keep=N_KEEP))
    total = _kept_sets(
        _assign_routed(emb, cents, N_KEEP, nprobe=10**6)
    )
    assert total == flat


def test_multi_two_level_default_probe_floor_and_beats_old(spark):
    """The round-11 advisory, measured: at K=400 / n_keep=4 the old
    probe width ((n_keep+1)//2 = 2) overlaps flat's kept sets 0.3925;
    the new default (max(2, n_keep) = 4) reaches 0.5664. Pin the
    default's floor AND that it strictly improves on the old width
    (deterministic rankings — stable marks)."""
    emb, cents = _k400_setup(spark)
    flat = _kept_sets(_assign_buckets(emb, cents, n_keep=N_KEEP))
    old = _overlap(
        _kept_sets(_assign_routed(emb, cents, N_KEEP, nprobe=2)),
        flat,
    )
    new = _overlap(
        _kept_sets(_assign_routed(emb, cents, N_KEEP)), flat
    )
    assert new >= 0.50, new
    assert new > old, (new, old)


def test_multi_three_level_dispatch_and_total_probe(spark, monkeypatch):
    """With THREE_LEVEL_MIN_K forced down to 64, K=400 routes the
    multi-keep assignment through the three-tier tree (the round-11
    ADVICE asymmetry — labelqa's query leg lacked this branch). Pins:
    total probe = flat bit-exact (all tops -> all mids -> all fine),
    default-probe kept-set overlap floor (measured 0.496 with the
    widened nprobe+1 = 5), determinism."""
    monkeypatch.setattr(KM, "THREE_LEVEL_MIN_K", 64)
    emb, cents = _k400_setup(spark)
    flat = _kept_sets(_assign_buckets(emb, cents, n_keep=N_KEEP))
    total = _kept_sets(
        _assign_routed(emb, cents, N_KEEP, nprobe=10**6)
    )
    assert total == flat
    a = _kept_sets(_assign_routed(emb, cents, N_KEEP))
    b = _kept_sets(_assign_routed(emb, cents, N_KEEP))
    assert a == b
    assert _overlap(a, flat) >= 0.45, _overlap(a, flat)


def test_multi_flat_fallback_below_min_k(spark):
    """Below TWO_LEVEL_MIN_K the dispatcher must return the flat
    multi-keep result bit-identically (small corpora pay no
    approximation) — K=8 here."""
    emb, _ = _k400_setup(spark)
    cents8 = _mod8(emb)
    flat = _kept_sets(_assign_buckets(emb, cents8, n_keep=N_KEEP))
    multi = _kept_sets(_assign_routed(emb, cents8, N_KEEP))
    assert multi == flat


def _mod8(emb):
    return emb.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
        _norm2("embedding").alias("c_n2"),
    )
