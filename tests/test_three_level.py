"""Three-level (top -> mid -> fine) centroid routing (round-11
headline): structure, exactness on separated data, total-probe
bit-exactness, agreement monotonicity, semdedup parity with the routing
forced on, and trainer determinism.

Context: the round-10 125x probe measured the two-level 25x->125x
segment at alpha~1.06 — the N*sqrt(K)*dim = N^1.5 curve when K tracks N.
The third tier cuts ranked candidates to ~(1+2*nprobe)*K^(1/3) (N^(4/3)
under the auto-K rule). The dispatcher widens the probe by ONE versus
two-level (the doubly-nested prune costs ~one probe step of routing
agreement — measured here); these tests pin the quality bars at the
same marks the two-level suite pinned."""

from __future__ import annotations

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import kmeans as KM
from concerts_etl_sa_spark.operators.kmeans import build_index, route

from .conftest import SF_DIR
from .test_kmeans import _clustered

SF01_DIR = "/root/testdata/sf0.1"


def _k400_cents(spark):
    from concerts_etl_sa_spark.operators.similarity import _norm2
    from concerts_etl_sa_spark.sources.readers import load_table

    return (
        load_table(spark, SF01_DIR, "embeddings", spread=False)
        .filter(F.col("vec_id") % 5 == 0)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
            _norm2("embedding").alias("c_n2"),
        )
    )


def test_three_level_tree_structure():
    """Every fine centroid lands in exactly one fine group; every mid id
    referenced by a top entry exists in the fine map; every top/mid is
    live — the construction guarantee that keeps ANSI element_at
    crash-free at BOTH probed tiers."""
    cents = [
        (j, [float((j * 13 + d * 7) % 97) / 97.0 for d in range(4)])
        for j in range(500)
    ]
    top, mids, groups = build_index(cents, 3, metric="cosine")
    assert set(mids) == {t for t, _, _ in top}
    mid_ids = [m for mem in mids.values() for m, _, _ in mem]
    assert sorted(mid_ids) == sorted(groups)  # bijection mids <-> groups
    members = [j for mem in groups.values() for j, _, _ in mem]
    assert sorted(members) == list(range(500))
    assert all(len(mem) > 0 for mem in mids.values())
    assert all(len(mem) > 0 for mem in groups.values())


def test_three_level_exact_on_separated_blobs(spark):
    """Where cluster margins are large, doubly-nested pruning loses
    nothing: three-level assignment must MATCH flat exactly."""
    _, df = _clustered(spark)
    cents = [
        [0.1, 0.1, 0.0, 0.0],
        [10.0, 9.9, 0.0, 0.1],
        [0.0, 0.1, 9.9, 10.0],
    ]
    idx = build_index(list(enumerate(cents)), 3)
    flat = {
        r["vec_id"]: r["cluster"]
        for r in route(df, build_index(list(enumerate(cents)), 1))
        .select("vec_id", "cluster")
        .collect()
    }
    three = {
        r["vec_id"]: r["cluster"]
        for r in route(df, idx, nprobe=3)
        .select("vec_id", "cluster")
        .collect()
    }
    assert flat == three


def test_three_level_agreement_monotone_and_total_probe_exact(spark):
    """Nested-pruning sanity, one tier deeper. Unlike the two-level
    case, cross-tier monotonicity is NOT provable (widening the top
    probe changes the mid candidate set, which can evict a previously
    probed mid) — but every ranking is deterministic, so the measured
    agreement sequence is a stable regression pin. The total-probe
    property IS provable: nprobe >= every tier's fanout ranks ALL fine
    centroids — bit-exact flat equality, covering the whole
    array+two-map broadcast expression machinery."""
    from concerts_etl_sa_spark.operators.similarity import (
        _assign_buckets,
        _emb_normed,
    )

    emb = _emb_normed(spark, SF01_DIR)
    cents = _k400_cents(spark)
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in _assign_buckets(emb, cents, n_keep=1)
        .select("vec_id", "centroid_id")
        .collect()
    }
    rows = cents.select("centroid_id", "centroid_vec").collect()
    idx = build_index(
        [(r["centroid_id"], r["centroid_vec"]) for r in rows],
        3,
        metric="cosine",
    )

    def agreement(nprobe):
        three = {
            r["vec_id"]: r["centroid_id"]
            for r in route(
                emb,
                idx,
                out_col="centroid_id",
                nprobe=nprobe,
                metric="cosine",
                norm2_col="norm2",
                score_col="_neg_cos",
            )
            .select("vec_id", "centroid_id")
            .collect()
        }
        return sum(three[k] == v for k, v in flat.items()) / len(flat), three

    a2, _ = agreement(2)
    a3, _ = agreement(3)
    a4, _ = agreement(4)
    assert a2 <= a3 <= a4, (a2, a3, a4)
    # the dispatcher's widened setting must clear the two-level
    # nprobe=1 agreement floor (measured 0.398 at this K; 3-level
    # nprobe=3 measured 0.487)
    assert a3 > 0.40, a3
    a_total, three_total = agreement(10**6)
    assert a_total == 1.0
    assert three_total == flat


def test_three_level_semdedup_parity_at_real_k(spark, monkeypatch):
    """With the three-level dispatch FORCED on at K=400 (threshold
    monkeypatched down; the shipped THREE_LEVEL_MIN_K engages only at
    production K), the widened probe must hold the SAME quality bars
    the two-level suite pinned: keep-rate delta < 0.05 and pair recall
    >= 0.68 of flat (measured: 0.027 / 0.715). Also pins determinism."""
    monkeypatch.setattr(KM, "THREE_LEVEL_MIN_K", 64)
    from concerts_etl_sa_spark.operators.semdedup import semdedup_auto

    flat = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    three = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5, assign_nprobe=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert abs(flat["is_kept"].mean() - three["is_kept"].mean()) < 0.05
    assert (
        three["n_dup_neighbors"].sum()
        >= 0.68 * flat["n_dup_neighbors"].sum()
    )
    three_again = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5, assign_nprobe=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert three.equals(three_again)


def test_three_level_assign_plan_flat_in_k(spark):
    """Like the flat and two-level rankings, the three-level expression
    is O(1) in K: all tiers travel as broadcast DATA."""
    _, df = _clustered(spark)
    sizes = {}
    for k in (64, 512):
        cents = [
            (j, [float((j * 13 + d * 7) % 97) / 97.0 for d in range(4)])
            for j in range(k)
        ]
        idx = build_index(cents, 3)
        a = route(df, idx, nprobe=2)
        sizes[k] = len(a._jdf.queryExecution().executedPlan().toString())
        assert a.count() == 90
    assert sizes[512] < sizes[64] + 2000, sizes


def test_kmeans_fit_three_level_deterministic(spark, monkeypatch):
    """The trainer with three-level per-iteration assignment (forced on
    at k=64 via the threshold) returns k centroids, deterministic
    across runs, finite positive inertia — the ANN-kmeans contract the
    two-level suite pins, one tier deeper. Mid-level reuse across
    iterations must not break determinism."""
    monkeypatch.setattr(KM, "THREE_LEVEL_MIN_K", 64)
    from concerts_etl_sa_spark.operators.kmeans import kmeans_fit
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    a, ia = kmeans_fit(emb, k=64, max_iters=2, assign_nprobe=2)
    b, ib = kmeans_fit(emb, k=64, max_iters=2, assign_nprobe=2)
    assert a == b and ia == ib
    assert len(a) == 64
    assert all(x > 0 and x == x for x in ia)


def test_three_level_mid_reuse_routing_only():
    """Reusing a previously-fitted mid level must reproduce the same
    PARTITION of fine centroids into groups when the fine centroids are
    unchanged (mid labels may renumber — dead mids are dropped and the
    reused list is dense — but the routing structure is a pure function
    of (fine, mid vectors)) — the property the Lloyd caller's
    amortization rests on."""
    cents = [
        (j, [float((j * 29 + d * 11) % 83) / 83.0 for d in range(4)])
        for j in range(300)
    ]
    _, mids1, groups1 = build_index(cents, 3)
    reuse = [
        v
        for _, v, _ in sorted(
            (e for mem in mids1.values() for e in mem), key=lambda x: x[0]
        )
    ]
    _, _, groups2 = build_index(cents, 3, reuse=reuse)
    part1 = {frozenset(j for j, _, _ in mem) for mem in groups1.values()}
    part2 = {frozenset(j for j, _, _ in mem) for mem in groups2.values()}
    assert part1 == part2
