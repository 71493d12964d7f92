"""Two-level (coarse -> fine) centroid assignment (round-10 headline):
exactness on separated data, approximation parity on real embeddings,
fallback identity, determinism, and plan-size flatness in K.

Context: with K proportional to N (the auto-K rule) the flat broadcast
ranking does N*K*dim multiplies — the round-9 scale probe's auto-K
5x->25x segment at alpha~1.15. Two-level cuts assignment to
~N*(1+nprobe)*sqrt(K)*dim by ranking sqrt(K) coarse centroids, then only
the best nprobe groups' fine members. The trade is approximate routing
(the true nearest fine centroid may sit in an unprobed group) — these
tests pin how large that approximation is allowed to get."""

from __future__ import annotations

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators.kmeans import (
    TWO_LEVEL_MIN_K,
    build_index,
    kmeans_fit,
    route,
)
from concerts_etl_sa_spark.operators.semdedup import semdedup_auto

from .conftest import SF_DIR
from .test_kmeans import _clustered

SF01_DIR = "/root/testdata/sf0.1"


def test_two_level_exact_on_separated_blobs(spark):
    """Where cluster margins are large, nested pruning loses nothing:
    two-level assignment must MATCH flat assignment exactly (the
    approximation only bites when the nearest fine centroid hides in an
    unprobed coarse group — impossible with well-separated blobs and
    nprobe covering the coarse candidates)."""
    _, df = _clustered(spark)
    cents = [[0.1, 0.1, 0.0, 0.0], [10.0, 9.9, 0.0, 0.1], [0.0, 0.1, 9.9, 10.0]]
    idx = build_index(list(enumerate(cents)), 2)
    flat = {
        r["vec_id"]: r["cluster"]
        for r in route(df, build_index(list(enumerate(cents)), 1))
        .select("vec_id", "cluster")
        .collect()
    }
    two = {
        r["vec_id"]: r["cluster"]
        for r in route(df, idx, nprobe=2)
        .select("vec_id", "cluster")
        .collect()
    }
    assert flat == two


def test_two_level_fallback_identical_below_min_k(spark):
    """Below TWO_LEVEL_MIN_K the operator must self-select the flat
    path and return BIT-IDENTICAL results (sf0.001: N=500 -> auto K=8,
    far under the threshold) — small corpora pay no approximation."""
    flat = sorted(
        semdedup_auto(spark, SF_DIR).collect(), key=lambda r: r["vec_id"]
    )
    two = sorted(
        semdedup_auto(spark, SF_DIR, assign_nprobe=2).collect(),
        key=lambda r: r["vec_id"],
    )
    assert flat == two


def test_two_level_semdedup_parity_at_real_k(spark):
    """At K=400 over the sf0.1 embeddings (per_cluster=5 engages real
    two-level routing: K >= TWO_LEVEL_MIN_K), the approximate form
    must stay semantically close to flat. Pinned at the measured marks
    with headroom: keep-rate delta 0.0155 (pin < 0.05), within-cluster
    duplicate-pair count 74.5% of flat's (pin >= 0.68 — and flat itself
    recalls only a small fraction of the full tau graph at this K, the
    paper's own K-recall trade, so the two-level haircut is a fraction
    OF a fraction, not a cliff). Also pins determinism: two runs,
    identical frames."""
    flat = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    two = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5, assign_nprobe=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert abs(flat["is_kept"].mean() - two["is_kept"].mean()) < 0.05
    # n_dup_neighbors sums 2x the pair count — the recall proxy
    assert (
        two["n_dup_neighbors"].sum() >= 0.68 * flat["n_dup_neighbors"].sum()
    )
    two_again = (
        semdedup_auto(spark, SF01_DIR, per_cluster=5, assign_nprobe=2)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert two.equals(two_again)


def test_two_level_tree_structure(spark):
    """Every fine centroid lands in exactly one group; every coarse
    entry is live (has members) — the construction guarantee that keeps
    ANSI element_at crash-free at assignment time."""
    cents = [
        (j, [float((j * 13 + d * 7) % 97) / 97.0 for d in range(4)])
        for j in range(80)
    ]
    coarse, groups = build_index(cents, 2, metric="cosine")
    assert set(groups) == {g for g, _, _ in coarse}
    members = [j for mem in groups.values() for j, _, _ in mem]
    assert sorted(members) == list(range(80))
    assert all(len(mem) > 0 for mem in groups.values())


def test_two_level_assign_plan_flat_in_k(spark):
    """Like the flat ranking, the two-level expression is O(1) in K:
    both levels travel as broadcast DATA (one array + one map row), so
    the K=512 plan must stay about the K=64 plan's size."""
    _, df = _clustered(spark)
    sizes = {}
    for k in (64, 512):
        cents = [
            (j, [float((j * 13 + d * 7) % 97) / 97.0 for d in range(4)])
            for j in range(k)
        ]
        idx = build_index(cents, 2)
        a = route(df, idx, nprobe=2)
        sizes[k] = len(a._jdf.queryExecution().executedPlan().toString())
        assert a.count() == 90
    assert sizes[512] < sizes[64] + 2000, sizes


def test_kmeans_fit_two_level_deterministic_and_converges(spark):
    """The trainer with two-level per-iteration assignment (engaged at
    k=TWO_LEVEL_MIN_K over the sf0.001 embeddings) still returns k
    centroids,
    deterministic across runs, with finite positive inertia. The exact
    monotone-inertia proof doesn't transfer to approximate assignment
    (ANN-kmeans contract) — determinism and shape are what's pinned."""
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    k = TWO_LEVEL_MIN_K
    a, ia = kmeans_fit(emb, k=k, max_iters=2, assign_nprobe=2)
    b, ib = kmeans_fit(emb, k=k, max_iters=2, assign_nprobe=2)
    assert a == b and ia == ib
    assert len(a) == k
    assert all(x > 0 and x == x for x in ia)  # finite, positive


def test_ivf_trained_two_level_fallback_identity(spark):
    """topk_cosine_ivf_trained with assign_nprobe set must be
    BIT-IDENTICAL to the flat form below TWO_LEVEL_MIN_K (default
    k_centroids=8 — both the trainer and the candidate-side assignment
    self-select flat), so enabling the production lever is free for
    small indexes."""
    from concerts_etl_sa_spark.operators.similarity import (
        topk_cosine_ivf_trained,
    )

    flat = sorted(
        topk_cosine_ivf_trained(spark, SF_DIR).collect(),
        key=lambda r: (r["q_id"], r["rn"]),
    )
    two = sorted(
        topk_cosine_ivf_trained(spark, SF_DIR, assign_nprobe=2).collect(),
        key=lambda r: (r["q_id"], r["rn"]),
    )
    assert flat == two


def test_two_level_agreement_monotone_and_total_probe_exact(spark):
    """Two provable properties of nested pruning, pinned:

    1. MONOTONE: if two-level agrees with flat on a row at nprobe=n, the
       flat winner was in the probed set, and probed(n) is a prefix of
       probed(n+1) under the same coarse ranking — so agreement is
       row-wise (hence aggregate) non-decreasing in nprobe.
    2. TOTAL PROBE = EXACT: with nprobe >= the number of coarse groups
       the candidate set is ALL fine centroids, so the two-level argmin
       must equal the flat argmin BIT-EXACTLY (same rounded-cosine
       score, same lowest-id tiebreak) — a total-coverage check of the
       whole array+map broadcast expression machinery."""
    from concerts_etl_sa_spark.operators.semdedup import (
        SEMDEDUP_CENTROID_RESIDUE,
        _auto_stride,
    )
    from concerts_etl_sa_spark.operators.similarity import (
        _assign_buckets,
        _assign_routed,
        _emb_normed,
        _norm2,
    )
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = _emb_normed(spark, SF01_DIR)
    n = emb.count()
    stride = _auto_stride(n, 5)  # K=400 over the 2000 sf0.1 vectors
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
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in _assign_buckets(emb, cents, n_keep=1)
        .select("vec_id", "centroid_id")
        .collect()
    }

    def agreement(nprobe):
        two = {
            r["vec_id"]: r["centroid_id"]
            for r in _assign_routed(emb, cents, nprobe=nprobe)
            .select("vec_id", "centroid_id")
            .collect()
        }
        return sum(two[k] == v for k, v in flat.items()) / len(flat), two

    a1, _ = agreement(1)
    a2, _ = agreement(2)
    a3, _ = agreement(3)
    assert a1 <= a2 <= a3, (a1, a2, a3)
    a_total, two_total = agreement(10**6)
    assert a_total == 1.0
    assert two_total == flat
