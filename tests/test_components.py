"""Connected-components / dedup-cluster tests: parity against a driver-
side union-find on the same edges, convergence, and cluster invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import components as CC
from concerts_etl_sa_spark.operators.dedup import simhash_near_pairs
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    """BOTH strategies (r15 size dispatch): the default driver-side
    union-find path AND the forced BSP loop must equal the reference
    union-find — and therefore each other — on the real near-dup
    graph."""
    edges_df = simhash_near_pairs(spark, SF_DIR).select("a_id", "b_id")
    edges = [(r.a_id, r.b_id) for r in edges_df.collect()]
    expected = _union_find(edges)
    got_driver = {
        r.vertex: r.component
        for r in CC.connected_components(edges_df).collect()
    }
    got_loop = {
        r.vertex: r.component
        for r in CC.connected_components(
            edges_df, driver_max_edges=0
        ).collect()
    }
    assert got_driver == expected
    assert got_loop == expected


def test_cc_dispatch_is_one_json_line_on_stderr(spark, capfd):
    """Each strategy choice is one JSON line on stderr with the count it
    was decided on: the default bound sends the sf0.001 near-dup graph
    to the driver closure, a zero bound to the BSP loop."""
    import json

    edges_df = simhash_near_pairs(spark, SF_DIR).select("a_id", "b_id")
    capfd.readouterr()
    CC.connected_components(edges_df).collect()
    CC.connected_components(edges_df, driver_max_edges=0).collect()
    recs = [
        json.loads(line)
        for line in capfd.readouterr().err.splitlines()
        if '"msg": "cc dispatch"' in line
    ]
    n_sym = recs[0]["n_sym"]
    assert n_sym > 0
    assert [(r["n_sym"], r["bound"], r["driver"]) for r in recs] == [
        (n_sym, CC.DRIVER_CC_MAX_SYM_ROWS, True),
        (n_sym, 0, False),
    ]


def test_connected_components_chain_converges(spark):
    # worst-case shape for label propagation: a single long chain
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["a_id", "b_id"]
    )
    out = CC.connected_components(edges, driver_max_edges=0).collect()
    assert len(out) == n + 1
    assert all(r.component == 0 for r in out)


def test_connected_components_xxhash64_width_ids(spark):
    """Round-13 hardening: fixpoint detection must survive production
    vertex-id widths. The old sum-of-labels monotone overflowed long on
    near-Long.MaxValue ids (here even ONE component sums past 2^63 —
    4 × ~2^63-range labels); the changed-label count cannot. Parity vs
    the driver-side union-find on the same extreme ids."""
    big = (1 << 63) - 1  # Long.MaxValue
    edges = [
        (big, big - 1),
        (big - 1, big - 2),      # chain in the top id range
        (big - 5, big - 4),      # second component
        (7, big - 9),            # small id bridged to a huge one
    ]
    edges_df = spark.createDataFrame(edges, "a_id LONG, b_id LONG")
    expected = _union_find(edges)
    for kw in ({}, {"driver_max_edges": 0}):
        got = {
            r.vertex: r.component
            for r in CC.connected_components(edges_df, **kw).collect()
        }
        assert got == expected, kw


def test_connected_components_already_fixpoint_single_round(spark):
    """A self-labeled graph (every vertex already the min of its
    component... here: no edges propagate anything smaller) must
    terminate on the first zero-changes round, not error."""
    edges_df = spark.createDataFrame(
        [(0, 1), (2, 3)], "a_id LONG, b_id LONG"
    )
    out = CC.connected_components(
        edges_df, max_iters=1, driver_max_edges=0
    ).collect()
    assert {r.vertex: r.component for r in out} == {
        0: 0, 1: 0, 2: 2, 3: 2,
    }


def test_connected_components_empty_edges(spark):
    """Zero edges -> zero vertices, terminating on the first round
    (sum over an empty frame is NULL — the changed-count must read it
    as zero changes, the regression the round-13 suite caught in
    semdedup_groups on an empty corpus)."""
    edges_df = spark.createDataFrame([], "a_id LONG, b_id LONG")
    assert CC.connected_components(edges_df, driver_max_edges=0).count() == 0
    assert CC.connected_components(edges_df).count() == 0  # driver path too


def test_dedup_clusters_invariants(spark):
    rows = CC.dedup_clusters(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs                      # every doc assigned
    by_id = {r.doc_id: r for r in rows}
    reps = {r.cluster_rep for r in rows}
    for r in rows:
        assert r.cluster_rep <= r.doc_id            # rep is the min id
        assert r.is_representative == (r.doc_id == r.cluster_rep)
    # each cluster's representative is a member of its own cluster
    for rep in reps:
        assert by_id[rep].cluster_rep == rep
    # sizes consistent
    from collections import Counter

    sizes = Counter(r.cluster_rep for r in rows)
    assert all(r.cluster_size == sizes[r.cluster_rep] for r in rows)


def test_driver_closure_matches_reference_at_scale(spark):
    """r16 boundary pin for the vectorized driver closure: a synthetic
    graph large enough that compact-index remapping, propagation
    rounds, and pointer doubling all do real work (50k edges: chains,
    stars, and chain-to-star bridges) must match a reference union-find
    exactly, twice (determinism)."""
    n = 50_000
    e = spark.range(n).select(
        F.col("id").alias("a_id"),
        F.when(F.col("id") % 16 == 15, (F.col("id") / 16).cast("long"))
        .otherwise(F.col("id") + 1)
        .alias("b_id"),
    )
    out1 = {
        (r["vertex"], r["component"])
        for r in CC.connected_components(e).collect()
    }
    out2 = {
        (r["vertex"], r["component"])
        for r in CC.connected_components(e).collect()
    }
    assert out1 == out2

    # reference union-find over the same edges
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in e.collect():
        a, b = r["a_id"], r["b_id"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for x in parent:
        root = find(x)
        if root not in comp_min or x < comp_min[root]:
            comp_min[root] = x
    want = {(x, comp_min[find(x)]) for x in parent}
    assert out1 == want
