"""Connected components over near-duplicate pairs (SURVEY §2.L1 closure).

The pair operators (``dedup.minhash_lsh_pairs`` / ``simhash_near_pairs``)
emit EDGES; production dedup must collapse them into CLUSTERS and keep
one representative per cluster (near-dup groups are transitive chains:
A~B, B~C => {A,B,C} even when A!~C directly). That closure is a
connected-components computation.

Algorithm: iterative min-label propagation —
``label(v) <- min(label(v), min(label(n)) for n in neighbors(v))``
until no label changes. The round-start label rides through the round's
selects and is reduced to a one-byte ``changed`` flag before the
checkpoint, so a per-round ``sum(changed)`` counts changed vertices in
the SAME one scalar action — zero changes IS the fixpoint (no full-join
diff, and unlike the earlier sum-of-labels monotone, overflow-free at
xxhash64-sized vertex ids: a sum of ~2^63 labels over millions of
vertices overflows long, the count never can).

Scale design (100 TB):
- Per round: one equi-join of the symmetrized edge list against the
  label table + one groupBy-min — both shuffle on vertex id, partial
  aggregation map-side. Edges are cached once; labels are cached per
  round and the PREVIOUS round is explicitly unpersisted.
- ``localCheckpoint`` every round truncates the lineage — the classic
  iterative-algorithm failure on Spark is a plan that doubles per round
  until analysis/GC dominates (same pattern as ``operators/kmeans.py``).
- Each round is propagate + POINTER-DOUBLING shortcut
  (``label <- label(label)``): plain propagation moves the min one edge
  hop per round (a length-n chain needs n rounds); composing the label
  map with itself halves the remaining path every round, giving the
  O(log n) behavior of the large-star/small-star family with two plain
  equi-joins. Near-dup clusters are near-cliques, so 2-3 rounds in
  practice; ``max_iters`` bounds pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..logging_json import log_json
from ..sources.readers import load_table
from .dedup import SIMHASH_NEAR_PAIRS_SQL, simhash_near_pairs
from .util import driver_rows_df

# Size gate for the DRIVER-SIDE closure (OPTIMIZATION_r15.md): below
# this many symmetrized edge rows the component computation runs as a
# collected union-find instead of the BSP loop — the same
# strategy-by-measured-size dispatch as a broadcast join (the count is
# free: the edge cache was already materialized by its own count()).
# 2M (u, v) rows is ~32 MB of longs on the wire — broadcast-class
# driver state, far under the 1 GB maxResultSize default — while a
# graph past the gate keeps the scale path. Near-dup graphs are SPARSE
# by construction (banded/capped pair generators), so in practice the
# driver path serves everything up to corpora ~1000x this bench and
# the loop serves true 100 TB runs. The fixpoint (min reachable id
# per vertex) is unique, so both strategies return identical frames —
# pinned against each other in tests/test_components.py.
DRIVER_CC_MAX_SYM_ROWS = 2_000_000


def _driver_components(u, v) -> list[tuple[int, int]]:
    """Vectorized min-label closure over the collected symmetrized edge
    arrays (numpy int vectors, one per endpoint); returns sorted
    (vertex, min reachable id) tuples — the same fixpoint the BSP loop
    computes. r16: replaces the per-edge Python union-find over boxed
    ``Row`` objects, which at the 2M-row gate boundary peaked at
    ~918 MB of driver RSS (measured, plans/r16/cc_rss_probe.txt) and
    burned ~20 s of single-threaded dict churn; the numpy form is the
    BSP loop's own algorithm (propagate + pointer-double to fixpoint)
    run locally over compact indices — ~56 MB peak at the same gate.
    Deterministic: ``np.unique`` sorts vertices, so compact-index order
    IS ascending-id order and the per-component min index maps back to
    the min vertex id."""
    import numpy as np

    verts, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    eu, ev = inv[: len(u)], inv[len(u):]
    labels = np.arange(len(verts), dtype=np.int64)
    while True:
        prev = labels.copy()
        # one propagation hop (edges are symmetrized, so both
        # directions are covered) ...
        np.minimum.at(labels, eu, prev[ev])
        # ... then pointer doubling — follow one indirection through
        # the label map, exactly the BSP loop's shortcut step
        labels = np.minimum(labels, labels[labels])
        if np.array_equal(labels, prev):
            break
    comp = verts[labels]
    return list(zip(verts.tolist(), comp.tolist()))


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD currently persisted in the JVM (the blocks
    ``localCheckpoint`` pins — which ``DataFrame.unpersist`` does NOT
    release: it is a cache-manager call, and checkpoint blocks are not
    registered there; measured round 12 — the blocks survive both
    ``df.unpersist(blocking=True)`` and a ``toRdd().unpersist()``)."""
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _drop_persistent_rdds(sc, ids: set[int]) -> None:
    """Release the storage of the given persisted RDD ids (non-blocking).
    ONLY safe for blocks this driver thread just created and no longer
    needs — an unpersisted localCheckpoint cannot recompute, so dropping
    a live generation would fail the next job loudly (the safe failure
    direction; a leak is the silent one)."""
    m = sc._jsc.sc().getPersistentRDDs()
    for i in ids:
        opt = m.get(i)
        if opt.isDefined():
            opt.get().unpersist(False)


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iters: int = 25,
    driver_max_edges: int = DRIVER_CC_MAX_SYM_ROWS,
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; the component
    id is the minimum vertex id of the connected component.

    Storage contract of the RESULT (round 13): the returned frame is a
    normal cache-manager persist, already fully materialized, with
    TRUNCATED lineage (its checkpoint ancestry is released before
    returning). Standard consequences: ``result.unpersist()`` /
    ``clearCache()`` free it, after which it cannot be recomputed —
    re-run the operator instead. This replaces the previous
    checkpoint-rooted return, which was the inverse contract
    (impossible to free by ANY public lever, leaking one vertex-sized
    snapshot per call for the application's lifetime — the
    ContextCleaner never releases unreferenced localCheckpoint blocks;
    measured round 13, guarded by tests/test_storage_hygiene.py).

    Round-12 memory-cliff fixes (the 25x->125x segment ran alpha 1.18
    with GC-pressure warnings on one 8 GB heap):

    - SYMMETRIZE IN ONE SCAN: the old two-leg union evaluated the
      upstream pair pipeline (the operator's dominant stage — e.g. the
      full simhash band join) TWICE to fill the edge cache; explode of a
      two-struct array emits both directions from one pass.
    - PERSIST THE PROPAGATED FRAME per round: the pointer-doubling
      self-join consumes it on both legs, so unpersisted it re-ran the
      edge-join + groupBy-min (the whole per-round work) twice.
    - RELEASE PREVIOUS GENERATIONS: ``localCheckpoint`` blocks are not
      freed by ``DataFrame.unpersist`` (not cache-manager-registered),
      so every round's label snapshot stayed pinned for the life of the
      run; the targeted drop below frees generation r-1 as soon as
      generation r is materialized, keeping exactly one live snapshot —
      and (round 13) the FINAL generation is copied into a normal
      cache-manager persist and dropped before returning, so a
      completed call pins nothing the caller cannot release with
      standard ``unpersist()``/``clearCache()``.
    """
    sc = edges.sparkSession.sparkContext
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .cache()
    )
    # materialize the edge cache with its OWN job before the loop: the
    # round-1 join otherwise fills the 2|E|-row cache inside a job that
    # is simultaneously shuffling it by v — the A/B (round 12, 125x /
    # 367M symmetrized rows) measured the standalone fill consistently
    # faster and it cleanly separates build cost from iteration cost.
    # The fill's count doubles as the STRATEGY DISPATCH (r15): a graph
    # small enough to broadcast is small enough to close driver-side —
    # one collect + union-find replaces 2-3 BSP rounds of
    # join/checkpoint/agg jobs (measured ~4-5 s of per-round fixed
    # overhead on a 2754-vertex bench graph). Identical fixpoint,
    # pinned vs the loop in tests/test_components.py.
    n_sym = sym.count()
    driver = n_sym <= driver_max_edges
    log_json(
        "info", "cc dispatch", n_sym=n_sym, bound=driver_max_edges,
        driver=driver,
    )
    if driver:
        # ONE Arrow transfer (two flat int buffers), never boxed Rows —
        # the r16 driver-boundary hygiene; see _driver_components for
        # the measured RSS numbers at the gate limit
        tbl = sym.toArrow()
        comp = _driver_components(
            tbl.column("u").to_numpy(zero_copy_only=False),
            tbl.column("v").to_numpy(zero_copy_only=False),
        )
        del tbl
        sym.unpersist()
        utype = edges.schema[src].dataType.simpleString()
        result = driver_rows_df(
            edges.sparkSession,
            comp,
            f"vertex {utype}, component {utype}",
        ).persist()
        result.count()
        return result
    labels = (
        sym.select("u").distinct().withColumn("label", F.col("u")).cache()
    )
    # max_iters + 1: a graph whose last label movement happens in the
    # max_iters-th round still gets its confirming (zero-changes)
    # round instead of a spurious no-fixpoint error. One collect per
    # round total — the changed-vertex count IS the round's action.
    prev_chk_ids: set[int] = set()
    del n_sym  # dispatch consumed above; loop path continues unchanged
    for _ in range(max_iters + 1):
        nbr_min = (
            sym.join(
                labels.select(F.col("u").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        # label_prev carries the ROUND-START label through to the
        # convergence check (both F.col("label") refs resolve against
        # the input frame, so the aliased least() does not shadow it)
        propagated = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("label"),
            F.col("label").alias("label_prev"),
        ).persist()
        # pointer doubling: follow one indirection through the label map
        # (labels are always real vertex ids, so the self-join resolves)
        before_ids = _persistent_rdd_ids(sc)
        new_labels = (
            propagated.join(
                propagated.select(
                    F.col("u").alias("label"),
                    F.col("label").alias("label2"),
                ),
                "label",
                "left",
            )
            .select(
                "u",
                F.coalesce("label2", "label").alias("label"),
                # the change flag is REDUCED to one boolean before the
                # checkpoint: carrying the full label_prev long widened
                # every checkpoint snapshot by 50% (u+label+prev = 3
                # longs); the flag costs one byte and the fixpoint
                # check only ever consumes the comparison, never the
                # previous value itself
                (
                    F.coalesce("label2", "label") != F.col("label_prev")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        chk_ids = _persistent_rdd_ids(sc) - before_ids
        propagated.unpersist()
        # overflow-free fixpoint check (round-13 hardening): count of
        # vertices whose label moved this round, compared against the
        # FINAL post-doubling label — pointer doubling can change a
        # label the least() left alone. sum of 0/1 longs cannot
        # overflow below 2^63 vertices; the old sum-of-labels monotone
        # overflowed at production xxhash64 id widths (ANSI mode made
        # that a loud crash, but a crash-free check is strictly better
        # for the same one job per round).
        # sum over an EMPTY frame is NULL, not 0 (no-edge graphs:
        # semdedup_groups on an empty corpus) — an empty label table is
        # trivially at fixpoint, so None reads as zero changes
        n_changed = (
            new_labels.agg(
                F.sum(F.col("changed").cast("long")).alias("c")
            ).collect()[0][0]
            or 0
        )
        labels.unpersist()  # frees the round-0 cache; no-op afterwards
        _drop_persistent_rdds(sc, prev_chk_ids)
        prev_chk_ids = chk_ids
        labels = new_labels
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iters + 1} rounds"
        )
    sym.unpersist()
    # final-generation handoff (round 13): localCheckpoint blocks are
    # NEVER released by the ContextCleaner — measured directly: an
    # unreferenced eager localCheckpoint stays in getPersistentRDDs
    # through 20 s of forced Python+JVM GC — so returning the
    # checkpoint-rooted frame would leak one vertex-sized snapshot PER
    # CALL for the application's lifetime (the r12 generation-leak
    # class, surfacing at the API boundary; pinned by
    # tests/test_storage_hygiene.py). Copy the fixpoint into a normal
    # cache-manager persist (visible in the UI, released by
    # unpersist()/clearCache()) and drop the last checkpoint
    # generation explicitly. Reliability contract unchanged: a lost
    # persisted partition cannot recompute (truncated lineage),
    # exactly like the checkpoint blocks it replaces; MEMORY_AND_DISK
    # (the persist default) spills rather than evicts.
    result = labels.select(
        F.col("u").alias("vertex"), F.col("label").alias("component")
    ).persist()
    result.count()
    _drop_persistent_rdds(sc, prev_chk_ids)
    return result


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over ``documents``: every doc with its cluster
    representative (min doc_id of its simhash-connected component) and
    the cluster size. Docs with no near-dup edges are their own
    singleton cluster — the frame a curation pipeline anti-joins or
    groups on to keep exactly one doc per cluster."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = connected_components(simhash_near_pairs(spark, sf_dir))
    assigned = docs.join(
        comp.select(F.col("vertex").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster_rep"),
    )
    sizes = assigned.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        assigned.join(sizes, "cluster_rep")
        .select(
            "doc_id",
            "cluster_rep",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_rep")).alias("is_representative"),
        )
    )


# Round-11 rotation #8: the iterative plan family gets a driver-window
# oracle. Spark computes components by pointer-doubled min-label
# propagation to FIXPOINT; DuckDB computes the same closed form — each
# vertex's component is the MINIMUM id reachable in the symmetrized
# near-dup graph — via a recursive CTE (transitive closure, bounded by
# sum(|component|^2): near-dup components are small by construction).
# The two engines share no iteration structure, so a hash match checks
# the fixpoint itself, not the algorithm.
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ({SIMHASH_NEAR_PAIRS_SQL})
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
reach(v, r) AS (
  SELECT u AS v, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u AS v, reach.r
  FROM edges e JOIN reach ON e.v = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
assigned AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
sizes AS (
  SELECT cluster_rep, count(*) AS cluster_size
  FROM assigned GROUP BY cluster_rep
)
SELECT a.doc_id, a.cluster_rep, s.cluster_size,
       (a.doc_id = a.cluster_rep) AS is_representative
FROM assigned a JOIN sizes s USING (cluster_rep)
ORDER BY a.doc_id
"""
