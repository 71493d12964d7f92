"""Distributed Lloyd's k-means over embedding columns (SURVEY §2.L2).

Trains the centroids the IVF index (``similarity.topk_cosine_ivf``)
partitions by — the reference point is pyspark.ml's KMeans; this is the
same algorithm expressed directly on the DataFrame API so the whole loop
stays inside codegen (no MLlib vector conversions, no Python UDFs).

Iterative algorithm — not expressible as one SQL query, so its contract
is pytest-verified (convergence, determinism, cluster recovery) rather
than DuckDB-oracled.

Per iteration:

1. **assign**: ``argmin_j ||x - c_j||²`` as a CONSTANT-SIZE broadcast
   projection (:func:`route` over a one-level index): the k centroids
   collapse into ONE broadcast row holding an array of (j, vec, n2)
   structs, and each embedding row ranks all k
   in-place with ``array_min(transform(...))`` over (sq_dist, j)
   structs — the same device as ``similarity._assign_buckets``. Plan
   size is O(1) in k (the centroid floats travel as broadcast DATA, not
   as expression-tree literals), so k=50k-scale training is a data-size
   question, not a plan-compile one. An earlier form inlined k·dim
   literal ``element_at`` terms per row, which cost ~40 s of pure
   codegen at k=32/dim=64 and could not be built at production k at
   all. Tie-break to the lowest ``j`` via struct ordering, so
   assignment is deterministic.
2. **update**: ``posexplode(vec) -> groupBy(cluster, pos).avg`` — the
   shuffle carries k·dim partial sums per map task (map-side combine),
   and exactly k·dim rows reach the driver. That collect is the
   algorithm's synchronization point, not a data pull.

Convergence: iterations stop early when centroids are exactly fixed OR
when the relative inertia improvement drops below ``rel_tol`` (exact
float-mean equality almost never fires; the relative test is what
bounds the iteration count in practice).

Empty clusters keep their previous centroid. At 100 TB each iteration is
one scan + one tiny shuffle; convergence state (the centroids) is k·dim
floats on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..logging_json import log_json
from .util import driver_rows_df

# Two-level (coarse -> fine) assignment engages only above this K: below
# it the flat broadcast ranking is already cheap. Round-10 measurement
# history: the first index build ran as NESTED SPARK JOBS over the K
# centroid rows — a ~3-4 s job-latency constant that put the single-node
# crossover at K~300 (K=166 fit: 21.9 s two-level vs 6.5 s flat) and
# briefly forced this threshold to 256. Moving the build DRIVER-SIDE
# (numpy over the K*dim floats that are already driver state) removed
# the constant entirely; re-measured, two-level then wins at every
# tested K: one-shot assign 5.2 vs 6.3 s at K=166 and 17.6 vs 45.9 s
# (2.6x) at K=833; the Lloyd FIT 3.8-4.5 vs 5.7-6.5 s at K=166 and
# 10 vs 52-56 s (5.4x) at K=833. 64 keeps a floor under which the
# approximation buys nothing measurable (K=33 was a wash).
TWO_LEVEL_MIN_K = 64

# Three-level (top -> mid -> fine) routing engages above this K — the
# round-11 extension for K in the thousands (BASELINE.md: two-level
# assignment at 125x/K=4166 measured 32.4 s vs flat's 333 s; the third
# tier cuts ranked candidates (1+nprobe)*sqrt(K)=195 -> ~(1+2*(nprobe+1))
# *K^(1/3)=112 and measured 29.1 s — a ~10% win only, because the
# interpreted-HOF per-candidate constant, not the dot flops, now
# dominates at this K; end-to-end semdedup 125x: 69.8 vs 73.4 s). The
# asymptote is what the tier buys: N*K^(1/3) vs N*sqrt(K) when K tracks
# N (N^(4/3) vs N^1.5) — at a production K~50k the candidate gap is
# 672 vs ~260, where the measured-constant argument flips. The
# threshold stays above the two-level sweet spot (at K=833 the two
# forms measured a wash, 11.2 vs 11.7 s end-to-end) and each extra
# tier costs routing approximation (the dispatcher widens nprobe by
# one to hold the keep-rate/recall bars — tests/test_three_level.py).
THREE_LEVEL_MIN_K = 2048


def _levels(k: int) -> int:
    """Routing depth for K centroids: flat below TWO_LEVEL_MIN_K, two
    levels up to THREE_LEVEL_MIN_K, three above. Reads the thresholds
    at CALL time (tests monkeypatch them)."""
    return 1 + (k >= TWO_LEVEL_MIN_K) + (k >= THREE_LEVEL_MIN_K)


def _tier_nprobe(nprobe: int | None, levels: int) -> int | None:
    """Per-tier probe width of a routed assignment: each tier past the
    second widens the caller's probe by one. The doubly-nested prune
    costs ~one probe step of routing agreement (measured at K=400:
    3-level nprobe=3 holds the two-level nprobe=2 quality bars —
    keep-rate delta 0.027, pair recall 0.715 — while nprobe=2 falls to
    0.59 recall); even widened, ~(1+2*(nprobe+1))*K^(1/3) candidates
    vs (1+nprobe)*sqrt(K) is ~1.7x fewer at the threshold."""
    return nprobe if levels <= 2 else nprobe + levels - 2


# Size gate for the DRIVER-SIDE Lloyd fit when the caller does not
# force a strategy (round 16 — the components.DRIVER_CC_MAX_SYM_ROWS
# pattern applied to training): a training set KNOWN to be at most this
# many rows is collected once (Arrow, ~dim·8 bytes/row → ≤ ~51 MB at
# dim 64) and fitted locally in numpy; anything bigger, or of unknown
# size, keeps the distributed loop. The bound comes from the sampling
# arithmetic (train_sample keeps between target and 2·target rows) or
# from the caller's own sizing count (train_sample_n — every production
# trainer already pays it), so no extra job is spent deciding. At bench
# scale this removes the 1 init + max_iters per-iteration job-latency
# constants from the auto-K trainers too (their sample IS the corpus,
# but a corpus measured under the gate is bounded driver state by the
# same argument as a broadcast-class CC edge list); a true 100 TB corpus
# fails the gate and runs the unchanged distributed loop.
DRIVER_TRAIN_MAX_ROWS = 100_000

# Work gate alongside the memory gate: the driver fit is a
# SINGLE-THREADED numpy loop whose per-iteration cost is ~rows·k·dim
# flops, while the distributed loop spreads the same flops across the
# cluster (two-level-routed when engaged). Measured at the r16 scale
# probe: the auto-K semdedup at 25x (50k rows, K=833 — rows·k ≈ 42M)
# ran 2x SLOWER driver-side (56 vs 27 s) even though it fit under the
# row gate, while 1x/5x (rows·k ≤ 1.7M) were 1.3-2.3x faster. 8M keeps
# every fixed-k trainer (sample ≤ 512·k, k ≤ 32 → ≤ 0.5M) and the
# small-corpus auto-K fits driver-side, and routes big-K fits back to
# the distributed loop.
DRIVER_TRAIN_MAX_ROWK = 8_000_000

# Training-set bound for FIXED-k trainers, as points per centroid —
# the FAISS convention (ClusteringParameters.max_points_per_centroid,
# default 256; Johnson, Douze & Jégou 2017 train billion-scale coarse
# quantizers and PQ codebooks on bounded samples): beyond ~256 points
# per centroid additional training data moves a k-means codebook by
# noise, so a trainer that scans the full corpus every Lloyd iteration
# is pure waste at 100 TB — 1 init + max_iters FULL scans where a
# bounded sample gives the same codebook quality. Auto-K callers
# (K ∝ N/per_list with per_list < 256) are structurally exempt: their
# cap 256·K exceeds N, so sampling never engages there and the lever
# stays where it belongs — constant-k codebooks/coarse quantizers.
TRAIN_POINTS_PER_CENTROID = 256


def train_sample(
    df: DataFrame, id_col: str, target: int | None, n: int | None = None
) -> DataFrame:
    """Deterministic hash-thinned training sample of ~``target`` rows
    (between target and 2·target — integer stride): keeps the rows where
    ``xxhash64(id) % stride == 0``. A pure narrow filter, so it pushes
    into the scan and the trainer's persisted slim frame is
    sample-sized; no shuffle, no RNG state (same determinism contract
    as every other hash device in this repo). ``None`` or a target at
    or above the row count returns ``df`` unchanged (callers' results
    are bit-identical when the cap doesn't engage — the bench-scale /
    oracle-path guarantee).

    ``n`` is the caller's known row count of ``df``: pass it when ``df``
    is a DERIVED frame whose count would recompute real work (the
    residual path's count would otherwise run the whole coarse
    assignment just to size the stride). The stride is an approximation
    knob, not a correctness input — a near-exact n is fine; ``None``
    counts the (column-pruned) frame."""
    if target is None:
        return df
    if n is None:
        n = df.select(id_col).count()
    stride = n // max(int(target), 1)
    if stride <= 1:
        return df
    return df.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
    )


def _driver_train_auto(
    sample_target: int | None, n: int | None, k: int
) -> bool:
    """Strategy dispatch for an unforced ``driver_train``: True when the
    training set is PROVABLY at most DRIVER_TRAIN_MAX_ROWS rows — via
    the thinning arithmetic (``train_sample`` keeps < 2·target rows) or
    the caller's known row count — AND the local fit's work bound
    (rows·k, the per-iteration flop product) stays under
    DRIVER_TRAIN_MAX_ROWK. False when either might be bigger or the
    size is unknown (never spend a job just to decide). The decision
    is logged as one JSON line on stderr (``bound`` None = unknown)."""
    if sample_target is not None:
        bound = 2 * sample_target
        if n is not None:
            bound = min(bound, n)
    else:
        bound = n
    decision = (
        bound is not None
        and bound <= DRIVER_TRAIN_MAX_ROWS
        and bound * max(k, 1) <= DRIVER_TRAIN_MAX_ROWK
    )
    log_json("info", "lloyd dispatch", bound=bound, k=k, driver_train=decision)
    return decision


def _collect_ids_matrix(slim: DataFrame, id_col: str, vec_col: str):
    """Collect a (id, vector) frame as (ids list, (n, dim) float64
    matrix) via ONE Arrow transfer — the r16 driver-boundary hygiene
    (guide §5): a row-collect of the same frame materializes every
    vector as a pyspark Row of boxed Python floats (~5x the bytes on
    the driver heap at the gate limit); the Arrow path lands the
    payload as one flat buffer and reshapes. Any list nesting is
    flattened row-major, so a PQ ``subs`` column (m slices per row)
    lands as (n, m*sub) for the caller to reshape. Row order is the
    frame's partition order, identical to ``collect()``, and the
    float->double upcast is exact — so the numpy twin sees
    bit-identical inputs. Raises ValueError on an empty frame."""
    import numpy as np
    import pyarrow as pa

    tbl = slim.toArrow()
    ids = tbl.column(id_col).to_pylist()
    if not ids:
        raise ValueError("empty training frame")
    flat = tbl.column(vec_col).combine_chunks()
    while pa.types.is_list(flat.type):
        flat = flat.flatten()
    flat = flat.to_numpy(zero_copy_only=False)
    return ids, np.asarray(flat, dtype=np.float64).reshape(len(ids), -1)


def _sq_dist_lambda(vec, cent_vec):
    """Squared euclidean distance usable INSIDE a higher-order-function
    lambda. FP-identical to the sum a hand-inlined
    ``(x1-c1)^2 + (x2-c2)^2 + ...`` expression produces: ``zip_with``
    preserves element order and the left fold adds the per-dim squared
    diffs in the same left-associative sequence (the 0.0 seed is exact:
    0.0 + t == t)."""
    diffs = F.zip_with(
        vec,
        cent_vec,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, p: acc + p)


def centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """Materialize trained centroids in the shape
    ``similarity._assign_buckets`` consumes (centroid_id, centroid_vec)."""
    rows = [(j, [float(x) for x in c]) for j, c in enumerate(centroids)]
    return driver_rows_df(
        spark, rows, "centroid_id INT, centroid_vec ARRAY<DOUBLE>"
    )


def kmeans_init(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic seed-free init: the min-id vector of each of k hash
    buckets of ``id_col``. ONE aggregation pass (r15): ``min_by`` pulls
    each bucket's min-id row directly — the old two-step (agg the min
    ids, broadcast-join them back, global orderBy) re-scanned the input
    and paid a range-partitioner sampling job for a sort of ≤k rows;
    the ≤k collected rows sort driver-side instead. A rank-based pick
    would funnel every row through one global-sort partition. Hash
    spreading approximates an even sample of the id space; Lloyd's
    iterations do the rest. Same picked rows as the two-step form (min
    id per bucket is unique — ids are keys), consumed in the same
    ascending-id order; the driver twin (:func:`_np_seed_indices`)
    parity stays pinned in tests/test_driver_lloyd.py. ``vec_col`` may
    hold nested lists (the fused PQ trainer's ``subs``): each seed comes
    back at the same nesting, so all m subspaces seed from one pick."""
    import numpy as np

    slim = emb.select(id_col, vec_col)
    got = (
        slim.groupBy(F.pmod(F.hash(id_col), F.lit(k)).alias("b"))
        .agg(
            F.min_by(
                F.struct(
                    F.col(id_col).alias("_i"), F.col(vec_col).alias("_v")
                ),
                F.col(id_col),
            ).alias("s")
        )
        .select("s._i", "s._v")
        .collect()
    )
    if len(got) < k:  # fewer distinct buckets than k (tiny inputs)
        picked = slim.orderBy(id_col).limit(k).collect()
        vecs = [r[vec_col] for r in picked[:k]]
    else:
        got.sort(key=lambda r: r["_i"])
        vecs = [r["_v"] for r in got[:k]]
    return np.asarray(vecs, dtype=np.float64).tolist()


def _rank_score(metric: str, vec, cand, n2_col):
    """Ranking score for one (row vector, candidate struct) pair inside a
    HOF lambda — lower is better in BOTH metrics so array_min/array_sort
    share one shape. ``sq_dist`` is the trainer's metric; ``cosine`` is
    the NEGATIVE rounded cosine, mirroring ``similarity._assign_buckets``
    exactly (same rounding, same nanvl pin of a NaN cosine — from a NaN
    dot — to -inf so it ranks last, same lowest-id tiebreak via struct
    order). A zero norm raises DIVIDE_BY_ZERO at the divide under ANSI
    mode, so nanvl never sees a 0/0."""
    if metric == "sq_dist":
        return _sq_dist_lambda(vec, cand["v"])
    from .similarity import _dot_lambda

    return -F.nanvl(
        F.round(
            _dot_lambda(vec, cand["v"]) / F.sqrt(n2_col * cand["n2"]), 6
        ),
        F.lit(float("-inf")),
    )


def build_index(
    id_vecs: list[tuple[int, list[float]]],
    levels: int,
    metric: str = "sq_dist",
    max_iters: int = 3,
    reuse: list[list[float]] | None = None,
):
    """Group K fine centroids into an L-level routing tree so assignment
    ranks ~(1 + (L-1)*nprobe)*K^(1/L) candidates per row instead of K
    (hierarchical quantization — Nister & Stewenius 2006 vocabulary
    trees, FAISS's coarse-quantizer + IVF composition; REPOSE's one
    recursive partition structure at every depth). With K proportional
    to N, flat assignment's N*K*dim flops are the dominant term; two
    levels cut it to ~N*sqrt(K)*dim, three to ~N*K^(1/3)*dim.

    Returns ``(top, map_1, ..., fine_map)``: ``top`` = [(id, vec, n2)]
    live top entries; each map sends an entry id of the tier above to
    its [(id, vec, n2)] members, ending at the fine centroids. ``L = 1``
    returns ``(fine,)`` — the flat trainer assignment. Plain Python,
    K*dim floats: the same order of driver state as the trainer's own
    centroid list.

    Construction, bottom up: tier i counted from the top (i = 1..L-1)
    gets ``max(round(K**(i/L)), 2**i)`` centroids, fitted by a
    driver-side numpy Lloyd over EVERY centroid of the tier below in
    ``metric`` space (the metric the assignment ranks with, so probe
    order and grouping agree); each lower centroid then routes to its
    nearest one. Upper-tier ids are positions in their Lloyd output;
    only entries that attract members become members of the tier above,
    so every probed map key exists (ANSI ``element_at`` stays crash-free
    by construction). Deterministic: stride init over id-sorted order,
    argmin's first-index tiebreak = lowest id.

    ``reuse`` supplies the vectors of the tier just above fine (skipping
    its Lloyd; only the routing and any higher tier rerun) — the Lloyd
    caller's amortization: fine centroids drift slowly between
    iterations, and routing structure affects approximation, never
    correctness. Assignment under nested pruning is APPROXIMATE: callers
    probe nprobe > 1 entries per tier and pin the agreement/keep-rate
    deltas in pytest; the flat form stays the oracle path.

    The build runs DRIVER-SIDE: the K fine centroids are already driver
    state, so a K-row Lloyd costs milliseconds, where the earlier
    nested-Spark-fit form paid a ~3-4 s job-latency constant per build."""
    import numpy as np

    k = len(id_vecs)
    tier = []
    for j, v in id_vecs:
        vv = [float(x) for x in v]
        tier.append((int(j), vv, float(sum(x * x for x in vv))))
    rows = list(range(k))  # each tier entry's row in X
    ids = [j for j, _, _ in tier]
    X = _np_metric_space(np.asarray([v for _, v, _ in tier]), metric)
    maps = []
    for i in range(levels - 1, 0, -1):
        if reuse is not None and i == levels - 1:
            C = np.asarray([[float(x) for x in v] for v in reuse])
        else:
            n_i = max(int(round(k ** (i / levels))), 2**i)
            C = _np_lloyd(X, ids, n_i, metric, max_iters)
        g = _np_route(X, C, metric)
        members: dict[int, list[tuple[int, list[float], float]]] = {}
        for r, e in zip(rows, tier):
            members.setdefault(int(g[r]), []).append(e)
        maps.append(members)
        rows = sorted(members)  # dead entries dropped
        tier = [
            (c, [float(x) for x in C[c]], float((C[c] * C[c]).sum()))
            for c in rows
        ]
        # the next tier fits over these centroids IN THE SAME METRIC
        # SPACE (cosine: means of unit vectors, re-mapped to the sphere)
        X = _np_metric_space(C, metric)
        ids = list(range(C.shape[0]))
    return (tier, *reversed(maps))


def _np_metric_space(V, metric: str):
    """The space the routing Lloyd runs in. Cosine metric: UNIT vectors —
    ||a-b||^2 = 2 - 2*cos(a,b) on the unit sphere, so the sq-dist Lloyd
    clusters by cosine and grouping agrees with the cosine probe ranking
    (raw-space coarse groups routed by cosine measured 0.57 assignment
    agreement; unit-space grouping is the fix)."""
    import numpy as np

    if metric != "cosine":
        return V
    nrm = np.linalg.norm(V, axis=1)
    nrm[nrm == 0.0] = 1.0
    return V / nrm[:, None]


def _np_route(X, C, metric: str):
    """Row -> nearest-centroid routing, metric-consistent with the
    assign-time probe ranking (cosine routes by cosine, the trainer
    metric by sq-dist); first-index tiebreak = lowest group id,
    mirroring the struct-order tiebreak of the Spark expression."""
    import numpy as np

    if metric == "cosine":
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0.0] = 1.0
        return (X @ C.T / cn[None, :]).argmax(1)
    d = (X * X).sum(1)[:, None] - 2.0 * X @ C.T + (C * C).sum(1)[None, :]
    return d.argmin(1)


def _np_lloyd(X, ids: list[int], n_clusters: int, metric: str,
              max_iters: int):
    """Driver-side deterministic Lloyd over the (already metric-mapped)
    rows: stride init over id-sorted order, empty clusters keep their
    previous centroid. Milliseconds at routing-index scale (K rows)."""
    import numpy as np

    n = X.shape[0]
    order = np.argsort(np.asarray(ids), kind="stable")
    seed_pos = order[
        [(i * n) // n_clusters for i in range(min(n_clusters, n))]
    ]
    C = X[seed_pos].copy()
    for _ in range(max_iters):
        g = _np_route(X, C, metric)
        newC = C.copy()
        for gi in range(C.shape[0]):
            mask = g == gi
            if mask.any():
                newC[gi] = X[mask].mean(0)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


_ENTRIES = "ARRAY<STRUCT<j: INT, v: ARRAY<DOUBLE>, n2: DOUBLE>>"


def route(
    emb: DataFrame,
    index,
    n_keep: int = 1,
    nprobe: int = 2,
    metric: str = "sq_dist",
    vec_col: str = "embedding",
    out_col: str = "cluster",
    norm2_col: str | None = None,
    score_col: str = "_sq_dist",
) -> DataFrame:
    """Route each row of ``emb`` down a :func:`build_index` tree: rank
    the top entries, take the best ``nprobe``, flatten their members
    from the next tier's map, and repeat to the fine centroids.

    ``n_keep == 1`` adds ``out_col`` (argmin centroid id) and
    ``score_col`` (the winner's score: sq dist for the trainer metric,
    negative rounded cosine for ``cosine``); ``n_keep > 1`` emits one
    row per (vector, kept centroid) for the ``n_keep`` best — the
    ``similarity._assign_buckets(n_keep>1)`` shape the multi-probe query
    side of an all-vectors kNN needs. Only probed groups' members can be
    kept, so callers probe at least as many entries as they keep.

    Shuffle-free: the whole tree travels as ONE broadcast row (an array
    plus one map per lower tier — the K*dim doubles the flat ranking
    broadcasts, plus the upper tiers' vectors) and every ranking tier is
    a constant-size HOF expression, so the plan stays O(1) in K (module
    docstring). Ties break to the lowest id via struct order."""
    cols = [f"_t{i}" for i in range(len(index))]
    schema = ", ".join(
        f"{c} {_ENTRIES if i == 0 else f'MAP<INT, {_ENTRIES}>'}"
        for i, c in enumerate(cols)
    )
    idx = driver_rows_df(emb.sparkSession, [tuple(index)], schema)
    n2 = F.col(norm2_col) if norm2_col else None

    def _ranked(c):
        # named_struct, not struct(...).alias(...): aliases are stripped
        # inside HOF lambdas (same pitfall as similarity._assign_buckets)
        return F.named_struct(
            F.lit("d"),
            _rank_score(metric, F.col(vec_col), c, n2),
            F.lit("j"),
            c["j"],
        )

    cand = F.col(cols[0])
    for col in cols[1:]:
        probed = F.slice(F.array_sort(F.transform(cand, _ranked)), 1, nprobe)
        # element_at (not try_element_at): every probed id is a map key
        # by construction (dead entries are dropped at build time) — a
        # miss is an index-construction bug and should fail loud.
        cand = F.flatten(
            F.transform(probed, lambda p: F.element_at(F.col(col), p["j"]))
        )
    joined = emb.crossJoin(F.broadcast(idx))
    if n_keep == 1:
        return joined.withColumn(
            "_b", F.array_min(F.transform(cand, _ranked))
        ).select(
            *emb.columns,
            F.col("_b.j").alias(out_col),
            F.col("_b.d").alias(score_col),
        )
    kept = F.slice(F.array_sort(F.transform(cand, _ranked)), 1, n_keep)
    return joined.select(*emb.columns, F.explode(kept).alias("_b")).select(
        *emb.columns, F.col("_b.j").alias(out_col)
    )


def _murmur3_long(value: int, seed: int = 42) -> int:
    """Driver-side twin of Spark's ``F.hash`` over ONE LongType column
    (Murmur3_x86_32.hashLong, seed 42): the low then high 32-bit words
    are mixed as two rounds, finalized with length 8. Bit-equality with
    the engine is pinned in tests/test_driver_lloyd.py — the hash-bucket
    Lloyd init must pick the SAME seed rows driver-side as the
    distributed ``kmeans_init`` does, or the two trainers would diverge
    structurally rather than by float-sum order."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = seed & 0xFFFFFFFF
    for part in (v & 0xFFFFFFFF, (v >> 32) & 0xFFFFFFFF):
        k1 = (part * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
        h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _np_seed_indices(ids: list[int], k: int) -> list[int]:
    """Driver-side twin of :func:`kmeans_init`'s hash-bucket min-id
    seed pick: bucket = pmod(murmur3(id), k), seed = min id per bucket,
    seeds consumed in ascending-id order; fewer than k buckets falls
    back to the k smallest ids — the same two branches as the
    distributed form, so both trainers start from IDENTICAL rows."""
    buckets: dict[int, int] = {}
    for pos, vid in enumerate(ids):
        b = _murmur3_long(int(vid)) % k
        cur = buckets.get(b)
        if cur is None or vid < ids[cur]:
            buckets[b] = pos
    seed_pos = sorted(buckets.values(), key=lambda p: ids[p])
    if len(seed_pos) < k:
        seed_pos = sorted(range(len(ids)), key=lambda p: ids[p])[:k]
    return seed_pos[:k]


def _np_sq_dists(X, C):
    """(n, k) squared distances of rows to centroids, one centroid slice
    at a time: the same per-(row, j) reduction tree as the (n, k, dim)
    broadcast form (bit-equal — pinned by the r15 A/B) without its
    rank-3 temporary (~10x faster). Shared by :func:`_np_fit_loop` and
    the OPQ rotation's Lloyd."""
    import numpy as np

    d = np.empty((X.shape[0], C.shape[0]))
    for j in range(C.shape[0]):
        diff = X - C[j]
        d[:, j] = (diff * diff).sum(1)
    return d


def _converged(hist: list[float], rel_tol: float) -> bool:
    """The Lloyd loops' relative-inertia early stop: the last iteration
    improved inertia by at most ``rel_tol`` of the one before."""
    return len(hist) >= 2 and hist[-2] - hist[-1] <= rel_tol * max(
        hist[-2], 1e-12
    )


def _np_fit_loop(
    V, seed_pos: list[int], max_iters: int, rel_tol: float
) -> tuple[list[list[float]], list[float]]:
    """Driver-side Lloyd over the COLLECTED bounded training sample —
    the numpy twin of :func:`_fit_loop`'s flat path, mirroring its
    control flow exactly: seeded from the rows at ``seed_pos`` (the
    hash-bucket min-id pick, :func:`_np_seed_indices` — computed once
    per fit by the caller, so the PQ trainer's m subspaces share it),
    argmin assignment with lowest-j tie-break (numpy argmin's
    first-index rule), empty clusters keep their previous centroid,
    inertia appended BEFORE the exact-fixpoint break, then the
    relative-inertia early stop. Differs from the distributed loop only
    in float-summation order (numpy pairwise vs partition-ordered
    partial aggregation) — the same noise class as the fused-vs-
    sequential trainer parity, pinned at 1e-9 in
    tests/test_driver_lloyd.py."""
    import numpy as np

    C = V[seed_pos].copy()
    n = V.shape[0]
    inertia_hist: list[float] = []
    for _ in range(max_iters):
        d = _np_sq_dists(V, C)
        g = d.argmin(1)
        newC = C.copy()
        for j in range(C.shape[0]):
            mask = g == j
            if mask.any():
                newC[j] = V[mask].mean(0)
        inertia_hist.append(float(d[np.arange(n), g].sum()))
        if np.array_equal(newC, C):
            break
        C = newC
        if _converged(inertia_hist, rel_tol):
            break
    return [[float(x) for x in c] for c in C], inertia_hist


# Relative-inertia early-stop threshold shared by every Lloyd loop (the
# k-means fit's default; the PQ trainers use it as a constant).
REL_TOL = 1e-6


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    max_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_tol: float = REL_TOL,
    assign_nprobe: int | None = None,
    train_sample_rows: int | None = None,
    train_sample_n: int | None = None,
    driver_train: bool | None = None,
) -> tuple[list[list[float]], list[float]]:
    """Returns (centroids, per-iteration inertia). Inertia is
    non-increasing across iterations (Lloyd's invariant — tested).
    Stops early on exactly-fixed centroids or when the relative inertia
    improvement falls below ``rel_tol``.

    ``train_sample_rows`` bounds the TRAINING set via
    :func:`train_sample` (the FAISS max-points-per-centroid device —
    callers with constant k pass ``TRAIN_POINTS_PER_CENTROID * k``):
    Lloyd then iterates over ~that many rows instead of the corpus, so
    training costs 1 thin scan + max_iters sample-sized jobs rather
    than max_iters corpus scans. The returned centroids are a sample
    statistic — deterministic (hash-thinned, no RNG) but not identical
    to full-corpus training; quality floors are pinned in
    tests/test_train_sampling.py, and the default ``None`` keeps every
    oracle/parity path exact. Below the cap the filter short-circuits
    and results are bit-identical.

    ``assign_nprobe`` switches the per-iteration assignment to the
    routed ranking (:func:`build_index` + :func:`route`, depth by
    :func:`_levels`: two levels cut the N*k*dim assign flops to
    ~N*(1+nprobe)*sqrt(k)*dim — the term that dominates when k tracks
    N) once ``k >= TWO_LEVEL_MIN_K``; the index is re-routed each
    iteration from the current centroids (driver-side numpy over k
    rows, negligible next to the corpus scan). With approximate assignment the
    exact-Lloyd's monotone-inertia guarantee weakens to the ANN-kmeans
    contract (still deterministic; convergence pinned by test, not
    proof) — the default ``None`` keeps the exact path.

    ``driver_train`` runs the whole fit DRIVER-SIDE on the collected
    training sample (the :func:`opq_rotation` device, extended to the
    Lloyd loop): ONE job collects the hash-thinned sample (as Arrow —
    one flat buffer, not boxed Rows) and numpy iterates locally,
    replacing 1 init + max_iters distributed assignment/update jobs —
    at 100 TB, 1 thin scan instead of max_iters+1 passes over the
    cached sample, and on the bench the per-iteration job-latency
    constant disappears (OPTIMIZATION_r15.md). The default ``None``
    DISPATCHES BY MEASURED SIZE (round 16 — the components.py
    pattern): driver-side iff the training set is provably at most
    ``DRIVER_TRAIN_MAX_ROWS`` rows, via the thinning arithmetic
    (< 2·train_sample_rows) or the caller's ``train_sample_n`` count —
    every production trainer already pays that count, so the dispatch
    costs no extra job. Fixed-k trainers therefore go driver-side at
    every scale (bounded by construction); auto-K callers (K ∝ N,
    sample = corpus) go driver-side only while the measured corpus is
    under the gate and keep the distributed loop beyond it — an
    unknown-size input always takes the distributed loop. Results
    match the distributed fit up to float-summation order (numpy
    pairwise vs partition-ordered partial aggregation — the identical
    noise class as fused-vs-sequential codebook parity); init rows are
    IDENTICAL (the murmur3 twin), and parity is pinned in
    tests/test_driver_lloyd.py. ``assign_nprobe`` is ignored under
    ``driver_train``: the local fit is exact flat assignment, which
    strictly dominates the two-level approximation it replaces.

    In the distributed form the slim (id, vec) projection is persisted
    for the whole fit: every Lloyd iteration (and the init pick)
    re-consumes it with a different broadcast centroid row, so without
    the cache each iteration re-reads the source — max_iters+1 scans of
    a 100 TB input instead of one. Released before returning;
    MEMORY_AND_DISK (the persist default) spills rather than evicts
    when the projection exceeds storage."""
    sample_target = (
        None if train_sample_rows is None else max(train_sample_rows, k)
    )
    if driver_train is None:
        driver_train = _driver_train_auto(sample_target, train_sample_n, k)
    slim = train_sample(emb, id_col, sample_target, n=train_sample_n).select(
        id_col, vec_col
    )
    if driver_train:
        # projected first: only (id, vec) crosses the driver boundary,
        # whatever else the caller's frame carries
        ids, V = _collect_ids_matrix(slim, id_col, vec_col)
        return _np_fit_loop(V, _np_seed_indices(ids, k), max_iters, rel_tol)
    slim.persist()
    try:
        return _fit_loop(
            slim, k, max_iters, id_col, vec_col, rel_tol, assign_nprobe
        )
    finally:
        slim.unpersist(blocking=False)


def _fit_loop(
    slim: DataFrame,
    k: int,
    max_iters: int,
    id_col: str,
    vec_col: str,
    rel_tol: float,
    assign_nprobe: int | None = None,
) -> tuple[list[list[float]], list[float]]:
    centroids = kmeans_init(slim, k, id_col=id_col, vec_col=vec_col)
    dim = len(centroids[0])
    levels = 1 if assign_nprobe is None else _levels(k)
    nprobe = _tier_nprobe(assign_nprobe, levels)
    reuse: list[list[float]] | None = None
    inertia_hist: list[float] = []
    for _ in range(max_iters):
        index = build_index(list(enumerate(centroids)), levels, reuse=reuse)
        if levels > 1:
            # the tier above fine is trained ONCE (first iteration) and
            # reused: later iterations only re-route the drifted fine
            # centroids (+ refit any tiny tier above it) — routing
            # structure, not correctness
            above = index[-2]
            if isinstance(above, dict):
                above = [e for mem in above.values() for e in mem]
            reuse = [v for _, v, _ in sorted(above, key=lambda e: e[0])]
        assigned = route(slim, index, nprobe=nprobe, vec_col=vec_col)
        # `assigned` is consumed by exactly ONE action per iteration
        # (the stats collect below), so persisting it would add cache
        # write traffic without saving any recomputation.
        # one pass: per-(cluster, pos) sums/counts AND global inertia.
        # posexplode keeps the shuffle narrow: (cluster, pos) keyed
        # partial sums, k*dim rows out.
        stats = (
            assigned.select(
                "cluster", "_sq_dist", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("x").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
                # _sq_dist repeats per exploded dim; divide back out
                F.sum(F.col("_sq_dist") / dim).alias("d"),
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty keeps old
        inertia = 0.0
        for r in stats:
            new_centroids[r["cluster"]][r["pos"]] = r["s"] / r["n"]
            inertia += r["d"]
        inertia_hist.append(inertia)
        if new_centroids == centroids:
            break
        centroids = new_centroids
        if _converged(inertia_hist, rel_tol):
            break
    return centroids, inertia_hist
