"""SemDeDup: semantic deduplication via embedding clustering
(SURVEY §2.L1+L2 composition; Abbas et al. 2023, arXiv:2303.09540).

The web-scale recipe for pruning *semantic* duplicates — documents
whose embeddings are near-identical even when their text differs (the
case token-level minhash/simhash cannot see): cluster every embedding,
call two members of the SAME cluster duplicates when their cosine
exceeds ``tau``, and keep per duplicate group the member FARTHEST from
its centroid (the paper's rule: peripheral examples are the most
informative; the near-centroid copies are redundant).

Scale design (100 TB corpus, N embeddings):
- **Assignment is a shuffle-free broadcast projection** — the K
  centroids collapse into one broadcast row and every embedding ranks
  them in-place (``similarity._assign_buckets``, the IVF machinery
  reused verbatim). K is the real scale lever: the paper runs ~50k
  clusters on LAION so each cluster holds ~N/K vectors; the centroid
  table stays broadcast-sized (K x DIM floats) far beyond that.
- **The only required exchange is the within-cluster self-join** on
  ``centroid_id`` — pairwise work is sum(|cluster|^2)/2, bounded by
  choosing K, never a global N^2. A degenerate giant cluster (an
  identical-embedding flood) is the same skew hazard as an LSH bucket
  flood, and takes the SAME shared guard: ``max_cluster_size`` routes
  slim (vec_id, centroid_id) rows through ``util.capped_candidates``
  (star/sample modes, vectors re-attached to the bounded pair set by
  equi-join — embeddings never enter the bucket self-join).
- **The keep rule is one aggregation, not an iteration**: a vector is
  dropped iff some tau-neighbor ranks more peripheral than it
  (lower ``cent_cos``, vec_id tiebreak). This local-min rule is the
  one-shot relational form of the paper's per-group argmin — it keeps
  every group's global argmin (which has no more-peripheral neighbor)
  and may additionally keep interior local minima of chain-shaped
  groups; :func:`semdedup_groups_df` implements the exact per-group
  rule via connected components (iterative, pytest-pinned superset
  relation), for callers that want the paper's semantics verbatim.

Reference parity: extends the dedup family of
concerts_etl/core/consolidate_events.py:91-104 (token-overlap match)
to embedding space; no reference analog exists — this is the
training-data-pipeline surface the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ._cachescope import begin_scope, scoped_persist
from .similarity import (
    _assign_buckets,
    _assign_routed,
    _cosine_pre,
    _cosine_sql,
    _dot,
    _dot_sql,
    _emb_normed,
    _norm2,
    _norm2_sql,
)

# Deterministic "trained" centroids: fixed vectors FROM the table (the
# same oracle-reproducibility device as IVF_CENTROID_IDS — a DuckDB
# one-shot can rebuild the identical index). Production uses
# kmeans-trained centroids via semdedup_trained. K = 32 (~N/60 on the
# 2000-vector test tables): the pair stage is quadratic per cluster and
# parallelized by cluster key, so K is both the cost bound and the
# parallelism — measured at sf0.1, K=32 runs ~1.6x faster end-to-end
# than K=8 (61k vs 250k candidate pairs) even though the broadcast
# assignment ranking scales with K.
SEMDEDUP_CENTROID_IDS = list(range(5, 471, 15))  # 32 ids, all < sf0.001's 500
SEMDEDUP_TAU = 0.30  # same scale as NEAR_DUP_COSINE (p99 pair cosine ~0.29)

# Auto-K sizing (the paper's recipe made executable): K tracks N so the
# mean cluster size — and with it the within-cluster pair stage's
# sum(|c|^2) ~ N^2/K cost — stays CONSTANT as the corpus grows. The
# round-9 scale probe measured the fixed-K failure mode directly:
# K=32 held fixed while N grew 25x turned the 2.5 s sf0.1 run into
# 284 s (alpha=1.46, the one super-linear op in the sweep) — exactly
# the N^2/K curve. K = max(N // PER_CLUSTER, 8) keeps pair work linear
# in N; the broadcast assignment ranking grows as N*K*dim, which at
# PER_CLUSTER=60 is dim/60 multiplies per (row, corpus-row) — the
# paper's LAION-scale K~50k sits on the same rule (N/K ~ few hundred).
SEMDEDUP_PER_CLUSTER = 60
SEMDEDUP_CENTROID_RESIDUE = 5  # matches the fixed list's first id


def _auto_stride(n: int, per_cluster: int = SEMDEDUP_PER_CLUSTER) -> int:
    """Centroid-pick stride for a corpus of ``n`` vectors: every
    ``stride``-th vec_id (mod-residue rule) yields ~K = max(n//per_cluster, 8)
    centroids. Pure integer arithmetic so the DuckDB twin reproduces it
    from ``count(*)`` exactly."""
    k = max(n // per_cluster, 8)
    return max(n // k, 1)


def _fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: K rows — repartitioning them across 32 cores is pure
    # overhead (same rationale as the IVF centroid scan)
    return (
        load_table(spark, sf_dir, "embeddings", spread=False)
        .filter(F.col("vec_id").isin(SEMDEDUP_CENTROID_IDS))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
            _norm2("embedding").alias("c_n2"),
        )
    )


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup decision frame over ``embeddings`` with the
    fixed deterministic centroids: (vec_id, centroid_id, cent_cos,
    n_dup_neighbors, is_kept) — the frame a curation pipeline filters
    on ``is_kept`` (or joins back to documents by id)."""
    return semdedup_df(
        _emb_normed(spark, sf_dir), _fixed_centroids(spark, sf_dir)
    )


def semdedup_auto(
    spark: SparkSession,
    sf_dir: str,
    per_cluster: int = SEMDEDUP_PER_CLUSTER,
    tau: float = SEMDEDUP_TAU,
    max_cluster_size: int | None = None,
    heavy_bucket_mode: str = "star",
    assign_nprobe: int | None = None,
) -> DataFrame:
    """SemDeDup with the K lever ENGAGED: K = max(N // per_cluster, 8),
    centroids picked by the deterministic modular rule
    ``vec_id % stride == RESIDUE % stride`` (stride = N // K) — evenly
    spread over a dense id space, reproducible from ``count(*)`` alone,
    so the DuckDB twin rebuilds the identical index. This is the form
    whose pair stage stays LINEAR in N (constant mean cluster size);
    the fixed-K :func:`semdedup` is the probe's quadratic control.

    The ``count()`` here is a deliberate one-scalar sync point (parquet
    metadata count — same class as the kmeans stats collect), paid once
    to size the index before the plan is built.

    DENSE-ID GUARD (round-9 verdict #3 -> round-10 #5): the modular pick
    assumes vec_ids roughly cover [0, n) — on a sparse or skewed id
    space (ids mostly sharing a residue, or spread over a range >> n)
    the rule silently under-selects centroids, inflating every cluster
    and with it the quadratic pair stage. The pick is therefore COUNTED
    (a second one-scalar sync on the same slim scan) and the operator
    fails loud below half the intended K instead of degrading silently;
    callers on a sparse id space should use the production path
    (:func:`semdedup_trained_auto`), whose hash-bucket init is
    id-distribution-free."""
    n = load_table(spark, sf_dir, "embeddings", spread=False).count()
    stride = _auto_stride(n, per_cluster)
    intended_k = max(n // per_cluster, 8)
    cents = (
        load_table(spark, sf_dir, "embeddings", spread=False)
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
    n_picked = cents.count()
    if n_picked * 2 < intended_k:
        raise ValueError(
            f"semdedup_auto: modular centroid pick selected {n_picked} of "
            f"the intended {intended_k} centroids — the vec_id space is "
            "too sparse/skewed for the dense-id rule (docstring contract); "
            "use semdedup_trained_auto (hash-bucket init) instead"
        )
    return semdedup_df(
        _emb_normed(spark, sf_dir),
        cents,
        tau=tau,
        max_cluster_size=max_cluster_size,
        heavy_bucket_mode=heavy_bucket_mode,
        assign_nprobe=assign_nprobe,
    )


def _dup_pairs(
    assigned: DataFrame,
    tau: float,
    max_cluster_size: int | None,
    heavy_bucket_mode: str,
) -> DataFrame:
    """(a_id, a_cc, b_id, b_cc) tau-duplicate pairs within clusters,
    from the persisted ``assigned`` frame (vec_id, nemb, centroid_id,
    cent_cos).

    NORMALIZE-ONCE pair scoring: the assigned frame carries the unit
    vector ``nemb`` (embedding / sqrt(norm2), computed once per ROW),
    so per candidate PAIR the cosine is a plain 64-term dot — no sqrt,
    product or division in the quadratic stage. The 6-dp rounding
    contract holds because the oracle twin performs the IDENTICAL
    computation (per-element divide by the same correctly-rounded sqrt,
    then the same left-associated term order — see _semdedup_sql);
    note the VALUES can differ from the old dot/sqrt(n2a*n2b) form in
    the last ulp, which is why both sides switched in lockstep."""
    if max_cluster_size is not None:
        from .util import capped_candidates

        buckets = assigned.select(
            F.col("vec_id").alias("doc_id"),
            F.col("centroid_id").alias("band_fp"),
        )
        # multi_band=False: every vector lives in exactly ONE cluster,
        # so a pair can only form once — the pair dedup would be a
        # provably-no-op exchange
        cand = capped_candidates(
            buckets, max_cluster_size, heavy_bucket_mode, multi_band=False
        )
        # shuffle_hash hint: the capped pair set is linear in N by
        # construction — never broadcast it (the 125x flood OOM lesson,
        # see dedup._verify_jaccard)
        pairs = cand.hint("shuffle_hash").join(
            assigned.select(
                F.col("vec_id").alias("a_id"),
                F.col("nemb").alias("a_nv"),
                F.col("cent_cos").alias("a_cc"),
            ),
            "a_id",
        ).join(
            assigned.select(
                F.col("vec_id").alias("b_id"),
                F.col("nemb").alias("b_nv"),
                F.col("cent_cos").alias("b_cc"),
            ),
            "b_id",
        )
    else:
        pairs = assigned.select(
            "centroid_id",
            F.col("vec_id").alias("a_id"),
            F.col("nemb").alias("a_nv"),
            F.col("cent_cos").alias("a_cc"),
        ).join(
            assigned.select(
                "centroid_id",
                F.col("vec_id").alias("b_id"),
                F.col("nemb").alias("b_nv"),
                F.col("cent_cos").alias("b_cc"),
            ),
            "centroid_id",
        ).filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.withColumn("pair_cos", F.round(_dot("a_nv", "b_nv"), 6))
        .filter(F.col("pair_cos") >= tau)
        .select("a_id", "a_cc", "b_id", "b_cc")
    )


def _assigned_frame(
    emb: DataFrame,
    centroids: DataFrame,
    scope: str,
    assign_nprobe: int | None = None,
) -> DataFrame:
    """Scope-persisted (vec_id, nemb, centroid_id, cent_cos) assignment
    frame — the ONE definition both keep-rule variants build on (a
    drift between them would silently break the tested subset
    invariant). ``nemb`` is the unit vector (embedding / sqrt(norm2),
    doubles), normalized ONCE here so the quadratic pair stage scores
    with a bare dot — see :func:`_dup_pairs`. ``assign_nprobe`` engages
    the routed assignment (the shared ``similarity._assign_routed`` —
    one definition with the IVF candidate side, same rationale as the
    shared flat ranking) for the routing stage only; cent_cos is
    recomputed with the shared exact formula either way."""
    # _nrm is computed BELOW the centroid-join barrier so the divide
    # lambda sees a per-row ATTRIBUTE: hoisting it as a sibling
    # withColumn would be undone by CollapseProject (the alias gets
    # re-inlined into the lambda and sqrt runs once per ELEMENT — 64x).
    # FP-identical: same correctly-rounded sqrt, same per-element divide.
    assigned0 = (
        _assign_routed(emb, centroids, nprobe=assign_nprobe)
        if assign_nprobe is not None
        else _assign_buckets(emb, centroids, n_keep=1)
    )
    return scoped_persist(
        scope,
        assigned0.withColumn("_nrm", F.sqrt(F.col("norm2")))
        .join(F.broadcast(centroids), "centroid_id")
        .withColumn(
            "cent_cos",
            _cosine_pre("embedding", "centroid_vec", "norm2", "c_n2"),
        )
        .withColumn(
            "nemb",
            F.transform(
                "embedding",
                lambda x: x.cast("double") / F.col("_nrm"),
            ),
        )
        .select("vec_id", "nemb", "centroid_id", "cent_cos"),
    )


def semdedup_df(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = SEMDEDUP_TAU,
    max_cluster_size: int | None = None,
    heavy_bucket_mode: str = "star",
    assign_nprobe: int | None = None,
) -> DataFrame:
    """df-based core over any (vec_id, embedding[, norm2]) frame and a
    (centroid_id, centroid_vec, c_n2) centroid frame.

    ``cent_cos`` is each vector's cosine to its OWN (nearest) centroid,
    recomputed after assignment with the shared ``_cosine_pre`` formula
    (the assignment ranking already ordered by this exact rounded
    value, so nearest-centroid and cent_cos are mutually consistent).
    Keep rule: ``is_kept`` iff NO tau-neighbor is more peripheral —
    (n_cc, n_id) < (cent_cos, vec_id) lexicographically — so every
    duplicate group retains at least its most-peripheral member, per
    the paper's keep-farthest-from-centroid rule."""
    if "norm2" not in emb.columns:
        emb = emb.withColumn("norm2", _norm2("embedding"))
    begin_scope("semdedup")
    # persisted: the pair self-join consumes it on both legs, and the
    # assignment projection (K x DIM dot products per row) is the
    # CPU-heavy stage — the standard materialize-the-index trade
    assigned = _assigned_frame(emb, centroids, "semdedup", assign_nprobe)
    # persisted: ``nb`` consumes dup TWICE (the two union legs), so an
    # unpersisted dup re-runs the ENTIRE quadratic pair self-join per
    # leg — the round-11 125x stage attribution measured that join at
    # 43.5 s against an ~84 s two-leg keep stage (the keep aggregation
    # proper is ~free), i.e. the operator's dominant linear term carried
    # a silent 2x. The DuckDB twin already materializes dup once
    # (AS MATERIALIZED); this brings the engines into the same shape.
    dup = scoped_persist(
        "semdedup",
        _dup_pairs(assigned, tau, max_cluster_size, heavy_bucket_mode),
    )
    nb = dup.select(
        F.col("a_id").alias("vec_id"),
        F.col("b_cc").alias("n_cc"),
        F.col("b_id").alias("n_id"),
    ).unionByName(
        dup.select(
            F.col("b_id").alias("vec_id"),
            F.col("a_cc").alias("n_cc"),
            F.col("a_id").alias("n_id"),
        )
    )
    own = assigned.select("vec_id", "centroid_id", "cent_cos")
    # map-side combining aggregate — even a vector with millions of
    # tau-neighbors collapses per partition before the exchange
    agg = (
        nb.join(own.select("vec_id", "cent_cos"), "vec_id")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_neighbors"),
            F.bool_or(
                (F.col("n_cc") < F.col("cent_cos"))
                | (
                    (F.col("n_cc") == F.col("cent_cos"))
                    & (F.col("n_id") < F.col("vec_id"))
                )
            ).alias("has_more_peripheral"),
        )
    )
    return (
        own.join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "cent_cos",
            F.coalesce("n_dup_neighbors", F.lit(0)).alias(
                "n_dup_neighbors"
            ),
            F.coalesce(~F.col("has_more_peripheral"), F.lit(True)).alias(
                "is_kept"
            ),
        )
    )


def semdedup_groups_df(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = SEMDEDUP_TAU,
    max_cluster_size: int | None = None,
    heavy_bucket_mode: str = "star",
    assign_nprobe: int | None = None,
) -> DataFrame:
    """The paper's EXACT per-group rule: duplicate groups are connected
    components of the tau-graph (within clusters), and each group keeps
    only its most-peripheral member — argmin (cent_cos, vec_id).

    Iterative (pointer-doubling components), hence pytest-pinned rather
    than DuckDB-oracled; its kept set is PROVABLY a subset of
    :func:`semdedup_df`'s (a group's global argmin has no
    more-peripheral neighbor, so the local rule keeps it too — the
    local rule may additionally keep interior local minima of
    chain-shaped groups). Same output schema as :func:`semdedup_df`."""
    from .components import connected_components

    if "norm2" not in emb.columns:
        emb = emb.withColumn("norm2", _norm2("embedding"))
    begin_scope("semdedup_groups")
    assigned = _assigned_frame(
        emb, centroids, "semdedup_groups", assign_nprobe
    )
    dup = scoped_persist(
        "semdedup_groups",
        _dup_pairs(assigned, tau, max_cluster_size, heavy_bucket_mode),
    )
    comp = connected_components(
        dup.select("a_id", "b_id"), src="a_id", dst="b_id"
    )
    own = assigned.select("vec_id", "centroid_id", "cent_cos")
    grouped = own.join(
        comp.select(F.col("vertex").alias("vec_id"), "component"),
        "vec_id",
        "left",
    )
    keepers = (
        grouped.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(
            F.min(F.struct("cent_cos", "vec_id")).alias("mn"),
        )
        .select("component", F.col("mn.vec_id").alias("keeper_id"))
    )
    n_nbrs = (
        dup.select(F.col("a_id").alias("vec_id"))
        .unionByName(dup.select(F.col("b_id").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_dup_neighbors"))
    )
    return (
        grouped.join(keepers, "component", "left")
        .join(n_nbrs, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "cent_cos",
            F.coalesce("n_dup_neighbors", F.lit(0)).alias(
                "n_dup_neighbors"
            ),
            (
                F.col("component").isNull()
                | (F.col("vec_id") == F.col("keeper_id"))
            ).alias("is_kept"),
        )
    )


def semdedup_trained(
    spark: SparkSession,
    sf_dir: str,
    k_centroids: int = 8,
    tau: float = SEMDEDUP_TAU,
    max_iters: int = 3,
    max_cluster_size: int | None = None,
    assign_nprobe: int | None = None,
    train_sample_n: int | None = None,
    driver_train: bool | None = None,
) -> DataFrame:
    """SemDeDup over kmeans-TRAINED centroids — the production index
    build (the paper trains k-means on the embedding space). Composes
    the distributed Lloyd's trainer exactly like
    :func:`similarity.topk_cosine_ivf_trained`; deterministic for a
    given input but not a DuckDB one-shot, hence pytest-pinned.
    ``assign_nprobe`` engages the two-level coarse->fine ranking in BOTH
    per-iteration Lloyd's assignment and the final cluster routing —
    the N*K*dim term appears in each, and both self-select flat below
    ``kmeans.TWO_LEVEL_MIN_K``.

    The Lloyd training set is bounded at 256·k_centroids rows (the
    FAISS rule, ``kmeans.train_sample`` — round 12): bit-identical
    below the cap (every fixture), a flat-in-N training cost above it.
    Fixed-K callers engage at scale; the auto-K composition
    (K = N/per_cluster, per_cluster < 256) self-exempts arithmetically
    — its cap 256·K exceeds N, so the stride filter short-circuits.
    ``train_sample_n`` forwards a row count the caller already paid
    for (the auto path's own sizing count). ``driver_train`` forwards
    :func:`kmeans.kmeans_fit`'s driver-side bounded-sample Lloyd; the
    default ``None`` lets the trainer DISPATCH BY MEASURED SIZE (r16):
    fixed-k callers are bounded by construction and train driver-side
    at every scale, the auto-K composition trains driver-side only
    while its measured corpus is under ``kmeans.DRIVER_TRAIN_MAX_ROWS``
    and keeps the distributed loop beyond — so the execution strategy
    lives HERE, not in bench.py (r15 verdict #3)."""
    from .kmeans import TRAIN_POINTS_PER_CENTROID, centroids_df, kmeans_fit

    emb = _emb_normed(spark, sf_dir)
    if train_sample_n is None:
        # stride-sizing count on the UNSPREAD bare scan — cheaper than
        # letting train_sample count the spread+norm2 projection
        train_sample_n = (
            load_table(spark, sf_dir, "embeddings", spread=False)
            .select("vec_id")
            .count()
        )
    fitted, _ = kmeans_fit(
        emb,
        k=k_centroids,
        max_iters=max_iters,
        assign_nprobe=assign_nprobe,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * k_centroids,
        train_sample_n=train_sample_n,
        driver_train=driver_train,
    )
    centroids = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    return semdedup_df(
        emb,
        centroids,
        tau=tau,
        max_cluster_size=max_cluster_size,
        assign_nprobe=assign_nprobe,
    )


def semdedup_trained_auto(
    spark: SparkSession,
    sf_dir: str,
    per_cluster: int = SEMDEDUP_PER_CLUSTER,
    tau: float = SEMDEDUP_TAU,
    max_iters: int = 3,
    max_cluster_size: int | None = None,
    assign_nprobe: int | None = None,
) -> DataFrame:
    """The full production composition: K sized from N (auto rule) AND
    centroids kmeans-trained — what a 100 TB run would actually execute.
    Deterministic for a given input (hash-bucket init + Lloyd's), not a
    DuckDB one-shot; pytest-pinned like :func:`semdedup_trained`.

    ``assign_nprobe`` engages the two-level coarse->fine assignment:
    with K proportional to N the flat ranking's N*K*dim flops are the
    composition's dominant term (round-9 probe: the auto-K 5x->25x
    segment at alpha~1.15 was exactly this), and the production path is
    pytest-pinned rather than DuckDB-oracled, so the approximate routing
    is admissible (keep-rate delta pinned <0.05 in tests/test_two_level).
    The default stays ``None`` (exact flat assignment) like every other
    public entry point — a round-10 advisory flagged the silent
    exact->approximate default flip; the bench/probe production
    configurations opt in with ``assign_nprobe=2`` explicitly. Below
    TWO_LEVEL_MIN_K the engaged form self-selects flat anyway."""
    n = load_table(spark, sf_dir, "embeddings", spread=False).count()
    return semdedup_trained(
        spark,
        sf_dir,
        k_centroids=max(n // per_cluster, 8),
        tau=tau,
        max_iters=max_iters,
        max_cluster_size=max_cluster_size,
        assign_nprobe=assign_nprobe,
        train_sample_n=n,
    )


def _semdedup_sql(centroid_ctes: str | None = None) -> str:
    """Shared oracle body; ``centroid_ctes`` overrides the leading CTE
    chain that must end by defining ``centroids(centroid_id,
    centroid_vec)`` — the fixed-id default and the auto-K twin differ
    ONLY in how that table is derived."""
    if centroid_ctes is None:
        ids = ", ".join(str(i) for i in SEMDEDUP_CENTROID_IDS)
        centroid_ctes = f"""centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec FROM embeddings
  WHERE vec_id IN ({ids})
)"""
    cos_c = _cosine_sql("e.embedding", "c.centroid_vec")
    # normalize-once lockstep (see _dup_pairs): nemb is the unit vector
    # computed with the SAME per-element divide (correctly-rounded sqrt
    # of the same 64-term norm) as the Spark frame, and the pair cosine
    # is the same left-associated 64-term dot — bit-identical engines.
    # nemb is built in its own per-VECTOR stage (norm + sqrt once per
    # row, divide once per element) — inlined in the crn subquery it was
    # recomputed per (vector x centroid) cross-join row with the whole
    # 64-term norm re-summed per ELEMENT. Values are unchanged: same
    # sqrt, same divides, just evaluated once.
    return f"""
WITH {centroid_ctes},
enorm AS MATERIALIZED (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS nemb
  FROM (SELECT vec_id, embedding,
               sqrt({_norm2_sql('embedding')}) AS nrm FROM embeddings)
),
assigned AS MATERIALIZED (
  SELECT vec_id, nemb, centroid_id, cent_cos FROM (
    SELECT e.vec_id, e.nemb, c.centroid_id,
           {cos_c} AS cent_cos,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_c} DESC, c.centroid_id) AS crn
    FROM enorm e CROSS JOIN centroids c
  ) WHERE crn = 1
),
dup AS MATERIALIZED (
  SELECT a.vec_id AS a_id, a.cent_cos AS a_cc,
         b.vec_id AS b_id, b.cent_cos AS b_cc
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE a.vec_id < b.vec_id
    AND round(({_dot_sql('a.nemb', 'b.nemb')}), 6) >= {SEMDEDUP_TAU}
),
nb AS (
  SELECT a_id AS vec_id, b_cc AS n_cc, b_id AS n_id FROM dup
  UNION ALL
  SELECT b_id AS vec_id, a_cc AS n_cc, a_id AS n_id FROM dup
),
agg AS (
  SELECT nb.vec_id, count(*) AS n_dup_neighbors,
         bool_or(nb.n_cc < a.cent_cos
                 OR (nb.n_cc = a.cent_cos AND nb.n_id < nb.vec_id))
           AS has_more_peripheral
  FROM nb JOIN assigned a ON nb.vec_id = a.vec_id
  GROUP BY nb.vec_id
)
SELECT a.vec_id, a.centroid_id, a.cent_cos,
       coalesce(g.n_dup_neighbors, 0) AS n_dup_neighbors,
       coalesce(NOT g.has_more_peripheral, true) AS is_kept
FROM assigned a LEFT JOIN agg g ON a.vec_id = g.vec_id
ORDER BY a.vec_id
"""


SEMDEDUP_SQL = _semdedup_sql()

# Auto-K twin: K and the pick stride derive from count(*) with the SAME
# integer arithmetic as _auto_stride (// is integer division in DuckDB),
# so both engines select the identical centroid id set for any N.
SEMDEDUP_AUTO_SQL = _semdedup_sql(
    f"""par AS (
  SELECT greatest(count(*) // {SEMDEDUP_PER_CLUSTER}, 8) AS k,
         count(*) AS n
  FROM embeddings
),
par2 AS (SELECT greatest(n // k, 1) AS stride FROM par),
centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid_vec
  FROM embeddings, par2
  WHERE vec_id % stride = {SEMDEDUP_CENTROID_RESIDUE} % stride
)"""
)
