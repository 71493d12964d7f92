"""Similarity search over the ``embeddings`` table (SURVEY §2.L2).

ANN over an ``array<float>`` column (dim=64):

- brute-force top-k cosine  : the exact baseline — Q query vectors
  (broadcast) x N candidates, window top-k per query
- sign-LSH bucketed top-k   : the scale path — 8-bit signature from the
  signs of the first 8 components buckets both sides; the pair join
  shuffles on the bucket key so the candidate set is ~N/256 per query
  (approximate: recall < 1 by design)
- embedding near-dup pairs  : cosine >= threshold among same-bucket pairs

Engine-parity design: the dot/norm sums are generated as explicit 64-term
expressions (identical order, float->double promotion per term) in both
the Spark Column form and the DuckDB oracle SQL, so IEEE results are
bit-identical; cosines are rounded to 6 dp before ranking so ordering and
tie-breaks (vec_id asc) agree.

Scale notes (100 TB): brute-force is the correct plan only when Q is
broadcastable; the bucketed variant is the shape that scales (equi-key
shuffle, no unbounded cross join). A production ANN would replace the
sign-LSH with trained IVF centroids or HNSW sharding — the plan shape
(bucket -> in-bucket scoring -> per-query top-k) is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table
from .util import sorted_small

DIM = 64
N_QUERIES = 20       # vec_id < 20 are the query vectors
TOP_K = 5
NEAR_DUP_COSINE = 0.30  # synthetic embeddings: max pair cosine ~0.48, p99 ~0.29
# Default sign-LSH banding — DELIBERATELY tiny at test scale (32-key
# space). Both are per-deployment parameters of _band_keys / the
# near-dup + ingest entry points, not baked-in constants: at 100 TB
# widen bits_per_band (sharper buckets) and/or add bands (recall), and
# measure the trade with near_dup_quality's width sweep before
# deploying. The stored-band width is a SINK-LIFETIME property for the
# streaming ingest (probe and index must agree) — changing it means
# reindexing, exactly like the minhash band_fps column.
N_SIGN_BANDS = 2
SIGN_BITS_PER_BAND = 4
SIGN_BITS = N_SIGN_BANDS * SIGN_BITS_PER_BAND  # total consumed sign bits


def _dot(a: str, b: str):
    # built as ONE parsed SQL string: composing 64 Column operations in a
    # Python loop costs ~1s of client-side construction PER instance
    # (measured), F.expr is ~1000x cheaper and yields the identical
    # left-associative sum of per-term double products. element_at is
    # 1-based like the DuckDB oracle's list indexing.
    return F.expr(
        " + ".join(
            f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
            f" * CAST(element_at({b}, {i + 1}) AS DOUBLE))"
            for i in range(DIM)
        )
    )


def _norm2(a: str):
    return F.expr(
        " + ".join(
            f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
            f" * CAST(element_at({a}, {i + 1}) AS DOUBLE))"
            for i in range(DIM)
        )
    )


def _dot_sql(a: str, b: str) -> str:
    # list_inner_product, NOT an unrolled 64-term chain. Two reasons,
    # both measured (round 14): (1) bit-exactness — DuckDB's
    # list_inner_product accumulates left-to-right, verified equal to
    # the explicit left-associated chain on 2000 adversarial
    # mixed-exponent trials at derivation (200 re-run as a permanent
    # pin, tests/test_oracle_sql_form.py) AND by the full oracle batch
    # staying green, so parity with Spark's fold is unchanged; (2) the
    # unrolled form built ~300-node expression trees per cosine which
    # made DuckDB 1.0 allocate TENS OF THOUSANDS of transient mmaps per
    # cross-join execute (measured +53k maps during one IVF oracle) —
    # crossing the kernel's vm.max_map_count (65530) after ~126
    # executes on one connection and failing with a spurious
    # "Out of Memory ... 16384 bytes" then a segfault INSIDE duckdb.
    # That was the round-10 "unreproduced ivf one-off" and this round's
    # two-consecutive-row verify flake. The driver's own gate runs
    # these oracle strings on one connection too, so the fix must live
    # in the SQL, not the harness.
    return (
        f"list_inner_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    )


def _norm2_sql(a: str) -> str:
    return _dot_sql(a, a)


def _cosine(a: str, b: str):
    return F.round(
        _dot(a, b) / F.sqrt(_norm2(a) * _norm2(b)),
        6,
    )


def _cosine_pre(a: str, b: str, a_n2: str, b_n2: str):
    """Cosine with PRE-COMPUTED squared norms.

    Join-side form: ``_cosine`` inlines three 64-term sums per use and
    plans with several uses spend seconds in analysis/codegen before any
    row moves (and at 100 TB re-do the norm arithmetic per candidate
    pair). Computing ``norm2`` once per row leaves only the 64-term dot
    per pair. FP-identical to ``_cosine``: same per-term order, and the
    product/round sequence is unchanged.
    """
    return F.round(
        _dot(a, b) / F.sqrt(F.col(a_n2) * F.col(b_n2)),
        6,
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"round(({_dot_sql(a, b)}) / sqrt(({_norm2_sql(a)}) * ({_norm2_sql(b)})), 6)"
    )


def _emb_normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with squared norm precomputed per row. ``load_table``'s
    small-scan spread already parallelizes the CPU-bound 64-term norm
    across cores; no consumer needs hash-partitioning by vec_id (the old
    IVF argmax aggregate did, and rode this exchange — assignment is now
    a pure projection), so an explicit repartition would be a second
    no-value shuffle of the fat embedding rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.withColumn("norm2", _norm2("embedding"))


def topk_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: broadcast the Q query vectors against all candidates."""
    emb = _emb_normed(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm2").alias("q_n2"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("norm2").alias("c_n2"),
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _cosine_pre("q_vec", "c_vec", "q_n2", "c_n2")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rn")
        .transform(lambda d: sorted_small(d, "q_id", "rn"))
    )


TOPK_COSINE_BRUTEFORCE_SQL = f"""
SELECT q_id, c_id, cosine, rn FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
  FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           {_cosine_sql('q.embedding', 'c.embedding')} AS cosine
    FROM embeddings q, embeddings c
    WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
  )
) WHERE rn <= {TOP_K}
ORDER BY q_id, rn
"""


def _check_band_width(n_bands: int, bits_per_band: int) -> None:
    """Out-of-range band dims would NOT error at runtime: element_at
    past the array end yields NULL (non-ANSI), NULL >= 0 falls to the
    otherwise(0) arm, so every over-wide bit reads as a constant 0 —
    silently collapsing buckets and inflating candidate volume instead
    of sharpening them. Fail loud at plan-build time instead."""
    if n_bands * bits_per_band > DIM:
        raise ValueError(
            f"sign-LSH banding consumes {n_bands}x{bits_per_band}="
            f"{n_bands * bits_per_band} dims but embeddings have {DIM}"
        )


def _band_keys(
    vec: str,
    n_bands: int = N_SIGN_BANDS,
    bits_per_band: int = SIGN_BITS_PER_BAND,
):
    """``n_bands`` banded sign-LSH keys, ``bits_per_band`` sign bits
    each (band *b* reads dims ``b*bits_per_band+1 ..``); consumed dims
    (``n_bands * bits_per_band``) must be <= the embedding dimension.

    OR-combination of bands (explode + equi-join + distinct) is the
    standard LSH recall amplifier — same shape as the minhash bands.
    The per-band key offset keeps band keyspaces disjoint; it is
    ``max(100, 2^bits_per_band)`` so the default (2x4-bit) keys are
    bit-identical to every band key ever stored by the ingest."""
    _check_band_width(n_bands, bits_per_band)
    offset = max(100, 1 << bits_per_band)
    keys = []
    for band in range(n_bands):
        k = F.lit(band * offset)
        for i in range(bits_per_band):
            dim = band * bits_per_band + i
            k = k + F.when(
                F.element_at(F.col(vec), dim + 1) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        keys.append(k)
    return F.array(*keys)


def topk_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates share >= 1 of two sign-LSH bands.

    First-shared-band emission (the simhash/minhash trick, exact here
    because the band-0 key rides along as a plain int): a pair matching
    both bands is emitted only from band 0, so no dedup shuffle exists —
    scored rows flow straight into the per-query top-k window."""
    emb = _emb_normed(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm2").alias("q_n2"),
        F.element_at(_band_keys("embedding"), 1).alias("q_bk0"),
        F.posexplode(_band_keys("embedding")).alias("band_id", "band_key"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("norm2").alias("c_n2"),
        F.element_at(_band_keys("embedding"), 1).alias("c_bk0"),
        F.explode(_band_keys("embedding")).alias("band_key"),
    )
    scored = (
        c.join(F.broadcast(q), "band_key")
        # emit from band 1 only when band 0 did NOT also match
        .filter((F.col("band_id") == 0) | (F.col("q_bk0") != F.col("c_bk0")))
        .withColumn("cosine", _cosine_pre("q_vec", "c_vec", "q_n2", "c_n2"))
        .select("q_id", "c_id", "cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rn")
        .transform(lambda d: sorted_small(d, "q_id", "rn"))
    )


def _band_keys_sql(
    vec: str,
    n_bands: int = N_SIGN_BANDS,
    bits_per_band: int = SIGN_BITS_PER_BAND,
) -> str:
    _check_band_width(n_bands, bits_per_band)
    offset = max(100, 1 << bits_per_band)
    bands = []
    for band in range(n_bands):
        parts = [str(band * offset)]
        for i in range(bits_per_band):
            dim = band * bits_per_band + i
            parts.append(
                f"(CASE WHEN {vec}[{dim+1}] >= 0 THEN {1 << i} ELSE 0 END)"
            )
        bands.append("(" + " + ".join(parts) + ")")
    return "[" + ", ".join(bands) + "]"


TOPK_COSINE_LSH_SQL = f"""
WITH qb AS (
  SELECT vec_id AS q_id, embedding AS q_vec,
         unnest({_band_keys_sql('embedding')}) AS band_key
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
cb AS (
  SELECT vec_id AS c_id, embedding AS c_vec,
         unnest({_band_keys_sql('embedding')}) AS band_key
  FROM embeddings WHERE vec_id >= {N_QUERIES}
),
cand AS (
  SELECT DISTINCT q_id, c_id FROM qb JOIN cb USING (band_key)
)
SELECT q_id, c_id, cosine, rn FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
  FROM (
    SELECT cand.q_id, cand.c_id,
           {_cosine_sql('q.embedding', 'c.embedding')} AS cosine
    FROM cand
    JOIN embeddings q ON cand.q_id = q.vec_id
    JOIN embeddings c ON cand.c_id = c.vec_id
  )
) WHERE rn <= {TOP_K}
ORDER BY q_id, rn
"""


IVF_CENTROID_IDS = [20, 40, 60, 80]  # deterministic "trained" centroids
NPROBE = 2


def _dot_lambda(vec, cent_vec):
    """Dot product usable INSIDE a higher-order-function lambda, where the
    ``F.expr``-string form of ``_dot`` cannot reference the lambda
    variable. FP-identical to ``_dot``: zip_with preserves element order
    and the left fold adds the per-term double products in the same
    left-associative sequence (the 0.0 seed is exact: 0.0 + t == t)."""
    prods = F.zip_with(
        vec, cent_vec, lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def _assign_buckets(emb: DataFrame, centroids: DataFrame, n_keep: int) -> DataFrame:
    """IVF assignment: each vector's n_keep nearest centroids by cosine.

    PURE PROJECTION, no shuffle: the K centroids are collapsed into ONE
    broadcast row holding an array of (centroid_id, vec, norm2) structs;
    each embedding row ranks all K in-place with
    ``array_sort(transform(...))`` over (neg_cos, centroid_id) structs —
    exactly the oracle's ``ORDER BY cos DESC, centroid_id`` — and keeps
    the first n_keep. The previous form crossJoined K rows and collapsed
    them back with an argmax aggregate, which still exchanged every
    (embedding, norm2) row on vec_id; assignment now never leaves the
    scan stage, so at corpus scale the index build is shuffle-free until
    the probe join. n_keep=1 and n_keep>1 share the identical ranking
    expression (no dual-path NaN hazard: ``nanvl`` pins a NaN cosine —
    from a NaN dot — to -inf, ranking it last in both arms). A 0/0
    cosine never reaches it: a zero-norm vector's divide raises
    DIVIDE_BY_ZERO under ANSI mode, Spark 4's default, which the
    session keeps (pinned in tests/test_labelqa.py)."""
    cents = centroids.agg(
        F.collect_list(
            F.struct("centroid_id", "centroid_vec", "c_n2")
        ).alias("cents")
    )
    ranked = emb.crossJoin(F.broadcast(cents)).withColumn(
        "ranked",
        F.array_sort(
            F.transform(
                "cents",
                # named_struct, not struct(...).alias(...): aliases are
                # stripped inside HOF lambdas, leaving unaddressable
                # default field names
                lambda c: F.named_struct(
                    F.lit("neg_cos"),
                    -F.nanvl(
                        F.round(
                            _dot_lambda(F.col("embedding"), c["centroid_vec"])
                            / F.sqrt(F.col("norm2") * c["c_n2"]),
                            6,
                        ),
                        F.lit(float("-inf")),
                    ),
                    F.lit("centroid_id"),
                    c["centroid_id"],
                ),
            )
        ),
    )
    if n_keep == 1:
        return ranked.select(
            "vec_id", "embedding", "norm2",
            F.element_at("ranked", 1)["centroid_id"].alias("centroid_id"),
        )
    return ranked.select(
        "vec_id", "embedding", "norm2",
        F.explode(F.slice("ranked", 1, n_keep)).alias("probe"),
    ).select(
        "vec_id", "embedding", "norm2",
        F.col("probe.centroid_id").alias("centroid_id"),
    )


def _assign_routed(
    emb: DataFrame,
    centroids: DataFrame,
    n_keep: int = 1,
    nprobe: int | None = None,
) -> DataFrame:
    """Each vector's ``n_keep`` nearest centroids under the SAME
    rounded-cosine ranking as :func:`_assign_buckets`, routed through a
    ``kmeans.build_index`` tree whose depth follows K — the ONE
    definition the IVF candidate side, the semdedup paths and labelqa's
    query and candidate legs share (a drift between them would silently
    diverge their approximation contracts). Scale path for K ∝ N, where
    flat assignment's N*K*dim flops grow super-linearly.

    Flat ``_assign_buckets`` below TWO_LEVEL_MIN_K, where the index
    build costs more than it saves (small-K results are bit-identical
    to flat); two levels up to THREE_LEVEL_MIN_K; three above, with the
    probe widened by one (``kmeans._tier_nprobe``). APPROXIMATE above
    the flat tier: the true nearest centroid may sit in an unprobed
    group, so agreement and keep-rate parity vs flat are pytest-pinned
    and the flat form stays the oracle path. ``nprobe`` defaults to
    ``max(2, n_keep)``: only probed groups' members can be kept, so a
    caller keeping n_keep centroids must search at least that many
    groups (round-11 advisory — ``(n_keep+1)//2`` probed just 2 groups
    for the labelqa default n_keep=4). Returns (vec_id, embedding,
    norm2, centroid_id), the ``_assign_buckets`` shape."""
    from .kmeans import _levels, _tier_nprobe, build_index, route

    # K rows to the driver — bounded (K ~ N/60 under the auto rule),
    # the same sync-point class as the trainer's own centroid state.
    rows = centroids.select("centroid_id", "centroid_vec").collect()
    levels = _levels(len(rows))
    if levels == 1:
        return _assign_buckets(emb, centroids, n_keep=n_keep)
    if nprobe is None:
        nprobe = max(2, n_keep)
    index = build_index(
        [(r["centroid_id"], r["centroid_vec"]) for r in rows],
        levels,
        metric="cosine",
    )
    return route(
        emb,
        index,
        n_keep=n_keep,
        nprobe=_tier_nprobe(nprobe, levels),
        metric="cosine",
        out_col="centroid_id",
        norm2_col="norm2",
        score_col="_neg_cos",
    ).select("vec_id", "embedding", "norm2", "centroid_id")


def _ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    nprobe: int = NPROBE,
    assign_nprobe: int | None = None,
) -> DataFrame:
    """Probe-and-rank core shared by the fixed and trained IVF variants.

    ``centroids`` needs (centroid_id, centroid_vec, c_n2). No pair dedup:
    ranked assignment gives each candidate exactly ONE centroid row, and
    a query's nprobe rows carry DISTINCT centroid ids (a slice of the
    per-row ranking of the distinct centroid set), so a (q_id, c_id)
    pair can satisfy the probe equi-join at
    most once — a dropDuplicates here would be a provably-no-op exchange
    on the scored rows (round-5 judge finding; uniqueness pinned by
    tests/test_ivf_pair_uniqueness.py).

    ``assign_nprobe`` applies the two-level coarse->fine ranking to the
    CANDIDATE-side list assignment — the N*K*dim term of an IVF build
    when K is production-sized (same lever, same TWO_LEVEL_MIN_K gate
    and same approximation contract as the semdedup paths: a candidate
    may land in a neighboring list, trading a little recall for sqrt(K)
    assignment work). The query side keeps the flat ranking: it is
    Q-sized, and its nprobe slice defines the search contract."""
    cand_src = emb.filter(F.col("vec_id") >= N_QUERIES)
    if assign_nprobe is not None:
        cand_assigned = _assign_routed(
            cand_src, centroids, nprobe=assign_nprobe
        )
    else:
        cand_assigned = _assign_buckets(cand_src, centroids, n_keep=1)
    cand = cand_assigned.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("norm2").alias("cv_n2"),
        "centroid_id",
    )
    qry = _assign_buckets(
        emb.filter(F.col("vec_id") < N_QUERIES), centroids, n_keep=nprobe
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("norm2").alias("q_n2"),
        "centroid_id",
    )
    scored = (
        cand.join(F.broadcast(qry), "centroid_id")
        .withColumn("cosine", _cosine_pre("q_vec", "c_vec", "q_n2", "cv_n2"))
        .select("q_id", "c_id", "cosine")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rn")
        .transform(lambda d: sorted_small(d, "q_id", "rn"))
    )


def topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every candidate to its nearest centroid
    (inverted list); probe each query's NPROBE nearest lists only.

    The scale path complementing sign-LSH: assignment is a linear scan
    against K broadcast centroids (K << N); search shuffles on
    ``centroid_id`` so each query scores ~N/K * NPROBE candidates. The
    centroids are fixed vectors from the table so the DuckDB oracle
    reproduces the identical index deterministically; the trained-index
    variant is :func:`topk_cosine_ivf_trained`.
    """
    emb = _emb_normed(spark, sf_dir)
    # spread=False scan for the K centroid rows: the isin filter is
    # pushed to the scan and the result is K rows — the spread exchange
    # would repartition 4 rows across 32 cores for nothing
    centroids = (
        load_table(spark, sf_dir, "embeddings", spread=False)
        .filter(F.col("vec_id").isin(IVF_CENTROID_IDS))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
            _norm2("embedding").alias("c_n2"),
        )
    )
    return _ivf_topk(emb, centroids)


def topk_cosine_ivf_trained(
    spark: SparkSession,
    sf_dir: str,
    k_centroids: int = 8,
    nprobe: int = NPROBE,
    max_iters: int = 3,
    assign_nprobe: int | None = None,
    train_sample_n: int | None = None,
) -> DataFrame:
    """IVF over k-means-TRAINED centroids — the production index build.

    Composes the distributed Lloyd's trainer (``operators/kmeans.py``,
    deterministic seed-free init) with the same probe/rank path as the
    fixed-centroid query. Pytest-verified, not a driver-window slot:
    trained centroids are deterministic for a given input but not
    expressible as a DuckDB one-shot, and the recall guarantee (trained
    >= fixed at equal K/nprobe) is the contract worth pinning.
    ``assign_nprobe`` engages the two-level coarse->fine ranking in BOTH
    the trainer's Lloyd iterations AND the candidate-side list
    assignment (each gated by kmeans.TWO_LEVEL_MIN_K) — the lever for
    production k_centroids in the thousands. The QUERY-side probe keeps
    the flat ranking: it is Q-sized and its nprobe slice defines the
    search contract.

    The Lloyd training set is bounded at 256·k_centroids rows
    (``kmeans.train_sample``, the FAISS rule — round 12): bit-identical
    below the cap (every fixture), flat-in-N training cost above it;
    auto-K callers (K = N/60) self-exempt arithmetically and may
    forward their sizing count via ``train_sample_n``."""
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
    )
    centroids = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    return _ivf_topk(
        emb, centroids, nprobe=nprobe, assign_nprobe=assign_nprobe
    )


def _ivf_sql() -> str:
    ids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    cos_c = _cosine_sql("e.embedding", "c.embedding")
    return f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id IN ({ids})
),
cand AS (
  SELECT vec_id AS c_id, embedding AS c_vec, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_c} DESC, c.centroid_id) AS crn
    FROM embeddings e CROSS JOIN centroids c
    WHERE e.vec_id >= {N_QUERIES}
  ) WHERE crn <= 1
),
qry AS (
  SELECT vec_id AS q_id, embedding AS q_vec, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos_c} DESC, c.centroid_id) AS crn
    FROM embeddings e CROSS JOIN centroids c
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE crn <= {NPROBE}
),
scored AS (
  SELECT DISTINCT q_id, c_id, {_cosine_sql('q_vec', 'c_vec')} AS cosine
  FROM cand JOIN qry USING (centroid_id)
)
SELECT q_id, c_id, cosine, rn FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
ORDER BY q_id, rn
"""


TOPK_COSINE_IVF_SQL = _ivf_sql()


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors: cosine >= threshold among pairs sharing
    at least one sign-LSH band."""
    return embedding_near_dup_pairs_df(_emb_normed(spark, sf_dir))


def embedding_near_dup_pairs_df(
    emb: DataFrame,
    threshold: float = NEAR_DUP_COSINE,
    max_bucket_size: int | None = None,
    heavy_bucket_mode: str = "star",
    n_bands: int = N_SIGN_BANDS,
    bits_per_band: int = SIGN_BITS_PER_BAND,
) -> DataFrame:
    """df-based core of :func:`embedding_near_dup_pairs` over any
    (vec_id, embedding[, norm2]) frame.

    Blocking is the same BANDED sign-LSH as :func:`topk_cosine_lsh`
    (default two 4-bit bands, OR-combined; ``n_bands``/``bits_per_band``
    are the per-deployment width — see ``near_dup_quality``'s measured
    sweep) — the round-7 recall fix: the
    previous single full 8-bit bucket found a near-pair only when ALL
    eight sign bits agreed, P ~ (1-θ/π)^8 ≈ 2% at θ ≈ 72° (measured by
    :func:`near_dup_quality`); two OR'd 4-bit bands lift that an order
    of magnitude at the same candidate-volume class, the standard LSH
    banding trade. The uncapped path keeps zero dedup shuffle via
    first-shared-band emission (a both-bands pair is emitted from band
    0 only); precision stays 1.0 — every candidate passes the exact
    cosine verify.

    ``max_bucket_size`` is the per-bucket skew guard shared with the
    minhash/simhash families (``util.capped_candidates``): an
    identical-vector flood puts every flood vector into the SAME band
    buckets, and the unguarded self-join enumerates |bucket|^2/2 pairs.
    Capped mode bounds each heavy bucket (star: linear anchor edges
    keeping the cluster connected for components; sample: bounded-
    quadratic subset) over slim (vec_id, band_key) rows, then
    re-attaches the fat vectors to the bounded pair set by vec_id
    equi-joins — embedding arrays never enter the bucket self-join.
    ``multi_band=True``: a pair may match both bands, so capped
    emission needs the pair dedup (first-band suppression is unsound
    when a bucket may decline to emit)."""
    from .util import capped_candidates

    if "norm2" not in emb.columns:
        emb = emb.withColumn("norm2", _norm2("embedding"))
    if max_bucket_size is not None:
        bands = emb.select(
            F.col("vec_id").alias("doc_id"),
            F.explode(
                _band_keys("embedding", n_bands, bits_per_band)
            ).alias("band_fp"),
        )
        cand = capped_candidates(
            bands, max_bucket_size, heavy_bucket_mode, multi_band=True
        )
        # shuffle_hash hint: the capped pair set is linear in N by
        # construction — never broadcast it (the 125x flood OOM lesson,
        # see dedup._verify_jaccard)
        pairs = cand.hint("shuffle_hash").join(
            emb.select(
                F.col("vec_id").alias("a_id"),
                F.col("embedding").alias("a_vec"),
                F.col("norm2").alias("a_n2"),
            ),
            "a_id",
        ).join(
            emb.select(
                F.col("vec_id").alias("b_id"),
                F.col("embedding").alias("b_vec"),
                F.col("norm2").alias("b_n2"),
            ),
            "b_id",
        )
    else:
        import functools
        import operator as _op

        bk = _band_keys("embedding", n_bands, bits_per_band)
        a_cols = emb.select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_vec"),
            F.col("norm2").alias("a_n2"),
            bk.alias("a_bks"),
            F.posexplode(bk).alias("band_id", "band_key"),
        )
        b_cols = emb.select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_vec"),
            F.col("norm2").alias("b_n2"),
            bk.alias("b_bks"),
            F.explode(bk).alias("band_key"),
        )
        pairs = a_cols.join(b_cols, "band_key").filter(
            F.col("a_id") < F.col("b_id")
        )
        if n_bands > 1:
            # FIRST-shared-band emission generalized to any band count
            # (the minhash construction, dedup.minhash_lsh_pairs_df):
            # emit from band b only when NO earlier band also matched —
            # checking band 0 alone (the old 2-band shortcut) would
            # double-emit a pair matching bands 1 AND 2
            first_band = [
                (F.col("band_id") <= j)
                | (
                    F.element_at("a_bks", j + 1)
                    != F.element_at("b_bks", j + 1)
                )
                for j in range(n_bands - 1)
            ]
            pairs = pairs.filter(functools.reduce(_op.and_, first_band))
    return (
        pairs.withColumn(
            "cosine", _cosine_pre("a_vec", "b_vec", "a_n2", "b_n2")
        )
        .filter(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
        .transform(lambda d: sorted_small(d, "a_id", "b_id"))
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH vb AS (
  SELECT vec_id, unnest({_band_keys_sql('embedding')}) AS band_key
  FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM vb a JOIN vb b ON a.band_key = b.band_key
  WHERE a.vec_id < b.vec_id
)
SELECT a_id, b_id,
       {_cosine_sql('a.embedding', 'b.embedding')} AS cosine
FROM cand
JOIN embeddings a ON cand.a_id = a.vec_id
JOIN embeddings b ON cand.b_id = b.vec_id
WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_COSINE}
ORDER BY a_id, b_id
"""


# ------------------------------------------------------------ ANN recall

def _recall_frame(bf: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k of ``approx`` against the exact top-k ``bf``:
    |approx top-k ∩ exact top-k| / k. Only a slim (q_id, c_id) equi-join
    plus a per-query count — the evaluation itself is scale-free."""
    hits = (
        bf.join(approx, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        bf.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(TOP_K), 6
            ).alias("recall_at_k"),
        )
        .transform(lambda d: sorted_small(d, "q_id"))
    )


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH ANN against the brute-force ground truth.

    The evaluation harness every approximate index needs. Composes the
    two existing plans — the exact baseline stays broadcast-bounded, the
    LSH side stays bucket-blocked."""
    bf = topk_cosine_bruteforce(spark, sf_dir).select("q_id", "c_id")
    approx = topk_cosine_lsh(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(bf, approx)


def ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the fixed-centroid IVF index against brute force —
    the quality row for the second ANN family (oracle-parity-tested as
    ``unreg_l2_ivf_recall``; the driver window holds the LSH twin)."""
    bf = topk_cosine_bruteforce(spark, sf_dir).select("q_id", "c_id")
    approx = topk_cosine_ivf(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(bf, approx)


def _recall_sql(approx_sql: str) -> str:
    return f"""
WITH bf AS ({TOPK_COSINE_BRUTEFORCE_SQL}),
approx AS ({approx_sql}),
hits AS (
  SELECT bf.q_id, count(*) AS n_hits
  FROM bf JOIN approx ON bf.q_id = approx.q_id AND bf.c_id = approx.c_id
  GROUP BY bf.q_id
)
SELECT q.q_id,
       coalesce(hits.n_hits, 0) AS n_hits,
       round(coalesce(hits.n_hits, 0) / {TOP_K}.0, 6) AS recall_at_k
FROM (SELECT DISTINCT q_id FROM bf) q
LEFT JOIN hits ON q.q_id = hits.q_id
ORDER BY q.q_id
"""


ANN_RECALL_SQL = _recall_sql(TOPK_COSINE_LSH_SQL)
IVF_RECALL_SQL = _recall_sql(TOPK_COSINE_IVF_SQL)


# ------------------------------------------------- incremental top-k merge

INCR_SPLIT_ID = 600  # parity split: candidates >= this id are the "new batch"


def topk_cosine_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle wrapper for :func:`topk_cosine_incremental_df` over a
    deterministic split of ``embeddings``: the index is built from
    candidates with vec_id < ``INCR_SPLIT_ID``; candidates >= it arrive
    as the new batch. The DuckDB twin is the FULL brute-force top-k —
    the merge must be exactly equivalent, so the oracle checks the
    incremental-maintenance algebra, not just expression parity."""
    emb = _emb_normed(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    old = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < INCR_SPLIT_ID)
    )
    new = emb.filter(F.col("vec_id") >= INCR_SPLIT_ID)
    prior = _score_topk(q, old)
    return topk_cosine_incremental_df(prior, q, new)


def _score_topk(q: DataFrame, cands: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k of ``q`` (query rows) against ``cands`` — the scoring
    core shared by the batch and incremental paths."""
    scored = cands.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        F.col("norm2").alias("c_n2"),
    ).crossJoin(
        F.broadcast(
            q.select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
                F.col("norm2").alias("q_n2"),
            )
        )
    ).withColumn("cosine", _cosine_pre("q_vec", "c_vec", "q_n2", "c_n2"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "cosine")
    )


def topk_cosine_incremental_df(
    prior_topk: DataFrame,
    queries: DataFrame,
    new_cands: DataFrame,
    k: int = TOP_K,
) -> DataFrame:
    """INCREMENTAL top-k maintenance: merge the prior per-query top-k
    with scores over ONLY the new candidate batch — the arriving-data
    shape (ANN index serving a growing corpus): per batch the work is
    |new| x |queries|, never a rescore of the indexed corpus. Exactly
    equivalent to recomputing from scratch because top-k is a
    monotone merge: topk(A ∪ B) = topk(topk(A) ∪ topk(B)) under the
    deterministic (cosine DESC, c_id ASC) order.

    ``prior_topk`` needs (q_id, c_id, cosine); ``queries``/``new_cands``
    need (vec_id, embedding[, norm2])."""
    if "norm2" not in queries.columns:
        queries = queries.withColumn("norm2", _norm2("embedding"))
    if "norm2" not in new_cands.columns:
        new_cands = new_cands.withColumn("norm2", _norm2("embedding"))
    merged = (
        prior_topk.select("q_id", "c_id", "cosine")
        .unionByName(_score_topk(queries, new_cands, k=k))
        # replay safety: an at-least-once caller (foreachBatch) may
        # re-deliver a batch whose entries are ALREADY in the prior
        # top-k; without this dedup the duplicate rows take two ranks
        # and permanently evict genuine k-th candidates. Keyed dedup is
        # exact — (q_id, c_id) determines the cosine.
        .dropDuplicates(["q_id", "c_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "c_id", "cosine", "rn")
        .transform(lambda d: sorted_small(d, "q_id", "rn"))
    )


# the incremental merge must reproduce the full batch result exactly
TOPK_COSINE_INCREMENTAL_SQL = TOPK_COSINE_BRUTEFORCE_SQL


# ------------------------------------- sign-bucket near-dup quality harness

NEAR_DUP_EVAL_MAX_ID = 500  # bounded eval sample: exact truth is quadratic

# The width sweep measured by near_dup_quality: the deployed default
# first, then one step in each direction of the banding trade — more
# bands at the same width (recall amplification: candidate superset of
# the default's first two bands) and wider bands at the same count
# (sharper buckets: fewer candidates per band, lower recall per band).
# Measured, not asserted — pick a 100 TB width from these rows.
NEAR_DUP_QUALITY_WIDTHS = [
    (N_SIGN_BANDS, SIGN_BITS_PER_BAND),
    (4, 4),
    (2, 8),
    # (1, 8) reads EXACTLY the default's dims 1-8, so its candidate set
    # is structurally a subset of the default's (all 8 bits agreeing
    # implies both 4-bit bands agree) — the one width whose recall
    # ordering vs the default is a theorem, not an empirical fact of
    # the fixture (the (2, 8) row consults dims 9-16 the default never
    # reads, so its ordering could flip under a regenerated fixture)
    (1, 8),
]


def near_dup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded sign-LSH near-dup pairs vs the
    EXACT cosine >= threshold ground truth over vectors with
    vec_id < ``NEAR_DUP_EVAL_MAX_ID`` — the third member of the dedup
    quality-harness family (minhash banding recall, simhash P/R, and
    the embedding bands). One row PER BANDING WIDTH in
    ``NEAR_DUP_QUALITY_WIDTHS``: precision is 1.0 BY CONSTRUCTION for
    every width (candidates only block; every emitted pair passes the
    exact cosine verify), so recall — P(a true near-pair shares at
    least one band) = 1-(1-(1-θ/π)^bits)^bands — is the informative
    number, and the sweep turns the width choice into a measured
    recall/candidate-volume trade instead of an asserted one.

    The truth side enumerates all pairs of the bounded sample once
    (evaluation, not production; broadcast so the enumeration never
    shuffles) and is persisted across the width rows; each width's
    predicted side reuses the production blocked plan unchanged."""
    from ._cachescope import begin_scope, scoped_persist

    emb = _emb_normed(spark, sf_dir).filter(
        F.col("vec_id") < NEAR_DUP_EVAL_MAX_ID
    )
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("norm2").alias("a_n2"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("norm2").alias("b_n2"),
    )
    begin_scope("near_dup_quality")
    truth = scoped_persist(
        "near_dup_quality",
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", _cosine_pre("a_vec", "b_vec", "a_n2", "b_n2"))
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        .select("a_id", "b_id"),
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    rows = []
    for nb, bp in NEAR_DUP_QUALITY_WIDTHS:
        # persisted per width: n_pred and n_hit are two independent
        # actions on the same pred frame — unpersisted, the full banded
        # explode/self-join/cosine-verify plan executes twice per width
        # (the harness's dominant cost; same device as _pair_quality)
        pred = scoped_persist(
            "near_dup_quality",
            embedding_near_dup_pairs_df(
                emb, n_bands=nb, bits_per_band=bp
            ).select("a_id", "b_id"),
        )
        n_pred = pred.agg(F.count(F.lit(1)).alias("n_pred"))
        n_hit = pred.join(truth, ["a_id", "b_id"]).agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        rows.append(
            n_pred.crossJoin(n_truth)
            .crossJoin(n_hit)
            .select(
                F.lit(nb).alias("n_bands"),
                F.lit(bp).alias("bits_per_band"),
                "n_pred",
                "n_truth",
                "n_hit",
                F.round(
                    F.col("n_hit") / F.greatest(F.col("n_pred"), F.lit(1)), 6
                ).alias("precision"),
                F.round(
                    F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
                ).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return sorted_small(out, "n_bands", "bits_per_band")


def _near_dup_quality_sql() -> str:
    ctes = [
        f"""s AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id < {NEAR_DUP_EVAL_MAX_ID}
)""",
        f"""truth AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM s a JOIN s b ON a.vec_id < b.vec_id
  WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_COSINE}
)""",
    ]
    selects = []
    for nb, bp in NEAR_DUP_QUALITY_WIDTHS:
        tag = f"{nb}_{bp}"
        ctes.append(
            f"""vb_{tag} AS (
  SELECT vec_id, unnest({_band_keys_sql('embedding', nb, bp)}) AS band_key
  FROM s
)"""
        )
        ctes.append(
            f"""pred_{tag} AS (
  SELECT cand.a_id, cand.b_id
  FROM (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM vb_{tag} a JOIN vb_{tag} b ON a.band_key = b.band_key
        WHERE a.vec_id < b.vec_id) cand
  JOIN s sa ON cand.a_id = sa.vec_id
  JOIN s sb ON cand.b_id = sb.vec_id
  WHERE {_cosine_sql('sa.embedding', 'sb.embedding')} >= {NEAR_DUP_COSINE}
)"""
        )
        selects.append(
            f"""SELECT {nb} AS n_bands, {bp} AS bits_per_band,
       n_pred, n_truth, n_hit,
       round(CAST(n_hit AS DOUBLE) / greatest(n_pred, 1), 6) AS precision,
       round(CAST(n_hit AS DOUBLE) / greatest(n_truth, 1), 6) AS recall
FROM (
  SELECT (SELECT count(*) FROM pred_{tag}) AS n_pred,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM pred_{tag} JOIN truth USING (a_id, b_id))
           AS n_hit
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY n_bands, bits_per_band"
    )


NEAR_DUP_QUALITY_SQL = _near_dup_quality_sql()
