"""Label-quality analysis over labeled embeddings (SURVEY §2.L2
extension; the training-data op the ``embeddings.label`` column exists
for).

Classifier training sets carry label errors, and the standard detector
is NEIGHBORHOOD DISAGREEMENT (the kNN member of the Confident Learning
family, Northcutt et al. 2021, arXiv:1911.00068: an example whose
nearest neighbors vote for a different class is a label-error
candidate): for every labeled vector, take its k nearest neighbors by
cosine, compute the neighbor-majority label and the fraction agreeing
with the vector's OWN label, and flag the rows whose neighborhood
outvotes them.

Two forms, the repo's established oracle/production split:

- :func:`knn_label_noise` — EXACT kNN via a broadcast of the
  (id, unit-vector, label) table against itself. This is the
  DuckDB-one-shot oracle form (parity-pinned in
  tests/test_oracle_parity.py as ``unreg_l2_knn_label_noise``); the
  corpus-sized broadcast is the documented NON-scale part, exactly like
  ``quality_deciles``'s exact percentiles — the production swap is the
  IVF form below.
- :func:`knn_label_noise_ivf` — the scale path: both sides assign to a
  fixed centroid set (the existing IVF machinery — broadcast HOF
  ranking, no shuffle), queries probe their ``nprobe`` nearest lists,
  and kNN runs within the probed lists only (~N/K * nprobe candidates
  per vector, the same plan shape as ``topk_cosine_ivf`` with EVERY
  vector as a query). Approximate: a true neighbor can hide in an
  unprobed list; the agreement with the exact form is pytest-pinned.

Determinism: cosines are rounded to 6 dp, neighbor rank ties break on
vec_id asc, and the majority vote breaks ties on (count DESC, label
ASC) — total orders end-to-end, both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table
from .similarity import (
    _assign_routed,
    _cosine_pre,
    _cosine_sql,
    _norm2,
)

KNN_K = 5

# Query rows per tile of the Arrow pair scorer (:func:`_score_pairs_arrow`):
# bounds each per-list float64 temporary at SCORE_BLOCK_ROWS × list size
# (200 MB for a 100k-vector hot list). Typical lists (~60 vectors, each
# probed by ~4x as many queries) fit in one tile.
SCORE_BLOCK_ROWS = 256


def _labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled vectors only: rows with a NULL label have no label to
    audit (and can cast no vote — Spark's NULLS FIRST vs DuckDB's
    NULLS LAST default ordering would silently diverge the b_label
    tie-break if NULLs ever reached the vote window; round-11
    advisory). The SQL twin carries the same ``label IS NOT NULL``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("label").isNotNull()).select(
        "vec_id", "embedding", "label", _norm2("embedding").alias("norm2")
    )


def _noise_from_scored(scored: DataFrame, k: int) -> DataFrame:
    """(a_id, a_label, b_label, cosine) candidate scores -> the
    per-vector verdict frame. Shared by the exact and IVF forms so the
    vote/tie-break semantics cannot drift."""
    w = Window.partitionBy("a_id").orderBy(F.desc("cosine"), F.asc("b_id"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    votes = top.groupBy("a_id", "a_label", "b_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("a_id").orderBy(
        F.desc("votes"), F.asc("b_label")
    )
    per_vec = (
        votes.withColumn("vrn", F.row_number().over(wv))
        .groupBy("a_id", "a_label")
        .agg(
            F.max(F.when(F.col("vrn") == 1, F.col("b_label"))).alias(
                "knn_majority_label"
            ),
            F.sum("votes").alias("n_neighbors"),
            F.sum(
                F.when(F.col("b_label") == F.col("a_label"), F.col("votes"))
                .otherwise(F.lit(0))
            ).alias("n_agree"),
        )
    )
    return per_vec.select(
        F.col("a_id").alias("vec_id"),
        F.col("a_label").alias("label"),
        "knn_majority_label",
        F.round(
            F.col("n_agree").cast("double") / F.col("n_neighbors"), 6
        ).alias("knn_agree_frac"),
        (F.col("knn_majority_label") != F.col("a_label")).alias(
            "is_suspect"
        ),
    )


def knn_label_noise_df(labeled: DataFrame, k: int = KNN_K) -> DataFrame:
    """Exact-kNN core over any (vec_id, embedding, label, norm2) frame
    — extracted in round 12 so the clustered-fixture quality tests can
    drive the SAME vote/tie-break code the table wrappers ship."""
    emb = labeled
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("norm2").alias("a_n2"),
        F.col("label").alias("a_label"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("norm2").alias("b_n2"),
        F.col("label").alias("b_label"),
    )
    scored = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a_id") != F.col("b_id"))
        .withColumn("cosine", _cosine_pre("a_vec", "b_vec", "a_n2", "b_n2"))
        .select("a_id", "a_label", "b_id", "b_label", "cosine")
    )
    return _noise_from_scored(scored, k)


def knn_label_noise(
    spark: SparkSession, sf_dir: str, k: int = KNN_K
) -> DataFrame:
    """Exact-kNN label-noise frame: (vec_id, label, knn_majority_label,
    knn_agree_frac, is_suspect) for every labeled vector."""
    return knn_label_noise_df(_labeled(spark, sf_dir), k).transform(
        lambda d: d.repartition(1).sortWithinPartitions("vec_id")
    )


def _score_pairs_arrow(qry: DataFrame, cand: DataFrame) -> DataFrame:
    """Within-list pair scoring as ONE cogrouped Arrow stage — the
    round-16 fix for the per-candidate scoring constant (guide §4.2;
    r16 stage probe: the scored stage was 4.0 s of the row's 5.1 s,
    ~4.3 µs per pair in the 64-term ``element_at`` expression even
    under whole-stage codegen). Instead of materializing both 64-dim
    vectors per PAIR in the equi-join and folding 64 terms per row,
    each side crosses the Python boundary ONCE PER VECTOR (cogroup on
    ``centroid_id`` — the same exchange key the join used) and numpy
    scores the group's pair block in a vectorized loop.

    This is a DOCUMENTED exception to the no-Python-in-plans policy
    (the l4 mapInPandas precedent, extended per the r15 verdict to the
    named unreg rows knn_label_noise_ivf / _trained — neither is
    DuckDB-oracled; the exact form ``l2_knn_label_noise`` keeps its
    pure-JVM plan). Results are BIT-IDENTICAL to the expression form,
    pinned by tests/test_labelqa.py:

    - the float->double upcast is exact on both sides;
    - the dot accumulates in the same left-associative order (numpy
      elementwise adds from an explicit 0.0 seed — the JVM fold's
      exact sequence, including the +0.0 seed semantics);
    - ``sqrt``/multiply/divide are single correctly-rounded IEEE ops
      (identical in numpy and the JVM);
    - the 6-dp ROUNDING stays in the JVM (``F.round`` on the raw
      cosine), so the rank tie-break contract never crosses engines.

    Memory: a list's dense float64 temporaries (dot accumulator,
    norms, cosines) are built SCORE_BLOCK_ROWS query rows at a time, so
    they stay at most SCORE_BLOCK_ROWS × (list size) whatever the list
    size: a hot IVF list of all N vectors costs SCORE_BLOCK_ROWS·N per
    temporary, not N². The pair output itself is q×c rows by
    definition.

    Returns (a_id, a_label, b_id, b_label, cosine_raw) for every
    within-list pair with a_id != b_id."""
    out_schema = (
        "a_id BIGINT, a_label INT, b_id BIGINT, b_label INT, "
        "cosine_raw DOUBLE"
    )
    # read on the driver, shipped with the closure
    block = SCORE_BLOCK_ROWS

    def score(q, c):
        import numpy as np
        import pyarrow as pa

        def _empty():
            return pa.table(
                {
                    "a_id": pa.array([], pa.int64()),
                    "a_label": pa.array([], pa.int32()),
                    "b_id": pa.array([], pa.int64()),
                    "b_label": pa.array([], pa.int32()),
                    "cosine_raw": pa.array([], pa.float64()),
                }
            )

        if q.num_rows == 0 or c.num_rows == 0:
            return _empty()

        def _mat(tbl, col):
            la = tbl.column(col).combine_chunks()
            flat = la.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64).reshape(tbl.num_rows, -1)

        A = _mat(q, "a_vec")
        B = _mat(c, "b_vec")
        a_id = q.column("a_id").to_numpy(zero_copy_only=False)
        b_id = c.column("b_id").to_numpy(zero_copy_only=False)
        a_n2 = q.column("a_n2").to_numpy(zero_copy_only=False)
        b_n2 = c.column("b_n2").to_numpy(zero_copy_only=False)
        a_lab = q.column("a_label").to_numpy(zero_copy_only=False)
        b_lab = c.column("b_label").to_numpy(zero_copy_only=False)
        parts = []
        for lo in range(0, A.shape[0], block):
            blk = slice(lo, lo + block)
            # left-associative fold from a 0.0 seed — the JVM
            # expression's exact add sequence per pair (elementwise
            # adds commute with nothing; each += is the same IEEE
            # double add); tiling the query rows leaves it unchanged
            acc = np.zeros((A[blk].shape[0], B.shape[0]))
            for i in range(A.shape[1]):
                acc += A[blk, i, None] * B[None, :, i]
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = acc / np.sqrt(a_n2[blk, None] * b_n2[None, :])
            rows, cols = np.nonzero(a_id[blk, None] != b_id[None, :])
            parts.append(
                pa.table(
                    {
                        "a_id": pa.array(a_id[blk][rows], pa.int64()),
                        "a_label": pa.array(a_lab[blk][rows], pa.int32()),
                        "b_id": pa.array(b_id[cols], pa.int64()),
                        "b_label": pa.array(b_lab[cols], pa.int32()),
                        "cosine_raw": pa.array(cos[rows, cols], pa.float64()),
                    }
                )
            )
        return pa.concat_tables(parts)

    return (
        qry.groupBy("centroid_id")
        .cogroup(cand.groupBy("centroid_id"))
        .applyInArrow(score, schema=out_schema)
    )


def knn_label_noise_ivf_df(
    labeled: DataFrame,
    centroids: DataFrame,
    k: int = KNN_K,
    nprobe: int = 4,
    arrow_score: bool = True,
) -> DataFrame:
    """IVF-pruned core over any (vec_id, embedding, label, norm2) frame
    and a (centroid_id, centroid_vec, c_n2) centroid frame — shared by
    the modular-pick and Lloyd-trained wrappers (and the
    clustered-fixture quality tests) so the candidate-join semantics
    cannot drift between index builds.

    ``arrow_score`` picks the pair-scoring implementation: the default
    cogrouped Arrow batch scorer (:func:`_score_pairs_arrow` — the
    documented plan-policy exception for these unreg rows), or the
    all-JVM equi-join + 64-term expression form. Both produce the
    IDENTICAL frame (bit-equal raw cosines, shared JVM rounding —
    pinned in tests/test_labelqa.py); the flag exists so the parity
    stays testable."""
    emb = labeled
    qry = _assign_routed(
        emb.select("vec_id", "embedding", "norm2"), centroids, n_keep=nprobe
    ).join(emb.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        F.col("norm2").alias("a_n2"),
        F.col("label").alias("a_label"),
        "centroid_id",
    )
    cand = _assign_routed(
        emb.select("vec_id", "embedding", "norm2"), centroids, nprobe=2
    ).join(emb.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        F.col("norm2").alias("b_n2"),
        F.col("label").alias("b_label"),
        "centroid_id",
    )
    if arrow_score:
        # a (a, b) pair can appear once per SHARED probed list; the
        # candidate side is single-keep, so each (a, b) pair forms in
        # at most one cogroup (the tests/test_ivf_pair_uniqueness.py
        # argument) — no dedup exchange needed, same as the join form
        scored = _score_pairs_arrow(qry, cand).select(
            "a_id",
            "a_label",
            "b_id",
            "b_label",
            F.round(F.col("cosine_raw"), 6).alias("cosine"),
        )
    else:
        scored = (
            cand.join(qry, "centroid_id")
            .filter(F.col("a_id") != F.col("b_id"))
            # pair-uniqueness argument as above (single-keep candidate
            # side, distinct probed centroid ids per query)
            .withColumn(
                "cosine", _cosine_pre("a_vec", "b_vec", "a_n2", "b_n2")
            )
            .select("a_id", "a_label", "b_id", "b_label", "cosine")
        )
    # no single-partition sort: this is the production form and its
    # output is corpus-sized (one row per labeled vector)
    return _noise_from_scored(scored, k)


def knn_label_noise_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    nprobe: int = 4,
    per_list: int = 60,
) -> DataFrame:
    """IVF-pruned production form: kNN candidates come only from each
    vector's ``nprobe`` nearest inverted lists. Plan shape: two
    shuffle-free broadcast assignments + one equi-join on centroid_id;
    candidate volume ~N * (N/K) * nprobe instead of N^2. Agreement with
    :func:`knn_label_noise` is pytest-pinned.

    The index is AUTO-K (K = max(N // per_list, 8), the semdedup sizing
    rule, centroids by the same deterministic modular pick): every
    vector is a query here, so the candidate join's key cardinality IS
    the parallelism — the toy K=4 ``IVF_CENTROID_IDS`` index funnels
    the whole N*(N/4)*nprobe volume through four join keys (measured
    1.8x SLOWER than exact brute force at sf0.1), while K ∝ N keeps
    per-list volume constant and the join keys plentiful, the same
    argument as semdedup_auto. The count() is one scalar sync to size
    the index before the plan is built. ``nprobe=4`` is the measured
    default: per-verdict agreement with exact 0.38/0.48/0.59/0.84 at
    nprobe 2/3/4/6 on the ISOTROPIC synthetic labels (real clustered
    embeddings sit far higher at equal nprobe), 4.9 s at sf0.1 vs the
    exact form's 17.7 s, and candidate volume ~N * nprobe * per_list
    stays linear in N."""
    emb = _labeled(spark, sf_dir)
    from .semdedup import SEMDEDUP_CENTROID_RESIDUE, _auto_stride

    n = load_table(spark, sf_dir, "embeddings", spread=False).count()
    stride = _auto_stride(n, per_list)
    centroids = (
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
    # K-aware routing on BOTH N-sized assignment legs (round-11: the
    # flat double-assignment at 125x/K=4166 ran ~10 minutes — the same
    # N*K*dim term the semdedup paths route around; small-K results are
    # bit-identical via the shared fallback)
    return knn_label_noise_ivf_df(
        emb, centroids, k=k, nprobe=nprobe
    ).sortWithinPartitions("vec_id")


def knn_label_noise_ivf_trained(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    nprobe: int = 4,
    per_list: int = 60,
    max_iters: int = 3,
    assign_nprobe: int | None = None,
) -> DataFrame:
    """Lloyd-TRAINED production form (round 12, verdict item #2): the
    same IVF-pruned kNN as :func:`knn_label_noise_ivf` but the inverted
    lists come from k-means centroids fitted on the embedding space
    (the ``semdedup_trained`` device) instead of the deterministic
    modular pick. Trained lists track the data's actual density, so
    true neighbors co-locate in fewer lists and agreement with the
    exact form rises at EQUAL nprobe — measured on the clustered
    fixture in tests/test_labelqa.py (the quality claim the round-11
    verdict asked to evidence-back). Deterministic for a given input
    (hash-bucket init + Lloyd's) but not a DuckDB one-shot, hence
    pytest-pinned. ``assign_nprobe`` engages two-level routing inside
    the per-iteration Lloyd assignment (the trainer's own N*K*dim
    term), the semdedup_trained convention."""
    from .kmeans import TRAIN_POINTS_PER_CENTROID, centroids_df, kmeans_fit

    emb = _labeled(spark, sf_dir)
    # size EVERYTHING from the labeled subset (round-13 advisory): the
    # trainer filters label IS NOT NULL, so sizing the stride from the
    # full-table count on a sparsely-labeled corpus realizes
    # ~per_list·(n_labeled/n) points per centroid — far below the FAISS
    # 256-rule the cap implements (10% labeled → ~26 pts/centroid, the
    # undertrained regime test_train_sampling.py pins as a measurable
    # recall loss). One count of the column-pruned labeled projection
    # replaces the old full-table count — same job count, right n.
    n = emb.select("vec_id").count()
    # the 256-pts/centroid bound self-exempts at per_list < 256 (cap
    # 256·K > N — the auto-K arithmetic)
    k_lists = max(n // per_list, 8)
    fitted, _ = kmeans_fit(
        emb,
        k=k_lists,
        max_iters=max_iters,
        assign_nprobe=assign_nprobe,
        train_sample_rows=TRAIN_POINTS_PER_CENTROID * k_lists,
        train_sample_n=n,
    )
    centroids = centroids_df(spark, fitted).withColumn(
        "c_n2", _norm2("centroid_vec")
    )
    return knn_label_noise_ivf_df(
        emb, centroids, k=k, nprobe=nprobe
    ).sortWithinPartitions("vec_id")


def _knn_label_noise_sql(k: int = KNN_K) -> str:
    cos = _cosine_sql("a.embedding", "b.embedding")
    return f"""
WITH labeled AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE label IS NOT NULL
),
scored AS (
  SELECT a.vec_id AS a_id, a.label AS a_label,
         b.vec_id AS b_id, b.label AS b_label,
         {cos} AS cosine
  FROM labeled a JOIN labeled b ON a.vec_id <> b.vec_id
),
top AS (
  SELECT * FROM (
    SELECT a_id, a_label, b_id, b_label,
           row_number() OVER (PARTITION BY a_id
                              ORDER BY cosine DESC, b_id) AS rn
    FROM scored
  ) WHERE rn <= {k}
),
votes AS (
  SELECT a_id, a_label, b_label, count(*) AS votes
  FROM top GROUP BY a_id, a_label, b_label
),
ranked AS (
  SELECT a_id, a_label, b_label, votes,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY votes DESC, b_label) AS vrn
  FROM votes
)
SELECT a_id AS vec_id, a_label AS label,
       max(CASE WHEN vrn = 1 THEN b_label END) AS knn_majority_label,
       round(CAST(sum(CASE WHEN b_label = a_label THEN votes ELSE 0 END)
                  AS DOUBLE) / sum(votes), 6) AS knn_agree_frac,
       max(CASE WHEN vrn = 1 THEN b_label END) <> a_label AS is_suspect
FROM ranked
GROUP BY a_id, a_label
ORDER BY vec_id
"""


KNN_LABEL_NOISE_SQL = _knn_label_noise_sql()
