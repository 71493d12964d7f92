"""Sample-bounded k-means / PQ training (kmeans.train_sample — the
FAISS max-points-per-centroid device): thinning determinism, the
below-cap bit-identity guarantee that keeps every oracle path and
bench mark exact, and the quality floors that let the production
fixed-k trainers run over a bounded sample at 100 TB (1 thin scan +
max_iters sample-sized jobs instead of 1+max_iters corpus scans)."""

from __future__ import annotations

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import pq
from concerts_etl_sa_spark.operators.kmeans import (
    build_index,
    kmeans_fit,
    route,
    train_sample,
)
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_train_sample_deterministic_and_sized(spark):
    """The thinned frame is a pure deterministic filter: same rows on
    every evaluation, size within [target, 2*target) (integer-stride
    arithmetic), and a subset of the input."""
    emb = _emb(spark)
    n = emb.count()
    target = 100
    a = sorted(r["vec_id"] for r in train_sample(emb, "vec_id", target)
               .select("vec_id").collect())
    b = sorted(r["vec_id"] for r in train_sample(emb, "vec_id", target)
               .select("vec_id").collect())
    assert a == b
    stride = n // target
    lo, hi = n // stride * 0.5, n // stride * 2.0  # hash-uniform band
    assert lo <= len(a) <= hi, (len(a), n, stride)
    assert set(a) <= {r["vec_id"] for r in emb.select("vec_id").collect()}


def test_train_sample_below_cap_is_identity(spark):
    """target >= N (and None) return the input frame UNCHANGED — the
    guarantee that the production caps (256*k > every test fixture's
    row count) leave pinned results bit-identical."""
    emb = _emb(spark)
    n = emb.count()
    assert train_sample(emb, "vec_id", None) is emb
    assert train_sample(emb, "vec_id", n) is emb
    assert train_sample(emb, "vec_id", 10 * n) is emb
    # stride 1 (target just over half of N) is also an identity: every
    # hash value mod 1 == 0
    assert train_sample(emb, "vec_id", n // 2 + 1) is emb


def test_kmeans_fit_sampled_deterministic_and_competitive(spark):
    """A fit trained on ~1/4 of the corpus must (a) be deterministic,
    (b) differ from the full fit (the cap genuinely engaged), and
    (c) cost at most a modest full-corpus inertia premium vs full
    training — the measured claim behind shipping bounded training in
    the fixed-k production paths."""
    emb = _emb(spark)
    n = emb.count()
    full, _ = kmeans_fit(emb, k=8, max_iters=3)
    samp1, _ = kmeans_fit(emb, k=8, max_iters=3, train_sample_rows=n // 4)
    samp2, _ = kmeans_fit(emb, k=8, max_iters=3, train_sample_rows=n // 4)
    assert samp1 == samp2
    assert samp1 != full

    def corpus_inertia(centroids):
        return (
            route(emb, build_index(list(enumerate(centroids)), 1))
            .agg(F.sum("_sq_dist").alias("i"))
            .collect()[0]["i"]
        )

    i_full, i_samp = corpus_inertia(full), corpus_inertia(samp1)
    # isotropic synthetic embeddings are k-means' hardest quality case
    # (no cluster structure to recover); measured premium ~2-4% at
    # sf0.001, floor set loose at 25%
    assert i_samp <= 1.25 * i_full, (i_samp, i_full)


def _pq_recall(spark, emb, books) -> float:
    from concerts_etl_sa_spark.operators.similarity import (
        topk_cosine_bruteforce,
    )

    truth = {
        (r["q_id"], r["c_id"])
        for r in topk_cosine_bruteforce(spark, SF_DIR)
        .select("q_id", "c_id")
        .collect()
    }
    got = {
        (r["q_id"], r["c_id"])
        for r in pq.topk_cosine_pq_df(
            emb, pq.pq_codebook_from_trained(spark, books)
        )
        .select("q_id", "c_id")
        .collect()
    }
    return len(got & truth) / len(truth)


def test_pq_fused_sampled_at_rule_density_recall_holds(spark):
    """The FAISS-rule claim itself — at >= 256 points per centroid a
    sampled codebook matches full training within noise. The fixture is
    too small to show it directly (500 rows / 16 codes = 31 pts per
    centroid even unsampled), so train on a 20x uniform replication:
    k-means is invariant to uniform duplication, and a stride-2 hash
    thinning of the replica ids keeps ~10 of each vector's 20 copies —
    a genuinely different training multiset (binomial per-vector
    weights) at ~312 pts per centroid. Recall is scored against the
    ORIGINAL corpus with each codebook."""
    emb = _emb(spark)
    big = emb.crossJoin(
        F.broadcast(
            emb.sparkSession.range(20).select(F.col("id").alias("_r"))
        )
    ).select(
        (F.col("vec_id") * 20 + F.col("_r")).alias("vec_id"), "embedding"
    )
    full_books = pq.pq_train_fused(big)
    samp_books = pq.pq_train_fused(
        big, train_sample_rows=256 * pq.PQ_K
    )
    assert samp_books != full_books  # the cap genuinely engaged
    r_full = _pq_recall(spark, emb, full_books)
    r_samp = _pq_recall(spark, emb, samp_books)
    assert r_samp >= r_full - 0.03, (r_samp, r_full)
    assert r_samp >= 0.10


def test_pq_fused_undertrained_sample_degrades_gracefully(spark):
    """BELOW the rule (125 rows for 16 codes = 7.8 pts/centroid — 32x
    under) the sampled books must stay deterministic and keep the
    trained-path absolute recall floor; the measured cost of severe
    undertraining at sf0.001 is 0.29 -> 0.15 recall, which is the
    evidence for WHY the production caps sit at 256/centroid rather
    than lower."""
    emb = _emb(spark)
    n = emb.count()
    samp_books = pq.pq_train_fused(emb, train_sample_rows=n // 4)
    assert samp_books == pq.pq_train_fused(emb, train_sample_rows=n // 4)
    assert samp_books != pq.pq_train_fused(emb)
    assert _pq_recall(spark, emb, samp_books) >= 0.10


def test_production_trained_paths_unchanged_below_cap(spark):
    """The wired caps (256*k_coarse, 256*k_codes) exceed every fixture's
    row count, so the production trained queries return EXACTLY what
    they returned before sampling shipped — pinned by comparing against
    an explicit unbounded train of the same composition. Both sides pin
    ``driver_train=False`` so the comparison isolates the THINNING
    filter (r16: an unforced bounded call dispatches to the driver fit,
    which differs by float-summation order — that parity has its own
    1e-9 pins in test_driver_lloyd.py; this test's claim is that the
    sample filter short-circuits below the cap)."""
    emb = _emb(spark)
    books_capped = pq.pq_train_fused(
        emb, train_sample_rows=256 * pq.PQ_K, driver_train=False
    )
    books_unbounded = pq.pq_train_fused(emb)
    assert books_capped == books_unbounded
