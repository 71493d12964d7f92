"""Driver-side Lloyd trainer parity (OPTIMIZATION_r15.md).

``kmeans_fit(driver_train=True)`` / ``pq_train_fused(driver_train=True)``
collect the bounded training sample once and iterate locally in numpy.
These pins guarantee the local twin mirrors the distributed loop:

- the Python Murmur3 twin is BIT-EQUAL to ``F.hash`` over longs (the
  init's bucket function), so both trainers seed from IDENTICAL rows;
- the fitted centroids / codebooks agree with the distributed form up
  to float-summation order (numpy pairwise vs partition-ordered partial
  aggregation — the same noise class as the fused-vs-sequential trainer
  parity, pinned at the same 1e-9);
- the production composition (``semdedup_trained``) produces the same
  frame either way, so flipping the bench row to ``driver_train=True``
  changes execution strategy, not results.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from concerts_etl_sa_spark.operators.kmeans import (
    _murmur3_long,
    _np_seed_indices,
    kmeans_fit,
    kmeans_init,
    train_sample,
)
from concerts_etl_sa_spark.operators.pq import PQ_K, pq_train_fused
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR


def _close(a, b, tol=1e-9):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        if isinstance(x, list):
            _close(x, y, tol)
        else:
            assert math.isclose(x, y, rel_tol=tol, abs_tol=tol), (x, y)


def test_murmur3_twin_bit_equals_engine_hash(spark):
    ids = [0, 1, -1, 2, 42, -5, 7_777_777, -123_456_789,
           2**31, -(2**31) - 7, 2**62 + 3, -(2**62), 999_999_999_999]
    got = (
        spark.createDataFrame([(i,) for i in ids], "id BIGINT")
        .select("id", F.hash("id").alias("h"))
        .collect()
    )
    engine = {r["id"]: r["h"] for r in got}
    for i in ids:
        assert _murmur3_long(i) == engine[i], i


def test_np_seed_indices_match_kmeans_init(spark):
    # gappy, non-contiguous ids so bucket spreading actually exercises
    # the hash (not the identity layout)
    rows = [
        (
            i * 37 + 11,
            [float((i * 7 + d * 3) % 5) for d in range(2)]
            + [float(i % 11), -1.0],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    for k in (3, 8, 50):  # 50 > n exercises the fewer-buckets fallback
        dist = kmeans_init(df, k)
        ids = [r[0] for r in rows]
        pos = _np_seed_indices(ids, k)
        local = [rows[p][1] for p in pos]
        assert dist == local, k


def test_driver_kmeans_parity_on_embeddings(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    # production shape: bounded sample, fixed k
    a, ia = kmeans_fit(
        emb, k=4, max_iters=3, train_sample_rows=256 * 4,
        driver_train=False,
    )
    b, ib = kmeans_fit(
        emb, k=4, max_iters=3, train_sample_rows=256 * 4, driver_train=True
    )
    assert len(a) == len(b) == 4
    _close(a, b)
    # same convergence trajectory, not just the endpoint
    assert len(ia) == len(ib)
    _close(ia, ib, tol=1e-8)


def test_driver_kmeans_parity_unbounded_small(spark):
    # below the sample cap the thinning short-circuits: both paths train
    # on the full (tiny) frame
    rows = [
        (i, [float((i * 7 + d) % 13) * 0.25 for d in range(4)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    a, _ = kmeans_fit(
        df, k=3, max_iters=6, train_sample_rows=10_000, driver_train=False
    )
    b, _ = kmeans_fit(
        df, k=3, max_iters=6, train_sample_rows=10_000, driver_train=True
    )
    _close(a, b)


def test_driver_train_sample_is_the_distributed_sample(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    ids = sorted(
        r[0]
        for r in train_sample(emb, "vec_id", 128).select("vec_id").collect()
    )
    # the driver path collects exactly this frame — pin the thinning is
    # shared, not re-derived
    ids2 = sorted(
        r[0]
        for r in train_sample(emb, "vec_id", 128).select("vec_id").collect()
    )
    assert ids == ids2 and 128 <= len(ids)


def test_driver_fused_books_parity(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    a = pq_train_fused(
        emb, k=PQ_K, max_iters=2, train_sample_rows=2048,
        driver_train=False,
    )
    b = pq_train_fused(
        emb, k=PQ_K, max_iters=2, train_sample_rows=2048, driver_train=True
    )
    assert len(a) == len(b)
    _close(a, b)


def _rounded_sorted(df):
    cols = [
        F.round(c, 9).alias(c) if isinstance(t, DoubleType) else F.col(c)
        for c, t in zip(df.columns, [f.dataType for f in df.schema.fields])
    ]
    out = df.select(*cols).collect()
    return sorted(tuple(r) for r in out)


def test_semdedup_trained_driver_equals_distributed(spark):
    from concerts_etl_sa_spark.operators.semdedup import semdedup_trained

    dist = semdedup_trained(
        spark, SF_DIR, k_centroids=8, driver_train=False
    )
    drv = semdedup_trained(spark, SF_DIR, k_centroids=8, driver_train=True)
    assert _rounded_sorted(dist) == _rounded_sorted(drv)


def test_driver_train_requires_no_nprobe_interaction(spark):
    # assign_nprobe is documented-ignored under driver_train: exact local
    # assignment must still match the exact distributed fit
    emb = load_table(spark, SF_DIR, "embeddings")
    a, _ = kmeans_fit(
        emb, k=4, max_iters=2, train_sample_rows=1024, driver_train=False
    )
    b, _ = kmeans_fit(
        emb,
        k=4,
        max_iters=2,
        train_sample_rows=1024,
        assign_nprobe=2,
        driver_train=True,
    )
    _close(a, b)


def test_driver_train_transfers_only_id_and_vec(spark, monkeypatch):
    """The driver-side fit projects to (id, vec) BEFORE the Arrow
    transfer: a wide payload column on the caller's frame must not
    cross the driver boundary."""
    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "payload", F.repeat(F.lit("x"), 4096)
    )
    cls = type(emb)
    orig = cls.toArrow
    crossed = []

    def spy(self):
        crossed.append(self.columns)
        return orig(self)

    monkeypatch.setattr(cls, "toArrow", spy)
    kmeans_fit(emb, k=4, max_iters=2, driver_train=True)
    assert crossed == [["vec_id", "embedding"]], crossed


def test_opq_dists_bit_equal_to_broadcast_form():
    """r15: opq_rotation's per-centroid distance slices must be
    BIT-EQUAL to the (n, k, sub) broadcast form they replaced — same
    per-(row, j) reduction tree, no rank-3 temporary."""
    import numpy as np

    xs = np.array(
        [[((i * 7 + j * 3) % 11) * 0.37 for j in range(8)] for i in range(257)]
    )
    k = 16
    idx = (np.arange(k) * max(len(xs) // k, 1)) % len(xs)
    c = xs[idx].copy()
    want = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
    got = np.empty((xs.shape[0], k))
    for j in range(k):
        got[:, j] = ((xs - c[j]) ** 2).sum(1)
    assert np.array_equal(want, got)


def test_driver_train_auto_dispatch_rule():
    """r16: an unforced driver_train dispatches by PROVABLE size — the
    thinning bound (< 2*target rows) or the caller's known count;
    unknown size always keeps the distributed loop."""
    from concerts_etl_sa_spark.operators.kmeans import (
        DRIVER_TRAIN_MAX_ROWS,
        _driver_train_auto,
    )

    g = DRIVER_TRAIN_MAX_ROWS
    # bounded by construction (fixed-k trainers)
    assert _driver_train_auto(256 * 8, None, 8) is True
    assert _driver_train_auto(g, None, 8) is False       # 2*target > gate
    # bounded by the caller's measured count (auto-K trainers)
    assert _driver_train_auto(None, g, 8) is True
    assert _driver_train_auto(None, g + 1, 8) is False
    # target over the gate but the corpus itself is small: min() applies
    assert _driver_train_auto(g, 1000, 8) is True
    # nothing known -> never collect blind
    assert _driver_train_auto(None, None, 8) is False
    # the WORK gate (rows*k): a big-K auto fit must stay distributed
    # even when its rows fit — the r16 scale probe measured the
    # single-threaded driver fit 2x slower at 50k rows / K=833
    assert _driver_train_auto(None, 50_000, 833) is False
    assert _driver_train_auto(None, 10_000, 166) is True


def test_auto_k_trainer_dispatches_by_measured_size(spark, monkeypatch):
    """The auto-K composition (sample = corpus) trains driver-side only
    while the measured corpus is under the gate; shrinking the gate
    below the corpus must route the SAME call through the distributed
    loop (pinned by counting _np_fit_loop invocations)."""
    import concerts_etl_sa_spark.operators.kmeans as KM
    from concerts_etl_sa_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    calls = {"np": 0}
    real = KM._np_fit_loop

    def counting(*a, **kw):
        calls["np"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(KM, "_np_fit_loop", counting)
    k = max(n // 60, 8)
    kmeans_fit(emb, k=k, max_iters=1, train_sample_rows=256 * k,
               train_sample_n=n)
    assert calls["np"] == 1  # corpus under the gate -> driver fit
    monkeypatch.setattr(KM, "DRIVER_TRAIN_MAX_ROWS", n - 1)
    kmeans_fit(emb, k=k, max_iters=1, train_sample_rows=256 * k,
               train_sample_n=n)
    assert calls["np"] == 1  # over the gate -> distributed loop
