"""Exact golden pins for the PQ and OPQ trainers.

The trainer suites (test_pq, test_pq_opq, test_driver_lloyd) pin
parity at 1e-9 and recall floors, so a trainer that drifted in its last
bits — a different seed row order, distance kernel or stop test — could
still pass them. These pins fix the exact output instead: a sha256 of
the ``pq_train_fused`` books on the driver-side and distributed
branches, the oracle-form books, the OPQ rotation and the
``topk_cosine_ivfpq_trained`` rows, all at sf0.001. The digests were
recorded from the trainers' earlier standalone form (their own driver
Lloyd loop, Arrow collect, distance kernel and two-step seed pick), so
they hold the shared k-means core to the same books bit for bit.

The books' last bits follow the input's partition layout: Lloyd means
sum rows in collect order (driver) or partials in partition order
(distributed), and ``load_table`` spreads a small scan round-robin over
one partition per core. So the books are pinned at the 2- and
4-partition layouts, built by ``repartition(n)`` on the unspread scan —
the layouts the spread scan has at 2 and 4 cores, reproduced in any
session. The oracle books, the rotation and the ranked rows were
measured identical at 2 and 4 cores.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import pq as PQ
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR

BOOKS_GOLDEN = {
    # (partitions, driver_train): sha256 of json.dumps(books)
    (2, True): (
        "ea2f1b2042436e30d9f05d3ce7b6810656be77ecc23d19d862316e850fd810aa"
    ),
    (2, False): (
        "312a16164f59fc3f9e2f769b090ec4e13aab03c403a7ed77cc04609340ee557f"
    ),
    (4, True): (
        "3d45ce3729f7bbeb820a0296f2a52a1bffa8e409c39e55e710ec10262d9f8102"
    ),
    (4, False): (
        "4c2e14b39701010b85fbef5e1246257a5bd5c89c7f99a150a744a6aadf1f4993"
    ),
}
ORACLE_GOLDEN = (
    "f9aea99951a5d324e20716e75c486fbbedce4ac3ff4a7ec24bf0ff29b62583da"
)
OPQ_GOLDEN = (
    "e5a9e1f19162053a9190c7dc04b88dae4b1a1949f8ba239a8500f6aa9463acbb"
)
IVFPQ_TRAINED_GOLDEN = (
    "230c6df8f017ddb4017b3cc311f61c93828f36d8a6b522a959d4e52bd6079e23",
    100,
)


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


@pytest.mark.parametrize("parts, driver", sorted(BOOKS_GOLDEN))
def test_fused_books_golden(spark, parts, driver):
    """The production call shape (``topk_cosine_pq_trained``): k=16,
    three iterations, the 256-points-per-centroid bound and the known
    row count; the sf0.001 corpus sits under the bound, so every row
    trains."""
    emb = load_table(spark, SF_DIR, "embeddings", spread=False).repartition(
        parts
    )
    books = PQ.pq_train_fused(
        emb,
        max_iters=3,
        train_sample_rows=256 * PQ.PQ_K,
        train_sample_n=500,
        driver_train=driver,
    )
    assert _digest(books) == BOOKS_GOLDEN[(parts, driver)]


def test_oracle_books_golden(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = PQ.pq_train_books_oracle(
        emb.filter(F.col("vec_id") >= PQ.N_QUERIES)
    )
    assert _digest(books) == ORACLE_GOLDEN


def test_opq_rotation_golden(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.select(
        "vec_id", "embedding", PQ._nrm(emb, "embedding").alias("_nrm")
    )
    assert _digest(PQ.opq_rotation(base, 256 * PQ.PQ_K, 500)) == OPQ_GOLDEN


def test_ivfpq_trained_rows_golden(spark):
    rows = sorted(
        tuple(r) for r in PQ.topk_cosine_ivfpq_trained(spark, SF_DIR).collect()
    )
    got = (_digest([list(r) for r in rows]), len(rows))
    assert got == IVFPQ_TRAINED_GOLDEN


def test_distributed_seed_pick_is_one_aggregation(spark, monkeypatch):
    """The distributed fused loop seeds through ``kmeans_init``'s single
    ``min_by`` aggregation: 3 jobs up to the first iteration, one of
    which materializes the persisted training frame. The two-step pick
    it replaced (aggregate, broadcast join, global orderBy) launched 7
    on this input."""

    class _Stop(Exception):
        pass

    def _stop(*_a, **_k):
        raise _Stop

    monkeypatch.setattr(PQ, "_fused_stats", _stop)
    emb = load_table(spark, SF_DIR, "embeddings", spread=False)
    sc = spark.sparkContext
    sc.setJobGroup("pq_seed_pick", "pq_seed_pick")
    try:
        with pytest.raises(_Stop):
            PQ.pq_train_fused(emb, driver_train=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pq_seed_pick")
    assert len(jobs) == 3, len(jobs)
