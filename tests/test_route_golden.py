"""Exact golden pins for centroid routing.

The routing suites (test_two_level, test_three_level, test_multi_assign)
pin quality FLOORS, so a changed routing tree could still pass them.
These pins fix the exact output instead: a sha256 over the sorted
(vec_id, centroid_id) pairs the cosine dispatcher emits for the K=400
sf0.1 centroid set, at two and three levels and at one and four kept
centroids, plus the exact Lloyd centroids of the routed trainer. The
digests were recorded from the per-depth forms that ``build_index`` /
``route`` / ``_assign_routed`` replaced, so they hold the one-primitive
form to the same trees, probe widths and rankings.

The Lloyd digests cover the centroids only: the per-iteration inertia
is a float sum whose last bits follow the partition count, while the
centroids were measured identical at 2, 4 and 16 local cores.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from concerts_etl_sa_spark.operators import kmeans as KM
from concerts_etl_sa_spark.operators.similarity import _assign_routed
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR
from .test_multi_assign import _k400_setup

ROUTE_GOLDEN = {
    # (three_level_min_k, n_keep): (sha256, rows)
    (KM.THREE_LEVEL_MIN_K, 1): (
        "606b6cd6aacb5b63dc44113ddf7adb65ff92ab0d41a2b282be474ab995efef3a",
        2000,
    ),
    (KM.THREE_LEVEL_MIN_K, 4): (
        "39a2eee7f34c5c47a744d9e26a148c35ea957203c9175df86c7d07ea3bf8980a",
        8000,
    ),
    (64, 1): (
        "106b982861635db3e890d01e99a202956e5410dfef4ccfd7913a2c0bb559047f",
        2000,
    ),
    (64, 4): (
        "d96ed7233d7e90d6a57eb2e7f388f9c318d87281bc4f53e3528a0905f85b6f52",
        8000,
    ),
}

LLOYD_GOLDEN = {
    # three_level_min_k: sha256 of json.dumps(centroids)
    KM.THREE_LEVEL_MIN_K: (
        "5d830ea616858edd690307376d64ed3cd85ef43935cf2e4a7907c8f6a3a9e165"
    ),
    64: "aa02762f8ff3c95db285306a00a204f5e3c30727e7af266119275bde06ab32e0",
}


def _pairs_digest(df) -> tuple[str, int]:
    pairs = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in df.select("vec_id", "centroid_id").collect()
    )
    body = "\n".join(f"{a},{b}" for a, b in pairs)
    return hashlib.sha256(body.encode()).hexdigest(), len(pairs)


@pytest.mark.parametrize("min3, n_keep", sorted(ROUTE_GOLDEN))
def test_routed_assignment_golden(spark, monkeypatch, min3, n_keep):
    """K=400: two levels at the shipped threshold, three with
    THREE_LEVEL_MIN_K forced to 64. n_keep=1 probes 2 groups (labelqa's
    candidate leg and semdedup's ``assign_nprobe=2``); n_keep=4 takes
    the ``max(2, n_keep)`` default (labelqa's query leg)."""
    monkeypatch.setattr(KM, "THREE_LEVEL_MIN_K", min3)
    emb, cents = _k400_setup(spark)
    if n_keep == 1:
        got = _assign_routed(emb, cents, nprobe=2)
    else:
        got = _assign_routed(emb, cents, n_keep=n_keep)
    assert _pairs_digest(got) == ROUTE_GOLDEN[(min3, n_keep)]


@pytest.mark.parametrize("min3", sorted(LLOYD_GOLDEN))
def test_routed_lloyd_centroids_golden(spark, monkeypatch, min3):
    """k=64 = TWO_LEVEL_MIN_K over the sf0.001 embeddings: the
    distributed trainer routes every iteration (two levels, or three
    with the threshold forced to 64) and reuses the tier above fine in
    its second iteration."""
    monkeypatch.setattr(KM, "THREE_LEVEL_MIN_K", min3)
    emb = load_table(spark, SF_DIR, "embeddings")
    cents, _ = KM.kmeans_fit(emb, k=64, max_iters=2, assign_nprobe=2)
    digest = hashlib.sha256(json.dumps(cents).encode()).hexdigest()
    assert digest == LLOYD_GOLDEN[min3]
