"""Product-quantized ANN (operators/pq.py): encode validity, recall vs
the exact truth, trained-path determinism, plan-size flatness, and the
encode stage's shuffle-free shape. Oracle parity for the fixed-codebook
query runs in test_oracle_parity.py (in-window: l2_topk_cosine_pq)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from concerts_etl_sa_spark.operators import pq
from concerts_etl_sa_spark.operators.similarity import (
    N_QUERIES,
    topk_cosine_bruteforce,
)

from .conftest import SF_DIR


def test_pq_encode_codes_valid(spark):
    """Every vector gets exactly PQ_M codes, each a valid codebook id."""
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    enc = pq.pq_encode(emb, pq.pq_codebook_fixed(spark, SF_DIR))
    bad = enc.filter(
        (F.size("codes") != pq.PQ_M)
        | F.exists(
            "codes", lambda c: (c < 0) | (c >= pq.PQ_K) | c.isNull()
        )
    )
    assert bad.count() == 0
    assert enc.count() == emb.count()


def test_pq_encode_is_shuffle_free(spark):
    """Encode is a pure projection against one broadcast codebook row:
    no Exchange in the executed plan — at corpus scale the index build
    never moves the vectors."""
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    enc = pq.pq_encode(emb, pq.pq_codebook_fixed(spark, SF_DIR))
    enc.count()
    plan = enc._jdf.queryExecution().executedPlan().toString()
    # the one allowed exchange: the m*k-row codebook collapsing to its
    # single broadcast row (SinglePartition) — the DATA side must never
    # hash- or range-partition
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_pq_codebook_entry_exact_self_assignment(spark):
    """A codebook-source vector's subspace slice is at distance 0 from
    its own codebook entry, so it must encode to its own j in every
    subspace — pins slice offsets and the argmin tiebreak at once."""
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id").isin(pq.PQ_CODE_IDS)
    )
    enc = {
        r["vec_id"]: r["codes"]
        for r in pq.pq_encode(
            emb, pq.pq_codebook_fixed(spark, SF_DIR)
        ).collect()
    }
    for j, vid in enumerate(pq.PQ_CODE_IDS):
        assert enc[vid] == [j] * pq.PQ_M, (vid, j, enc[vid])


def test_sq8_recall_near_exact(spark):
    """SQ8 (one 8-bit code per dim, 4x compression) must sit at the
    high-recall end of the compression family: measured 0.99 recall@5
    at sf0.001 vs PQ's 0.18-0.29 at 32x — per-dim quantization noise
    (~step/2 per dim against [min,max] spans) barely perturbs a 64-dim
    cosine, which is the whole point of offering both operating
    points. Floor at measured-minus-noise; oracle parity runs in
    test_oracle_parity.py (unreg_l2_topk_cosine_sq8)."""
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
        for r in pq.topk_cosine_sq8(spark, SF_DIR)
        .select("q_id", "c_id")
        .collect()
    }
    assert len(got & truth) / len(truth) >= 0.90


def test_ivfsq8_recall_matches_plain_ivf(spark):
    """IVF+SQ8 must not lose recall to quantization: at equal nprobe
    the coarse prune is the binding constraint and SQ8's per-dim noise
    leaves within-list rankings intact (measured EQUAL at sf0.001,
    0.72 both) — the property that makes it the compressed form of
    choice over IVF+PQ (which trades recall for its 32x)."""
    from concerts_etl_sa_spark.operators.similarity import (
        topk_cosine_bruteforce,
        topk_cosine_ivf,
    )

    truth = {
        (r["q_id"], r["c_id"])
        for r in topk_cosine_bruteforce(spark, SF_DIR)
        .select("q_id", "c_id")
        .collect()
    }
    ivf = {
        (r["q_id"], r["c_id"])
        for r in topk_cosine_ivf(spark, SF_DIR)
        .select("q_id", "c_id")
        .collect()
    }
    sq = {
        (r["q_id"], r["c_id"])
        for r in pq.topk_cosine_ivfsq8(spark, SF_DIR)
        .select("q_id", "c_id")
        .collect()
    }
    r_ivf = len(ivf & truth) / len(truth)
    r_sq = len(sq & truth) / len(truth)
    assert r_sq >= r_ivf - 0.02, (r_sq, r_ivf)


def test_pq_recall_beats_random(spark):
    """Fixed-codebook recall@5 must clear a 10x-random floor (random:
    TOP_K/N ~= 0.01 at sf0.001; measured fixed ~0.18, trained ~0.29 —
    modest absolute recall is the expected price of 32x compression on
    near-tie synthetic neighbors, mirroring the sign-LSH band)."""
    rows = pq.pq_recall(spark, SF_DIR).collect()
    assert len(rows) == N_QUERIES
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.10, mean


def test_pq_trained_deterministic_and_competitive(spark):
    """The per-subspace-Lloyd's path is deterministic for a given input
    and its recall is at least in the fixed codebook's band (trained
    codebooks fit the data; fixed ones are arbitrary sample rows)."""
    a = pq.topk_cosine_pq_trained(spark, SF_DIR).collect()
    b = pq.topk_cosine_pq_trained(spark, SF_DIR).collect()
    assert a == b
    truth = {
        (r["q_id"], r["c_id"])
        for r in topk_cosine_bruteforce(spark, SF_DIR).collect()
    }
    hits = sum((r["q_id"], r["c_id"]) in truth for r in a)
    assert hits / len(truth) >= 0.10, hits / len(truth)


def test_ivfpq_scoring_is_equijoin_and_subset_sized(spark):
    """The IVF-PQ scoring join is a hash equi-join on centroid_id (the
    inverted-list prune), not the flat cross join — and each query's
    candidate pool is a strict subset of the corpus, so every returned
    (q, c) pair must also satisfy the candidate->list assignment."""
    df = pq.topk_cosine_ivfpq(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == N_QUERIES * 5
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [centroid_id" in plan, plan
    # scores are never NULL (the silent-degrade mode the size(lp)/m
    # stride guards against)
    assert all(r["adc"] is not None for r in rows)


def test_ivfpq_trained_deterministic(spark):
    a = pq.topk_cosine_ivfpq_trained(spark, SF_DIR).collect()
    b = pq.topk_cosine_ivfpq_trained(spark, SF_DIR).collect()
    assert a == b
    assert len(a) == N_QUERIES * 5
    truth = {
        (r["q_id"], r["c_id"])
        for r in topk_cosine_bruteforce(spark, SF_DIR).collect()
    }
    hits = sum((r["q_id"], r["c_id"]) in truth for r in a)
    # IVF pruning can only lose recall vs flat PQ; floor it above random
    assert hits / len(truth) >= 0.05, hits / len(truth)


def test_pq_plan_size_flat_in_codebook(spark):
    """Codebook floats travel as broadcast data, not plan literals: a
    16x larger trained codebook (k=16 -> 256 entries per subspace) must
    not grow the executed plan (same device as kmeans.route)."""
    from concerts_etl_sa_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    sizes = {}
    for k in (16, 256):
        books = [
            [
                [float((s * 31 + j * 13 + d * 7) % 97) / 97.0
                 for d in range(pq.PQ_SUB)]
                for j in range(k)
            ]
            for s in range(pq.PQ_M)
        ]
        cb = pq.pq_codebook_from_trained(spark, books)
        enc = pq.pq_encode(emb, cb)
        sizes[k] = len(
            enc._jdf.queryExecution().executedPlan().toString()
        )
        assert enc.count() == emb.count()
    assert sizes[256] < sizes[16] + 2000, sizes


def test_pq_train_fused_matches_sequential(spark):
    """The fused all-subspace trainer (one job per Lloyd iteration —
    round-10 fix for the 32-corpus-pass sequential form the new bench
    gate surfaced at 23 s) must reproduce the sequential reference
    per-subspace: same shapes, same convergence, values within 1e-9
    (the fused job sums update partials in a different partition order,
    so bit-equality is not contractual — measured 0.0 on both fixtures,
    pinned with float-aggregation headroom). Determinism is exact."""
    from concerts_etl_sa_spark.operators.pq import pq_train, pq_train_fused
    from concerts_etl_sa_spark.sources.readers import load_table

    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    seq = pq_train(emb)
    fus = pq_train_fused(emb)
    assert len(fus) == len(seq)
    for a, b in zip(seq, fus):
        assert len(a) == len(b)
        for ca, cb in zip(a, b):
            assert max(abs(x - y) for x, y in zip(ca, cb)) <= 1e-9
    assert pq_train_fused(emb) == fus


@pytest.mark.slow
def test_trained_oracle_parity_sf01(spark):
    """Bench-scale re-pin of the trained-codebook oracle (round-15):
    the oracle-form fused Lloyd's must stay bit-exact with the unrolled
    DuckDB CTE twin at sf0.1 (2000 embeddings — 4x the sf0.001 parity
    scale; 10/10 repetitions at derivation). Slow-marked: the DuckDB
    side runs three full Lloyd iterations over the 1980-candidate
    sample plus the encode/LUT tail."""
    import duckdb
    sf01 = "/root/testdata/sf0.1"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf01}/embeddings.parquet'"
    )
    srows = sorted(
        tuple(r)
        for r in pq.topk_cosine_pq_trained_oracle(spark, sf01).collect()
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(
            pq.TOPK_COSINE_PQ_TRAINED_ORACLE_SQL
        ).fetchall()
    )
    assert len(srows) == len(orows)
    assert srows == orows

