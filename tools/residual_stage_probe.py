"""Per-stage attribution of unreg_l2_topk_cosine_ivfpq_residual
(round-13 verdict item #7: the heaviest bench row at 9.85 s — same
standard as the ivfpq/ngram stage probes: name where the time goes,
then either fix it or document the bound).

On the isotropic bench table the gate selects the PLAIN fallback, so
the end-to-end row decomposes as (operators/pq.py:
topk_cosine_ivfpq_residual_df):

  coarse_fit   kmeans_fit(k=8, sample-bounded)  — one Lloyd run,
               SHARED by the gate probe and the fallback build
  gate_probe   residual frame on the bounded sample
               + _residual_energy + _centered_energy collects
  pq_train     pq_train_fused on the raw table (fallback codebooks)
  probe_score  topk_cosine_ivfpq_df (encode + prune + ADC + rank)

The end-to-end row is timed alongside so the stage sum can be checked
against it (shared-scan effects make the sum differ slightly). The
item's question — does the row re-run Lloyd's? — is answered
structurally here: the stage calls mirror the production function,
which fits coarse ONCE before the gate and passes the same frame to
the fallback.

Usage: python tools/residual_stage_probe.py [--runs 3]
       [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    load1 = float(open("/proc/loadavg").read().split()[0])
    if load1 > 4.0:
        print(f"WARNING loadavg {load1:.1f} — rerun idle", file=sys.stderr)

    from pyspark.sql import functions as F

    from concerts_etl_sa_spark.operators import pq as PQ
    from concerts_etl_sa_spark.operators.kmeans import (
        TRAIN_POINTS_PER_CENTROID,
        centroids_df,
        kmeans_fit,
    )
    from concerts_etl_sa_spark.operators.similarity import (
        N_QUERIES,
        _norm2,
    )
    from concerts_etl_sa_spark.session import get_spark
    from concerts_etl_sa_spark.sources.readers import load_table

    spark = get_spark("residual_stage_probe")

    def run_stages() -> dict[str, float]:
        t: dict[str, float] = {}
        emb_raw = load_table(spark, args.sf, "embeddings")
        n_total = (
            load_table(spark, args.sf, "embeddings", spread=False)
            .select("vec_id")
            .count()
        )
        n_cand = n_total - N_QUERIES
        cb_cap = TRAIN_POINTS_PER_CENTROID * PQ.PQ_K

        t0 = time.time()
        fitted, _ = kmeans_fit(
            emb_raw, k=8, max_iters=3,
            train_sample_rows=TRAIN_POINTS_PER_CENTROID * 8,
            train_sample_n=n_total,
        )
        t["coarse_fit"] = time.time() - t0

        coarse = centroids_df(spark, fitted).withColumn(
            "c_n2", _norm2("centroid_vec")
        )
        emb = emb_raw.withColumn("norm2", _norm2("embedding"))

        t0 = time.time()
        cands = emb.filter(F.col("vec_id") >= N_QUERIES)
        e_res, e_ctr = PQ._gate_energies(cands, coarse, cb_cap, n=n_cand)
        t["gate_probe"] = time.time() - t0

        t0 = time.time()
        books = PQ.pq_train_fused(
            emb_raw, k=PQ.PQ_K, max_iters=3,
            train_sample_rows=cb_cap, train_sample_n=n_total,
        )
        t["pq_train"] = time.time() - t0

        t0 = time.time()
        PQ.topk_cosine_ivfpq_df(
            emb,
            coarse,
            PQ.pq_codebook_from_trained(spark, books),
            nprobe=2,
        ).write.format("noop").mode("overwrite").save()
        t["probe_score"] = time.time() - t0
        spark.catalog.clearCache()

        t0 = time.time()
        PQ.topk_cosine_ivfpq_residual(spark, args.sf).write.format(
            "noop"
        ).mode("overwrite").save()
        t["end_to_end"] = time.time() - t0
        t["gate_ratio"] = e_res / e_ctr if e_ctr else float("inf")
        spark.catalog.clearCache()
        return t

    run_stages()  # warmup (codegen)
    spark.catalog.clearCache()
    samples: dict[str, list[float]] = {}
    for _ in range(args.runs):
        for k, v in run_stages().items():
            samples.setdefault(k, []).append(v)
    med = {k: round(statistics.median(v), 2) for k, v in samples.items()}
    med["stage_sum"] = round(
        med["coarse_fit"] + med["gate_probe"] + med["pq_train"]
        + med["probe_score"],
        2,
    )
    print(json.dumps({"loadavg_start": load1, "runs": args.runs,
                      "sf": args.sf, "t": med}))
    for k, v in med.items():
        print(f"  {k}: {v}s", file=sys.stderr)


if __name__ == "__main__":
    main()
