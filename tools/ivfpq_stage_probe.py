"""Per-stage attribution of unreg_l2_topk_cosine_ivfpq_trained
(round-10 verdict #4: the slowest gated row at 9.8 s — same standard as
the round-10 ngram stage probe: name where the time goes, then either
fix it or document the bound).

Stages of the composition (operators/pq.py:topk_cosine_ivfpq_trained):
  size_count   the unspread row count    — sizes both thinning strides
  coarse_fit   _coarse_fit(k=8)          — Lloyd coarse centroids
  pq_train     pq_train_fused            — codebooks (driver-side or
                                           1 init + max_iters fused jobs)
  probe_score  topk_cosine_ivfpq_df      — encode + inverted-list prune
                                           + broadcast-ADC scoring + rank
Both trainers get the production sample bounds (256 points per
centroid, ``train_sample_n`` from the size count), so the stages time
the program the end-to-end row runs. The end-to-end row is timed
alongside so the stage sum can be checked against it (shared-scan
effects make the sum slightly exceed the whole).

Usage: python tools/ivfpq_stage_probe.py [--runs 3] [--sf /root/testdata/sf0.1]
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

    from concerts_etl_sa_spark.operators.kmeans import TRAIN_POINTS_PER_CENTROID
    from concerts_etl_sa_spark.operators.pq import (
        PQ_K,
        _coarse_fit,
        _table_rows,
        pq_codebook_from_trained,
        pq_train_fused,
        topk_cosine_ivfpq_df,
        topk_cosine_ivfpq_trained,
    )
    from concerts_etl_sa_spark.operators.similarity import _emb_normed
    from concerts_etl_sa_spark.session import get_spark
    from concerts_etl_sa_spark.sources.readers import load_table

    spark = get_spark("ivfpq_stage_probe")

    def run_stages() -> dict[str, float]:
        t: dict[str, float] = {}
        emb = load_table(spark, args.sf, "embeddings")
        t0 = time.time()
        n_total = _table_rows(spark, args.sf)
        t["size_count"] = time.time() - t0
        t0 = time.time()
        coarse = _coarse_fit(emb, 8, 3, n_total)
        t["coarse_fit"] = time.time() - t0
        t0 = time.time()
        books = pq_train_fused(
            emb, max_iters=3,
            train_sample_rows=TRAIN_POINTS_PER_CENTROID * PQ_K,
            train_sample_n=n_total,
        )
        t["pq_train"] = time.time() - t0
        t0 = time.time()
        topk_cosine_ivfpq_df(
            _emb_normed(spark, args.sf),
            coarse,
            pq_codebook_from_trained(spark, books),
            nprobe=2,
        ).write.format("noop").mode("overwrite").save()
        t["probe_score"] = time.time() - t0
        spark.catalog.clearCache()
        t0 = time.time()
        topk_cosine_ivfpq_trained(spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
        t["end_to_end"] = time.time() - t0
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
        med["size_count"] + med["coarse_fit"] + med["pq_train"]
        + med["probe_score"],
        2,
    )
    print(json.dumps({"loadavg_start": load1, "runs": args.runs,
                      "sf": args.sf, "t": med}))
    for k, v in med.items():
        print(f"  {k}: {v}s", file=sys.stderr)


if __name__ == "__main__":
    main()
