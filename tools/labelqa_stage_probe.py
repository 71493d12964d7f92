"""Per-stage attribution of unreg_l2_knn_label_noise_ivf (round-16
verdict #1: the interpreted-HOF scoring constant — name where the row's
time actually goes before touching anything; same standard as the
ivfpq/ngram stage probes).

Stages of the composition (operators/labelqa.py:knn_label_noise_ivf):
  sizing       count + centroid pick (modular rule)
  qry_assign   _assign_routed(n_keep=nprobe) + label join
  cand_assign  _assign_routed(nprobe=2) + label join
  scored       candidate equi-join on centroid_id + pair cosine
  end_to_end   the full row (adds _noise_from_scored: top-k window,
               vote aggregation, verdict projection)

Usage: python tools/labelqa_stage_probe.py [--runs 3]
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

    from concerts_etl_sa_spark.operators.labelqa import (
        KNN_K,
        _labeled,
        _noise_from_scored,
    )
    from concerts_etl_sa_spark.operators.semdedup import (
        SEMDEDUP_CENTROID_RESIDUE,
        _auto_stride,
    )
    from concerts_etl_sa_spark.operators.similarity import (
        _assign_routed,
        _cosine_pre,
        _norm2,
    )
    from concerts_etl_sa_spark.session import get_spark
    from concerts_etl_sa_spark.sources.readers import load_table

    spark = get_spark("labelqa_stage_probe")
    nprobe = 4

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_stages() -> dict[str, float]:
        t: dict[str, float] = {}
        t0 = time.time()
        emb = _labeled(spark, args.sf)
        n = load_table(spark, args.sf, "embeddings", spread=False).count()
        stride = _auto_stride(n, 60)
        centroids = (
            load_table(spark, args.sf, "embeddings", spread=False)
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
        t["sizing"] = time.time() - t0

        t0 = time.time()
        qry = _assign_routed(
            emb.select("vec_id", "embedding", "norm2"),
            centroids,
            n_keep=nprobe,
        ).join(emb.select("vec_id", "label"), "vec_id").select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_vec"),
            F.col("norm2").alias("a_n2"),
            F.col("label").alias("a_label"),
            "centroid_id",
        )
        _noop(qry)
        t["qry_assign"] = time.time() - t0

        t0 = time.time()
        cand = _assign_routed(
            emb.select("vec_id", "embedding", "norm2"), centroids, nprobe=2
        ).join(emb.select("vec_id", "label"), "vec_id").select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_vec"),
            F.col("norm2").alias("b_n2"),
            F.col("label").alias("b_label"),
            "centroid_id",
        )
        _noop(cand)
        t["cand_assign"] = time.time() - t0

        t0 = time.time()
        scored = (
            cand.join(qry, "centroid_id")
            .filter(F.col("a_id") != F.col("b_id"))
            .withColumn(
                "cosine", _cosine_pre("a_vec", "b_vec", "a_n2", "b_n2")
            )
            .select("a_id", "a_label", "b_id", "b_label", "cosine")
        )
        _noop(scored)
        t["scored"] = time.time() - t0

        t0 = time.time()
        _noop(
            _noise_from_scored(scored, KNN_K).sortWithinPartitions("vec_id")
        )
        t["rank_vote_from_scored"] = time.time() - t0

        spark.catalog.clearCache()
        t0 = time.time()
        from concerts_etl_sa_spark.operators.labelqa import (
            knn_label_noise_ivf,
        )

        _noop(knn_label_noise_ivf(spark, args.sf))
        t["end_to_end"] = time.time() - t0
        spark.catalog.clearCache()
        return t

    run_stages()  # warm/JIT pass, untimed
    samples: list[dict[str, float]] = [run_stages() for _ in range(args.runs)]
    out = {
        k: round(statistics.median([s[k] for s in samples]), 3)
        for k in samples[0]
    }
    out["runs"] = args.runs
    out["loadavg_start"] = load1
    print(json.dumps(out))


if __name__ == "__main__":
    main()
