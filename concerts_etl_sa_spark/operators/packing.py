"""Sequence packing: group documents into token-budgeted training shards.

The last step of a pretraining-data pipeline: curated documents are
packed into shards of at most ``max_tokens`` tokens each (the unit a
trainer streams). Greedy packing has a data-dependent reset (a new shard
starts when the running total WOULD overflow), which no window function
expresses — this is the documented escape hatch (SURVEY §7.3: composition
first, then applyInPandas): docs are hash-bucketed, each bucket packs
independently in Arrow-batched pandas, and the shard id namespaces the
bucket so shards never collide across buckets.

Scale design: the parallel unit is the bucket (``n_buckets`` ~ cluster
cores; each bucket holds ~1/n_buckets of the corpus), the per-bucket
pack is a linear scan over (doc_id, n_tokens) pairs — payload text does
NOT flow through the pandas stage; shard ids are joined back by doc_id.

Invariants (tested):
- every doc lands in exactly one shard;
- a shard's token total exceeds ``max_tokens`` only when a single doc
  alone does (oversized docs get a dedicated shard — token-level
  splitting is a tokenizer-side concern);
- deterministic: docs pack in doc_id order within their bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PACK_BUCKETS = 32

_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("shard_id", T.LongType()),
    ]
)


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    *,
    n_buckets: int = N_PACK_BUCKETS,
) -> DataFrame:
    """Adds ``shard_id`` to ``docs``, which carries ``doc_id`` and
    ``n_tokens``. Only those two columns enter the pandas stage; all
    other columns re-attach by the ``doc_id`` join."""
    import pandas as pd

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bucket_ns = int(pdf["_bucket"].iloc[0]) << 40  # bucket namespace
        shards, shard, run = [], 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if run > 0 and run + t > max_tokens:
                shard += 1
                run = 0
            run += t
            shards.append(bucket_ns | shard)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "shard_id": shards,
            }
        )

    slim = docs.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.pmod(F.hash("doc_id"), F.lit(n_buckets)).alias("_bucket"),
    )
    packed = slim.groupBy("_bucket").applyInPandas(_pack, _PACK_SCHEMA)
    return docs.join(
        packed.select("doc_id", "shard_id"),
        docs["doc_id"] == packed["doc_id"],
    ).drop(packed["doc_id"])


def shard_stats(packed: DataFrame) -> DataFrame:
    """Per-shard doc and token totals (for trainer manifest / QA)."""
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
