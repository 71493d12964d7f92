"""The benchmark's two workloads, one per user of the engine.

``landing_etl`` is the daily ETL operator's run: landing-zone JSONL ->
``plans.pipeline.run_all_from_landing`` (source parse, consolidate,
snapshot + preview sinks). Pure JVM work, bound by job latency.

``curator`` is the training-data curator's run: the corpus path
(``plans.corpus.materialize_training_shards``: text stats, minhash
dedup, components, the Python-worker packing stage and a partitioned
shard write read back) followed by the vector-index build and query
(``operators.pq.topk_cosine_ivfpq_trained``: kmeans and PQ training by
driver-side Lloyd over Arrow, encode, probe) and the semantic dedup
(``operators.semdedup.semdedup_trained_auto(assign_nprobe=2)``:
auto-K kmeans with two-level routing, within-cluster pairs). It meets
the driver/worker boundary in the two ways ``landing_etl`` does not.

Each workload call is invoked through module attributes, so the traced
run's wrappers (``tracing.Tracer.install``) see the same calls. Every
call's output is reduced to a fingerprint right after the call (outside
the timed region) and checked against references computed once, after
the timed window.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from .inputs import Sizes
from .tracing import Target

PKG = "concerts_etl_sa_spark"


def _parquet_rows(_out, args) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{args[1]}/*.parquet")
    )


def _json_rows(_out, args) -> int:
    n = 0
    for f in glob.glob(f"{args[1]}/*.json"):
        with open(f, encoding="utf-8") as fh:
            n += sum(1 for _ in fh)
    return n


def _canon(row: tuple) -> tuple:
    """Engine-neutral row form: dates and timestamps as ISO dates (the
    consolidated snapshot carries a day), everything else as is."""
    return tuple(
        v.isoformat()[:10] if hasattr(v, "isoformat") else v for v in row
    )


class LandingEtl:
    name = "landing_etl"
    # 10k events -> ~3.7k harvested cards (~10% duplicate harvests) +
    # ~3.3k Dice nodes
    sizes = Sizes(events=10_000, documents=0, embeddings=0)
    tables = ("events",)
    landing = True
    # the cold call is ~5x a warm one and calls keep getting ~5% faster
    # for several more; the run budget allows no warm-up call beyond the
    # cold one (every call's time is in the run record)
    warmup = 0
    layers = [
        "sources.shotgun_cards",
        "sources.dice_json",
        "operators.consolidate",
        "sinks.writers",
    ]
    targets = [
        Target(f"{PKG}.sources.shotgun_cards", "load_shotgun_events",
               "sources.shotgun_cards"),
        Target(f"{PKG}.sources.dice_json", "load_dice_events",
               "sources.dice_json"),
        Target(f"{PKG}.plans.pipeline", "consolidate",
               "operators.consolidate"),
        Target(f"{PKG}.plans.pipeline", "overwrite_snapshot",
               "sinks.writers", _parquet_rows),
        Target(f"{PKG}.plans.pipeline", "export_json_preview",
               "sinks.writers", _json_rows),
    ]

    def __init__(self, spark, sf_dir: str, landing: dict, work: str):
        self.spark = spark
        self.cards = landing["cards_jsonl"]
        self.dice = landing["dice_jsonl"]
        self.out = f"{work}/etl_out"

    def call(self):
        from concerts_etl_sa_spark.plans import pipeline
        from concerts_etl_sa_spark.sources.landing_gen import AS_OF_LANDING

        return pipeline.run_all_from_landing(
            self.spark,
            self.cards,
            self.dice,
            self.out,
            as_of=AS_OF_LANDING,
            dice_lookback_days=pipeline.LANDING_LOOKBACK_DAYS,
        )

    def fingerprint(self, result) -> dict:
        result.consolidated.unpersist()
        snap = pq.read_table(f"{self.out}/consolidated")
        return {
            "rows": sorted(
                (_canon(tuple(r.values())) for r in snap.to_pylist()), key=repr
            ),
            "count": result.consolidated_count,
            "columns": snap.column_names,
        }

    def references(self) -> dict:
        """The DuckDB twin over the same landing files."""
        import duckdb

        from concerts_etl_sa_spark.operators.consolidate import (
            consolidate_oracle_sql,
        )
        from concerts_etl_sa_spark.sources.dice_json import dice_landing_sql
        from concerts_etl_sa_spark.sources.landing_gen import AS_OF_LANDING
        from concerts_etl_sa_spark.sources.shotgun_cards import (
            shotgun_landing_sql,
        )

        sql = consolidate_oracle_sql(
            as_of=AS_OF_LANDING,
            sg_sql=shotgun_landing_sql(self.cards),
            dc_sql=dice_landing_sql(self.dice),
        )
        con = duckdb.connect()
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = sorted((_canon(r) for r in cur.fetchall()), key=repr)
        finally:
            con.close()
        return {"rows": rows, "columns": cols}

    def verify(self, fp: dict, ref: dict) -> bool:
        return (
            fp["columns"] == ref["columns"]
            and fp["rows"] == ref["rows"]
            and fp["count"] == len(ref["rows"])
            and len(ref["rows"]) > 0
        )

    def recall(self, fps: list, ref: dict) -> float:
        """Share of the twin's snapshot rows the engine reproduced."""
        want = ref["rows"]
        got = set(fps[0]["rows"]) if fps else set()
        return sum(r in got for r in want) / len(want)


class Curator:
    name = "curator"
    # 1k documents (50 planted near-duplicates); 3840 embeddings, the
    # fewest for which semdedup's auto K (n // SEMDEDUP_PER_CLUSTER = 64)
    # reaches kmeans.TWO_LEVEL_MIN_K, so the two-level routing is used
    sizes = Sizes(events=0, documents=1_000, embeddings=3_840)
    tables = ("documents", "embeddings")
    landing = False
    # a call is ~3x a landing one and the cold call ~42 s: the cold call
    # is the only warm-up the run budget allows, and the window holds one
    # call
    warmup = 0
    max_tokens = 2048
    layers = [
        "plans.corpus",
        "operators.packing",
        "operators.kmeans",
        "operators.pq",
        "operators.semdedup",
    ]
    targets = [
        Target(f"{PKG}.plans.corpus", "materialize_training_shards",
               "plans.corpus"),
        Target(f"{PKG}.plans.corpus", "curate_corpus", "plans.corpus",
               lambda report, _a: report.curated.count()),
        Target(f"{PKG}.operators.packing", "pack_sequences",
               "operators.packing"),
        Target(f"{PKG}.operators.packing", "shard_stats",
               "operators.packing"),
        Target(f"{PKG}.operators.kmeans", "kmeans_fit", "operators.kmeans",
               lambda out, _a: len(out[0])),
        Target(f"{PKG}.operators.pq", "topk_cosine_ivfpq_trained",
               "operators.pq"),
        Target(f"{PKG}.operators.pq", "pq_train_fused", "operators.pq",
               lambda books, _a: sum(len(b) for b in books)),
        Target(f"{PKG}.operators.pq", "topk_cosine_ivfpq_df",
               "operators.pq"),
        Target(f"{PKG}.operators.semdedup", "semdedup_trained_auto",
               "operators.semdedup"),
    ]

    def __init__(self, spark, sf_dir: str, landing: dict, work: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.out = f"{work}/shards_out"

    def call(self):
        from concerts_etl_sa_spark.operators import pq as pq_op
        from concerts_etl_sa_spark.operators import semdedup
        from concerts_etl_sa_spark.plans import corpus

        # keep the CurationReport the shard write was built from: the
        # manifest is checked against it
        curate, reports = corpus.curate_corpus, []

        def keep_report(*args, **kwargs):
            reports.append(curate(*args, **kwargs))
            return reports[-1]

        corpus.curate_corpus = keep_report
        try:
            manifest = corpus.materialize_training_shards(
                self.spark,
                self.sf_dir,
                self.out,
                max_tokens=self.max_tokens,
                transitive_dedup=True,
                max_bucket_size=256,
            ).collect()
        finally:
            corpus.curate_corpus = curate
        topk = pq_op.topk_cosine_ivfpq_trained(self.spark, self.sf_dir).collect()
        dedup = semdedup.semdedup_trained_auto(
            self.spark, self.sf_dir, assign_nprobe=2
        ).collect()
        return reports[-1], manifest, topk, dedup

    def fingerprint(self, result) -> dict:
        report, manifest, topk, dedup = result
        shard_ids = pq.read_table(f"{self.out}/shards", columns=["doc_id"])
        ids = shard_ids.column("doc_id").to_pylist()
        return {
            "n_final": report.n_final,
            "tokens_final": report.tokens_final,
            "docs": sum(r["n_docs"] for r in manifest),
            "tokens": sum(r["total_tokens"] for r in manifest),
            "shard_docs": len(ids),
            "shard_unique": len(set(ids)),
            "topk": [
                (r["q_id"], r["c_id"], r["adc"], r["rn"]) for r in topk
            ],
            "dedup": [
                (r["vec_id"], r["centroid_id"], r["n_dup_neighbors"],
                 r["is_kept"])
                for r in dedup
            ],
        }

    def references(self) -> dict:
        from concerts_etl_sa_spark.operators.similarity import (
            topk_cosine_bruteforce,
        )

        exact: dict = {}
        for r in topk_cosine_bruteforce(self.spark, self.sf_dir).collect():
            exact.setdefault(r["q_id"], set()).add(r["c_id"])
        n_emb = pq.ParquetFile(
            f"{self.sf_dir}/embeddings.parquet"
        ).metadata.num_rows
        return {
            "exact": exact,
            "n_emb": n_emb,
        }

    def _topk_ok(self, topk: list, ref: dict) -> bool:
        from concerts_etl_sa_spark.operators.similarity import (
            N_QUERIES,
            TOP_K,
        )

        by_q: dict = {}
        for q, c, score, rn in topk:
            by_q.setdefault(q, []).append((rn, c, score))
        if sorted(by_q) != list(range(N_QUERIES)):
            return False
        for rows in by_q.values():
            rows.sort()
            ids = [c for _, c, _ in rows]
            scores = [s for _, _, s in rows]
            if (
                [rn for rn, _, _ in rows] != list(range(1, TOP_K + 1))
                or len(set(ids)) != TOP_K
                or not all(N_QUERIES <= c < ref["n_emb"] for c in ids)
                or any(a < b for a, b in zip(scores, scores[1:]))
            ):
                return False
        return True

    @staticmethod
    def _dedup_ok(dedup: list, ref: dict) -> bool:
        """One row per embedding, every vector routed to one of the auto
        K centroids, a vector with no tau-neighbour kept, and the planted
        paraphrase groups partly dropped but never wiped out."""
        from concerts_etl_sa_spark.operators.semdedup import (
            SEMDEDUP_PER_CLUSTER,
        )

        k = max(ref["n_emb"] // SEMDEDUP_PER_CLUSTER, 8)
        kept = sum(r[3] for r in dedup)
        return (
            sorted(r[0] for r in dedup) == list(range(ref["n_emb"]))
            and all(0 <= r[1] < k for r in dedup)
            and all(r[3] for r in dedup if r[2] == 0)
            and 0 < kept < len(dedup)
        )

    def verify(self, fp: dict, ref: dict) -> bool:
        return (
            fp["docs"] == fp["n_final"] > 0
            and fp["tokens"] == fp["tokens_final"]
            and fp["shard_docs"] == fp["shard_unique"] == fp["docs"]
            and self._topk_ok(fp["topk"], ref)
            and self._dedup_ok(fp["dedup"], ref)
        )

    def recall(self, fps: list, ref: dict) -> float:
        """recall@TOP_K of the IVF-PQ top-k against exact top-k, over the
        query vectors, from the first call (the index build is
        deterministic for a given input)."""
        from concerts_etl_sa_spark.operators.similarity import TOP_K

        got: dict = {}
        for q, c, _s, _rn in fps[0]["topk"]:
            got.setdefault(q, set()).add(c)
        hits = sum(len(got.get(q, set()) & want) for q, want in ref["exact"].items())
        return hits / (TOP_K * len(ref["exact"]))


WORKLOADS = {w.name: w for w in (LandingEtl, Curator)}
