"""Seeded input generator for the benchmark workloads.

Every table has the schema and value distributions of the engine's
``events`` / ``documents`` / ``embeddings`` testdata tables, but is
drawn here from ``numpy.random.default_rng(seed)``, so a run needs
nothing outside its checkout and a second seed gives a workload of the
same shape with different rows:

- events: ``ts`` spread over 2024-01-01..2024-01-30, 1500 users, five
  event types, exponential ``value`` (mean 50), ``{"k": n}`` props.
  ``event_id`` is a seeded bijection of the row index and ``user_id`` a
  seeded bijection of the user index, so every residue class the landing
  generator slices on (``event_id % 3`` and so on) keeps its exact size.
- documents: 10-100 words over a 30-word vocabulary, the testdata
  language mix, 20 sources. 5% are near-duplicates (another document
  plus `` dup``) and 0.3% exact copies, the testdata duplicate density.
- embeddings: ``similarity.DIM``-dim unit vectors in paraphrase groups
  of 6-12 (a random group direction plus per-vector noise, pairwise
  cosine ~0.5-0.9 inside a group, ~0 across), rows shuffled, ten
  uninformative labels. The testdata's vectors are pure noise, where a
  query's exact top-k is an accident and IVF-PQ recall@k is ~0.15 and
  seed-dominated; groups give every query real neighbours to find.
  ``vec_id < similarity.N_QUERIES`` are the query vectors.

The landing-zone JSONL of the ETL workload is written by DuckDB from
``sources.landing_gen``'s SQL derivations (pinned row-for-row to
``generate_landing``'s Spark form), one part file per core, so inputs
exist before the SparkSession starts and no JVM warm-up hides in them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 1500
N_SOURCES = 20
N_LABELS = 10
DAYS = 30
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
GROUP_MIN, GROUP_MAX = 6, 12
NOISE_MIN, NOISE_MAX = 0.3, 0.9
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.003
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Sizes:
    events: int
    documents: int
    embeddings: int


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, DAYS * 86_400_000_000, n)) + _T0_US
    user_perm = rng.permutation(N_USERS)
    return pa.table(
        {
            "event_id": pa.array(rng.permutation(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                user_perm[rng.integers(0, N_USERS, n)], pa.int64()
            ),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
                pa.string(),
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, n), 2), pa.float64()
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                pa.string(),
            ),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    copies = rng.permutation(n)[: int(n * (NEAR_DUP_FRAC + EXACT_DUP_FRAC))]
    n_near = int(n * NEAR_DUP_FRAC)
    originals = np.setdiff1d(np.arange(n), copies)
    for i, doc in enumerate(copies):
        src = texts[originals[rng.integers(0, len(originals))]]
        texts[doc] = src + " dup" if i < n_near else src
    doc_id = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
                pa.string(),
            ),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in doc_id], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    sizes = rng.integers(GROUP_MIN, GROUP_MAX + 1, n // GROUP_MIN + 1)
    group = np.repeat(np.arange(len(sizes)), sizes)[:n]
    centers = rng.standard_normal((len(sizes), dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((n, dim)) / np.sqrt(dim)
    x = centers[group] + rng.uniform(NOISE_MIN, NOISE_MAX, (n, 1)) * noise
    x = x[rng.permutation(n)]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.ravel(), pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
        }
    )


TABLES = ("events", "documents", "embeddings")


def write_tables(
    out_dir: str, seed: int, sizes: Sizes, dim: int, names=TABLES
) -> dict:
    """Write the named tables of ``TABLES`` as ``<name>.parquet`` under
    ``out_dir`` (the ``sf_dir`` layout ``sources.readers.load_table``
    reads) and return each one's row count. One generator per table,
    seeded from ``seed`` and the table's place in ``TABLES``, so a table's
    rows do not depend on its size or on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    make = {
        "events": lambda r: events_table(r, sizes.events),
        "documents": lambda r: documents_table(r, sizes.documents),
        "embeddings": lambda r: embeddings_table(r, sizes.embeddings, dim),
    }
    rows = {}
    for name in names:
        table = make[name](np.random.default_rng([seed, TABLES.index(name)]))
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows


def write_landing(sf_dir: str, out_dir: str, n_parts: int) -> dict:
    """Landing-zone JSONL (harvested cards + Dice GraphQL nodes) derived
    from ``{sf_dir}/events.parquet``; returns paths and row counts."""
    import duckdb

    from concerts_etl_sa_spark.sources.landing_gen import (
        dice_nodes_src_sql,
        shotgun_cards_src_sql,
    )

    out = {}
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        )
        for name, sql in (
            ("cards_jsonl", shotgun_cards_src_sql()),
            ("dice_jsonl", dice_nodes_src_sql()),
        ):
            path = f"{out_dir}/{name}"
            os.makedirs(path, exist_ok=True)
            con.execute(
                f"CREATE TABLE {name} AS SELECT *, "
                f"(row_number() OVER ()) % {n_parts} AS _part FROM ({sql})"
            )
            for p in range(n_parts):
                con.execute(
                    f"COPY (SELECT * EXCLUDE (_part) FROM {name} "
                    f"WHERE _part = {p}) TO '{path}/part-{p:05d}.json' "
                    "(FORMAT JSON)"
                )
            out[name] = path
            out[name + "_rows"] = con.execute(
                f"SELECT count(*) FROM {name}"
            ).fetchone()[0]
    finally:
        con.close()
    return out
