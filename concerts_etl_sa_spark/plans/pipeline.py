"""End-to-end ETL lifecycle (SURVEY §3.1 — cli.run_all analog).

Mirrors the reference orchestration (concerts_etl/cli.py:20-55):

1. extract both providers — each wrapped in per-source graceful
   degradation (K2, cli.py:22-35): a failing source yields an EMPTY
   frame with the right schema and the pipeline continues
2. consolidate (D1-D4)
3. overwrite snapshot sink (A9/I5) + 20-row JSON preview (A11/G2)
4. per-source counts (E3, cli.py:27,35)

The reference's sources are live scrape/GraphQL; the engine's are
deterministic fixture projections of the driver's events table — the
lifecycle (extract -> transform -> load -> debug artifacts) is the
operator under test, not the network I/O.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..logging_json import log_json
from ..operators.consolidate import consolidate
from ..operators.fixtures import AS_OF, dice_events, shotgun_events
from ..schemas import NORMALIZED_EVENT
from ..sinks.writers import export_json_preview, overwrite_snapshot
from ..sources.readers import load_table


@dataclass
class RunResult:
    shotgun_count: int
    dice_count: int
    consolidated_count: int
    consolidated: DataFrame

RETRY_ATTEMPTS = 3
RETRY_BASE_S = 1.0
RETRY_MAX_S = 10.0


def retry_source(fn, *args, attempts: int = RETRY_ATTEMPTS,
                 base_delay: float = RETRY_BASE_S,
                 max_delay: float = RETRY_MAX_S, sleep=time.sleep):
    """K1: source-level retry with exponential backoff (reference
    adapters/shotgun.py:116, adapters/dice.py:160 — tenacity,
    3 attempts, 1-10 s exponential). Driver-side loop around the
    landing-zone load; the LAST failure propagates so K2 degradation
    above it can decide what an exhausted source means."""
    delay = base_delay
    for attempt in range(1, attempts + 1):
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 — retry is the operator
            if attempt == attempts:
                raise
            log_json(
                "warning", "source attempt failed, retrying",
                attempt=attempt, delay_s=delay, error=str(exc)[:500],
            )
            sleep(delay)
            delay = min(delay * 2, max_delay)


def _safe_source(spark: SparkSession, fn, events: DataFrame,
                 sleep=time.sleep) -> DataFrame:
    """K1+K2: retry w/ backoff, then failure -> log + empty typed frame
    (cli.py:22-35)."""
    try:
        return retry_source(fn, events, sleep=sleep)
    except Exception as exc:  # noqa: BLE001 — per-source isolation is the op
        log_json("error", "source failed", error=str(exc)[:500])
        return spark.createDataFrame([], NORMALIZED_EVENT)


def run_all(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    as_of: str = AS_OF,
) -> RunResult:
    """Full extract -> consolidate -> load run; returns counts + result."""
    events = load_table(spark, sf_dir, "events")
    sg = _safe_source(spark, shotgun_events, events)
    dc = _safe_source(spark, dice_events, events)

    # cache: the match lineage is consumed by snapshot + preview + count
    # — without it the full consolidation re-executes per action. The
    # consolidated snapshot is dimension-sized, so caching is safe at any
    # input scale; callers can unpersist via RunResult.consolidated.
    consolidated = consolidate(sg, dc, as_of=as_of).cache()

    overwrite_snapshot(consolidated, f"{out_dir}/consolidated")
    export_json_preview(consolidated, f"{out_dir}/preview")

    return RunResult(
        shotgun_count=sg.count(),
        dice_count=dc.count(),
        consolidated_count=consolidated.count(),
        consolidated=consolidated,
    )


def run_all_from_landing(
    spark: SparkSession,
    shotgun_cards_path: str,
    dice_jsonl_path: str,
    out_dir: str,
    as_of: str = AS_OF,
    dice_lookback_days: int = 90,
) -> RunResult:
    """§3.1 lifecycle over REAL landing-zone inputs: harvested shotgun
    card dumps + landed Dice GraphQL JSONL (sources.shotgun_cards /
    sources.dice_json), then the same consolidate -> load tail as
    ``run_all``. Per-source degradation applies: a missing/corrupt
    landing path degrades to an empty side, the other continues.
    ``dice_lookback_days`` passes through to the dice source's bounded
    lookback (A2 — the reference's 90-day default); fixture-driven
    callers whose landed dates are pinned (deterministic bench/test
    files) pass a wide window so the run's shape does not depend on
    the wall clock."""
    from ..sources.dice_json import load_dice_events
    from ..sources.shotgun_cards import load_shotgun_events

    def _sg(_):
        return load_shotgun_events(spark, shotgun_cards_path)

    def _dc(_):
        return load_dice_events(
            spark, dice_jsonl_path, lookback_days=dice_lookback_days
        )

    sg = _safe_source(spark, _sg, None)
    dc = _safe_source(spark, _dc, None)

    consolidated = consolidate(sg, dc, as_of=as_of).cache()
    overwrite_snapshot(consolidated, f"{out_dir}/consolidated")
    export_json_preview(consolidated, f"{out_dir}/preview")

    return RunResult(
        shotgun_count=sg.count(),
        dice_count=dc.count(),
        consolidated_count=consolidated.count(),
        consolidated=consolidated,
    )


# --------------------------- driver-window form (round-15 rotation #12)

# Per-process scratch path for the Spark side's landing files. The
# ORACLE no longer reads them (final round-15 form: the twin re-derives
# the landing sources from the events view in pure SQL — see
# pipeline_landing_sql), so the path carries no cross-process contract;
# the pid suffix just keeps concurrent processes (a pytest parity run
# beside a verify run) from overwriting each other's generations.
# Bench uses its own tempdir.
import os as _os

LANDING_WINDOW_DIR = f"/tmp/spark_graft_landing_window_{_os.getpid()}"

# fixture dates are pinned (2030, landing_gen's +6y shift) — pass a
# wide dice lookback so the run's shape never depends on the wall clock
LANDING_LOOKBACK_DAYS = 36500


def pipeline_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 lifecycle under the driver correctness gate (rotation #12):
    derive deterministic landing files from events.parquet
    (sources/landing_gen.py, zero RNG), then the lifecycle's QUERY path
    — JSONL scans with pinned schemas, A6 content-hash dedup, C5
    nameless skip, 3-stage datetime cascade, B17/B19/B6/B7/C4 parses,
    consolidate — returning the consolidated frame. The DuckDB twin
    (:data:`PIPELINE_LANDING_SQL`) re-derives the landing relations
    from the events view in pure SQL (lockstep-pinned bit-exact vs the
    generated files) and recomputes dedup→parse→consolidate end-to-end
    — a fully independent recomputation of what the engine read from
    disk.

    Deliberately NOT :func:`run_all_from_landing`: the oracle only ever
    verifies the returned frame, and the sink tail (snapshot + preview
    + counts, plus the output cache feeding them) pushed the row's peak
    past a 1g plain-session heap at sf0.1 — the sinks/degradation stay
    covered by tests/test_landing_gen.py and the
    `unreg_pipeline_landing` bench row, which both run the full entry.

    Reference anchor: concerts_etl/cli.py:20-41 (run_all — the active
    production path; this row proves its extract→consolidate spine)."""
    from ..operators.consolidate import consolidate
    from ..sources.dice_json import load_dice_events
    from ..sources.landing_gen import AS_OF_LANDING, generate_landing
    from ..sources.shotgun_cards import load_shotgun_events

    cards, dice = generate_landing(spark, sf_dir, LANDING_WINDOW_DIR)
    sg = load_shotgun_events(spark, cards)
    dc = load_dice_events(spark, dice, lookback_days=LANDING_LOOKBACK_DAYS)
    return consolidate(sg, dc, as_of=AS_OF_LANDING)


def pipeline_landing_sql() -> str:
    """The window oracle is SELF-CONTAINED (round-15 final form): the
    landing-source relations are re-derived from the ``events`` view in
    pure SQL (``landing_gen.*_src_sql`` — bit-exact vs the generated
    JSONL, pinned by the lockstep test in tests/test_landing_gen.py)
    and fed through the same parse twins the file-reading forms use.
    No read of the Spark-side files: no cross-process ordering
    assumption about the driver's harness, no concurrency coupling —
    and STRICTER, because a generator bug now mismatches the oracle
    instead of being read back identically by both engines."""
    from ..operators.consolidate import consolidate_oracle_sql
    from ..sources.dice_json import dice_landing_parse_sql
    from ..sources.landing_gen import (
        AS_OF_LANDING,
        dice_nodes_src_sql,
        shotgun_cards_src_sql,
    )
    from ..sources.shotgun_cards import shotgun_landing_parse_sql

    return consolidate_oracle_sql(
        as_of=AS_OF_LANDING,
        sg_sql=shotgun_landing_parse_sql(shotgun_cards_src_sql()),
        dc_sql=dice_landing_parse_sql(dice_nodes_src_sql()),
    )


PIPELINE_LANDING_SQL = pipeline_landing_sql()
