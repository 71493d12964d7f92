"""Sink lifecycle (SURVEY §2.A7-A12, C6) + end-to-end pipeline (§3.1)."""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import functions as F

from concerts_etl_sa_spark.plans.pipeline import run_all
from concerts_etl_sa_spark.sinks import (
    append_historized,
    export_csv,
    export_json_preview,
    overwrite_snapshot,
    union_heterogeneous,
)
from concerts_etl_sa_spark.sources.readers import load_table

from .conftest import SF_DIR


def _events(spark):
    return load_table(spark, SF_DIR, "events").limit(50)


def test_export_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "csv")
    df = _events(spark).select("event_id", "ts", "event_type")
    export_csv(df, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 50
    # timestamps stringified as ISO (B23)
    sample = back.select("ts").first()[0]
    assert "T" in sample


def test_append_historized_partitions_and_lineage(spark, tmp_path):
    path = str(tmp_path / "hist")
    df = _events(spark).withColumn("scrape_ts_utc", F.current_timestamp())
    append_historized(df, path)
    append_historized(df, path)  # second daily run appends (I2 at-least-once)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert "scrape_date" in back.columns
    # partitioned layout on disk => partition pruning on read
    assert any(p.name.startswith("scrape_date=") for p in pathlib.Path(path).iterdir())


def test_overwrite_snapshot_idempotent(spark, tmp_path):
    path = str(tmp_path / "snap")
    overwrite_snapshot(_events(spark), path)
    overwrite_snapshot(_events(spark), path)  # I5: rewrite, not append
    assert spark.read.parquet(path).count() == 50


def test_empty_input_short_circuit(spark, tmp_path):
    path = str(tmp_path / "noop")
    empty = _events(spark).filter(F.lit(False))
    export_csv(empty, path)
    overwrite_snapshot(empty, path)
    assert not pathlib.Path(path).exists()  # C6: no write happened


def test_union_heterogeneous_superset_schema(spark):
    a = spark.createDataFrame([(1, "x")], "id long, a string")
    b = spark.createDataFrame([(2, "y")], "id long, b string")
    out = union_heterogeneous(a, b)
    assert set(out.columns) == {"id", "a", "b"}
    rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows[1] == ("x", None) and rows[2] == (None, "y")  # typed nulls (A10)


def test_json_preview_limit(spark, tmp_path):
    path = str(tmp_path / "preview")
    export_json_preview(_events(spark), path, n=20)
    files = list(pathlib.Path(path).glob("*.json"))
    assert files
    lines = [json.loads(line) for f in files for line in f.read_text().splitlines()]
    assert len(lines) == 20


def test_run_all_end_to_end(spark, tmp_path):
    res = run_all(spark, SF_DIR, str(tmp_path / "run"))
    assert res.shotgun_count > 0 and res.dice_count > 0
    assert res.consolidated_count > 0
    snap = spark.read.parquet(str(tmp_path / "run" / "consolidated"))
    assert snap.count() == res.consolidated_count
    assert (tmp_path / "run" / "preview").exists()


def test_run_all_graceful_source_degradation(spark, tmp_path, monkeypatch):
    """K2: one source blowing up -> pipeline still completes with the other."""
    import concerts_etl_sa_spark.plans.pipeline as P

    def boom(events):
        raise RuntimeError("scrape failed")

    monkeypatch.setattr(P, "shotgun_events", boom)
    res = run_all(spark, SF_DIR, str(tmp_path / "run2"))
    assert res.shotgun_count == 0
    assert res.dice_count > 0
    assert res.consolidated_count > 0  # dice-only residuals flow through


def test_run_all_from_landing(spark, tmp_path):
    """§3.1 over real landing-zone files: cards JSONL + dice JSONL."""
    from .test_dice_json_source import _write_jsonl
    from .test_shotgun_cards_source import _write as write_cards

    from concerts_etl_sa_spark.plans.pipeline import run_all_from_landing

    res = run_all_from_landing(
        spark,
        write_cards(tmp_path),
        _write_jsonl(tmp_path),
        str(tmp_path / "landing_run"),
        as_of="2020-01-01",
    )
    assert res.shotgun_count == 2 and res.dice_count == 2
    assert res.consolidated_count > 0
    snap = spark.read.parquet(str(tmp_path / "landing_run" / "consolidated"))
    assert set(snap.columns) >= {"event_name", "shotgun_event_id", "dice_event_id"}


def test_run_all_from_landing_missing_side(spark, tmp_path):
    from .test_dice_json_source import _write_jsonl

    from concerts_etl_sa_spark.plans.pipeline import run_all_from_landing

    res = run_all_from_landing(
        spark,
        str(tmp_path / "no-such-cards.jsonl"),
        _write_jsonl(tmp_path),
        str(tmp_path / "landing_run2"),
        as_of="2020-01-01",
    )
    assert res.shotgun_count == 0 and res.dice_count == 2
    assert res.consolidated_count > 0


def test_save_table_resolved_create_then_append(spark, tmp_path):
    from concerts_etl_sa_spark.sinks.writers import save_table_resolved

    df = _events(spark).select("event_id", "event_type")
    name = "t_resolved_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    save_table_resolved(df, name, path=str(tmp_path / "tbl"))  # create (A12)
    assert spark.table(name).count() == 50
    save_table_resolved(df, name)                              # append (A8)
    assert spark.table(name).count() == 100
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_json_logging(spark, capsys):
    import pytest as _pytest

    from concerts_etl_sa_spark.logging_json import log_json, timed_action

    log_json("info", "hello", run="r1")
    with timed_action("count_events", sf="0.001"):
        _events(spark).count()
    with _pytest.raises(RuntimeError):
        with timed_action("boom"):
            raise RuntimeError("nope")
    err = capsys.readouterr().err
    assert '"msg": "hello"' in err
    assert '"action": "count_events"' in err and '"level": "info"' in err
    assert '"action": "boom"' in err and '"level": "error"' in err


def test_append_historized_partition_pruning(spark, tmp_path):
    """Daily reads of the historized table prune to one scrape_date
    partition (PartitionFilters in the scan, not a post-scan filter)."""
    from pyspark.sql import functions as F2

    path = str(tmp_path / "hist_prune")
    df = _events(spark).withColumn("scrape_ts_utc", F2.current_timestamp())
    append_historized(df, path)
    back = spark.read.parquet(path).filter(
        F2.col("scrape_date") == F2.current_date()
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(scrape_date" in plan or "scrape_date" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    assert back.count() == 50


def test_write_via_connections(spark, tmp_path):
    """foreachPartition sink: one connection per partition, batched sends,
    every row delivered exactly once."""
    import glob
    import os
    import uuid

    from concerts_etl_sa_spark.sinks.writers import write_via_connections

    out_dir = str(tmp_path / "conns")
    os.makedirs(out_dir)

    class FileConnection:
        def __init__(self):
            self.path = os.path.join(out_dir, f"conn-{uuid.uuid4().hex}.txt")
            self.fh = open(self.path, "w")
            self.batches = 0

        def send_batch(self, rows):
            self.batches += 1
            for r in rows:
                self.fh.write(f"{r['event_id']}\n")

        def close(self):
            self.fh.write(f"#batches={self.batches}\n")
            self.fh.close()

    df = _events(spark).select("event_id").repartition(4)
    write_via_connections(df, FileConnection, batch_size=10)

    files = glob.glob(os.path.join(out_dir, "conn-*.txt"))
    assert len(files) == 4  # one connection per partition
    ids = []
    for f in files:
        for line in open(f):
            if not line.startswith("#"):
                ids.append(int(line))
    assert sorted(ids) == sorted(
        r["event_id"] for r in _events(spark).select("event_id").collect()
    )


def test_retry_source_backoff_recovers():
    """K1: fails twice, succeeds third — exponential 1s, 2s backoff."""
    from concerts_etl_sa_spark.plans.pipeline import retry_source

    calls, sleeps = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError(f"transient {len(calls)}")
        return "landed"

    assert retry_source(flaky, sleep=sleeps.append) == "landed"
    assert len(calls) == 3
    assert sleeps == [1.0, 2.0]


def test_retry_source_exhaustion_raises():
    from concerts_etl_sa_spark.plans.pipeline import retry_source

    sleeps = []

    def always_down():
        raise RuntimeError("hard down")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="hard down"):
        retry_source(always_down, sleep=sleeps.append)
    assert sleeps == [1.0, 2.0]  # attempts-1 backoffs, capped exponential


def test_retry_backoff_caps_at_max():
    from concerts_etl_sa_spark.plans.pipeline import retry_source

    sleeps = []

    def always_down():
        raise RuntimeError("down")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        retry_source(always_down, attempts=6, sleep=sleeps.append)
    assert sleeps == [1.0, 2.0, 4.0, 8.0, 10.0]


def test_safe_source_retries_then_degrades(spark):
    """K1+K2 composition: transient failure recovers via retry; a source
    that exhausts retries degrades to an empty typed frame."""
    from concerts_etl_sa_spark.plans.pipeline import _safe_source

    attempts = []

    def transient(events):
        attempts.append(1)
        if len(attempts) < 2:
            raise RuntimeError("scrape timeout")
        return events

    ev = spark.range(3).withColumnRenamed("id", "event_id")
    out = _safe_source(spark, transient, ev, sleep=lambda _s: None)
    assert out.count() == 3 and len(attempts) == 2

    def dead(events):
        raise RuntimeError("403 forever")

    out = _safe_source(spark, dead, ev, sleep=lambda _s: None)
    assert out.count() == 0
    assert "provider" in out.columns  # NORMALIZED_EVENT schema


def test_source_failure_logs_are_json_on_stderr(spark, capsys):
    """Retry and failure logs go through log_json on stderr (stdout is
    left to the caller's result): an exception text carrying a quote
    and a newline must still give one parseable JSON record per line."""
    from concerts_etl_sa_spark.plans.pipeline import _safe_source

    text = 'provider said "no"\nsecond line'

    def dead(events):
        raise RuntimeError(text)

    _safe_source(spark, dead, None, sleep=lambda _s: None)
    out, err = capsys.readouterr()
    assert out == ""
    recs = [json.loads(line) for line in err.splitlines()]
    assert [r["level"] for r in recs] == ["warning", "warning", "error"]
    assert [(r["attempt"], r["delay_s"]) for r in recs[:2]] == [
        (1, 1.0),
        (2, 2.0),
    ]
    assert all(r["error"] == text for r in recs)
