"""The benchmark's own tests: result schema, input generator, span math.

    python3 -m pytest perfbench -q
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench -q   # + Spark smoke run
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, run, tracing
from perfbench.workloads import WORKLOADS

SPEC = run._bench_spec()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_shape():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end",
        "per_layer",
    }
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert len(json.dumps(SPEC)) < 64 * 1024


def test_spec_names_every_layer_quantity():
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    want = {
        f"{layer}.{q}"
        for w in WORKLOADS.values()
        for layer in w.layers
        for q in tracing.QUANTITIES
    }
    want |= {"session.start_s", "trace.traced_wall_s",
             "trace.untraced_wall_s", "trace.overhead"}
    assert per_layer == want
    for w in WORKLOADS.values():
        assert {t.layer for t in w.targets} == set(w.layers)


def _result(trace: bool) -> dict:
    want = SPEC["per_layer" if trace else "end_to_end"]
    return {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in want},
    }


@pytest.mark.parametrize("trace", [False, True])
def test_validate_result_accepts_complete_result(trace):
    assert run.validate_result(_result(trace), trace, SPEC) == []


def test_validate_result_flags_problems():
    r = _result(False)
    r["extra"] = 1
    r["metrics"]["wall_s"]["unit"] = "ms"
    r["metrics"]["cold_s"]["value"] = 0
    del r["metrics"]["recall"]
    problems = " ".join(run.validate_result(r, False, SPEC))
    for part in ("keys", "wall_s: unit", "cold_s: end-to-end metric reads 0",
                 "missing ['recall']"):
        assert part in problems


def _tables(tmp_path, seed, sizes):
    d = tmp_path / f"s{seed}"
    rows = inputs.write_tables(str(d), seed, sizes, 64)
    return rows, {n: pq.read_table(d / f"{n}.parquet") for n in rows}


SIZES = inputs.Sizes(events=3_000, documents=400, embeddings=300)


def test_same_seed_same_inputs(tmp_path):
    _, a = _tables(tmp_path / "a", 5, SIZES)
    _, b = _tables(tmp_path / "b", 5, SIZES)
    for name in a:
        assert a[name].equals(b[name])


def test_other_seed_same_shape(tmp_path):
    rows_a, a = _tables(tmp_path, 5, SIZES)
    rows_b, b = _tables(tmp_path, 6, SIZES)
    assert rows_a == rows_b == {
        "events": 3_000, "documents": 400, "embeddings": 300
    }
    for name in a:
        assert a[name].schema.equals(b[name].schema)
        assert not a[name].equals(b[name])
    # event ids are a bijection of the row index: every residue class
    # the landing generator slices on keeps its exact size
    for t in (a, b):
        ids = np.sort(t["events"]["event_id"].to_numpy())
        assert (ids == np.arange(3_000)).all()
    docs = a["documents"].to_pandas()
    assert docs.text.str.endswith(" dup").sum() == int(400 * inputs.NEAR_DUP_FRAC)
    assert (docs.n_chars == docs.text.str.len()).all()
    emb = np.stack(a["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
    assert emb.shape == (300, 64)
    assert np.allclose(np.linalg.norm(emb, axis=1), 1, atol=1e-5)


def test_only_named_tables_are_written(tmp_path):
    _, every = _tables(tmp_path / "all", 5, SIZES)
    rows = inputs.write_tables(str(tmp_path / "one"), 5, SIZES, 64,
                               ("embeddings",))
    assert rows == {"embeddings": 300}
    assert os.listdir(tmp_path / "one") == ["embeddings.parquet"]
    one = pq.read_table(tmp_path / "one" / "embeddings.parquet")
    assert one.equals(every["embeddings"])


def test_landing_files_follow_the_events(tmp_path):
    pytest.importorskip("duckdb")
    d = str(tmp_path)
    inputs.write_tables(d, 3, SIZES, 64)
    out = inputs.write_landing(d, f"{d}/landing", 2)
    assert out["dice_jsonl_rows"] == 1_000  # event_id % 3 == 1
    assert out["cards_jsonl_rows"] > 1_000  # + ~10% duplicate harvests
    assert len(os.listdir(out["cards_jsonl"])) == 2


def test_subtract_and_covered():
    assert tracing.subtract((0, 10), [(2, 3), (5, 12), (2.5, 4)]) == [
        (0, 2), (4, 5)
    ]
    assert tracing.subtract((0, 10), []) == [(0, 10)]
    assert tracing.covered([(0, 2), (4, 5)], [(1, 4.5)]) == pytest.approx(1.5)


def _span(sid, layer, parent, start, end, it=0, jobs=(), rows=0):
    s = tracing.Span(sid, layer, "f", parent, it, start, end)
    s.group, s.jobs, s.rows_out = f"g{sid}", list(jobs), rows
    s.stages = s.tasks = len(jobs)
    return s


def test_layer_metrics_self_driver_and_util():
    spans = [
        _span(0, "workload", None, 0, 10),
        _span(1, "a", 0, 1, 9, jobs=[1], rows=7),
        _span(2, "b", 1, 2, 4, jobs=[2], rows=3),
        _span(3, "b", 1, 5, 6),
    ]
    log = tracing.EventLog(
        job_span={1: (6, 8), 2: (2, 4)},
        group_run_ms={"g1": 4000, "g2": 2000},
        group_shuffle={"g1": 2 << 20},
        group_spill={},
    )
    m = tracing.layer_metrics(spans, log, ["a", "b", "c"], cores=2)
    assert m["a.self_s"] == pytest.approx(5)  # 8 s minus children 2 + 1
    assert m["a.driver_s"] == pytest.approx(3)  # job 1 covers 6..8
    assert m["a.core_util"] == pytest.approx(4 / (5 * 2))
    assert m["a.shuffle_write_mb"] == pytest.approx(2)
    assert m["b.self_s"] == pytest.approx(3)
    assert m["b.driver_s"] == pytest.approx(1)
    assert m["b.rows_out"] == 3 and m["b.jobs"] == 1
    assert all(m[f"c.{q}"] == 0 for q in tracing.QUANTITIES)


def test_bare_directory_fails_without_result(tmp_path):
    """Run with only BENCHMARK.json and perfbench/ present: no package,
    so the run must exit non-zero and print nothing on stdout."""
    import shutil

    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "landing_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"),
                    reason="set PERFBENCH_SMOKE=1 to run Spark")
def test_smoke_every_workload_traced_and_untraced():
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--smoke"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=1800,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
