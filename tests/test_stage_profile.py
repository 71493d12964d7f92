"""``tools/stage_profile.py``: one profiler over perfbench's tracer times
the named stages of any bench row. Pins that a traced row splits into
spans that own their jobs, that tracing changes no result and leaves no
wrapper behind, and that a stage name that does not resolve fails
before Spark runs anything."""

from __future__ import annotations

import pathlib
import sys

import pytest

from concerts_etl_sa_spark.operators import pq

from .conftest import SF_DIR

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

import stage_profile as SP  # noqa: E402

ROW = "unreg_l2_topk_cosine_ivfpq_trained"
STAGES = [
    "operators.pq:_table_rows",
    "operators.pq:_coarse_fit",
    "operators.pq:pq_train_fused",
    "operators.pq:topk_cosine_ivfpq_df",
]


def test_profile_splits_ivfpq_row_into_stage_spans(spark, monkeypatch):
    originals = {s: getattr(pq, s.split(":")[1]) for s in STAGES}
    outputs = []  # sorted rows of the warm-up, untraced and traced calls
    monkeypatch.setattr(
        SP, "_sink", lambda df: outputs.append(sorted(df.collect()))
    )
    rec = SP.profile(spark, [ROW], SF_DIR, STAGES, runs=1)

    row = rec["rows"][ROW]
    assert row["end_to_end"]["jobs"] >= 1
    for stage in STAGES:
        spans = [s for s in row["spans"] if s["layer"] == stage]
        assert spans and all(s["jobs"] >= 1 for s in spans), stage
        assert row["stages"][stage]["jobs"] >= 1, stage
    # the test session writes no event log: nothing is guessed
    assert rec["event_log"] is False
    for q in row["stages"].values():
        assert q["shuffle_write_mb"] == q["spill_mb"] == 0
        assert q["driver_s"] is None

    assert len(outputs) == 3 and outputs[0]
    assert outputs[2] == outputs[1] == outputs[0]
    for stage, fn in originals.items():
        assert getattr(pq, stage.split(":")[1]) is fn, stage


def _last_job(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "stage",
    ["operators.pq:no_such_stage", "operators.nope:pq_train_fused",
     "operators.pq"],
)
def test_unknown_stage_raises_before_any_job(spark, stage):
    before = _last_job(spark, f"before-{stage}")
    with pytest.raises(ValueError, match=stage):
        SP.profile(spark, [ROW], SF_DIR, [stage], runs=1)
    after = _last_job(spark, f"after-{stage}")
    assert after[0] == before[-1] + 1
