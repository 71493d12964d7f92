"""Per-stage profile of bench rows through perfbench's tracer.

Each ``--stage MODULE:ATTR`` (package-relative: the module where the
row's code looks the name up) is wrapped by ``perfbench.tracing``, so
each call is one span owning the Spark jobs it launches. Per row: one
warm-up call, then per run (rows interleaved) one untraced call under a
job group (the row's real time and jobs) and one traced call, in
alternating order, releasing cached frames after every call. Without
``--stage`` only the untraced band runs.

Prints one JSON line: per row the untraced median / min / max seconds,
jobs and stages, per stage the tracer's quantities (median over runs)
and the first traced run's spans in call order. Shuffle, spill and
driver time come from the event log the tool turns on for its session;
on a session without one, ``profile()`` reports ``"event_log": false``,
zero shuffle and spill and a null ``driver_s``.

Usage:
  python tools/stage_profile.py ROW[,ROW...] [--stage MODULE:ATTR ...]
      [--runs 3] [--sf DIR] [--scale N [--flood]]

``--sf`` defaults to scale_probe's sf0.1 base; ``--scale`` runs at its
N-fold replica of that base (``--flood``: byte-identical twins). Rows
resolve from the bench registry plus scale_probe's capped forms.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import pathlib
import shlex
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _claim_stdout, _clear_job_group, group_counts  # noqa: E402
from perfbench import tracing  # noqa: E402

PKG = "concerts_etl_sa_spark"
STAGE_QUANTITIES = ("self_s", "driver_s", "jobs", "stages", "tasks",
                    "rows_out", "shuffle_write_mb", "spill_mb")


class _Tracer(tracing.Tracer):
    """The tracer with job groups unique to one profile: the base class
    names a span's group by its index alone, so a second tracer in the
    same session would also read the first one's jobs."""

    def __init__(self, spark, prefix: str):
        super().__init__(spark, "")
        self.prefix = prefix

    def _open(self, layer: str, call: str) -> tracing.Span:
        span = super()._open(layer, call)
        span.group = f"{self.prefix}-{span.sid}"
        self.sc.setJobGroup(span.group, f"{layer}:{call}")
        return span


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def resolve(rows: list[str], stages: list[str]):
    """(row registry, tracing targets); raises ValueError naming any row
    or stage that does not resolve. Runs no Spark job."""
    import __spark_entry__
    from bench import _extra_queries
    from scale_probe import _capped_ops

    queries = {**__spark_entry__.queries(), **_extra_queries(), **_capped_ops()}
    unknown = [r for r in rows if r not in queries]
    if unknown:
        raise ValueError(f"unknown rows: {unknown}")
    targets = []
    for spec in stages:
        module, _, attr = spec.partition(":")
        try:
            mod = importlib.import_module(f"{PKG}.{module}")
        except ImportError:
            mod = None
        if not attr or not callable(getattr(mod, attr, None)):
            raise ValueError(
                f"stage {spec!r} is not a function MODULE:ATTR under {PKG}"
            )
        targets.append(tracing.Target(mod.__name__, attr, spec))
    return queries, targets


def _read_log(spark, log_dir: str, job_ids: set) -> tracing.EventLog:
    """The live session's event log once it holds every job in
    ``job_ids``. The listener writes asynchronously and may leave a
    partial last line, so complete lines are copied aside first."""
    app = spark.sparkContext.applicationId
    deadline = time.time() + 60
    with tempfile.TemporaryDirectory() as tmp:
        while True:
            for path in glob.glob(os.path.join(log_dir, f"{app}*")):
                data = pathlib.Path(path).read_bytes()
                pathlib.Path(tmp, "log").write_bytes(data[: data.rfind(b"\n") + 1])
            log = tracing.read_event_log(tmp)
            if job_ids <= log.job_span.keys():
                return log
            if time.time() > deadline:
                raise RuntimeError(f"event log in {log_dir} lacks jobs")
            time.sleep(0.2)


def profile(spark, rows: list[str], sf_dir: str, stages: list[str],
            runs: int) -> dict:
    """Profile ``rows`` at ``sf_dir``; returns the record ``main`` prints."""
    queries, targets = resolve(rows, stages)
    load1 = float(pathlib.Path("/proc/loadavg").read_text().split()[0])
    conf = spark.sparkContext.getConf()
    log_on = conf.get("spark.eventLog.enabled") == "true"
    log_dir = conf.get("spark.eventLog.dir", "").removeprefix("file://")
    prefix = f"stage_profile-{os.getpid()}-{time.time_ns()}"
    tracer = _Tracer(spark, prefix)
    it_row: dict[int, str] = {}  # traced iteration -> row

    def settle() -> None:
        tracer.release()
        spark.catalog.clearCache()

    def untraced(row: str, tag: str) -> tuple:
        group = f"{prefix}-{row}-{tag}"
        spark.sparkContext.setJobGroup(group, row)
        try:
            t0 = time.time()
            _sink(queries[row](spark, sf_dir))
            wall = time.time() - t0
        finally:
            _clear_job_group(spark)
        settle()
        return (wall, *group_counts(spark, group))

    def traced(row: str) -> None:
        it = len(it_row)
        it_row[it] = tracer.workload = row
        tracer.install(targets)
        try:
            tracer.iteration(it, lambda: _sink(queries[row](spark, sf_dir)))
        finally:
            tracer.uninstall()
        settle()

    for row in rows:
        untraced(row, "warm")
    e2e: dict[str, list] = {row: [] for row in rows}
    for run in range(runs):
        for row in rows:
            if targets and run % 2:
                traced(row)
            e2e[row].append(untraced(row, str(run)))
            if targets and not run % 2:
                traced(row)

    job_ids = {j for s in tracer.spans for j in s.jobs}
    log = _read_log(spark, log_dir, job_ids) if log_on and job_ids else None
    layers = ["workload"] + stages  # the root span: the row minus stages
    cpus = spark.sparkContext.defaultParallelism
    out = {}
    for row in rows:
        walls, jobs, n_stages = zip(*e2e[row])
        rec = {"end_to_end": {
            "median_s": round(statistics.median(walls), 3),
            "min_s": round(min(walls), 3),
            "max_s": round(max(walls), 3),
            "jobs": statistics.median(jobs),
            "stages": statistics.median(n_stages),
        }}
        spans = [s for s in tracer.spans if it_row[s.iteration] == row]
        if spans:
            no_log = tracing.EventLog({}, {}, {}, {})
            m = tracing.layer_metrics(spans, log or no_log, layers, cpus)
            rec["stages"] = {layer: {
                q: None if q == "driver_s" and not log
                else round(m[f"{layer}.{q}"], 3) for q in STAGE_QUANTITIES
            } for layer in layers}
            first = spans[0].iteration
            rec["spans"] = tracing.span_records(
                [s for s in spans if s.iteration == first]
            )
        out[row] = rec
    return {"sf": sf_dir, "runs": runs, "cpus": cpus, "loadavg_start": load1,
            "event_log": log_on, "rows": out}


def main() -> None:
    from scale_probe import BASE_SF

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rows", help="comma-separated bench rows")
    ap.add_argument("--stage", action="append", default=[],
                    metavar="MODULE:ATTR")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=BASE_SF)
    ap.add_argument("--scale", type=int)
    ap.add_argument("--flood", action="store_true")
    args = ap.parse_args()
    if args.flood and not args.scale:
        ap.error("--flood needs --scale")
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    rows = [r for r in args.rows.split(",") if r]
    resolve(rows, args.stage)  # fail on bad input before any work
    sf_dir = args.sf
    if args.scale:
        from scale_probe import build_scaled

        sf_dir = build_scaled([args.scale], args.flood)[args.scale]

    emit = _claim_stdout()
    log_dir = tempfile.mkdtemp(prefix="stage_profile_eventlog_")
    # perfbench's event-log settings: one plain JSON-lines file
    conf = {"enabled": "true", "dir": f"file://{log_dir}",
            "rolling.enabled": "false", "compress": "false"}
    submit = [a for k, v in conf.items()
              for a in ("--conf", f"spark.eventLog.{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    from concerts_etl_sa_spark.session import get_spark

    spark = get_spark("stage_profile")
    try:
        emit(json.dumps(profile(spark, rows, sf_dir, args.stage, args.runs)))
    finally:
        spark.stop()
        shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
