#!/usr/bin/env python3
"""Benchmark entry point: one workload per process, one result line.

    python3 perfbench/run.py --workload landing_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. A run generates its inputs from
``--seed`` under ``perfbench/_work/`` (removed at exit), starts the
engine's session (``session.get_spark``), makes one cold workload call,
the workload's fixed warm-up calls, then calls it back to back for
``--seconds`` seconds. Outputs are checked after the timed window.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run: after the same cold and warm-up calls it alternates
a traced and an untraced call for ``--seconds`` and reports per-layer
metrics plus the tracing overhead. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the run record (seed, input sizes, host stamps, every call's time,
spans). ``--smoke`` runs every workload in both forms at a tiny scale
and validates each result against ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "2g"
SMOKE_SEED = 7


def _claim_stdout():
    """Keep the real stdout for the result lines: duplicate fd 1, then
    point fd 1 at stderr, so banners the JVM writes there and stray
    prints from the engine land on stderr. Call before the JVM starts."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)

    def emit(line: str) -> None:
        os.write(saved, (line + "\n").encode())

    return emit


def _loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _spark_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory; only the traced run writes an event log."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        # one plain JSON-lines file, readable without a codec
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    # a capped driver heap: under the engine's 8g default the heap's
    # ergonomic growth moved peak RSS by ~20% from run to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # (-XX:-UsePerfData: no hsperfdata file under the system /tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--driver-java-options", java_opts]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """One benchmark process: setup, calls, checks, metrics."""

    def __init__(self, wl_cls, seed: int, seconds: float, trace: bool,
                 work: str, sizes=None):
        self.wl_cls = wl_cls
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.sizes = sizes or wl_cls.sizes
        self.calls: list[dict] = []
        self.fps: list = []
        self.record: dict = {}

    def _call(self, wl, kind: str, tracer=None, it: int = 0) -> None:
        """One timed workload call (traced when ``tracer`` is given);
        its output is fingerprinted after the clock stops."""
        t0 = time.perf_counter()
        try:
            out = tracer.iteration(it, wl.call) if tracer else wl.call()
            elapsed = time.perf_counter() - t0
            self.fps.append(wl.fingerprint(out))
            self.calls.append({"kind": kind, "s": elapsed, "ok": None,
                               "fp": len(self.fps) - 1})
        except Exception:  # noqa: BLE001 - a failed call is a reported result
            traceback.print_exc()
            self.calls.append({"kind": kind, "s": time.perf_counter() - t0,
                               "ok": False})
        finally:
            if tracer:
                tracer.release()

    def run(self) -> dict:
        from concerts_etl_sa_spark import session
        from concerts_etl_sa_spark.operators.similarity import DIM
        from perfbench import inputs, procs, tracing

        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        rec = self.record
        rec.update(
            workload=self.wl_cls.name, seed=self.seed, trace=int(self.trace),
            seconds=self.seconds, nproc=os.cpu_count(),
            spark_graft_cpus=os.environ["SPARK_GRAFT_CPUS"],
            loadavg_start=_loadavg(), pyspark=__import__("pyspark").__version__,
            warmup=self.wl_cls.warmup,
        )
        # ---------------------------------------------------------- setup
        # only the tables the workload reads, generated once
        t0 = time.perf_counter()
        sf_dir = f"{self.work}/input"
        rows = inputs.write_tables(sf_dir, self.seed, self.sizes, DIM,
                                   self.wl_cls.tables)
        landing = None
        if self.wl_cls.landing:
            landing = inputs.write_landing(sf_dir, f"{sf_dir}/landing", cpus)
            rows["cards_jsonl"] = landing["cards_jsonl_rows"]
            rows["dice_jsonl"] = landing["dice_jsonl_rows"]
        gen_s = time.perf_counter() - t0
        rec["input_rows"] = rows
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t0
        setup_s = procs.since_process_start()
        rec["setup"] = {"gen_s": gen_s, "session_s": session_s, "setup_s": setup_s}

        wl = self.wl_cls(spark, sf_dir, landing, self.work)
        tracer = tracing.Tracer(spark, wl.name) if self.trace else None
        try:
            # --------------------------------------------- timed calls
            self._call(wl, "cold")
            for _ in range(wl.warmup):
                self._call(wl, "warmup")
            t_win = time.perf_counter()
            it = 0
            while True:
                if tracer:
                    tracer.install(wl.targets)
                    try:
                        self._call(wl, "traced", tracer, it)
                    finally:
                        tracer.uninstall()
                self._call(wl, "window" if not tracer else "untraced")
                it += 1
                if time.perf_counter() - t_win >= self.seconds:
                    break
            peaks = procs.tree_peak_rss(os.getpid())
            rec["peak_rss_mb_by_pid"] = {
                pid: round(b / (1 << 20), 1) for pid, b in peaks.items()
            }
            # ------------------------------------- checks (untimed)
            t0 = time.perf_counter()
            ref = wl.references()
            for c in self.calls:
                if c["ok"] is None:
                    c["ok"] = bool(wl.verify(self.fps[c.pop("fp")], ref))
            recall = wl.recall(self.fps, ref) if self.fps else 0.0
            rec["checks_s"] = time.perf_counter() - t0
        finally:
            _stop_spark(spark)
        rec["leftover_pids"] = procs.reap_children()
        rec["loadavg_end"] = _loadavg()
        rec["calls"] = [{"kind": c["kind"], "s": round(c["s"], 4), "ok": c["ok"]}
                        for c in self.calls]

        attempted = len(self.calls)
        failed = sum(not c["ok"] for c in self.calls)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed}
        if not tracer:
            window = [c["s"] for c in self.calls if c["kind"] == "window" and c["ok"]]
            result["metrics"] = {
                "wall_s": {"value": statistics.median(window) if window else 0.0, "unit": "s"},
                "cold_s": {"value": self.calls[0]["s"], "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": sum(peaks.values()) / (1 << 20), "unit": "MB"},
                "ok_frac": {"value": (attempted - failed) / attempted, "unit": "frac"},
                "recall": {"value": recall, "unit": "frac"},
            }
            return result
        log = tracing.read_event_log(f"{self.work}/eventlog")
        per_layer = tracing.layer_metrics(tracer.spans, log, _all_layers(), cpus)
        traced = [c["s"] for c in self.calls if c["kind"] == "traced"]
        plain = [c["s"] for c in self.calls if c["kind"] == "untraced"]
        t_med, u_med = statistics.median(traced), statistics.median(plain)
        per_layer["session.start_s"] = session_s
        per_layer["trace.traced_wall_s"] = t_med
        per_layer["trace.untraced_wall_s"] = u_med
        per_layer["trace.overhead"] = t_med / u_med - 1
        rec["spans"] = tracing.span_records(tracer.spans)
        result["metrics"] = {
            name: {"value": per_layer[name], "unit": unit}
            for name, unit in _per_layer_units().items()
        }
        return result


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _per_layer_units() -> dict:
    return {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}


def _all_layers() -> list[str]:
    from perfbench.workloads import WORKLOADS

    return [layer for w in WORKLOADS.values() for layer in w.layers]


def validate_result(result: dict, trace: bool, spec: dict) -> list[str]:
    """Problems with a result line against BENCHMARK.json (empty if none)."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append("attempted must be a whole number >= 1")
    if not isinstance(result.get("failed"), int):
        problems.append("failed must be a whole number")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        problems.append(
            f"metric names differ: missing {sorted({m['name'] for m in want} - set(got))}"
            f", extra {sorted(set(got) - {m['name'] for m in want})}"
        )
    for m in want:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {v.get('unit')} != {m['unit']}")
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{m['name']}: value is not a number")
        elif not trace and v["value"] == 0:
            problems.append(f"{m['name']}: end-to-end metric reads 0")
    return problems


def smoke() -> int:
    """Every workload, untraced and traced, at a tiny scale, each in its
    own process; exit 0 only if every result validates and is correct."""
    from perfbench.workloads import WORKLOADS

    spec = _bench_spec()
    bad = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", name, "--seed", str(SMOKE_SEED),
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            problems = [f"exit code {proc.returncode}"] if proc.returncode else []
            if lines:
                result = json.loads(lines[-1])
                problems += validate_result(result, bool(trace), spec)
                if not result.get("correct"):
                    problems.append("outputs failed their checks")
            else:
                problems.append("no result line")
            bad += bool(problems)
            print(json.dumps({"workload": name, "trace": trace,
                              "problems": problems}), file=sys.stderr)
    return 1 if bad else 0


TINY = {"events": 1_000, "documents": 500, "embeddings": 500}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload, traced and untraced, tiny")
    ap.add_argument("--tiny", action="store_true",
                    help="testdata sf0.001-sized inputs (smoke scale)")
    args = ap.parse_args(argv)

    emit = _claim_stdout()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import concerts_etl_sa_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()

    from perfbench.inputs import Sizes
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _spark_env(work, bool(args.trace))
        runner = Runner(WORKLOADS[args.workload], args.seed, args.seconds,
                        bool(args.trace), work,
                        Sizes(**TINY) if args.tiny else None)
        result = runner.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    emit(json.dumps({"record": runner.record}))
    emit(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
