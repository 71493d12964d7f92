"""Benchmark runner — the driver executes this per-round (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}

Each query is forced through full execution with the noop sink (measures
compute + shuffle, not driver materialization).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the rounds-1-6 headline set, named explicitly because the sum over
# EXACTLY these queries is the cross-round-comparable subtotal — never
# derive it positionally from HEADLINE (adding coverage must not shift
# the comparison window)
R6_HEADLINE = [
    # the reference's own workload
    "consolidate_flagship",
    "d8_legacy_merge",
    # relational analytics
    "e1_pricing_summary",
    "e2_revenue_by_nation",
    "f1_running_order_total",
    "g1_top_customers",
    # training-data pipeline ops
    "l1_exact_dedup",
    "l1_minhash_lsh_pairs",
    "l1_ngram_jaccard_pairs",
    "l1_simhash_near_pairs",
    "l2_topk_cosine_bruteforce",
    "l2_topk_cosine_ivf",
    "l1_decontaminate",
    "l3_text_suite",
    "l3_pii_redact",
    "l5_mixture_sample",
]

HEADLINE = R6_HEADLINE + [
    # round-7 additions (FIVE): duplicate_spans + tfidf + semdedup
    # rotated into the driver window, repetition_stats + unigram_xent
    # pytest-only (resolved via _extra_queries) — all ratchet under the
    # bench gate
    "l1_duplicate_spans",
    "l3_tfidf_top_terms",
    "unreg_l3_repetition_stats",
    "unreg_l3_unigram_xent",
    "l2_semdedup",
    # round-8 addition: the kmeans-TRAINED SemDeDup path (the production
    # index build — Lloyd's iterations + assignment + pair stage), at the
    # same K as the fixed-centroid in-window row so the two rows isolate
    # the training cost
    "l2_semdedup_trained",
    # round-9 addition: rotated into the driver window (rotation #4) —
    # exact-percentile thresholds + broadcast binning join
    "l3_quality_deciles",
    # round-9 addition: product-quantized ANN (rotation #5) — encode +
    # broadcast ADC lookup scoring; same query/candidate split as the
    # brute-force row so the pair isolates the quantization win
    "l2_topk_cosine_pq",
    # round-9 addition: the IVF+PQ composition (equi-join inverted-list
    # prune over PQ codes) — pytest-parity only, benched for the ratchet
    "unreg_l2_topk_cosine_ivfpq",
    # round-9 addition: auto-K SemDeDup (K = max(N//60, 8) from count(*))
    # — the scale-correct form; alongside l2_semdedup (fixed K=32) the
    # pair isolates what the K lever costs at bench scale
    "l2_semdedup_auto",
    # round-10 additions (verdict #4): the TRAINED production
    # compositions were pytest-pinned but unbenched — a trainer or
    # encoder regression was invisible to bench-audit. All three resolve
    # via _extra_queries (no driver-window slot).
    "unreg_l2_semdedup_trained_auto",
    "unreg_l2_topk_cosine_pq_trained",
    "unreg_l2_topk_cosine_ivfpq_trained",
    # round-10 rotation #7: the real-codec media row joins the gate like
    # every prior rotated-in query (PGM parse + raster stats inside one
    # mapInPandas stage — the documented PythonEval exception)
    "l4_media_features_pgm",
    # round-10: the trained-IVF build (auto-K + two-level lever) joins
    # the ratchet alongside the other trained compositions — at bench
    # scale K=33 self-selects flat, so the row pins the trainer + build
    "unreg_l2_topk_cosine_ivf_trained_auto",
    # round-10: bigram-LM cross-entropy (the n-gram generalization of
    # unigram_xent — two broadcast model tables, row-side bigram build)
    "unreg_l3_bigram_xent",
    # round-11 rotation #8: the iterative plan family joins the gate
    # with its window slot (pointer-doubled connected components over
    # simhash near-pairs + cluster representatives)
    "l1_dedup_clusters",
    # round-11: the n=3 xent family member (trigram + bigram-context
    # broadcast tables, row-side composed-zip_with trigram build)
    "unreg_l3_trigram_xent",
    # round-11: kNN label-noise detection over embeddings.label — the
    # auto-K IVF-pruned PRODUCTION form ratchets; the exact N^2 form is
    # the documented non-scale oracle (pytest parity at sf0.001 only)
    "unreg_l2_knn_label_noise_ivf",
    # round-11: typed JSON extraction over events.props
    "unreg_e10_props_json_stats",
    # round-12: energy-gated residual IVF-PQ (full FAISS IVFADC with a
    # measured fallback). On this fixture the gate selects the plain
    # build, so the row pins the GATE pipeline cost (coarse fit +
    # residual energy probe + plain composition) next to the
    # ivfpq_trained row it must stay close to
    "unreg_l2_topk_cosine_ivfpq_residual",
    # round-12: SQ8 scalar quantization — one-shot 4x-compression index
    # (recall 0.99 vs PQ's 0.18-0.29 at sf0.001), DuckDB-oracled
    "unreg_l2_topk_cosine_sq8",
    # round-12: IVF lists + SQ8 codes — the pruned composition; recall
    # EQUALS plain IVF at equal nprobe (0.72 at sf0.001: quantization
    # noise costs nothing within probed lists), also DuckDB-oracled
    "unreg_l2_topk_cosine_ivfsq8",
    # round-13: OPQ — PQ behind a trained orthogonal rotation (FAISS
    # OPQMatrix; driver-side bounded-sample Procrustes loop + the
    # fused distributed trainer on the rotated frame). Completes the
    # quantization family; no-harm + recall floors pytest-pinned
    "unreg_l2_topk_cosine_opq_trained",
    # round-14 (verdict #6): the real production LIFECYCLE entry —
    # landing-zone files (harvested card dump JSONL + dice GraphQL
    # JSONL, derived from events.parquet by sources/landing_gen.py) ->
    # scan -> A6 dedup -> full parse cascade -> consolidate -> snapshot
    # parquet + JSON preview + per-source counts. The one path a
    # production user actually runs end-to-end; was pytest-only
    # through r13. Landing files are generated once per process in
    # main(), BEFORE the timed loop — the timed work is the lifecycle.
    "unreg_pipeline_landing",
    # round-16 (verdict #8): the last operator families with no timed
    # row join the gate — sequence packing (the documented
    # applyInPandas escape hatch: hash-bucketed greedy pack over slim
    # (id, n_tokens) rows), the stratified split projection, and the
    # data-card rollup (single-plan shape verified in r15, unmeasured
    # until now). Additions only; all three resolve via _extra_queries.
    "unreg_l5_pack_sequences",
    "unreg_l5_stratified_split",
    "unreg_l5_corpus_datacard",
    # round-13 (verdict #3): the END-TO-END curation composition —
    # annotate scan + rules + exact-dedup window + capped minhash
    # near-dup + connected-components closure + report aggregation,
    # i.e. what a production curation run actually executes (the
    # per-stage rows above each pin one operator; this row pins the
    # composition, including the report's eager count jobs)
    "unreg_l5_curate_corpus",
]


def _extra_queries():
    """Benched operators that hold no driver-window slot (pytest-parity
    only) — resolved straight from their modules."""
    from concerts_etl_sa_spark.operators import analytics as A
    from concerts_etl_sa_spark.operators import dedup as D
    from concerts_etl_sa_spark.operators import labelqa as LQ
    from concerts_etl_sa_spark.operators import semdedup as SEM
    from concerts_etl_sa_spark.operators import textstats as TS

    def _semdedup_trained(spark, sf_dir):
        # fixed-k production form; execution strategy (driver-side vs
        # distributed Lloyd) is the OPERATOR's size dispatch now
        # (kmeans.DRIVER_TRAIN_MAX_ROWS — r15 verdict #3), not a bench
        # flag
        return SEM.semdedup_trained(spark, sf_dir, k_centroids=32)

    def _semdedup_trained_auto(spark, sf_dir):
        return SEM.semdedup_trained_auto(spark, sf_dir, assign_nprobe=2)

    from concerts_etl_sa_spark.operators import pq as PQ
    from concerts_etl_sa_spark.operators import sampling as SP
    from concerts_etl_sa_spark.operators import similarity as S

    return {
        "unreg_l2_topk_cosine_ivfpq": PQ.topk_cosine_ivfpq,
        # round-15 rotation #13: ivf rotated out of the driver window
        # (slot ceded to l2_knn_label_noise); benched under its
        # historical name so the ratchet history stays one series
        "l2_topk_cosine_ivf": S.topk_cosine_ivf,
        # rotated out of the driver window in round 9 (rotation #6:
        # fixed-K -> auto-K); benched under the historical name so the
        # ratchet history stays one series
        "l2_semdedup": SEM.semdedup,
        "unreg_l3_repetition_stats": TS.repetition_stats,
        # in-window since round 8 as l3_unigram_xent; benched under the
        # historical name so the ratchet history stays one series
        "unreg_l3_unigram_xent": TS.unigram_xent,
        # rotated out of the driver window (r7: exact_dedup -> semdedup,
        # r8: pii_redact -> unigram_xent); both stay benched under their
        # historical names for the ratchet
        "l1_exact_dedup": D.exact_dedup,
        "l3_pii_redact": TS.pii_redact,
        "l2_semdedup_trained": _semdedup_trained,
        # round-10: trained production compositions under the ratchet
        # (auto-K sizing + Lloyd's training + two-level assignment for
        # semdedup; per-subspace-Lloyd's codebooks for PQ; trained
        # coarse + trained codebooks for IVF+PQ). assign_nprobe=2 is the
        # explicit production opt-in (the public default stays exact —
        # round-10 advisory)
        "unreg_l2_semdedup_trained_auto": _semdedup_trained_auto,
        "unreg_l2_topk_cosine_pq_trained": PQ.topk_cosine_pq_trained,
        "unreg_l2_topk_cosine_ivfpq_trained": PQ.topk_cosine_ivfpq_trained,
        "unreg_l2_topk_cosine_ivfpq_residual": PQ.topk_cosine_ivfpq_residual,
        "unreg_l2_topk_cosine_sq8": PQ.topk_cosine_sq8,
        "unreg_l2_topk_cosine_ivfsq8": PQ.topk_cosine_ivfsq8,
        "unreg_l2_topk_cosine_ivf_trained_auto": _ivf_trained_auto,
        "unreg_l3_bigram_xent": TS.bigram_xent,
        "unreg_l3_trigram_xent": TS.trigram_xent,
        "unreg_l2_knn_label_noise_ivf": LQ.knn_label_noise_ivf,
        "unreg_e10_props_json_stats": A.props_json_stats,
        "unreg_l5_curate_corpus": _curate_corpus_bench,
        "unreg_l2_topk_cosine_opq_trained": PQ.topk_cosine_opq_trained,
        "unreg_pipeline_landing": _pipeline_landing_bench,
        "unreg_l5_pack_sequences": _pack_sequences_bench,
        "unreg_l5_stratified_split": SP.stratified_split,
        "unreg_l5_corpus_datacard": _corpus_datacard_bench,
    }


def _pack_sequences_bench(spark, sf_dir):
    # same shape as tools/scale_probe.py's pack row: slim (id, count)
    # rows through the bucketed greedy pack; text never enters the
    # pandas stage
    from pyspark.sql import functions as F

    from concerts_etl_sa_spark.operators.packing import pack_sequences
    from concerts_etl_sa_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return pack_sequences(docs, max_tokens=2048)


def _corpus_datacard_bench(spark, sf_dir):
    from concerts_etl_sa_spark.plans.corpus import corpus_datacard

    return corpus_datacard(spark, sf_dir)


_LANDING_CACHE: dict[str, tuple[str, str, str]] = {}

# fixture dates are pinned (2030, landing_gen's +6y shift), so the
# bench passes a wide dice lookback: the run's shape must not depend
# on the wall clock (with the production 90-day default the generated
# dice side would silently empty out after 2030-04 — review finding)
LANDING_LOOKBACK_DAYS = 36500


def _ensure_landing(spark, sf_dir):
    """Generate (once per process per sf_dir) the landing JSONL files —
    called from main() BEFORE the timed loop so generation never lands
    inside a timed window (with runs=1 the single sample would
    otherwise include the whole JSONL write — review finding)."""
    import tempfile

    from concerts_etl_sa_spark.sources.landing_gen import generate_landing

    if sf_dir not in _LANDING_CACHE:
        base = tempfile.mkdtemp(prefix="bench_landing_")
        cards, dice = generate_landing(spark, sf_dir, base)
        _LANDING_CACHE[sf_dir] = (cards, dice, base)
    return _LANDING_CACHE[sf_dir]


def _pipeline_landing_bench(spark, sf_dir):
    """§3.1 lifecycle over generated landing files (run_all_from_landing:
    JSONL scans + dedup + parse cascade + consolidate + snapshot +
    preview + counts — all eager inside the call, so the timed window
    covers the whole lifecycle; the returned consolidated frame is
    cached and its noop write replays the cache)."""
    from concerts_etl_sa_spark.plans.pipeline import run_all_from_landing
    from concerts_etl_sa_spark.sources.landing_gen import AS_OF_LANDING

    cards, dice, base = _ensure_landing(spark, sf_dir)
    res = run_all_from_landing(
        spark, cards, dice, f"{base}/out", as_of=AS_OF_LANDING,
        dice_lookback_days=LANDING_LOOKBACK_DAYS,
    )
    return res.consolidated


# ---------------------------------------------------------------------------
# Canary normalization (round-14 verdict #1). The absolute-seconds gate
# stopped measuring code in round 13: identical binaries swung ±30-100%
# with host-neighbor contention, guest loadavg does not proxy host
# state, and adjudicating each advisory took a multi-sitting forensic
# ledger (BASELINE.md). Per the repo's own measurement protocol, only
# interleaved A/B on one host is comparable — so the bench now BRACKETS
# every timed run with a fixed CONSTANT-WORK canary and reports, per
# row, the min over runs of run_seconds ÷ bracketing-canary mean
# ("queries_norm", see _norm_mark). tools/bench_audit.py gates on the
# normalized series; the absolute series stays in the JSON for history.
#
# Canary design: CPU-throughput-bound with zero I/O and zero data
# dependence — a depth-8 chained xxhash64 over range(100M), 32
# partitions (matching local[32]), one tiny partial-agg shuffle. Sized
# so per-task work (~3.1M rows × 8 hashes) dominates scheduler
# overhead: measured 0.50 s at 20M/40M/80M the stage-launch floor
# (~0.18 s) still dominated; at 100M×8 the time scales linearly with
# rows (1.0 s at 200M, 1.8 s at 400M), i.e. it actually measures the
# host's deliverable CPU. The hash is bounded (% 1000003) before the
# sum because the session runs ANSI mode (raw xxhash64 sums overflow).
CANARY_N = 100_000_000
CANARY_DEPTH = 8
CANARY_PARTS = 32


def _canary_df(spark):
    from pyspark.sql import functions as F

    c = F.col("id")
    for i in range(CANARY_DEPTH):
        c = F.xxhash64(c, F.lit(i))
    return spark.range(0, CANARY_N, 1, CANARY_PARTS).select(
        F.sum((c % 1000003).cast("double")).alias("h")
    )


def _time_noop(make_df) -> float:
    """Time thunk -> DataFrame -> noop sink. The thunk is invoked INSIDE
    the window: many operators do eager driver-side work in the builder
    itself (trainer collects, fixpoint iterations, count jobs, the whole
    landing lifecycle) — timing a pre-built frame would clock only the
    final action and report e.g. curate_corpus at 0.04 s (measured
    mistake, this round)."""
    t0 = time.time()
    make_df().write.format("noop").mode("overwrite").save()
    return time.time() - t0


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, stages) launched under Spark job group ``group``, counted
    from ``statusTracker()`` as perfbench's tracer counts a span: a
    stage counts only if it ran at least one task (a skipped stage, one
    whose shuffle output a reused exchange supplied, ran none)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage and stage.numCompletedTasks + stage.numFailedTasks:
                stages += 1
    return len(jobs), stages


def _clear_job_group(spark) -> None:
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _norm_mark(tsamples: list[float], csamples: list[float]) -> float | None:
    """The normalized gate mark for one row: MIN over runs of
    run_seconds ÷ mean(bracketing canary seconds). csamples has
    len(tsamples)+1 entries — a canary runs before every timed run and
    once after the last, so each run is BRACKETED and a contention
    burst overlapping either edge shows up in the divisor. Min-of-runs
    (not median): the gate wants the cleanest observed run — a burst
    landing entirely inside one run's window is invisible to its
    brackets, but a burst can't hit all runs of a row while sparing
    the brackets, whereas a real plan regression slows every run.
    Measured (registration sittings, this round): median-of-runs
    normalization still drifted up to 1.45x on identical code for
    5-9 s rows; min-of-bracketed-runs is the stable series."""
    if len(csamples) != len(tsamples) + 1 or not tsamples:
        return None
    marks = []
    for i, t in enumerate(tsamples):
        bracket = (csamples[i] + csamples[i + 1]) / 2.0
        if bracket <= 0:
            return None
        marks.append(t / bracket)
    return round(min(marks), 4)


def _curate_corpus_bench(spark, sf_dir):
    # production composition: skew-capped near-dup buckets (star mode)
    # + transitive closure, per the curate_corpus docstring's own
    # star->transitive pairing; no decontam/semdedup/budget so the row
    # stays attributable to the core dedup pipeline
    from concerts_etl_sa_spark.plans.corpus import curate_corpus

    return curate_corpus(
        spark, sf_dir, transitive_dedup=True, max_bucket_size=256
    ).curated


def _ivf_trained_auto(spark, sf_dir):
    from concerts_etl_sa_spark.operators import similarity as S
    from concerts_etl_sa_spark.sources.readers import load_table

    n = load_table(spark, sf_dir, "embeddings", spread=False).count()
    return S.topk_cosine_ivf_trained(
        spark,
        sf_dir,
        k_centroids=max(n // 60, 8),
        assign_nprobe=2,
        train_sample_n=n,
    )


def _claim_stdout():
    """Reserve the process's real stdout for the ONE result line.

    The driver contract is a SINGLE JSON line on stdout; round 14's
    driver-side parse failure (BENCH_r14.json ``parsed: null`` at
    rc 0) showed that anything else the process emits on fd 1 — the
    JVM and Ivy write banners there, and a stray ``print`` would too —
    can break it. Duplicate the real stdout fd for ourselves, then
    point fd 1 at stderr: every later write to stdout (Python or JVM —
    the gateway inherits the redirected fd) lands on stderr, and the
    returned ``emit`` writes the result line to the saved fd. Call
    BEFORE the SparkSession starts."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)

    def emit(line: str) -> None:
        os.write(saved, (line + "\n").encode())

    return emit


def main() -> None:
    emit = _claim_stdout()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # contention sentinel: concurrent load inflates sub-second queries
    # 2-5x (BASELINE.md variance band). Record it so an anomalous result
    # is attributable without rerunning.
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
        if load1 > 4.0:
            print(
                f"bench WARNING: 1-min loadavg {load1:.1f} at start — "
                "timings will be inflated by CPU contention; rerun idle",
                file=sys.stderr,
            )
    except Exception:
        load1 = None

    from concerts_etl_sa_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = {**entrymod.queries(), **_extra_queries()}

    # warmup: run every headline query once at the smallest sf — the
    # generated code is identical across sf (same schemas/plans), so this
    # JIT-compiles each stage before timing. Steady-state throughput is
    # what a long-running cluster job sees; first-run codegen (~9s on the
    # flagship) is a fixed per-process cost, not per-query work.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
    _canary_df(spark).write.format("noop").mode("overwrite").save()  # JIT
    _ensure_landing(spark, sf_dir)  # generation outside every timed window

    # p50 of N runs per query: single-shot timings swing with GC/codegen
    # noise, making round-over-round regressions unattributable. The
    # total (the driver metric) is the sum of per-query medians.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    canary_med: dict[str, float] = {}
    norm_marks: dict[str, float] = {}
    canary_all: list[float] = []
    row_jobs: dict[str, int] = {}
    row_stages: dict[str, int] = {}
    spark.catalog.clearCache()  # drop warmup-era cached indexes
    for name in HEADLINE:
        fn = qs[name]
        samples = []
        # every run is bracketed by constant-work probes sharing its
        # contention window, so mark ÷ bracket cancels host speed (the
        # interleaved-A/B protocol applied to the gate itself —
        # round-14 verdict #1). The LEADING canary runs right after the
        # previous row's clearCache(), so it is always a clean-cache
        # probe: reusing the previous row's trailing canary (the r14
        # protocol) let a heavy row's resident caches/GC pressure
        # inflate the next row's leading bracket and deflate its mark
        # in the regression-masking direction — and the min-ratchet
        # would then tighten baselines off one lucky dirty bracket
        # (round-14 advisory). Costs one extra ~0.5 s probe per row.
        # The intra-row brackets (between runs / trailing) keep the r14
        # protocol — clearing mid-row would break cross-run cache reuse
        # and shift the whole registered absolute+normalized history.
        csamples = [_time_noop(lambda: _canary_df(spark))]
        for i in range(runs):
            # the first timed sample runs under the row's own job group,
            # so the JSON can say how many jobs and stages the row runs
            if i == 0:
                spark.sparkContext.setJobGroup(f"bench-{name}", name)
            samples.append(_time_noop(lambda: fn(spark, sf_dir)))
            if i == 0:
                _clear_job_group(spark)
                row_jobs[name], row_stages[name] = group_counts(
                    spark, f"bench-{name}"
                )
            csamples.append(_time_noop(lambda: _canary_df(spark)))
        timings[name] = round(statistics.median(samples), 3)
        canary_med[name] = round(statistics.median(csamples), 3)
        nm = _norm_mark(samples, csamples)
        if nm is not None:
            norm_marks[name] = nm
        canary_all.extend(csamples)
        # index-building queries (minhash/simhash) cache per invocation;
        # without an unpersist the heap accumulates every run's indexes
        # and later queries pay the GC bill
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # rounds 1-6 benched the R6_HEADLINE set; round 7 added five. The
    # cross-round-comparable number is the sum over the original set —
    # emitted alongside so a total that "grew" by adding coverage is
    # never misread as a regression (per-query history is the real gate,
    # tools/bench_audit.py).
    r6_set = R6_HEADLINE
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "comparable_r6_subtotal": round(
            sum(timings[q] for q in r6_set if q in timings), 3
        ),
        "runs_per_query": runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # canary-normalized series (round-14): the gated numbers —
        # per row, min over runs of run_seconds / bracketing-canary
        # mean (see _norm_mark). canary_median is the whole-sitting
        # host-speed stamp (compare to canary_ref in
        # tools/norm_baseline.json); canary_per_query are the per-row
        # canary medians, kept for attribution.
        "canary_median": round(statistics.median(canary_all), 3),
        "canary_per_query": canary_med,
        "queries_norm": norm_marks,
        # per row, the Spark jobs and the stages that ran a task in its
        # first timed sample: a row that grew points at the work it added
        "queries_jobs": row_jobs,
        "queries_stages": row_stages,
        "canary_n": CANARY_N,
        # the sitting's core count (r16): normalized marks are NOT
        # comparable across core counts (the canary slows ~2.8x at c8
        # while latency-bound rows barely move), so the audit filters
        # its history by this field — the driver's own low-core
        # sitting (BENCH_r15_c8.json) had silently ratcheted the
        # 32-core normalized baselines down
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    if load1 is not None:
        result["loadavg_start"] = load1
    emit(json.dumps(result))

    # advisory regression check against the best prior round, to stderr:
    # every bench run (incl. the driver's) gets the audit for free, while
    # stdout stays the single-JSON-line driver contract and the exit code
    # stays 0 (the hard gate is `python tools/bench_audit.py <json>`).
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from bench_audit import audit

        regressions, _lines = audit(result)
        for r in regressions:
            print(f"bench-audit ADVISORY regression: {r}", file=sys.stderr)
        if not regressions:
            print("bench-audit: pass (vs best prior round)", file=sys.stderr)
    except Exception as exc:  # never fail the driver run over the audit
        print(f"bench-audit skipped: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
