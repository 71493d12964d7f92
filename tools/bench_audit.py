"""Bench-regression gate — the wall-time twin of tools/plan_audit.py.

Round 14 (verdict #1): the gate is CANARY-NORMALIZED. Two rounds of
history showed the absolute-seconds series measuring the HOST, not the
code — identical binaries swung ±30-100% with host-neighbor contention
(r13: loadavg 9.19 stamped in the driver JSON, four same-code sittings
with DISJOINT advisory sets, a contained row running faster than its
container), and each advisory cost a multi-sitting forensic ledger to
adjudicate. Per the repo's measurement protocol only interleaved A/B on
one host is comparable, so bench.py now BRACKETS every timed run with a
constant-work canary and emits ``queries_norm`` — per row, the MIN over
runs of run_seconds ÷ bracketing-canary mean (bench._norm_mark). Host
slowdowns inflate numerator and denominator together and cancel; a
burst inside one run's window is discarded by min-of-runs (it cannot
hit every run of a row while sparing the brackets); a real plan
regression slows every run and moves only the numerator.

Gate semantics:
- a result carrying ``queries_norm`` is gated on the NORMALIZED series
  against the best prior normalized mark (BENCH_r*.json history that
  carries the series, plus the one-time registered bands in
  tools/norm_baseline.json). The absolute seconds stay in the report
  lines for history but do not gate.
- a result without ``queries_norm`` (pre-r14 format) falls back to the
  legacy absolute gate so old JSONs and the stderr advisory path keep
  working.

Variance model: REL_BAND stays 0.30 (the round-4 judge prescription).
The absolute noise floor (±0.35 s run-to-run on sub-second rows)
converts to normalized units by dividing by the REGISTERED idle canary
mark — on a loaded host both the jitter seconds and the canary seconds
inflate together, so the normalized floor is a host-independent
constant. The registered mark is a 32-core one; a sitting at another
core count divides by its own canary median instead (its marks are
normalized by that canary, and its canary runs ~2-7x slower).

Usage:
  python bench.py > /tmp/bench_new.json
  python tools/bench_audit.py /tmp/bench_new.json        # gate vs history
  python tools/bench_audit.py /tmp/bench_new.json --explain
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NORM_BASELINE_PATH = os.path.join(REPO, "tools", "norm_baseline.json")

# >30% above the best prior mark, outside the noise floor, fails the
# gate (REL_BAND per the round-4 judge prescription).
REL_BAND = 0.30
# absolute slack in SECONDS: queries under ~1 s routinely swing
# +-0.3 s run-to-run (l3_pii_redact 0.18<->0.34 across r3/r4 with no
# code change). Used directly by the legacy absolute gate; divided by
# the registered canary mark for the normalized gate.
ABS_FLOOR = 0.35


def _load_norm_baseline() -> dict:
    """The one-time registered normalized bands (round-14 switch):
    {"canary_ref": idle canary median sec, "queries_norm": {q: mark}}.
    Registered ONCE from interleaved idle sittings at the switch; after
    that the BENCH_r*.json history ratchets as before."""
    try:
        with open(NORM_BASELINE_PATH) as f:
            return json.load(f)
    except Exception:
        return {}


def _bench_history(cpus: int | None = None) -> list[tuple[str, dict]]:
    """History entries, optionally filtered to one core count. Marks
    from different core counts are NOT comparable (r16: the constant-
    work canary slows ~2.8x at c8 while driver-latency-bound rows
    barely move, so a c8 sitting's normalized marks read 2-3x LOWER on
    identical code — the driver's BENCH_r15_c8.json had silently
    ratcheted the 32-core baselines down). The core count comes from
    the driver wrapper's ``cpus`` field or the result's own (r16+);
    files carrying neither are 32-core sittings (every pre-r15 file)."""
    out = []
    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        eff = data.get("cpus")
        # driver rounds wrap the bench line under "parsed"
        if "queries" not in data and isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        if eff is None:
            eff = data.get("cpus")
        eff = int(eff) if eff else 32
        if cpus is not None and eff != cpus:
            continue
        out.append((os.path.basename(path), data))
    return out


def best_prior(
    queries: set[str], cpus: int | None = None
) -> dict[str, tuple[float, str]]:
    """{query: (best ABSOLUTE seconds, source)} across BENCH_r*.json."""
    best: dict[str, tuple[float, str]] = {}
    for name, data in _bench_history(cpus):
        for q, sec in (data.get("queries") or {}).items():
            if q in queries and (q not in best or sec < best[q][0]):
                best[q] = (float(sec), name)
    return best


def norm_prior(
    queries: set[str], cpus: int | None = None
) -> dict[str, tuple[float, str]]:
    """{query: (best NORMALIZED mark, source)} across BENCH_r*.json
    history that carries queries_norm, seeded with the registered
    norm_baseline.json bands (registered from 32-core sittings — only
    applied when auditing a 32-core result)."""
    best: dict[str, tuple[float, str]] = {}
    base = _load_norm_baseline()
    if cpus in (None, 32):
        for q, mark in (base.get("queries_norm") or {}).items():
            if q in queries:
                best[q] = (float(mark), "norm_baseline.json")
    for name, data in _bench_history(cpus):
        for q, mark in (data.get("queries_norm") or {}).items():
            if q in queries and (q not in best or mark < best[q][0]):
                best[q] = (float(mark), name)
    return best


def canary_ref() -> float | None:
    """Registered idle canary median (seconds) — the constant that
    converts the ±ABS_FLOOR seconds noise floor to normalized units."""
    v = _load_norm_baseline().get("canary_ref")
    return float(v) if v else None


def _audit_normalized(new: dict) -> tuple[list[str], list[str]]:
    newn = {q: float(m) for q, m in (new.get("queries_norm") or {}).items()}
    newq = {q: float(s) for q, s in (new.get("queries") or {}).items()}
    cpus = int(new.get("cpus") or 32)
    prior = norm_prior(set(newn) | set(newq), cpus)
    abs_prior = best_prior(set(newq), cpus)
    # the registered canary is a 32-core mark: a sitting at another core
    # count normalizes by its own canary, so its floor converts by it too
    cref = canary_ref() if cpus == 32 else None
    cref = cref or float(new.get("canary_median") or canary_ref() or 1.0)
    norm_floor = ABS_FLOOR / cref
    regressions: list[str] = []
    lines: list[str] = []
    cmed = new.get("canary_median")
    if cmed and canary_ref():
        ratio = float(cmed) / canary_ref()
        lines.append(
            f"  canary: {float(cmed):.2f}s vs registered idle "
            f"{canary_ref():.2f}s (host-speed ratio {ratio:.2f}x — "
            "normalization cancels this)"
        )
    # every row in EITHER series is audited: rows with a normalized
    # prior gate on the normalized mark; rows WITHOUT one (new row
    # before band registration, or a missing/corrupt
    # norm_baseline.json) FALL BACK to the legacy absolute gate — a
    # degraded baseline file must degrade the gate, never disarm it
    # (round-14 review finding).
    for q in sorted(set(newq) | set(newn)):
        mark = newn.get(q)
        abs_s = newq.get(q)
        abs_note = f", abs {abs_s:.2f}s" if abs_s is not None else ""
        if mark is not None and q in prior:
            ref, src = prior[q]
            limit = ref * (1.0 + REL_BAND) + norm_floor
            verdict = "ok" if mark <= limit else "REGRESSION"
            lines.append(
                f"  {q}: norm {mark:.2f} vs best {ref:.2f} ({src}), "
                f"limit {limit:.2f}{abs_note} -> {verdict}"
            )
            if mark > limit:
                regressions.append(
                    f"{q}: norm {mark:.2f} > {limit:.2f} "
                    f"(best prior {ref:.2f} in {src}{abs_note})"
                )
            continue
        if abs_s is not None and q in abs_prior:
            ref, src = abs_prior[q]
            limit = ref * (1.0 + REL_BAND) + ABS_FLOOR
            verdict = "ok" if abs_s <= limit else "REGRESSION"
            lines.append(
                f"  {q}: {abs_s:.2f}s vs best {ref:.2f}s ({src}), "
                f"limit {limit:.2f}s -> {verdict} "
                "[no norm prior — absolute fallback]"
            )
            if abs_s > limit:
                regressions.append(
                    f"{q}: {abs_s:.2f}s > {limit:.2f}s "
                    f"(best prior {ref:.2f}s in {src}; absolute "
                    "fallback — no norm prior)"
                )
            continue
        lines.append(
            f"  {q}: norm {mark if mark is not None else '—'}{abs_note}"
            " (no prior mark — baseline)"
        )
    return regressions, lines


def _audit_absolute(new: dict) -> tuple[list[str], list[str]]:
    """Legacy absolute-seconds gate — pre-r14 JSONs only."""
    newq = {q: float(s) for q, s in (new.get("queries") or {}).items()}
    prior = best_prior(set(newq))
    regressions: list[str] = []
    lines: list[str] = []
    for q, sec in newq.items():
        if q not in prior:
            lines.append(f"  {q}: {sec:.2f}s (no prior mark — baseline)")
            continue
        ref, src = prior[q]
        limit = ref * (1.0 + REL_BAND) + ABS_FLOOR
        verdict = "ok" if sec <= limit else "REGRESSION"
        lines.append(
            f"  {q}: {sec:.2f}s vs best {ref:.2f}s ({src}), "
            f"limit {limit:.2f}s -> {verdict}"
        )
        if sec > limit:
            regressions.append(
                f"{q}: {sec:.2f}s > {limit:.2f}s "
                f"(best prior {ref:.2f}s in {src})"
            )
    return regressions, lines


def audit(new: dict) -> tuple[list[str], list[str]]:
    """Returns (regressions, report_lines) for a bench.py result dict.
    Normalized gate when the result carries queries_norm; legacy
    absolute gate otherwise."""
    if new.get("queries_norm"):
        return _audit_normalized(new)
    return _audit_absolute(new)


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        raise SystemExit(2)
    with open(sys.argv[1]) as f:
        new = json.load(f)
    regressions, lines = audit(new)
    if "--explain" in sys.argv or regressions:
        print("\n".join(lines))
    total = new.get("value")
    gate = "normalized" if new.get("queries_norm") else "absolute(legacy)"
    print(
        f"total: {total}s across {len(new.get('queries') or {})} queries"
        f" [{gate} gate]"
    )
    if regressions:
        print("BENCH REGRESSIONS (fix or document the variance band):")
        for r in regressions:
            print(f"  {r}")
        raise SystemExit(1)
    print("bench gate: pass")


if __name__ == "__main__":
    main()
