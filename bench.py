"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via a count-ish action
(``df.write.format("noop")`` is avoided to keep Spark-version-agnostic;
we use ``count()`` on the final result, which executes the whole plan).

Self-describing stability (the SCALE.md stable-pair rule, folded in
here in round 12 so the artifact itself carries the idle/loaded
distinction — loaded-box rounds used to need a separate idle re-run
file): every query runs at least THREE times (run 1 is cold and never
half of the pair; up to five runs until a consecutive WARM pair agrees
within 1.2× or 0.15 s absolute — the ratio alone is too strict for
sub-second queries); ``queries``/``value`` keep first-run semantics,
while ``query_detail`` records each query's runs, its 1-minute load
average at start, a ``stable`` flag and the warm-pair minimum.
Cross-round caveat on ``value``: each query's first run now follows
more prior executions than in the r1–r11 single-run protocol, so the
shared-cache warmth biases totals slightly down vs history —
``stable_value`` is the comparator to trust from r12 on.
``stable_value`` totals those stable representatives — the number to
read when ``load_avg_1m`` says the box was busy.

Per-run CPU attribution (round 13): every run also records its
executor CPU seconds from the REST stage API (``query_detail[..].
cpu_s``), plus ``cpu_ratio`` (max/min across the query's runs) and a
``throttle_suspect`` flag — identical work per run means a high ratio
is the box throttling, not the operator regressing (the r12
spans-bisect finding, mechanized per-run).
"""

from __future__ import annotations

import json
import os
import sys
import time

from etl_validator_github_spark.plans.session import get_spark
from etl_validator_github_spark.plans.telemetry import (
    StageCpuMeter,
    cpu_ratio,
    throttle_suspect,
)
from etl_validator_github_spark.queries import CATALOG


def _trailing_medians(sf) -> dict[str, float]:
    """Per-query median over past rounds' BENCH_r*.json at the SAME
    scale factor — the baseline for outlier detection (median is robust
    to a loaded-box round; cross-SF history would misfire the 3x test)."""
    import glob
    import statistics

    hist: dict[str, list[float]] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        # Driver artifacts wrap bench.py's JSON line under "parsed".
        if isinstance(doc.get("parsed"), dict):
            doc = doc["parsed"]
        if doc.get("sf") != sf:
            continue
        for name, sec in (doc.get("queries") or {}).items():
            if isinstance(sec, (int, float)):
                hist.setdefault(name, []).append(float(sec))
    return {name: statistics.median(v) for name, v in hist.items() if v}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r14: the UI stays OFF. r13 ran it on for the REST stage meter and
    # the r13 verdict measured that as a uniform 10-30% stable-run drag
    # on sub-second queries; an interleaved UI-on/off A/B this round
    # reproduced it (min-of-pass stable totals 13.6 vs 12.1 s at sf0.1).
    # Per-run CPU attribution survives: StageCpuMeter now reads the
    # driver's in-process AppStatusStore (same numbers, no Jetty), so
    # the cpu_s/cpu_ratio/throttle_suspect contract is unchanged.
    spark = get_spark(app_name="etl-validator-bench")
    spark.sparkContext.setLogLevel("ERROR")
    meter = StageCpuMeter(spark)

    # Execute in the rounds-1/2 order (cheap relational queries first) so
    # totals stay comparable across rounds: the first few queries absorb
    # JIT/codegen warmup, and queries sharing plan shapes (dedup family)
    # stay adjacent. Letting the two most expensive queries run first (as
    # the catalog's gate-driven ordering now would) inflates their — and
    # the total's — measured time by a couple of seconds.
    _R2_ORDER = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q6_forecast_revenue", "q10_returned_items", "q18_large_volume_orders",
        "latest_order_per_customer", "events_hourly_rollup",
        "events_sessionize", "events_asof_join", "events_range_join",
        "bankdata_validate", "text_stats", "dedup_exact", "dedup_minhash_lsh",
        "corpus_clean", "embed_cosine_topk", "embed_ivf_topk",
    ]
    bench_order = [n for n in _R2_ORDER if n in CATALOG and CATALOG[n].bench]
    bench_order += [n for n, q in CATALOG.items()
                    if q.bench and n not in _R2_ORDER]
    bench_queries = {n: CATALOG[n] for n in bench_order}
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Warm the JVM + file listing once with the cheapest query.
    try:
        CATALOG["q1_pricing_summary"].build(spark, sf_dir).count()
    except Exception as exc:  # still bench the rest without warmup
        errors["_warmup"] = f"{type(exc).__name__}: {exc}"[:500]

    # Load-context capture + outlier retry: the round-4 lesson — a bench
    # taken under heavy background load read as a 4x regression. Record
    # the box's load so a reader can judge the numbers, and re-run any
    # query that exceeds 3x its trailing-round median once, keeping the
    # min (a genuine regression reproduces; a load spike doesn't).
    load_start = os.getloadavg()[0]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    medians = _trailing_medians(sf_val)
    retried: list[str] = []

    # Per-query failure isolation: one broken query must never cost the
    # round its entire bench artifact (round 3 lesson — BENCH_r03 was a
    # crash log with zero timings because of one AnalysisException).
    # SCALE.md stable-pair rule, adapted for bench's short queries: the
    # 1.2x ratio alone is too strict at sub-second scale (a 60 ms
    # scheduler blip fails a 0.3 s query), so a pair also counts as
    # stable within an absolute 0.15 s. The measure_1m.py discipline
    # carries over: run 1 is cold by definition (plan compile, page
    # cache) and can never be half of the pair, so at least three runs
    # always happen; up to 5 — the queries are seconds, not the 1M
    # ops' minutes.
    STABLE_RATIO, STABLE_ABS, MIN_RUNS, MAX_RUNS = 1.2, 0.15, 3, 5

    def _is_pair(a: float, b: float) -> bool:
        return (max(a, b) / max(min(a, b), 1e-9) <= STABLE_RATIO
                or abs(a - b) <= STABLE_ABS)

    detail: dict[str, dict] = {}
    for name, q in bench_queries.items():
        load_q = os.getloadavg()[0]
        runs: list[float] = []
        cpu_runs: list = []
        run_err = None
        while len(runs) < MAX_RUNS:
            # A failure on a LATER run must not discard the earlier
            # good timings (the round-3 isolation lesson).
            try:
                before = meter.snapshot()
                t0 = time.perf_counter()
                q.build(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
                d = meter.delta(before)
                cpu_runs.append(None if d is None else d["cpu_s"])
            except Exception as exc:
                run_err = f"{type(exc).__name__}: {exc}"[:500]
                break
            if len(runs) >= MIN_RUNS and _is_pair(*runs[-2:]):
                break
        if not runs:
            errors[name] = run_err or "no runs"
            continue
        warm = runs[1:]
        pair = next(
            ((a, b) for a, b in zip(warm, warm[1:]) if _is_pair(a, b)),
            None,
        )
        elapsed = runs[0]
        median = medians.get(name)
        if median is not None and elapsed > 3 * median:
            elapsed = min(runs)
            retried.append(name)
        timings[name] = round(elapsed, 3)
        detail[name] = {
            "runs": [round(x, 3) for x in runs],
            # Per-run executor CPU from the REST stage API (r12 verdict
            # item 3): identical work per warm run, so cpu_ratio above
            # CPU_THROTTLE_RATIO on substantive work marks runs on
            # throttled cycles.
            "cpu_s": [None if c is None else round(c, 3)
                      for c in cpu_runs],
            "cpu_ratio": cpu_ratio(cpu_runs),
            "throttle_suspect": throttle_suspect(cpu_runs),
            "load_1m": round(load_q, 2),
            "stable": pair is not None,
            "sec_stable": (
                round(min(pair), 3) if pair is not None
                else round(min(warm or runs), 3)
            ),
        }
        if run_err is not None:
            detail[name]["run_error"] = run_err

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "load_avg_1m": {"start": round(load_start, 2),
                        "end": round(os.getloadavg()[0], 2)},
        # The parallelism the queries ran at (SPARK_GRAFT_CPUS), and
        # the cores the process may use.
        "n_cpus": spark.sparkContext.defaultParallelism,
        "host_cpus": len(os.sched_getaffinity(0)),
        "query_detail": detail,
        "stable_value": round(
            sum(d["sec_stable"] for d in detail.values()), 3
        ),
        "all_stable": bool(detail) and all(
            d["stable"] for d in detail.values()
        ),
    }
    if retried:
        result["retried_outliers"] = retried
    if errors:
        result["errors"] = errors
    line = json.dumps(result)
    print(line)
    # r14 (r13 verdict item 8): the driver's stdout capture truncated
    # the r12 AND r13 tails mid-JSON, emptying the round-over-round PERF
    # comparison. Persist the identical line to a file the next round
    # can always read whole. Best-effort: the printed contract is the
    # source of truth and a read-only checkout must not fail the bench.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LAST.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    spark.stop()
    # Exit non-zero only when the artifact is mostly useless (<80% ran).
    n_target = len(bench_queries)
    if n_target and len(timings) / n_target < 0.8:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
