"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload scenario_suite --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it is a detail record (parallelism, load, warm-up, every
latency, and with ``--trace 1`` the per-span table). A traced run also
writes its spans to ``.perfbench_out/trace-<workload>-seed<seed>.json``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import env  # noqa: E402
import etl_validator_github_spark  # noqa: E402,F401  (fail fast without it)
from spans import (  # noqa: E402
    EngineMeter,
    Tracer,
    layer_seconds,
    span_times,
    spans_by_op,
)
from workloads import WORKLOADS, Loop, Run, family_seconds  # noqa: E402

#: Engine counters reported per unit of work, with their units. Spill
#: bytes are in the trace file only: zero on both workloads today.
ENGINE = {"spark.sql_executions": "count", "spark.jobs": "count",
          "spark.tasks": "count", "executor.cpu_s": "s", "executor.run_s": "s",
          "executor.gc_s": "s", "shuffle.write_bytes": "bytes",
          "scan.rows": "count"}


def op_p50(workload: str, run: Run, values: list[float]) -> float:
    """Median of one value per timed op (latency or CPU seconds) for a
    scenario; for the catalog, for one pass over the query list, as the
    sum of each query's median."""
    if workload == "catalog_headline":
        return sum(family_seconds(run, values).values())
    return statistics.median(values)


def units_of_work(workload: str, run: Run) -> int:
    """Scenarios run, or passes over the catalog's query list."""
    return run.detail["passes"] if workload == "catalog_headline" \
        else len(run.op_s)


def tail(values: list[float]) -> dict | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    p = int(100 * (1 - 10 / n))
    return {"percentile": p, "value": statistics.quantiles(
        values, n=100, method="inclusive")[p - 1], "samples": n}


def input_rows(workload: str, run: Run, spans: list[dict],
               table_rows: dict[str, int]) -> int:
    if workload == "catalog_headline":
        return sum(table_rows[s["table"]] for s in spans
                   if s["name"] == "contract.load" and s["op"] is not None)
    return sum(run.detail["scenario_rows"])


def per_layer(workload: str, run: Run, tracer: Tracer) -> dict[str, dict]:
    units = units_of_work(workload, run)
    timed = [s for s in tracer.spans if s["op"] is not None]
    op_total = sum(run.op_s)
    action_s = layer_seconds(timed, "spark")
    m = {
        "session.start_s": (run.setup["session_s"], "s"),
        "trace.op_p50_s": (op_p50(workload, run, run.op_s), "s"),
        "spark.action_s": (action_s / units, "s"),
        "driver.s": ((op_total - action_s) / units, "s"),
    }
    totals = {k: sum(e[k] for e in run.engine.values()) for k in ENGINE}
    for k, unit in ENGINE.items():
        m[k] = (totals[k] / units, unit)
    rows = input_rows(workload, run, timed, run.detail.get("table_rows", {}))
    m["scan.passes"] = (totals["scan.rows"] / rows if rows else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def write_trace(path: str, tracer: Tracer, run: Run, t0: float) -> None:
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
             for s in tracer.spans]
    units = {op: span_times(ss) for op, ss in spans_by_op(spans).items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": spans, "span_times_by_op": units,
                   "engine_by_op": run.engine,
                   "write_roots_by_op": run.write_roots}, f)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            **workload_kwargs) -> tuple[dict, dict, Run]:
    """Run one workload in a fresh Spark session; return the result
    record, the detail record and the raw measurements."""
    work = env.prepare_work_dir()
    cpus = env.cpu_count()
    load_start = env.load_1m()
    ticks_start = env.cpu_ticks()
    run = Run()
    t0 = env.now()
    spark = env.start_spark(cpus)
    tracer = meter = None
    try:
        run.setup["session_s"] = env.now() - t0
        if trace:
            tracer, meter = Tracer(), EngineMeter(spark)
            tracer.install()
        loop = Loop(run, env.jvm_pid(spark), tracer, meter)
        try:
            WORKLOADS[workload](spark, work, seconds, seed, loop,
                                **workload_kwargs)
        finally:
            if tracer is not None:
                tracer.restore()
        info = env.parallelism(spark, cpus)
    finally:
        env.stop_spark(spark)
    if not run.op_s:
        raise SystemExit("no operation completed")

    p50 = op_p50(workload, run, run.op_s)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "parallelism": info,
        "load_1m": {"start": load_start, "end": env.load_1m()},
        "cpu_steal_share": env.steal_share(ticks_start, env.cpu_ticks()),
        "setup": run.setup, "warmup_ops": run.warmup_ops,
        "ops": len(run.op_s), "op_s": run.op_s, "op_cpu_s": run.op_cpu_s,
        "op_names": run.op_names,
        "op_p50_s": p50, "op_tail": tail(run.op_s),
        "failures": run.failures, **run.detail,
    }
    if workload == "catalog_headline":
        detail["family_s"] = family_seconds(run, run.op_s)
    if trace:
        metrics = per_layer(workload, run, tracer)
        by_name = span_times([s for s in tracer.spans if s["op"] is not None])
        units = units_of_work(workload, run)
        detail["per_unit_span_s"] = {
            k: {"s": v["s"] / units, "self_s": v["self_s"] / units,
                "calls": v["calls"] / units} for k, v in by_name.items()}
        path = os.path.join(env.OUT, f"trace-{workload}-seed{seed}.json")
        write_trace(path, tracer, run, t0)
        detail["trace_file"] = os.path.relpath(path, env.ROOT)
    else:
        metrics = {
            "setup_s": {"value": sum(run.setup.values()), "unit": "s"},
            "op_cpu_s": {"value": op_p50(workload, run, run.op_cpu_s),
                         "unit": "s"},
            "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB"},
        }
    env.remove_work_dir()
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    return result, detail, run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, detail, _ = measure(args.workload, args.seed, args.seconds,
                                bool(args.trace))
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
