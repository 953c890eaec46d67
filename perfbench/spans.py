"""Spans and engine counters for the traced run.

The traced run wraps calls into the package's public functions from the
outside: every module binding of a listed function is replaced by a
wrapper that records a span (name, op id, start, end, parent) around the
call, and Spark actions get a ``spark.<action>`` span the same way.
Nothing inside the package changes; ``Tracer.restore`` puts every
original back. Spans are kept in memory and written out once, when the
run ends.

Engine counters are read at op boundaries only: the executor totals
through ``plans.telemetry.StageCpuMeter``, and job, task, SQL-execution
and parquet-scan counts from the driver's in-process status stores.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "etl_validator_github_spark"

#: (module, function, span name). A span name's first dotted part is its
#: layer. ``contract.load`` spans also record the table they read.
TRACED_FUNCTIONS = (
    ("generator", "generate_bankdata", "generator.generate_bankdata"),
    ("generator", "generate_bankdata_distributed",
     "generator.generate_bankdata_distributed"),
    ("operators.mutate", "widen_to_strings", "mutate.widen_to_strings"),
    ("operators.mutate", "overwrite_column", "mutate.overwrite_column"),
    ("operators.mutate", "overwrite_cells", "mutate.overwrite_cells"),
    ("sources.io", "read_bankdata", "io.read_bankdata"),
    ("sources.io", "write_bankdata", "io.write_bankdata"),
    ("sources.io", "write_single_csv", "io.write_single_csv"),
    ("sources.io", "read_error_csv", "io.read_error_csv"),
    ("operators.validate", "failing_records", "validate.failing_records"),
    ("operators.validate", "validate_schema", "validate.validate_schema"),
    ("operators.validate", "summarize_rule_violations",
     "validate.summarize_rule_violations"),
    ("operators.errors", "to_error_records", "errors.to_error_records"),
    ("operators.reconcile", "reconcile_errors", "reconcile.reconcile_errors"),
    ("pipeline", "find_unexpected_error_parquet_files",
     "pipeline.error_folder_scan"),
    ("pipeline", "validate_file", "pipeline.validate_file"),
    ("pipeline", "run_scenario", "pipeline.run_scenario"),
    ("contract", "load", "contract.load"),
)

#: Spark actions: (class path, method, span name).
TRACED_ACTIONS = (
    ("pyspark.sql.classic.dataframe", "DataFrame", "count", "spark.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "collect", "spark.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame", "isEmpty", "spark.isEmpty"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "save", "spark.write"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "spark.write"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "csv", "spark.write"),
)


class Tracer:
    """In-memory span recorder for one single-threaded client."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id: str, name: str = "op"):
        """Top-level span of one timed operation; its children share
        ``op_id``."""
        self.op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.op = None

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {"table": args[2]} if name == "contract.load" else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)
        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every binding of the traced functions and actions."""
        from etl_validator_github_spark.operators.reconcile import ReconcileResult

        for mod, attr, name in TRACED_FUNCTIONS:
            fn = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
            wrapped = self._wrapper(fn, name)
            for mname, module in list(sys.modules.items()):
                if module is None or not (
                        mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                    continue
                for key, value in list(vars(module).items()):
                    if value is fn:
                        self._set(module, key, wrapped)
        for mod, cls_name, attr, name in TRACED_ACTIONS:
            cls = getattr(importlib.import_module(mod), cls_name)
            self._set(cls, attr, self._wrapper(cls.__dict__[attr], name))
        passed = ReconcileResult.__dict__["passed"]
        self._set(ReconcileResult, "passed",
                  property(self._wrapper(passed.fget, "reconcile.passed")))

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


def span_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: total seconds, self seconds and calls.

    Self time is a span's duration minus the time its direct children
    cover (children of one single-threaded client never overlap)."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = s["end"] - s["start"]
        agg = out.setdefault(s["name"], {"s": 0.0, "self_s": 0.0, "calls": 0})
        agg["s"] += d
        agg["self_s"] += d - child_s[s["id"]]
        agg["calls"] += 1
    return out


def layer_seconds(spans: list[dict], layer: str) -> float:
    """Wall time inside ``layer``'s spans, counting each outermost span of
    the layer once (a layer call nested in another is not re-added)."""
    by_id = {s["id"]: s for s in spans}

    def in_layer(s) -> bool:
        return s["name"].split(".", 1)[0] == layer

    total = 0.0
    for s in spans:
        if not in_layer(s):
            continue
        p = s["parent"]
        while p is not None and not in_layer(by_id[p]):
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def spans_by_op(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            out[s["op"]].append(s)
    return out


class EngineMeter:
    """Cumulative engine counters, read between operations."""

    def __init__(self, spark) -> None:
        from etl_validator_github_spark.plans.telemetry import StageCpuMeter

        self._stages = StageCpuMeter(spark)
        self._store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
        self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self._job_frontier = -1
        self._exec_seen = 0
        self._totals = {"spark.jobs": 0, "spark.tasks": 0,
                        "spark.sql_executions": 0, "scan.rows": 0}
        self.write_roots: list[str] = []

    def _fold_jobs(self) -> None:
        jobs = self._store.jobsList(None)  # newest first
        frontier = self._job_frontier
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._job_frontier:
                break
            self._totals["spark.jobs"] += 1
            self._totals["spark.tasks"] += job.numCompletedTasks()
            frontier = max(frontier, job.jobId())
        self._job_frontier = frontier

    def _fold_executions(self) -> None:
        count = self._sql.executionsCount()
        if count == self._exec_seen:
            return
        new = self._sql.executionsList(self._exec_seen, count - self._exec_seen)
        for i in range(new.size()):
            ex = new.apply(i)
            self._totals["spark.sql_executions"] += 1
            self._totals["scan.rows"] += self._scan_rows(ex.executionId())
            self.write_roots.append(_plan_root(ex.physicalPlanDescription()))
        self._exec_seen = count

    def _scan_rows(self, execution_id: int) -> int:
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        rows = 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("Scan parquet"):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows += int(v.get().replace(",", ""))
        return rows

    def snapshot(self) -> dict[str, float]:
        self._fold_jobs()
        self.write_roots.clear()
        self._fold_executions()
        stages = self._stages.snapshot() or {}
        return {
            **self._totals,
            "executor.cpu_s": stages.get("cpu_s", 0.0),
            "executor.run_s": stages.get("run_s", 0.0),
            "executor.gc_s": stages.get("gc_s", 0.0),
            "shuffle.write_bytes": stages.get("shuffle_write", 0.0),
            "spill.bytes": stages.get("spill_bytes", 0.0),
        }


def _plan_root(description: str) -> str:
    """First operator of a formatted physical plan."""
    lines = description.splitlines()
    for i, line in enumerate(lines):
        if line.startswith("== Physical Plan =="):
            for nxt in lines[i + 1:]:
                name = nxt.strip().lstrip("*+-: ()0123456789").strip()
                if name:
                    return name.split(" ")[0]
    return ""


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}
