"""The benchmark's workloads.

Both are closed loops with one client: each operation starts when the
previous one returns, the way a QA run or an ops job waits for each
file. Setup (session start, inputs, warm-up) runs before the timed
loop; correctness checks run outside the timed region.

- ``scenario_suite``: seeded E1 lifecycles through
  ``pipeline.run_scenario`` (generate → inject → validate → error CSV →
  archive → reconcile), one operation per scenario.
- ``catalog_headline``: catalog queries on seeded tables, each built and
  forced with a ``noop`` write; one operation per query run.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field

from env import RssSampler, app_cpu_s, cpu_snapshot, now
from spans import delta

# --------------------------------------------------------------------------
# shared loop
# --------------------------------------------------------------------------


@dataclass
class Run:
    """What one workload run measured."""

    setup: dict[str, float] = field(default_factory=dict)
    warmup_ops: int = 0
    peak_rss_mb: float = 0.0
    op_s: list[float] = field(default_factory=list)  # timed op latencies
    op_cpu_s: list[float] = field(default_factory=list)  # see app_cpu_s
    op_names: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    engine: dict[str, dict[str, float]] = field(default_factory=dict)
    write_roots: dict[str, list[str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class Loop:
    """The timed part of a run: records each op's latency, its engine
    counters when a meter is given, and the JVM's peak memory."""

    def __init__(self, run: Run, jvm_pid: int, tracer=None,
                 meter=None) -> None:
        self.run = run
        self.tracer = tracer
        self.meter = meter
        self._pid = jvm_pid

    @contextmanager
    def measuring(self):
        """Wraps a workload's timed loop; returns its start time."""
        with RssSampler(self._pid) as rss:
            yield now()
        self.run.peak_rss_mb = rss.peak_mb

    def timed(self, op_id: str, name: str, fn):
        """Time ``fn()``; returns ``(True, result)``, or ``(False, None)``
        after counting the op as failed when it raised."""
        before = self.meter.snapshot() if self.meter else None
        ok, result = True, None
        c0 = cpu_snapshot(self._pid)
        t0 = now()
        try:
            if self.tracer is not None:
                with self.tracer.operation(op_id):
                    result = fn()
            else:
                result = fn()
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            ok = False
            self.run.failed += 1
            self.run.failures.append(f"{op_id}: {type(exc).__name__}: {exc}"[:300])
        elapsed = now() - t0
        self.run.op_cpu_s.append(app_cpu_s(c0, cpu_snapshot(self._pid)))
        if self.meter is not None:
            self.run.engine[op_id] = delta(before, self.meter.snapshot())
            self.run.write_roots[op_id] = list(self.meter.write_roots)
        self.run.op_s.append(elapsed)
        self.run.op_names.append(name)
        self.run.attempted += 1
        return ok, result


# --------------------------------------------------------------------------
# scenario_suite
# --------------------------------------------------------------------------

def _invalid_values() -> list[tuple[str, str]]:
    """(column, value) pairs, each known to break that column's rules:
    the bankdata oracle's injection spec."""
    from etl_validator_github_spark.queries.bankdata_oracle import INJECTIONS

    return [(col, val) for _lo, _hi, col, val in INJECTIONS]


@dataclass(frozen=True)
class Scenario:
    rows: int
    seed: int
    column: tuple[str, str]  # whole-column overwrite
    cell: tuple[str, int, str]  # single-cell overwrite (column, row, value)


#: Offset between a scenario's whole-column and single-cell injections.
_CELL_OFFSET = 7


def scenario_plan(seed: int, n: int) -> list[Scenario]:
    """``n`` scenarios, like the reference's fixed scenario list run on
    fresh data: scenario ``i`` overwrites one rule column whole and one
    cell of another, cycling through the injection spec in a fixed order
    (an injected literal is constant-folded into the plan, so the kind
    of scenario sets its compile cost). The seed draws the data: row
    count (10–50), generator seed and the injected cell's row."""
    rng = random.Random(seed)
    values = _invalid_values()
    plan = []
    for i in range(n):
        rows = rng.randint(10, 50)
        cell_col, cell_val = values[(i + _CELL_OFFSET) % len(values)]
        plan.append(Scenario(rows, rng.randrange(1, 2**31),
                             values[i % len(values)],
                             (cell_col, rng.randrange(rows), cell_val)))
    return plan


def failing_rows_sql(path: str) -> str:
    """DuckDB count of rows that break at least one rule, evaluated with
    the rule mirror in ``queries.bankdata_oracle`` on a written file."""
    from etl_validator_github_spark.queries.bankdata_oracle import (
        _rule_mirrors,
        _violation,
    )

    any_violation = " OR ".join(
        _violation(valid, applies) for _msg, valid, applies in _rule_mirrors())
    return (f"SELECT count(*) FROM read_parquet('{path}/*.parquet') "
            f"WHERE {any_violation}")


def duckdb_connect(work: str):
    import duckdb

    return duckdb.connect(config={
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
        "temp_directory": os.path.join(work, "duckdb-tmp"),
    })


def check_scenario(res, duck) -> str | None:
    """None when the scenario passed every check, else the reason."""
    p = res.pipeline
    if p.file_level_failure:
        return f"file rejected: {p.details.get('reason')}"
    if not (res.reconcile_passed and res.counts_match):
        return (f"reconcile failed: csv={res.csv_error_count} "
                f"db={res.db_error_count}")
    if p.error_count <= 0:
        return "no error rows although invalid values were injected"
    expected = duck.execute(failing_rows_sql(p.archived_to)).fetchone()[0]
    if p.error_count != expected:
        return f"error_count {p.error_count} != rule-mirror count {expected}"
    return None


def scenario_suite(spark, work: str, seconds: float, seed: int, loop: Loop,
                   warmup_ops: int = 3, min_ops: int = 1) -> None:
    from etl_validator_github_spark import pipeline

    run = loop.run
    duck = duckdb_connect(work)
    t0 = now()
    plan = scenario_plan(seed, 400)  # each op generates its own rows
    run.setup["inputs_s"] = now() - t0

    def one(i: int, sc: Scenario):
        return pipeline.run_scenario(
            spark, os.path.join(work, "scenarios", f"s{i}"),
            rows=sc.rows, seed=sc.seed,
            invalid_values={sc.column[0]: sc.column[1]},
            invalid_cells={(sc.cell[0], sc.cell[1]): sc.cell[2]},
        )

    t0 = now()
    for i in range(warmup_ops):
        one(i, plan[i])
    run.setup["warmup_s"] = now() - t0
    run.warmup_ops = warmup_ops

    rows = []
    i = warmup_ops
    with loop.measuring() as start:
        while (now() - start < seconds or i - warmup_ops < min_ops) \
                and i < len(plan):
            sc = plan[i]
            ok, res = loop.timed(f"scenario{i}", "scenario",
                                 lambda i=i, sc=sc: one(i, sc))
            reason = check_scenario(res, duck) if ok else None
            if reason is not None:
                run.failed += 1
                run.failures.append(f"scenario{i}: {reason}")
            rows.append(sc.rows)
            shutil.rmtree(os.path.join(work, "scenarios", f"s{i}"),
                          ignore_errors=True)
            i += 1
    duck.close()
    run.detail["scenario_rows"] = rows


# --------------------------------------------------------------------------
# catalog_headline
# --------------------------------------------------------------------------

#: Headline queries the workload runs, by family: one per package module
#: of the catalog's headline set (queries/relational, scale/text,
#: scale/dedup, scale/similarity).
FAMILIES = {
    "relational": ("q3_shipping_priority",),
    "corpus": ("text_stats", "dedup_exact"),
    "embed": ("embed_cosine_topk",),
}
QUERIES = tuple(q for qs in FAMILIES.values() for q in qs)


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _sorted_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, repr(v)) for v in t))


def oracle_rows(duck, tables_dir: str, tables, oracles: dict[str, str]):
    """Each query's expected (columns, rows) from its DuckDB oracle."""
    for name in tables:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                     f"read_parquet('{tables_dir}/{name}.parquet')")
    out = {}
    for q, sql in oracles.items():
        res = duck.execute(sql)
        cols = [d[0] for d in res.description]
        out[q] = (cols, _sorted_rows(cols, res.fetchall()))
    return out


def mismatch(df, expected) -> str | None:
    """Compare a query's Spark result with its oracle rows: same columns,
    same rows (columns sorted by name, rows sorted)."""
    cols, want = expected
    got = _sorted_rows(df.columns, [tuple(r) for r in df.collect()])
    if sorted(df.columns) != sorted(cols):
        return f"columns {df.columns} != {cols}"
    if got != want:
        return f"rows differ ({len(got)} vs {len(want)})"
    return None


def catalog_headline(spark, work: str, seconds: float, seed: int, loop: Loop,
                     queries=QUERIES, oracles=None, scale: float = 1.0,
                     warmup_passes: int = 8) -> None:
    """``oracles`` maps a query name to the SQL its result must match
    (default: the catalog's own DuckDB oracle).

    The first warm-up pass forces each query with ``collect()`` and
    compares the rows with the oracle; with no warm-up the same check
    runs after the timed loop. Timed runs are forced with a ``noop``
    write. A query whose check fails fails every timed run of it."""
    from etl_validator_github_spark.contract import catalog_to_queries
    from etl_validator_github_spark.queries import CATALOG
    from tables import write_tables

    run = loop.run
    builds = catalog_to_queries({q: CATALOG[q] for q in queries})
    oracles = {q: CATALOG[q].oracle for q in queries} | (oracles or {})

    # Inputs are written three times; setup counts the median write.
    gen_s = []
    for k in range(3):
        tables_dir = os.path.join(work, f"tables{k}")
        t0 = now()
        row_counts = write_tables(tables_dir, seed, scale)
        gen_s.append(now() - t0)
    run.setup["inputs_s"] = statistics.median(gen_s)
    run.detail["table_rows"] = row_counts

    # The oracles are the benchmark's own checking cost: not setup.
    t0 = now()
    duck = duckdb_connect(work)
    expected = oracle_rows(duck, tables_dir, row_counts, oracles)
    duck.close()
    run.detail["oracle_s"] = now() - t0

    def check_pass() -> dict[str, str]:
        reasons = {}
        for q in queries:
            try:
                reason = mismatch(builds[q](spark, tables_dir), expected[q])
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                reason = f"{type(exc).__name__}: {exc}"[:300]
            if reason is not None:
                reasons[q] = reason
        return reasons

    def one(q: str):
        df = builds[q](spark, tables_dir)
        df.write.format("noop").mode("overwrite").save()

    def traced_one(q: str):
        tracer = loop.tracer
        with tracer.span(f"{q}.build"):
            df = builds[q](spark, tables_dir)
        with tracer.span(f"{q}.plan"):
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with tracer.span(f"{q}.exec"):
            df.write.format("noop").mode("overwrite").save()

    t0 = now()
    if warmup_passes:
        reasons = check_pass()
        for _ in range(warmup_passes - 1):
            for q in queries:
                one(q)
    run.setup["warmup_s"] = now() - t0
    run.warmup_ops = warmup_passes * len(queries)

    body = traced_one if loop.tracer is not None else one
    n_pass = 0
    passed_runs = {q: 0 for q in queries}  # timed runs that did not raise
    with loop.measuring() as start:
        while now() - start < seconds or n_pass == 0:
            for q in queries:
                ok, _ = loop.timed(f"{q}#{n_pass}", q, lambda q=q: body(q))
                passed_runs[q] += ok
            n_pass += 1
    run.detail["passes"] = n_pass

    if not warmup_passes:
        reasons = check_pass()
    for q, reason in reasons.items():
        run.failed += passed_runs[q]
        run.failures.append(f"{q}: {reason} ({passed_runs[q]} runs)")


def family_seconds(run: Run, values: list[float]) -> dict[str, float]:
    """Per family, the sum of its queries' median of ``values`` (one value
    per timed run, e.g. ``run.op_s``)."""
    per_query: dict[str, list[float]] = {}
    for name, v in zip(run.op_names, values):
        per_query.setdefault(name, []).append(v)
    med = {q: statistics.median(v) for q, v in per_query.items()}
    return {fam: sum(med.get(q, 0.0) for q in qs)
            for fam, qs in FAMILIES.items()}


WORKLOADS = {
    "scenario_suite": scenario_suite,
    "catalog_headline": catalog_headline,
}
