"""Per-run CPU attribution over the in-process AppStatusStore.

The r12 spans-burst root-cause (MEASURE_1M_r12.jsonl, SCALE.md) showed
byte-identical work swinging 4.4x in executorCpuTime under host-level
CPU throttling — wall time alone cannot distinguish "box slow" from
"operator regressed". This meter folds that capture into every timed
run: snapshot the completed-stage totals before a run, diff after, and
the run carries its own ``cpu_s``/``gc_s``/spill attribution. Because
repeated runs do identical work, a run whose cpu_s is far above the
op's session minimum executed the same instructions on slower cycles —
a throttle verdict computable per-run, no multi-pass archaeology.

r14: the r13 meter read ``/api/v1/.../stages`` over HTTP, which needed
``spark.ui.enabled=true`` — and the r13 verdict measured that UI-on
session as a uniform 10-30% stable-run drag on every sub-second bench
query (Jetty + the servlet stack live during query execution; an
interleaved A/B this round reproduced it: min-of-pass totals 13.6 s
UI-on vs 12.1 s UI-off at sf0.1). The same per-stage metrics exist in
the driver's ``AppStatusStore`` regardless of the UI flag, so the meter
now reads them in-process over py4j and the bench runs UI-off again.
``stageList`` returns stages newest-first (stageId descending), so each
snapshot folds only stages newer than the last fold into a running
total — O(stages since last snapshot) py4j calls, all outside the timed
region. Stage *retries* (same id, new attempt, after the id was folded)
would be missed; local-mode bench runs do not retry stages. When the
store is unreachable the meter degrades to returning None rather than
failing the measurement.
"""

from __future__ import annotations

#: A run whose cpu_s exceeds the op's session-minimum cpu_s by this
#: factor on identical work is flagged as throttle-suspect (the r12
#: bisect saw clean runs agree within ~10% and throttled runs at
#: 1.9-4.4x).
CPU_THROTTLE_RATIO = 1.5

#: Below this many CPU-seconds per run the ratio is scheduler noise,
#: not throttle evidence (a 50 ms task set can swing 3x between runs
#: without any host story) — the flag stays unset.
CPU_FLOOR_S = 1.0

#: Stage statuses whose metrics are final and safe to fold. SKIPPED
#: stages carry zero metrics; FAILED stages keep whatever ran.
_TERMINAL = frozenset({"COMPLETE", "SKIPPED", "FAILED"})


class StageCpuMeter:
    """Delta-meter over the driver's in-process AppStatusStore.

    Totals are a running fold over terminal stages, advanced by each
    ``snapshot()``; a run's delta is taken after its action returns,
    when its stages have completed. Because only stages *newer* than
    the fold frontier are read, UI stage eviction
    (spark.ui.retainedStages) can never roll the totals back — evicted
    stages were folded while they were still retained.
    """

    def __init__(self, spark) -> None:
        try:
            sc = spark.sparkContext
            jvm = sc._jvm  # noqa: SLF001
            self._store = sc._jsc.sc().statusStore()  # noqa: SLF001
            # stageList(statuses, details, withSummaries, quantiles,
            # taskStatus) — Scala defaults are not callable over py4j,
            # so pass the cheap explicit forms.
            self._no_status = jvm.java.util.ArrayList()
            self._no_task = jvm.java.util.ArrayList()
            self._no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        except Exception:
            self._store = None
        self._frontier = -1  # highest folded stageId
        self._totals = {"cpu_s": 0.0, "gc_s": 0.0, "run_s": 0.0,
                        "spill_bytes": 0.0, "shuffle_write": 0.0}

    def snapshot(self) -> "dict[str, float] | None":
        if self._store is None:
            return None
        try:
            stages = self._store.stageList(
                self._no_status, False, False,
                self._no_quantiles, self._no_task,
            )
            fresh = []  # (stageId, StageData) newer than the frontier
            pending_min = None
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid <= self._frontier:
                    break  # descending order: the rest is folded
                if s.status().toString() in _TERMINAL:
                    fresh.append((sid, s))
                else:
                    # Still running/pending: neither it nor anything
                    # newer may be folded yet (they would double-count
                    # on the next snapshot otherwise).
                    pending_min = sid if pending_min is None \
                        else min(pending_min, sid)
            new_frontier = self._frontier
            for sid, s in fresh:
                if pending_min is not None and sid > pending_min:
                    continue  # re-read once the pending stage settles
                self._totals["cpu_s"] += s.executorCpuTime() / 1e9
                self._totals["gc_s"] += s.jvmGcTime() / 1e3
                self._totals["run_s"] += s.executorRunTime() / 1e3
                self._totals["spill_bytes"] += (s.memoryBytesSpilled()
                                                + s.diskBytesSpilled())
                self._totals["shuffle_write"] += s.shuffleWriteBytes()
                new_frontier = max(new_frontier, sid)
            if pending_min is not None:
                new_frontier = min(new_frontier, pending_min - 1)
            self._frontier = new_frontier
            return dict(self._totals)
        except Exception:
            return None

    def delta(self, before: "dict[str, float] | None") \
            -> "dict[str, float] | None":
        after = self.snapshot()
        if before is None or after is None:
            return None
        d = {k: round(after[k] - before[k], 3) for k in after}
        if d["cpu_s"] < 0:  # defensive; totals are monotonic now
            return None
        return d


def cpu_ratio(cpu_runs: "list[float | None]") -> "float | None":
    """max/min cpu_s over a query's WARM runs (run 1 pays one-off
    footer/codegen work and is excluded, mirroring the stable-pair
    rule; None entries skipped) — the per-op throttle indicator:
    identical work, ratio > CPU_THROTTLE_RATIO means some runs
    executed on materially slower cycles."""
    vals = [c for c in cpu_runs[1:]
            if isinstance(c, (int, float)) and c > 0]
    if len(vals) < 2:
        return None
    return round(max(vals) / min(vals), 2)


def throttle_suspect(cpu_runs: "list[float | None]") -> bool:
    """True when the warm-run CPU ratio exceeds CPU_THROTTLE_RATIO on
    substantive work (min warm cpu >= CPU_FLOOR_S)."""
    vals = [c for c in cpu_runs[1:]
            if isinstance(c, (int, float)) and c > 0]
    ratio = cpu_ratio(cpu_runs)
    return (ratio is not None and ratio > CPU_THROTTLE_RATIO
            and min(vals) >= CPU_FLOOR_S)
