"""Per-layer probes read from outside the package.

Nothing here changes the program under test. The probes read Spark's own
bookkeeping (the status store, the codegen counters, a query's phase
tracker, a plan's SQL metrics) and time calls into the package's public
functions. They run only in a traced run.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

# Per-stage fields summed from the status store, mapped to metric names.
_STAGE_FIELDS = {
    "spark.executor_run_ms": lambda s: s.executorRunTime(),
    "spark.executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "spark.gc_ms": lambda s: s.jvmGcTime(),
    "spark.shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spark.spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "spark.tasks": lambda s: s.numTasks(),
}


class SparkCounters:
    """Reads the driver's counters and returns what changed since the
    previous read."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._last_stage = max(self._stage_ids(), default=-1)
        self._last_codegen = self._codegen_now()

    def _stage_list(self) -> list:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _stage_ids(self) -> list[int]:
        return [s.stageId() for s in self._stage_list()]

    def _codegen_now(self) -> tuple[int, float]:
        count = self._codegen_metrics.METRIC_COMPILATION_TIME().getCount()
        return count, self._codegen.compileTime() / 1e6

    def stages(self) -> dict[str, float]:
        """Sums over the stages that ran since the last call; skipped
        stages (their output was reused) count for nothing."""
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        out["spark.stages"] = 0.0
        newest = self._last_stage
        for s in self._stage_list():
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            newest = max(newest, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for name, read in _STAGE_FIELDS.items():
                out[name] += read(s)
        self._last_stage = newest
        return out

    def codegen(self) -> dict[str, float]:
        count, ms = self._codegen_now()
        out = {
            "codegen.compiles": count - self._last_codegen[0],
            "codegen.compile_ms": ms - self._last_codegen[1],
        }
        self._last_codegen = (count, ms)
        return out

    def jobs_in_group(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution. Optimization and planning run here, on a fresh execution
    of the same logical plan the sink planned."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def plan_metric(df, node: str, metrics: tuple[str, ...]) -> dict[str, float]:
    """Runs ``df`` through its own query execution and sums SQL metrics
    of every plan node named ``node`` in the final adaptive plan."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    totals = dict.fromkeys(metrics, 0.0)
    stack = [qe.executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
        if name == node:
            m = p.metrics()
            for k in metrics:
                totals[k] += m.apply(k).value()
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return totals


class CallTimer:
    """Accumulates wall time of calls to wrapped functions."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0

        return timed

    @contextmanager
    def patched(self, name: str, modules: list, attr: str):
        """Replaces ``attr`` in each module by a timed wrapper while the
        block runs; the package looks the name up at call time."""
        saved = [getattr(m, attr) for m in modules]
        try:
            for m, fn in zip(modules, saved):
                setattr(m, attr, self.wrap(name, fn))
            yield
        finally:
            for m, fn in zip(modules, saved):
                setattr(m, attr, fn)
