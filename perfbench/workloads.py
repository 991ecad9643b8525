"""The benchmark's workloads: a closed loop of operations, each built by a
public entry point of the package and written to the noop sink.

An operation is one catalog entry ``fn(spark, data_dir) -> DataFrame`` plus
its noop write. ``translate_batch`` has one operation per pass (the flagship
pipeline, ``pipeline_rows``); ``operator_mix`` has one per listed query.
Outputs are checked against the DuckDB oracles outside the timed window.
"""

from __future__ import annotations

import itertools
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from automotive_translation_pipeline_spark import queries_catalog
from automotive_translation_pipeline_spark.functions.predicates import is_truncated
from automotive_translation_pipeline_spark.operators.joins import rejoin_results
from automotive_translation_pipeline_spark.operators.packing import materialize_requests
from automotive_translation_pipeline_spark.operators.windows import shift_flags
from automotive_translation_pipeline_spark.plans import pipeline
from automotive_translation_pipeline_spark.translate import translate_requests
from pyspark.sql import functions as F
from tools.check_correctness import compare

from probes import CallTimer, SparkCounters, catalyst_phases, plan_metric

FAMILIES = ("dedup", "similarity", "text", "relational")
STAGES = (
    "plans.pipeline.todo_s",
    "operators.packing.pack_s",
    "operators.packing.requests_s",
    "translate.udf_s",
    "functions.parse_s",
    "operators.joins.rejoin_s",
    "operators.windows.shift_s",
)
TRANSLATE_COUNTS = (
    "translate.batches",
    "translate.payload_bytes",
    "translate.python_bytes_sent",
    "translate.python_bytes_received",
    "functions.repair_share",
    "plans.translated_share",
)
OP_LAYERS = (
    "sources.load_testdata_s",
    "plan.build_s",
    "plan.eager_jobs",
    "exec.write_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "codegen.compiles",
    "codegen.compile_ms",
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.gc_ms",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.stages",
    "spark.tasks",
)


@dataclass
class Op:
    name: str  # catalog / oracle name
    family: str
    fn: object  # (spark, data_dir) -> DataFrame
    rows: int = 0  # result rows, from the checked first pass


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    walls: dict[str, list[float]] = field(default_factory=dict)  # per op name

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)


def make_ops(spec: dict) -> list[Op]:
    catalog = queries_catalog.queries()
    return [
        Op(name, fam, catalog[name])
        for fam, names in spec["families"].items()
        for name in names
    ]


def oracle_conn(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check(name: str, pdf, con, oracles: dict[str, str]) -> str | None:
    """None when ``pdf`` matches the DuckDB oracle of entry ``name``, else
    the reason."""
    return compare(pdf, con.execute(oracles[name]).fetchdf())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def first_pass(spark, ops: list[Op], data_dir: str, tally: Tally) -> dict:
    """The first pass of set-up: every op collected to the driver, for
    the output check."""
    outputs = {}
    for op in ops:
        tally.attempted += 1
        try:
            outputs[op.name] = op.fn(spark, data_dir).toPandas()
        except Exception:  # one failing op must not hide the others
            tally.fail(f"{op.name} raised in the first pass\n{traceback.format_exc()}")
            continue
        op.rows = len(outputs[op.name])
    return outputs


def timed_op(spark, op: Op, data_dir: str, tally: Tally, counters=None, timer=None):
    """One operation into the noop sink. Untraced unless ``counters`` is
    given; returns (df, wall seconds, per-layer dict or None), with
    (None, None, None) when the operation raised."""
    sc = spark.sparkContext
    tally.attempted += 1
    tag = f"{op.name}-{tally.attempted}"
    try:
        if counters:
            sc.setJobGroup(f"build-{tag}", op.name)
        t0 = time.perf_counter()
        df = op.fn(spark, data_dir)
        t1 = time.perf_counter()
        if counters:
            sc.setJobGroup(f"write-{tag}", op.name)
        _noop(df)
        t2 = time.perf_counter()
    except Exception:
        tally.fail(f"{op.name} raised\n{traceback.format_exc()}")
        return None, None, None
    tally.walls.setdefault(op.name, []).append(t2 - t0)
    if not counters:
        return df, t2 - t0, None
    layers = {
        "plan.build_s": t1 - t0,
        "exec.write_s": t2 - t1,
        "plan.eager_jobs": counters.jobs_in_group(f"build-{tag}"),
        "sources.load_testdata_s": timer.seconds.pop("load_testdata", 0.0),
        **counters.stages(),
        **counters.codegen(),
        **catalyst_phases(df),
    }
    return df, t2 - t0, layers


def stage_breakdown(spark, data_dir: str) -> dict:
    """Times each pipeline stage's public function on a cached, counted
    input, materializing its output with a noop write."""
    out = {}
    cached = []

    def stage(name, df):
        t0 = time.perf_counter()
        _noop(df)
        out[name] = time.perf_counter() - t0
        df = df.persist()
        cached.append(df)
        df.count()
        return df

    todo = stage("plans.pipeline.todo_s", pipeline._flagship_todo(spark, data_dir, 7))
    assigned = stage("operators.packing.pack_s", pipeline._pack(todo, 4000))
    requests = stage("operators.packing.requests_s", materialize_requests(assigned))
    responses = translate_requests(requests)
    py = plan_metric(responses, "ArrowEvalPython", ("pythonDataSent", "pythonDataReceived"))
    responses = stage("translate.udf_s", responses)
    parsed = stage("functions.parse_s", pipeline._parse_responses(responses))
    expected = assigned.select("batch_id", "description_id", "english_sentence", "seq")
    joined = stage("operators.joins.rejoin_s", rejoin_results(expected, parsed))
    flagged = joined.withColumn("is_failed", F.col("translation").isNull())
    stage("operators.windows.shift_s", shift_flags(flagged, batch_col="batch_id", order_col="seq"))

    sizes = requests.agg(
        F.count("*").alias("n"),
        F.sum(F.length(F.to_json("payload"))).alias("bytes"),
    ).first()
    repair = responses.agg(F.avg(is_truncated(F.col("content")).cast("double"))).first()[0]
    out.update({
        "translate.batches": sizes["n"],
        "translate.payload_bytes": sizes["bytes"],
        "translate.python_bytes_sent": py["pythonDataSent"],
        "translate.python_bytes_received": py["pythonDataReceived"],
        "functions.repair_share": repair,
    })
    for df in cached:
        df.unpersist()
    return out


def _mean(rows: list[dict], key: str) -> float:
    return statistics.fmean(r[key] for r in rows) if rows else 0.0


def run(spark, workload: str, spec: dict, data_dir: str, seconds: float,
        trace: bool, session_start_s: float, flush) -> dict:
    """Runs one workload on a started session. Returns the e2e metrics,
    the per-layer metrics (only ``session.start_s`` unless traced), the
    tallies and the checked first-pass outputs."""
    tally = Tally()
    ops = make_ops(spec)
    oracles = queries_catalog.oracle_sql()

    # Set-up: the checked first pass, which also compiles the generated
    # code and starts the Python worker, then untimed warm passes into
    # the noop sink: the first noop calls after it are still slow.
    t0 = time.perf_counter()
    outputs = first_pass(spark, ops, data_dir, tally)
    spark.catalog.clearCache()
    warm = Tally()
    for _ in range(spec["warm_passes"]):
        for op in ops:
            timed_op(spark, op, data_dir, warm)
            spark.catalog.clearCache()
    setup_s = session_start_s + time.perf_counter() - t0
    tally.attempted += warm.attempted
    tally.failed += warm.failed
    flush({"phase": "setup", "setup_s": setup_s})

    con = oracle_conn(data_dir, spec["tables"])
    for op in ops:
        err = check(op.name, outputs[op.name], con, oracles) if op.name in outputs else None
        if err:
            tally.fail(f"{op.name} first-pass output differs from its oracle: {err}")

    # Closed loop: the ops in turn until the measuring time is spent and
    # every op has run at least once. Each op's caches are dropped before
    # the next op, outside its timing; the last op keeps them so its
    # output can be read back for the check.
    loop_start = time.perf_counter()
    last = None
    for i in itertools.count():
        op = ops[i % len(ops)]
        if last is not None:
            spark.catalog.clearCache()
        df, _, _ = timed_op(spark, op, data_dir, tally)
        last = (op, df) if df is not None else None
        flush({"phase": "measure", "setup_s": setup_s, "walls": tally.walls})
        if i + 1 >= len(ops) and time.perf_counter() - loop_start >= seconds:
            break
    if last is not None:
        tally.attempted += 1
        err = check(last[0].name, last[1].toPandas(), con, oracles)
        if err:
            tally.fail(f"{last[0].name} timed output differs from its oracle: {err}")
    spark.catalog.clearCache()

    # Each op's median wall stands for it: a pass over the ops takes the
    # sum of those medians, and the typical op their geometric mean, which
    # weighs a short query's change as much as a long one's. Medians, not
    # means, so a few calls slowed by the host do not move the figures.
    medians = {op.name: statistics.median(tally.walls[op.name])
               for op in ops if op.name in tally.walls}
    pass_s = sum(medians.values())
    e2e = {
        "rows_per_s": sum(op.rows for op in ops if op.name in medians) / pass_s if medians else 0.0,
        "ops_per_s": len(medians) / pass_s if medians else 0.0,
        "op_latency_geomean_s": statistics.geometric_mean(medians.values()) if medians else 0.0,
        "setup_s": setup_s,
    }
    layers = {"session.start_s": session_start_s}
    if trace and medians:
        layers.update(traced_pass(spark, workload, ops, data_dir, tally, medians, outputs))
    return {"e2e": e2e, "layers": layers, "tally": tally, "outputs": outputs}


def traced_pass(spark, workload, ops, data_dir, tally, medians, outputs) -> dict:
    """One more pass with the probes on, then (translate_batch) the stage
    breakdown. ``medians`` are the untraced ops' median walls; their sum
    is the overhead baseline. Zeros stand for layers the workload does
    not reach."""
    untraced_pass_s = sum(medians.values())
    counters = SparkCounters(spark)
    timer = CallTimer()
    modules = [queries_catalog, pipeline]
    rows, traced_s = [], 0.0
    with timer.patched("load_testdata", modules, "load_testdata"):
        for op in ops:
            _, wall, layers = timed_op(spark, op, data_dir, tally, counters, timer)
            spark.catalog.clearCache()
            if layers is not None:
                traced_s += wall
                rows.append({"family": op.family, **layers})

    out = {k: _mean(rows, k) for k in OP_LAYERS}
    for fam in FAMILIES:
        fam_rows = [r for r in rows if r["family"] == fam]
        out[f"queries_catalog.{fam}.build_s"] = _mean(fam_rows, "plan.build_s")
        out[f"queries_catalog.{fam}.eager_jobs"] = _mean(fam_rows, "plan.eager_jobs")
        out[f"exec.{fam}.write_s"] = _mean(fam_rows, "exec.write_s")
    out.update(dict.fromkeys(STAGES + TRANSLATE_COUNTS, 0.0))
    out["trace.overhead_share"] = traced_s / untraced_pass_s - 1.0
    out["trace.layer_sum_share"] = 0.0
    if workload == "translate_batch":
        out.update(stage_breakdown(spark, data_dir))
        spark.catalog.clearCache()
        pdf = outputs.get("pipeline_rows")
        if pdf is not None and len(pdf):
            out["plans.translated_share"] = float((~pdf["is_failed"]).sum()) / len(pdf)
        out["trace.layer_sum_share"] = sum(out[s] for s in STAGES) / untraced_pass_s
    return out
