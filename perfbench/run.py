"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload translate_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` into
``.perfbench_work/`` with ``tools/gen_testdata.gen``; Spark's warehouse,
local and temp directories live there too and are removed at exit. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Progress is flushed to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json`` after set-up and
after every operation, so a killed run still leaves parseable numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def flush_json(path: str, obj: dict) -> None:
    """Atomic write: a reader sees the old file or the new one, never a
    torn one."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def pin_environment(spec: dict, work: str) -> dict[str, str]:
    """Environment for the driver JVM and the Python UDF workers; returns
    the Spark conf that keeps every file Spark writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # UDF workers import the package by name: the checkout root must be
    # on their path whatever the cwd.
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["driver_mem"]
    os.environ["TMPDIR"] = tmp
    # Neither the spark-submit launcher JVM nor the driver JVM may write
    # hsperfdata under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # A fixed heap: G1 does not resize it while the timed calls run.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{spec['driver_mem']}",
    }


def generate(spec: dict, seed: int, out: str, sf: float | None = None) -> None:
    from tools.gen_testdata import gen

    with contextlib.redirect_stdout(sys.stderr):
        gen(sf or spec["sf"], out, seed, spec["tables"])


def start_spark(spec: dict, conf: dict[str, str]):
    """Returns (session, seconds ``get_spark`` took)."""
    from automotive_translation_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=min(spec["cpus"], os.cpu_count() or 1), extra_conf=conf)
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_spark(spark) -> None:
    """Stops the session and waits for the JVM (and the Python worker
    daemon it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metrics_block(bench: dict, values: dict, trace: bool) -> dict:
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}")
    wspec = {**spec, **spec["workloads"][args.workload]}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{tag}.json")
    state = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    def flush(update: dict) -> None:
        state.update(update)
        flush_json(out_path, state)

    try:
        conf = pin_environment(wspec, work)
        import workloads  # the package imports here: fails fast without it

        data = os.path.join(work, "data")
        generate(wspec, args.seed, data)
        spark, start_s = start_spark(wspec, conf)
        try:
            res = workloads.run(spark, args.workload, wspec, data, args.seconds,
                                bool(args.trace), start_s, flush)
            values = {**res["e2e"], **res["layers"], "jvm.peak_rss_mb": peak_rss_mb(spark)}
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tally = res["tally"]
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics_block(bench, values, bool(args.trace)),
    }
    flush({"phase": "done", "result": result})
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
