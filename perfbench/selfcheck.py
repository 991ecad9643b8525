"""Self-check of the benchmark, at a tiny size, in one Spark session.

    python3 perfbench/selfcheck.py

Runs every workload of spec.json traced, on inputs far smaller than the
benchmark's, and fails (exit 1) unless:

- every end-to-end and per-layer metric named in BENCHMARK.json comes out
  as a finite number, and no operation failed;
- the progress artifact left on disk parses;
- the output check rejects deliberately perturbed results (a changed
  value, a dropped row), so the correctness gate is not vacuous.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import run as bench

TINY_SF = 0.01


def perturbations(pdf):
    """(label, perturbed copy) pairs the check must reject."""
    changed = pdf.copy()
    col = changed.columns[0]
    first = changed.index[0]
    if changed[col].dtype == object:
        changed.loc[first, col] = f"{changed.loc[first, col]}-perturbed"
    else:
        changed.loc[first, col] = changed.loc[first, col] + 1
    yield f"changed {col}", changed
    yield "dropped row", pdf.iloc[1:]


def main() -> int:
    bench_spec = bench.load_json(os.path.join(bench.ROOT, "BENCHMARK.json"))
    spec = bench.load_json(os.path.join(bench.HERE, "spec.json"))
    work = os.path.join(bench.ROOT, ".perfbench_work", f"selfcheck-{os.getpid()}")
    out_dir = os.path.join(bench.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    problems: list[str] = []
    try:
        conf = bench.pin_environment(spec, work)
        import workloads

        spark, start_s = bench.start_spark(spec, conf)
        try:
            for name, wl in spec["workloads"].items():
                wspec = {**spec, **wl}
                data = os.path.join(work, name)
                bench.generate(wspec, 1, data, sf=TINY_SF)
                artifact = os.path.join(out_dir, f"selfcheck-{name}.json")

                def flush(update, artifact=artifact):
                    bench.flush_json(artifact, update)

                res = workloads.run(spark, name, wspec, data, 0, True, start_s, flush)
                values = {**res["e2e"], **res["layers"], "jvm.peak_rss_mb": bench.peak_rss_mb(spark)}
                for trace in (False, True):
                    for m, v in bench.metrics_block(bench_spec, values, trace).items():
                        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
                            problems.append(f"{name}: {m} = {v['value']!r}")
                if res["tally"].failed:
                    problems.append(f"{name}: {res['tally'].failed} operations failed")
                with open(artifact) as f:
                    json.load(f)

                con = workloads.oracle_conn(data, wspec["tables"])
                oracles = workloads.queries_catalog.oracle_sql()
                for entry, pdf in res["outputs"].items():
                    for label, bad in perturbations(pdf):
                        if workloads.check(entry, bad, con, oracles) is None:
                            problems.append(f"{name}: check accepted {entry} with {label}")
                print(f"self-check: {name} ran {res['tally'].attempted} operations", file=sys.stderr)
        finally:
            bench.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"self-check FAILED: {p}")
    if not problems:
        print("self-check OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
