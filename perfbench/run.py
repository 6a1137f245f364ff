"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process runs one workload as a single
closed-loop client against the program's own SparkSession at
``local[<cpus>]``, checks the program's outputs outside the timed window,
and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics.  Every input is generated from ``--seed``;
every file the run writes lives under ``.perfbench_runs/`` (removed at the
end, except the run's JSON detail in ``.perfbench_runs/last/``).

Exit status: 0 when the run completed (the JSON line says whether the
outputs were correct), 1 when the program cannot be imported or the run
itself broke, 2 on bad arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("surface", "stream")


def _env(run_dir: str) -> None:
    """Host CPU count for the program's session, and every scratch path of
    Spark, the JVM and Python inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import Run, log, process_start_perf

    t0 = process_start_perf()
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), t0)
    # the program reads SPARK_GRAFT_CPUS when its session module is imported
    _env(run.dir)
    try:
        import recsys_pipeline_spark  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as ex:
        log(f"the program is not importable from {ROOT}: {ex}")
        run.close()
        return 1

    import importlib

    workload = importlib.import_module(f"wl_{args.workload}")
    try:
        metrics = workload.run(run)
        path = run.write_detail(run.records)
        log(f"detail written to {os.path.relpath(path, ROOT)}")
    finally:
        run.close()
    result = {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
