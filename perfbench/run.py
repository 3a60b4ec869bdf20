"""Benchmark for builder_spark, driven from outside the program.

    python3 perfbench/run.py --workload {llm_curation,pipeline_incremental}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process on ``local[n]``
(n = min(4, usable cores)). Inputs are generated from ``--seed`` into a
private work directory under ``.perfbench_work/`` that is removed at
exit; the seed also sets the query order of each pass and the
pipeline's ingest sets. See ``harness.py`` for the phases of a run.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it carries the run details (cpus, sf,
seed, per-pass series, check problems). With ``--trace 1`` the warm
passes alternate tracing off and on: per-layer numbers come from the
traced passes, and ``trace.overhead_s`` is the difference of the two
medians. Spans are written to
``.perfbench_out/<workload>-seed<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("llm_curation", "pipeline_incremental")


def isolate(work: str, cpus: int) -> None:
    """Environment for the driver JVM and its Python workers: temp files
    inside ``work``, workers able to import builder_spark from any cwd,
    and ``local[cpus]``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio", ".concurrency")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="builder_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "builder_spark", "__init__.py")):
        print(f"perfbench: no builder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    if args.workload == "pipeline_incremental":
        from pipeline_wl import PipelineBench as cls
    else:
        from harness import Bench as cls
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    b = cls(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        isolate(work, b.cpus)
        b.make_inputs()
        # the cross-process stitched-boundary cache would make the cold
        # pass depend on the previous run
        from builder_spark.operators.partitioning import _boundary_cache_path

        if os.path.exists(_boundary_cache_path()):
            os.remove(_boundary_cache_path())
        os.chdir(work)
        b.setup(time.perf_counter())
        b.run()
        metrics = b.per_layer() if b.trace else b.end_to_end()
    finally:
        if b.spark is not None:
            shutdown(b.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            os.rmdir(os.path.dirname(work))
    if b.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{b.workload}-seed{b.seed}-trace.json"), "w") as f:
            json.dump(b.tracer.to_json(), f)
    print(json.dumps(b.details()))
    print(json.dumps({
        "correct": not b.problems and b.failed_ops == 0,
        "attempted": b.attempted(),
        "failed": b.failed_ops,
        "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
