"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_query_ingest --seed 1 --seconds 4 --trace 0

It may start in any directory: the repository root is the parent of
this file's directory. It pins the Spark environment, runs one
workload (see ``perfbench/README.md``), checks the outputs, prints
every metric by name with its unit, and ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns the Spark UI on and reports the per-layer metrics.
The full record (environment, metrics, checks, spans) is written to
``.perfbench_out/``; scratch data lives under ``.perfbench_work/`` and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# well below RAM: session.py defaults to 48g
DRIVER_MEM = "2g"


def _pin_environment(root: str, work: str, traced: bool) -> None:
    """Spark settings every run uses; all scratch space stays in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_UI": "true" if traced else "false",
        # Spark's Python workers import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: no /tmp files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def environment(spark) -> dict:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], capture_output=True,
            text=True, timeout=10, cwd=ROOT).stdout.split()
    except OSError:
        out = []
    # only this checkout's own repository, not one that encloses it
    sha = out[1] if len(out) == 2 and os.path.samefile(out[0], ROOT) else None
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": sha,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = ROOT
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "datalake_toolkit_spark")):
        print(f"perfbench: no datalake_toolkit_spark/ in {root}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    os.makedirs(work)
    _pin_environment(root, work, bool(args.trace))
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, Bench  # noqa: E402

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work, run_id, T_START)
    try:
        WORKLOADS[args.workload](bench)
        env = environment(bench.spark)
        layer = bench.layer_metrics() if args.trace else {}
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = bench.e2e
    if args.trace:
        # a layer the workload bypasses reports 0
        unknown = sorted(set(layer) - {m["name"] for m in wanted})
        if unknown:
            print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}",
                  file=sys.stderr)
            return 3
        source = {m["name"]: 0.0 for m in wanted} | layer
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        print(f"perfbench: workload produced no {missing}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "checks": bench.checks,
        "failures": bench.failures, "e2e": bench.e2e, "layer": layer,
        "counts": bench.counts, "self_s": bench.tracer.self_times(),
        "spans": bench.tracer.spans,
        "wall_s": time.perf_counter() - T_START,
    }
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("env " + json.dumps(env))
    for name, check in bench.checks.items():
        print(f"check {name}: {'ok' if check['ok'] else 'FAILED'} {check['detail']}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"op_error_rate = {bench.failed / max(bench.attempted, 1):.6g} "
          f"({bench.failed} of {bench.attempted} ops)")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
