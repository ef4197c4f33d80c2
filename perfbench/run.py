"""The repo benchmark: one workload per run, end to end or traced per layer.

Run from the repository root::

    python3 perfbench/run.py --workload ask_mix --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
library's public functions and prints the per-layer metrics instead. The
last line of stdout is the result object; the line before it is the run
record (seed, cores, Spark geometry, load, versions, failures). The first
run in a checkout also generates the base tables and DuckDB oracle counts
under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from importlib.metadata import version

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "4g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ask_mix", "pipeline_sf01"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(ncpu: int) -> None:
    """Spark, its Python workers and the JVM keep to the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_MASTER": f"local[{ncpu}]",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        # Python workers import the library (x20's mapInPandas does)
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests during the run."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(sum(delta[:8]), 1)


class Context:
    def __init__(self, args, dirs, ncpu):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.work, self.dirs, self.ncpu = WORK, dirs, ncpu
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.tracer = None
        self.spark_geometry = {}

    def start_tracer(self, spark):
        sc = spark.sparkContext
        self.spark_geometry = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
        }
        if not self.trace:
            return None
        from perfbench.trace import Tracer

        self.tracer = Tracer(sc)
        self.tracer.install()
        return self.tracer

    def stop_tracer(self):
        if self.tracer is not None:
            self.tracer.uninstall()

    def result(self, setups, warmup_s, walls, pass_walls, rss, measured_s,
               attempted, failures, report, layers):
        from perfbench.metrics import END_TO_END, PER_LAYER
        from perfbench.workloads import percentile

        if self.trace:
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update({
                "session.cold_setup_s": setups[0]["total"],
                "session.get_spark_s": statistics.median(s["get_spark"] for s in setups),
                "sources.register_views_s": statistics.median(s["register"] for s in setups),
                "warmup_s": warmup_s,
                "trace.overhead_frac": self.tracer.overhead_s / measured_s,
                "peak_rss_mb": rss,
            })
            values.update(layers)
            units = {k: v[0] for k, v in PER_LAYER.items()}
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            self.tracer.dump(os.path.join(traces, f"{self.workload}-{self.seed}.jsonl"))
        else:
            values = {
                "setup_s": statistics.median(s["total"] for s in setups),
                "op_p50_ms": percentile(walls, 50),
                "op_p75_ms": percentile(walls, 75),
                "pass_s": statistics.median(pass_walls),
            }
            units = {k: v[0] for k, v in END_TO_END.items()}
        report.update({
            "samples": len(walls), "setups_s": [round(s["total"], 3) for s in setups],
            "peak_rss_mb": rss,
            "failed_frac": len(failures) / max(attempted, 1), "failures": failures,
        })
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
            "report": report,
        }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ask_duckdb_spark")):
        print("perfbench: run from the repository root (ask_duckdb_spark/ not found)",
              file=sys.stderr)
        return 2
    ncpu = len(os.sched_getaffinity(0))
    _environment(ncpu)
    sys.path.insert(0, ROOT)
    load_start, cpu_start = os.getloadavg(), _cpu_times()
    from perfbench import build, workloads

    if build.pending(WORK):
        # a child process, so that its memory stays out of this run's peak RSS
        subprocess.run([sys.executable, "-m", "perfbench.build", WORK], check=True, cwd=ROOT)

    dirs = {name: os.path.join(build.data_dir(WORK), name) for name in build.SCALES}
    ctx = Context(args, dirs, ncpu)
    t0 = time.perf_counter()
    try:
        out = workloads.ask_mix(ctx) if args.workload == "ask_mix" else workloads.pipeline(ctx)
    finally:
        workloads.stop_jvm()
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": ncpu, "driver_memory": DRIVER_MEM,
        **ctx.spark_geometry,
        "duckdb": version("duckdb"), "python": platform.python_version(),
        "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
        "host_steal_frac": _steal_frac(cpu_start, _cpu_times()),
        "run_s": time.perf_counter() - t0, **out.pop("report"),
    }
    for f in record["failures"]:
        print(f"perfbench: FAILED {f['op']}: {f['cause']}", file=sys.stderr)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
