"""Paths, process environment and the run record.

Everything the benchmark writes stays under its own directory:
``data/`` caches generated inputs, ``results/`` holds run records and
span files, ``.work/`` holds per-process scratch (Spark local dirs,
streaming checkpoints, the shipped package zip) and is deleted at exit.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")


def load_config() -> dict:
    """Workload sizes, model settings and seeds (``workloads.json``)."""
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        return json.load(f)


def load_benchmark() -> dict:
    """The metric names, units and bounds (``BENCHMARK.json``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "sketchmlflink_spark", "__init__.py"))


def process_start_monotonic() -> float:
    """This process's start time on the ``time.monotonic`` clock (both
    count from boot on Linux), so set-up can be timed from exec."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_process_env(work_dir: str, cpus: int) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work_dir`` and fix the CPU count. Must run before pyspark
    launches its JVM."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The program's default driver heap is 8g. 2g keeps a run small on a
    # shared machine; every figure (GC, peak RSS, timings) is taken at it.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--conf "spark.driver.extraJavaOptions={java_opts}"',
            f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def run_record(args, sizes: dict, loadavg_start: list[float], steal_start: float) -> dict:
    """Context of one run, written next to its result. It explains
    co-tenant phases (load average, CPU time stolen by other guests);
    no metric is rescaled by it."""
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg(),
        "cpu_steal_s": cpu_steal_s() - steal_start,
        "git_commit": _git_commit(),
        "versions": versions(),
        "sizes": sizes,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def result_stem(args) -> str:
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    return os.path.join(
        RESULTS_DIR, f"{args.workload}_s{args.seed}_t{args.trace}_{stamp}_{os.getpid()}"
    )
