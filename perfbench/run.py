#!/usr/bin/env python3
"""Benchmark of sketchmlflink_spark: one workload per run, timed from
outside the program through its public API.

    python3 perfbench/run.py --workload sgd_sparse_sketch --seed 1 \\
        --seconds 5 --trace 0

Run it from the repository root. Workloads (sizes in
``perfbench/workloads.json``):

* ``sgd_sparse_sketch``: the reference CLI pipeline (LibSVM ingest,
  75/25 split, SGD, holdout evaluation) on Zipf-sparse data at dim 2^20,
  sketch-compressed gradients, tree-reduce combine;
* ``catalog_mix``: registered catalog queries over the in-repo sf0.1
  fixture, each written through the ``noop`` sink.

Each run sets up a Spark session on ``local[4]`` once, from process
start (``setup_s``), warms the workload up with one untimed SGD job on
a small input or one oracle-checked catalog pass, runs it in a closed
loop with one client for ``--seconds`` (at least one SGD job, or the
catalog's ``min_passes`` whole passes), checks the outputs, and prints one JSON line: ``correct``,
``attempted``, ``failed`` and the metrics, with the names and units
``BENCHMARK.json`` lists. With ``--trace 0`` those are the end-to-end
metrics; with ``--trace 1`` the same loop runs with spans and Spark
status-store windows around every call into the program and the
per-layer metrics are printed instead.
A run record (CPU count, load average, versions, sizes) and, in a
traced run, the spans as JSONL are written to ``perfbench/results/``.
Generated inputs are cached in ``perfbench/data/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import env
from probe import RssSampler, SparkStores, Tracer, median, process_tree

WORKLOADS = ("sgd_sparse_sketch", "catalog_mix")

# Per-layer name prefixes each workload measures; on the other workload
# they read 0. Names with any other prefix are measured on both.
OWNED = {
    "sgd_sparse_sketch": ("sources.", "sgd.", "sketch.", "regression."),
    "catalog_mix": ("operators.", "streaming."),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes (perfbench/selftest.py)")
    return p.parse_args(argv)


# ------------------------------------------------------------------ set-up
def _touch_workers(spark) -> None:
    """The set-up's own warm-up: one tiny Arrow round trip through the
    Python workers, so they are started and have imported pandas."""
    (
        spark.range(8, numPartitions=4)
        .mapInPandas(lambda batches: batches, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def setup(tracer: Tracer, t_exec: float, gen_s: float):
    """The run's one set-up, cold: session start (JVM launch), package
    shipping, worker warm-up. Timed from process start, less input
    generation, so it includes the Python imports. Returns (spark,
    set-up seconds, layer timings)."""
    from sketchmlflink_spark.session import ensure_workers_can_import, get_spark, tune_for_session

    with tracer.span("session.get_spark") as a:
        spark = tune_for_session(get_spark(app_name="perfbench"))
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.ship_pkg") as b:
        ensure_workers_can_import(spark)
    with tracer.span("setup.touch_workers"):
        _touch_workers(spark)
    setup_s = time.monotonic() - t_exec - gen_s
    timings = {"get_spark_s": a["end"] - a["start"], "ship_pkg_s": b["end"] - b["start"]}
    return spark, setup_s, timings


# --------------------------------------------------------------- workloads
def run_sgd(spark, args, config, path, warm_path, rows, tracer, stores):
    import sgd_workloads

    wcfg = config["workloads"]["sgd_sparse_sketch"]
    # one Spark partition per generated input file (4 files → 4 partitions)
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    # one untimed job first, on the small input of the same seed: the
    # first job in a fresh process pays JIT and first-use costs the next
    # ones do not
    t0 = time.monotonic()
    warm = sgd_workloads.SparseSketch(spark, warm_path, wcfg, args.seed, Tracer(False), None)
    warm.finish_job(warm.run_job())
    warm_s = time.monotonic() - t0
    wl = sgd_workloads.SparseSketch(spark, path, wcfg, args.seed, tracer, stores)
    outs, failures, attempted = [], [], 0
    rss = RssSampler().start()
    deadline = time.monotonic() + args.seconds
    while attempted == 0 or time.monotonic() < deadline:
        if outs:
            wl.finish_job(outs[-1])  # release the previous job's cache, untimed
        attempted += 1
        try:
            outs.append(wl.run_job())
        except Exception as e:  # noqa: BLE001 - a failed job is a counted failure
            failures.append(f"job {attempted}: {type(e).__name__}: {e}"[:500])
    peak = rss.stop()
    e2e, layer = {}, {}
    if outs:
        failures += wl.check(outs)
        epochs = [ms / 1e3 for o in outs for ms in o.result.epoch_times_ms]
        e2e = {
            "job_s": median(o.job_s for o in outs),
            "job_cpu_s": median(o.cpu_s for o in outs),
            "step_p50_s": median(epochs),
            "peak_rss_mb": peak / 1e6,
            "final_loss": median(o.result.losses[-1] for o in outs),
        }
        if stores is not None:
            layer = sgd_workloads.layer_metrics(outs, rows)
        wl.finish_job(outs[-1])
    info = {
        "warmup_s": warm_s,
        "jobs": len(outs),
        "holdout_mae": [o.holdout_mae for o in outs],
        "grad_bytes_per_epoch": [o.result.shuffle_bytes / o.result.epochs_run for o in outs],
        "epoch_s": [[ms / 1e3 for ms in o.result.epoch_times_ms] for o in outs],
        "job_s": [o.job_s for o in outs],
        "times": [o.times for o in outs],
    }
    return e2e, layer, attempted, failures, info


def run_catalog(spark, args, config, tracer, stores):
    from catalog import CatalogMix

    wcfg = config["workloads"]["catalog_mix"]
    fixture = wcfg["tiny_input"]["fixture"] if args.tiny else wcfg["input"]["fixture"]
    mix = CatalogMix(spark, os.path.join(env.ROOT, fixture), wcfg["queries"], args.seed, tracer, stores)
    t0 = time.monotonic()
    mix.check_pass()
    check_s = time.monotonic() - t0
    rss = RssSampler().start()
    passes = mix.timed_passes(args.seconds, wcfg["min_passes"])
    peak = rss.stop()
    lat = mix.latencies()
    if mix.st06_final_loss is None:
        mix.failures.append("st06_stream_incremental_sgd: no final_loss from the check pass")
    e2e = {
        "job_s": mix.pass_s("latency_s"),
        "job_cpu_s": mix.pass_s("cpu_s"),
        "step_p50_s": median(lat) if lat else 0.0,
        "peak_rss_mb": peak / 1e6,
        "final_loss": mix.st06_final_loss or 0.0,
    }
    layer = mix.layer_metrics(passes) if stores is not None else {}
    info = {
        "passes": passes,
        "check_pass_s": check_s,
        "check_s": mix.check_s,
        "row_counts": mix.row_counts,
        "latency_s": {n: [r["latency_s"] for r in recs] for n, recs in mix.samples.items()},
    }
    return e2e, layer, mix.attempted, mix.failures, info


# -------------------------------------------------------------------- main
def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and every other child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    _reap_descendants()


def _reap_descendants(timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    while process_tree(os.getpid())[1:] and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _finite(v) -> float:
    v = float(v)
    return v if math.isfinite(v) else 0.0


def _untraced_job_s(args, sizes: dict) -> float | None:
    """job_s of the newest untraced result of the same workload, seed
    and sizes, for the tracing-overhead note in the run record."""
    prefix = f"{args.workload}_s{args.seed}_t0_"
    try:
        names = sorted(n for n in os.listdir(env.RESULTS_DIR) if n.startswith(prefix) and n.endswith(".json"))
    except FileNotFoundError:
        return None
    for n in reversed(names):
        with open(os.path.join(env.RESULTS_DIR, n)) as f:
            rec = json.load(f)
        if rec["record"]["tiny"] == args.tiny and rec["record"]["sizes"] == sizes:
            return rec["result"]["metrics"]["job_s"]["value"]
    return None


def _units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics ``BENCHMARK.json`` lists for this mode."""
    bench = env.load_benchmark()
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def run(args, t_exec: float) -> dict:
    config = env.load_config()
    wcfg = config["workloads"][args.workload]
    units = _units(args.trace)
    load0, steal0 = env.loadavg(), env.cpu_steal_s()
    tracer = Tracer(enabled=bool(args.trace))

    path, warm_path, rows, gen_s = None, None, 0, 0.0
    if args.workload == "sgd_sparse_sketch":
        import inputs

        t0 = time.monotonic()
        params = dict(wcfg["input"], **(wcfg["tiny_input"] if args.tiny else {}))
        path, rows = inputs.sparse_libsvm(args.seed, params), int(params["rows"])
        warm_path = inputs.sparse_libsvm(args.seed, dict(wcfg["input"], **wcfg["tiny_input"]))
        gen_s = time.monotonic() - t0
        sizes = {"input": params, "path": os.path.relpath(path, env.ROOT), "model": wcfg["model"]}
    else:
        fixture = wcfg["tiny_input"]["fixture"] if args.tiny else wcfg["input"]["fixture"]
        sizes = {"fixture": fixture, "queries": wcfg["queries"]}

    spark, setup_s, timings = setup(tracer, t_exec, gen_s)
    try:
        stores = SparkStores(spark) if args.trace else None
        if args.workload == "catalog_mix":
            e2e, layer, attempted, failures, info = run_catalog(spark, args, config, tracer, stores)
        else:
            e2e, layer, attempted, failures, info = run_sgd(
                spark, args, config, path, warm_path, rows, tracer, stores
            )
    finally:
        _shutdown(spark)

    # CPU of the process tree per job: moves with co-tenant load and JIT
    # threads as much as wall time here, so it is a per-layer number
    job_cpu_s = e2e.pop("job_cpu_s", 0.0)
    if args.trace:
        values = dict(layer)
        values["process.job_cpu_s"] = job_cpu_s
        values["session.get_spark_s"] = timings["get_spark_s"]
        values["session.ship_pkg_s"] = timings["ship_pkg_s"]
        values["trace.job_s"] = e2e.get("job_s", 0.0)
    else:
        values = dict(e2e, setup_s=setup_s)
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics not listed in BENCHMARK.json: {sorted(unknown)}")
    # every metric this workload owns must be measured unless a job or
    # query failed; the other workload's per-layer metrics read 0
    other = tuple(p for w, ps in OWNED.items() if w != args.workload for p in ps)
    missing = sorted(n for n in units if n not in values and not n.startswith(other))
    if missing and not failures:
        raise RuntimeError(f"metrics not measured: {missing}")
    failed = min(len(failures), attempted)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": _finite(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    record = env.run_record(args, sizes, load0, steal0)
    record.update(
        {
            "generation_s": gen_s,
            "setup_s": setup_s,
            "job_cpu_s": job_cpu_s,
            "session_timings": timings,
            "not_measured": missing,
            "failures": failures,
            "detail": info,
        }
    )
    if args.trace:
        untraced = _untraced_job_s(args, sizes)
        record["tracing_overhead_job_s"] = None if untraced is None else values["trace.job_s"] - untraced
    stem = env.result_stem(args)
    with open(stem + ".json", "w") as f:
        json.dump({"result": result, "record": record}, f, indent=1, default=float)
    if args.trace:
        tracer.write_jsonl(stem + ".spans.jsonl")
    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    t_exec = env.process_start_monotonic()
    args = parse_args(argv)
    if not env.program_present():
        print(
            "perfbench: sketchmlflink_spark/ not found next to perfbench/; run from the repository root",
            file=sys.stderr,
        )
        return 2
    work_dir = os.path.join(env.WORK_ROOT, f"run-{os.getpid()}")
    env.prepare_process_env(work_dir, env.load_config()["cpus"])
    try:
        result = run(args, t_exec)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
