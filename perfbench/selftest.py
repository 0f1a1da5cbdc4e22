#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For every workload and both trace modes it runs ``run.py --tiny`` for
one second and checks that the printed result names exactly the
metrics ``BENCHMARK.json`` lists, with the same units, that every value
is a finite number, that every output check passed, and that the layer
separation holds (sketch path and LibSVM ingest only on
``sgd_sparse_sketch``, catalog query metrics only on ``catalog_mix``).
``run.py`` itself stops with an error when a metric its workload owns
was not measured, so a pass also means each one was. It also checks
that ``run.py`` fails without printing a result when the program is
not next to it. Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _layer_separation(workload: str, m: dict) -> list[str]:
    v = {k: x["value"] for k, x in m.items()}
    problems = []
    share = v["sketch.sketch_path_share"]
    want_share = 1.0 if workload == "sgd_sparse_sketch" else 0.0
    if share != want_share:
        problems.append(f"sketch.sketch_path_share={share}, want {want_share}")
    if (v["sources.read_libsvm_s"] > 0) != (workload == "sgd_sparse_sketch"):
        problems.append(f"sources.read_libsvm_s={v['sources.read_libsvm_s']}")
    catalog = [k for k in v if k.startswith(("operators.", "streaming.")) and k.endswith(".exec_s")]
    busy = [k for k in catalog if v[k] > 0]
    if workload == "catalog_mix" and len(busy) != len(catalog):
        problems.append(f"catalog queries without exec time: {sorted(set(catalog) - set(busy))}")
    if workload != "catalog_mix" and busy:
        problems.append(f"catalog metrics nonzero off catalog_mix: {busy}")
    return problems


def check_one(bench: dict, workload: str, trace: int) -> list[str]:
    proc = _run(ROOT, workload, trace)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not (result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1):
        problems.append(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: x["unit"] for k, x in result["metrics"].items()}
    if got != want:
        problems.append(f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"unit diffs {sorted(k for k in want if k in got and got[k] != want[k])}")
    for k, x in result["metrics"].items():
        if not (isinstance(x["value"], (int, float)) and math.isfinite(x["value"])):
            problems.append(f"{k}={x['value']!r}")
        elif not trace and x["value"] <= 0:
            problems.append(f"end-to-end metric {k} is {x['value']}")
    if trace and not problems:
        problems += _layer_separation(workload, result["metrics"])
    return problems


def check_without_program() -> list[str]:
    """run.py in a directory holding only BENCHMARK.json and perfbench/
    must exit non-zero and print no result."""
    os.makedirs(os.path.join(BENCH_DIR, ".work"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(BENCH_DIR, ".work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(BENCH_DIR, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("data", "results", ".work", "__pycache__"))
        proc = _run(tmp, "sgd_sparse_sketch", 0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    failures = {}
    problems = check_without_program()
    if problems:
        failures["bare"] = problems
    for workload in argv or names:
        for trace in (0, 1):
            problems = check_one(bench, workload, trace)
            print(f"{workload} trace={trace}: {'ok' if not problems else problems}", flush=True)
            if problems:
                failures[f"{workload}/{trace}"] = problems
    print("selftest:", "PASS" if not failures else f"FAIL {sorted(failures)}")
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
