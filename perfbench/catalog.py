"""The ``catalog_mix`` workload: a fixed set of registered queries over
the in-repo sf0.1 fixture, one client, each pass in a seeded order.

One operation is one query: ``registry.all_queries()[name].build``
followed by a ``write.format("noop")`` of the returned DataFrame, so the
whole result is computed. A check pass before timing compares every
oracled query against its DuckDB oracle with
``tests.oracle_check.compare_query_strict`` and records the row count of
each rows-only query; timed passes then require the same row count,
read from an ``Observation`` on the timed write.
"""

from __future__ import annotations

import random
import time

from probe import SparkStores, Tracer, median, tree_cpu_seconds


def query_module(q) -> str:
    """``operators.similarity`` for a query registered in
    ``sketchmlflink_spark/operators/similarity.py``."""
    return q.build.__module__.removeprefix("sketchmlflink_spark.")


class CatalogMix:
    def __init__(self, spark, fixture: str, names: list[str], seed: int, tracer: Tracer,
                 stores: SparkStores | None):
        from sketchmlflink_spark.registry import all_queries

        catalog = all_queries()
        self.spark = spark
        self.fixture = fixture
        self.queries = {n: catalog[n] for n in names}
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.stores = stores
        self.row_counts: dict[str, int] = {}
        self.samples: dict[str, list[dict]] = {n: [] for n in names}
        self.st06_final_loss = None
        self.attempted = 0
        self.failures: list[str] = []
        self.check_s: dict[str, float] = {}

    def pass_order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    # ------------------------------------------------------------ checks
    def check_pass(self) -> None:
        """Untimed pass that also warms every query: oracle compare or
        row-count baseline per query."""
        from tests.oracle_check import compare_query_strict, duck_connection

        con = duck_connection(self.fixture)
        try:
            for name in self.pass_order():
                q = self.queries[name]
                self.attempted += 1
                t0 = time.monotonic()
                try:
                    df = q.build(self.spark, self.fixture)
                    if q.oracle is not None:
                        problems = compare_query_strict(df, con, q.oracle)
                        if problems:
                            self.failures.append(f"{name}: {problems[:3]}")
                    else:
                        rows = df.collect()
                        self.row_counts[name] = len(rows)
                        if name == "st06_stream_incremental_sgd":
                            self.st06_final_loss = float(rows[0]["final_loss"])
                except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                    self.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
                self.check_s[name] = time.monotonic() - t0
        finally:
            con.close()

    # ------------------------------------------------------------- timed
    def run_query(self, name: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        q = self.queries[name]
        st = self.stores
        self.attempted += 1
        mark = st.mark() if st else None
        obs = None
        rec: dict = {}
        cpu0 = tree_cpu_seconds()
        try:
            with self.tracer.span("query", query=name) as sp:
                with self.tracer.span("build", query=name) as b:
                    df = q.build(self.spark, self.fixture)
                if st:
                    # traced run only: plan the frame eagerly and read the
                    # planner's phase timings
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    it = phases.iterator()
                    plan_ms = 0.0
                    while it.hasNext():
                        plan_ms += it.next()._2().durationMs()
                    rec["plan_s"] = plan_ms / 1e3
                if name in self.row_counts:
                    obs = Observation(f"rows_{name}")
                    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
                with self.tracer.span("exec", query=name) as x:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return
        rec["cpu_s"] = tree_cpu_seconds() - cpu0
        rec["latency_s"] = sp["end"] - sp["start"]
        rec["build_s"] = b["end"] - b["start"]
        rec["exec_s"] = x["end"] - x["start"]
        if obs is not None:
            n = obs.get["n"]
            if n != self.row_counts[name]:
                self.failures.append(f"{name}: {n} rows, check pass had {self.row_counts[name]}")
        if st:
            rec["window"] = st.window(mark)
        self.samples[name].append(rec)

    def timed_passes(self, seconds: float, min_passes: int) -> int:
        """Whole passes until ``seconds`` have elapsed and at least
        ``min_passes`` have run; returns the number of passes."""
        deadline = time.monotonic() + seconds
        passes = 0
        while passes < min_passes or time.monotonic() < deadline:
            for name in self.pass_order():
                self.run_query(name)
            passes += 1
        return passes

    # ----------------------------------------------------------- metrics
    def latencies(self) -> list[float]:
        return [r["latency_s"] for recs in self.samples.values() for r in recs]

    def pass_s(self, key: str) -> float:
        """One pass: the sum over queries of each query's median
        ``latency_s`` or ``cpu_s``."""
        return sum(median([r[key] for r in recs]) for recs in self.samples.values() if recs)

    def layer_metrics(self, passes: int) -> dict:
        out = {}
        tasks = gc = 0.0
        for name, recs in self.samples.items():
            prefix = f"{query_module(self.queries[name])}.{name}"
            if not recs:
                continue
            w = [r["window"] for r in recs]
            out[f"{prefix}.build_s"] = median(r["build_s"] for r in recs)
            out[f"{prefix}.exec_s"] = median(r["exec_s"] for r in recs)
            out[f"{prefix}.plan_s"] = median(r["plan_s"] for r in recs)
            out[f"{prefix}.executor_cpu_s"] = median(x["executor_cpu_s"] for x in w)
            out[f"{prefix}.shuffle_bytes"] = median(x["shuffle_write_bytes"] for x in w)
            out[f"{prefix}.python_bytes"] = median(x["python_bytes"] for x in w)
            tasks += sum(x["tasks"] for x in w)
            gc += sum(x["gc_s"] for x in w)
        out["spark.tasks"] = tasks / passes
        out["spark.gc_s"] = gc / passes
        return out
