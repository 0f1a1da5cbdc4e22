"""Measurement helpers: spans, Spark status-store windows, broadcast
sizes, process-tree RSS and percentiles.

Spans are kept only in a traced run (``Tracer(enabled=True)``); the
untraced run goes through the same calls and only reads the clock, so
its end-to-end timings carry no tracing work. Spans wrap the
benchmark's calls into the program's public functions; nothing inside
the program is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import uuid


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


class Tracer:
    """In-memory spans: (name, start, end, parent, run id, attrs).
    Times are seconds on the monotonic clock."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block. The yielded record's ``start``/``end`` are set
        in both modes; only a traced run keeps the record."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
            "attrs": attrs,
        }
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            if self.enabled:
                self._stack.pop()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- Spark stores
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9]+(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)\b")


def parse_size_metric(text: str) -> float:
    """Total of a formatted SQL size metric: either ``"260.2 KiB"`` or
    ``"total (min, med, max ...)\\n1.2 MiB (...)"`` (the total comes
    first after the header)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE_RE.search(body)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


class SparkStores:
    """Reads the JVM status stores (stages, jobs, SQL executions). Both
    are filled by an asynchronous listener, so ``drain`` waits for the
    listener bus before a window is read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._empty = gw.new_array(gw.jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> dict:
        """A window start: the newest stage, job and SQL execution ids."""
        self.drain()
        stages = self._jsc.statusStore().stageList(None, False, False, self._empty, None)
        jobs = self._jsc.statusStore().jobsList(None)
        n_exec = self._sql.executionsCount()
        execs = self._sql.executionsList(max(int(n_exec) - 1, 0), 1) if n_exec else None
        return {
            "stage": stages.apply(0).stageId() if stages.size() else -1,
            "job": max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            "exec": execs.apply(0).executionId() if execs is not None and execs.size() else -1,
        }

    def window(self, mark: dict) -> dict:
        """Totals over the stages, jobs and SQL executions newer than
        ``mark``. Stage list order is newest first."""
        self.drain()
        stages = self._jsc.statusStore().stageList(None, False, False, self._empty, None)
        out = {"tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "intervals": []}
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= mark["stage"]:
                break
            out["tasks"] += st.numTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if a is not None and b is not None:
                out["intervals"].append((a, b))
        jobs = self._jsc.statusStore().jobsList(None)
        out["jobs"] = sum(1 for i in range(jobs.size()) if jobs.apply(i).jobId() > mark["job"])
        out["python_bytes"] = self._python_bytes(mark["exec"])
        return out

    def _python_bytes(self, after_exec: int) -> float:
        """Bytes sent to plus returned from Python workers, summed over
        the SQL executions newer than ``after_exec``."""
        total = 0.0
        n = int(self._sql.executionsCount())
        execs = self._sql.executionsList(0, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= after_exec:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in ("data sent to Python workers", "data returned from Python workers"):
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += parse_size_metric(v.get())
        return total

    def cached_bytes(self, rdd_id: int) -> int:
        for info in self._jsc.getRDDStorageInfo():
            if info.id() == rdd_id:
                return int(info.memSize()) + int(info.diskSize())
        return 0


class BroadcastMeter:
    """Counts what the driver broadcasts inside a ``with`` block: calls
    to ``SparkContext.broadcast`` and the size of the pickled file each
    one writes for the JVM to ship. pyspark's method is wrapped for the
    duration of the block; the program itself is untouched."""

    def __enter__(self) -> "BroadcastMeter":
        from pyspark import SparkContext

        self.calls, self.bytes = 0, 0
        self._orig = orig = SparkContext.broadcast

        def broadcast(sc, value):
            bc = orig(sc, value)
            self.calls += 1
            self.bytes += os.path.getsize(bc._path)
            return bc

        SparkContext.broadcast = broadcast
        return self

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        SparkContext.broadcast = self._orig


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ------------------------------------------------------- process tree
def _proc_stats() -> dict[int, list[str]]:
    """pid -> fields of /proc/<pid>/stat after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def process_tree(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """User plus system CPU of this process tree (the driver, the JVM
    and the Python workers), including children they have reaped."""
    stats = _proc_stats()
    ticks = sum(sum(int(x) for x in stats[p][11:15]) for p in process_tree(root or os.getpid(), stats) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver, the JVM and the Python workers), sampled every 100 ms
    between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
