"""The ``sgd_sparse_sketch`` workload: the reference CLI pipeline on a
Zipf-sparse LibSVM input, sketch arm, tree-reduce aggregation.

One job is one full experiment through the public API:
``sources.libsvm.read_libsvm`` → seeded 75/25 ``randomSplit`` →
``ml.sgd.prepare_blocks`` → ``MultipleLinearRegression.fit`` (every
epoch) → holdout MAE from ``MultipleLinearRegression.evaluate``. Output
checks run after the timed loop.
"""

from __future__ import annotations

import math
import time

import numpy as np

from probe import BroadcastMeter, SparkStores, Tracer, median, percentile, tree_cpu_seconds, union_seconds


class JobOutcome:
    def __init__(self):
        self.job_s = 0.0
        self.cpu_s = 0.0  # CPU of the whole process tree during the job
        self.times: dict[str, float] = {}  # read / prepare / fit / eval seconds
        self.result = None  # ml.sgd.TrainResult
        self.model = None
        self.holdout_mae = math.nan
        self.libsvm = None  # sources.libsvm.LibSVMData, cached by read_libsvm
        self.prepared = None  # ml.sgd.PreparedBlocks, kept for the codec replay
        self.stats: dict = {}  # status-store windows (traced run only)


class SparseSketch:
    def __init__(self, spark, path: str, cfg: dict, seed: int, tracer: Tracer, stores: SparkStores | None):
        self.spark = spark
        self.path = path
        self.model_cfg = cfg["model"]
        self.seed = seed
        self.tracer = tracer
        self.stores = stores
        self._split = None

    def _timed(self, out: JobOutcome, key: str, name: str, fn, *args, **kw):
        with self.tracer.span(name) as sp:
            value = fn(*args, **kw)
        out.times[key] = sp["end"] - sp["start"]
        return value

    def run_job(self) -> JobOutcome:
        from pyspark.sql import functions as F

        from sketchmlflink_spark.ml import sgd as SGD
        from sketchmlflink_spark.ml.regression import MultipleLinearRegression
        from sketchmlflink_spark.sources.libsvm import read_libsvm

        m = self.model_cfg
        st = self.stores
        out = JobOutcome()
        # a traced job drains the listener bus at each mark/window, inside
        # the job timer: that is part of the tracing overhead
        job_mark = st.mark() if st else None
        cpu0 = tree_cpu_seconds()
        t0 = time.monotonic()
        with self.tracer.span("job"):
            out.libsvm = self._timed(out, "read", "sources.read_libsvm", read_libsvm, self.spark, self.path, cache=True)
            train, test = out.libsvm.df.randomSplit([0.75, 0.25], seed=self.seed)
            self._split = (train, test)
            out.prepared = self._timed(out, "prepare", "sgd.prepare_blocks", SGD.prepare_blocks, train)
            model = MultipleLinearRegression(
                iterations=m["iterations"],
                step_size=m["step_size"],
                compression=m["compression"],
                aggregation=m["aggregation"],
            )
            if st:
                fit_mark = st.mark()
                with BroadcastMeter() as bm:
                    self._timed(out, "fit", "sgd.train", model.fit, train, dim=out.libsvm.dim, prepared=out.prepared)
                out.stats["fit"] = dict(st.window(fit_mark), broadcast_bytes=bm.bytes, broadcasts=bm.calls)
                eval_mark = st.mark()
            else:
                self._timed(out, "fit", "sgd.train", model.fit, train, dim=out.libsvm.dim, prepared=out.prepared)
            mae = F.avg(F.abs(F.col("truth") - F.col("prediction"))).alias("mae")
            row = self._timed(out, "eval", "regression.evaluate", lambda: model.evaluate(test).agg(mae).first())
            out.holdout_mae = float(row["mae"])
            if st:
                out.stats["eval"] = st.window(eval_mark)
        out.job_s = time.monotonic() - t0
        out.cpu_s = tree_cpu_seconds() - cpu0
        if st:
            out.stats["job"] = st.window(job_mark)
            out.stats["cached_block_bytes"] = st.cached_bytes(out.prepared.blocks.id())
        out.result, out.model = model.result_, model
        return out

    def finish_job(self, out: JobOutcome) -> None:
        """Release what the job cached; called outside the job timer."""
        out.prepared.unpersist()
        out.libsvm.df.unpersist()

    # ------------------------------------------------------------ checks
    def _split_stats(self) -> tuple[np.ndarray, float]:
        """Training labels and the mean predictor's holdout MAE of the
        seeded split (the same for every job of the run)."""
        from pyspark.sql import functions as F

        train, test = self._split
        y_train = np.array([r["label"] for r in train.select("label").collect()])
        mean = float(y_train.mean())
        base = test.agg(F.avg(F.abs(F.col("label") - F.lit(mean))).alias("m")).first()["m"]
        return y_train, float(base)

    def check(self, outs: list[JobOutcome]) -> list[str]:
        """Problems per job: non-finite or increasing loss, epoch-1 loss
        not 0.5·mean(y_train²) (weights start at zero), holdout MAE not
        below the mean predictor's, wrong epoch count."""
        y_train, base = self._split_stats()
        want = 0.5 * float(np.mean(y_train**2))
        problems = []
        for i, out in enumerate(outs, 1):
            losses = out.result.losses
            if not all(math.isfinite(v) for v in losses):
                problems.append(f"job {i}: non-finite loss in {losses}")
            # the relative slack only absorbs float rounding
            if any(b > a * (1 + 1e-12) for a, b in zip(losses, losses[1:])):
                problems.append(f"job {i}: loss increased: {losses}")
            if abs(losses[0] - want) > 1e-9 * max(1.0, abs(want)):
                problems.append(f"job {i}: epoch-1 loss {losses[0]!r} != 0.5*mean(y_train^2) {want!r}")
            if not out.holdout_mae < base:
                problems.append(f"job {i}: holdout MAE {out.holdout_mae} not below mean-predictor MAE {base}")
            if out.result.epochs_run != self.model_cfg["iterations"]:
                problems.append(f"job {i}: ran {out.result.epochs_run} epochs")
        return problems


# ------------------------------------------------------------- codec replay
def _leaf_gradients(blocks, w: np.ndarray, b: float):
    """Per-partition squared-loss gradient sums at (w, b) from the cached
    COO blocks, as sorted (keys, values): the leaves an epoch
    compresses."""
    leaves = []
    for rid, idx, val, y in blocks:
        pred = np.bincount(rid, weights=val * w[idx], minlength=len(y))[: len(y)]
        r = pred + b - y
        uk, inv = np.unique(idx, return_inverse=True)
        leaves.append((uk, np.bincount(inv, weights=val * r[rid], minlength=uk.shape[0])))
    return leaves


def _ms(fn, *args):
    t0 = time.perf_counter()
    value = fn(*args)
    return value, (time.perf_counter() - t0) * 1e3


def codec_replay(out: JobOutcome, repeats: int = 3) -> dict:
    """Time the public codec calls on the run's own leaf gradients (its
    cached blocks at its final weights), merging in treeReduce order
    (left to right over partitions). Times are per-call medians in ms;
    ``sketch.epoch_codec_s`` is the codec's share of one epoch's
    critical path, in seconds."""
    from sketchmlflink_spark.ml import sketch as SK

    res = out.result
    dim = len(res.weights)
    cfg = out.model.sketch_cfg
    leaves = [kv for kv in _leaf_gradients(out.prepared.blocks.collect(), res.weights, res.intercept) if kv[0].size]
    calls = ("compress_kv", "encode_keys", "decompress_kv", "decode_keys", "merge", "to_bytes", "from_bytes")
    t: dict[str, list[float]] = {k: [] for k in calls}
    for _ in range(repeats):
        sgs = []
        for keys, vals in leaves:
            sg, ms = _ms(SK.compress_kv, keys, vals, cfg, dim)
            t["compress_kv"].append(ms)
            t["encode_keys"].append(_ms(SK.encode_keys, keys)[1])
            buf, ms = _ms(SK.to_bytes, sg)
            t["to_bytes"].append(ms)
            sg, ms = _ms(SK.from_bytes, buf)
            t["from_bytes"].append(ms)
            t["decompress_kv"].append(_ms(SK.decompress_kv, sg)[1])
            t["decode_keys"].append(_ms(SK.decode_keys, sg.key_buf)[1])
            sgs.append(sg)
        acc = sgs[0]
        for sg in sgs[1:]:
            acc, ms = _ms(SK.merge, acc, sg, cfg, dim)
            t["merge"].append(ms)
    # one epoch's codec work on its critical path: the slowest leaf's
    # compress_kv + to_bytes (the leaves run in parallel on executors),
    # then the driver's treeReduce combine over the leaf payloads as
    # ml.sgd runs it at 4 partitions (from_bytes both sides, merge,
    # to_bytes) and the final decode
    epoch_codec_ms = []
    for _ in range(repeats):
        leaf = [_ms(lambda k, v: SK.to_bytes(SK.compress_kv(k, v, cfg, dim)), k, v) for k, v in leaves]
        t0 = time.perf_counter()
        buf = leaf[0][0]
        for other, _ in leaf[1:]:
            buf = SK.to_bytes(SK.merge(SK.from_bytes(buf), SK.from_bytes(other), cfg, dim))
        SK.decompress(SK.from_bytes(buf), dim)
        epoch_codec_ms.append(max(ms for _, ms in leaf) + (time.perf_counter() - t0) * 1e3)
    leaf_bytes = [len(SK.to_bytes(sg)) for sg in sgs]
    exact_cfg = cfg.with_(compression_type="None")
    exact_bytes = [len(SK.to_bytes(SK.compress_kv(k, v, exact_cfg, dim))) for k, v in leaves]
    # error of the merged, decoded gradient against the exact sum
    uk, inv = np.unique(np.concatenate([k for k, _ in leaves]), return_inverse=True)
    exact = np.bincount(inv, weights=np.concatenate([v for _, v in leaves]), minlength=uk.shape[0])
    dk, dv = SK.decompress_kv(acc)
    approx = np.zeros_like(exact)
    approx[np.searchsorted(uk, dk)] = dv
    metrics = {f"sketch.{k}_ms": median(v) if v else 0.0 for k, v in t.items()}
    metrics.update(
        {
            "sketch.leaf_nnz": float(np.mean([k.size for k, _ in leaves])),
            "sketch.leaf_payload_bytes": float(np.mean(leaf_bytes)),
            "sketch.payload_bytes_claimed": float(np.mean([sg.payload_bytes() for sg in sgs])),
            "sketch.byte_ratio": sum(exact_bytes) / sum(leaf_bytes),
            "sketch.grad_rel_err": float(np.linalg.norm(approx - exact) / np.linalg.norm(exact)),
            "sketch.sketch_path_share": float(np.mean([sg.splits is not None for sg in sgs])),
            "sketch.epoch_codec_s": median(epoch_codec_ms) / 1e3,
        }
    )
    return metrics


def layer_metrics(outs: list[JobOutcome], rows: int) -> dict:
    """Per-layer metrics of a traced run: medians over its jobs (per
    epoch where the name says so) plus the codec replay."""
    def per_epoch(key):
        return median(o.stats["fit"][key] / o.result.epochs_run for o in outs)

    last = outs[-1].result
    read_s = median(o.times["read"] for o in outs)
    metrics = {
        "sources.read_libsvm_s": read_s,
        "sources.rows_per_s": rows / read_s,
        "sgd.prepare_blocks_s": median(o.times["prepare"] for o in outs),
        "sgd.cached_block_bytes": median(o.stats["cached_block_bytes"] for o in outs),
        "sgd.epoch_jobs": per_epoch("jobs"),
        "sgd.epoch_executor_cpu_s": per_epoch("executor_cpu_s"),
        # epoch wall not covered by any running stage: driver-side work
        "sgd.epoch_driver_s": median(
            (o.times["fit"] - union_seconds(o.stats["fit"]["intervals"])) / o.result.epochs_run
            for o in outs
        ),
        # pickled bytes the driver broadcast during fit, per epoch
        "sgd.broadcast_bytes": per_epoch("broadcast_bytes"),
        "sgd.epoch_broadcasts": per_epoch("broadcasts"),
        "sgd.grad_bytes_per_epoch": last.shuffle_bytes / last.epochs_run,
        "sgd.epoch_p90_s": percentile([ms / 1e3 for o in outs for ms in o.result.epoch_times_ms], 90),
        "regression.evaluate_s": median(o.times["eval"] for o in outs),
        "regression.predict_python_bytes": median(o.stats["eval"]["python_bytes"] for o in outs),
        "regression.holdout_mae": median(o.holdout_mae for o in outs),
        "spark.gc_s": median(o.stats["job"]["gc_s"] for o in outs),
        "spark.tasks": median(o.stats["job"]["tasks"] for o in outs),
    }
    metrics.update(codec_replay(outs[-1]))
    epochs = [ms / 1e3 for o in outs for ms in o.result.epoch_times_ms]
    metrics["sketch.epoch_codec_share"] = metrics["sketch.epoch_codec_s"] / median(epochs)
    return metrics
