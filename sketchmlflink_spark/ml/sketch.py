"""SketchML-style gradient compression codec (pure numpy, no Spark).

Reproduces the behavioral surface the reference consumes from the
external ``org.dma.sketchml:sketchml`` jar (SURVEY.md §2.6; imports
SketchGradientDescent.scala:12-17, MLConf construction SGD:340-348):

  * quantile quantization: bucket each nonzero gradient value into one of
    ``bin_num`` (256) quantile bins → uint8 bucket ids;
  * grouped MinMaxSketch: bucket ids stored in ``group_num`` (2)
    hash grids of ``sketch_rows`` (3) rows × ``col_ratio`` (0.3) · nnz
    cols — min-update on insert, max-over-rows on query, so collisions
    bias the estimate only within a group's value range;
  * delta key coding: sorted nonzero indices stored as ``key_bits`` (8)
    -bit deltas with a 4-byte escape;
  * ZeroGradient elision: all-zero gradients never reach the codec
    (SGD:203, SGD:223 — P8 in SURVEY.md §4);
  * ``compression_type="None"``: identity path — exact values flow
    through the same envelope (SGD:343, README.md:18).

Observable contract (SURVEY.md §2.6 table): ``decompress(compress(g))``
≈ g with error bounded by the containing group's value range;
``merge`` = decompress + dense add (+ optional re-sketch, mirroring the
in-combiner re-sketch of SGD:274).
"""

from __future__ import annotations

import pickle
import zlib
from dataclasses import dataclass

import numpy as np

from sketchmlflink_spark.config import SketchConfig

EPS = 1e-10  # Maths.EPS analog (SGD:359 nnz test)

_HASH_P = 2147483647
# fixed per-row hash coefficients (deterministic across processes)
_ROW_A = np.array([1103515245, 214013, 69069, 1664525, 22695477, 1013904223], dtype=np.int64)
_ROW_B = np.array([12345, 2531011, 362437, 1013904223, 1, 11], dtype=np.int64)


def _positions(keys: np.ndarray, row: int, width: int) -> np.ndarray:
    return ((keys.astype(np.int64) * _ROW_A[row] + _ROW_B[row]) % _HASH_P) % width


@dataclass
class MinMaxSketch:
    """CountMin-style grid keeping the MIN bucket id per cell; queries
    take the MAX over rows — collisions can only pull an estimate down,
    max-over-rows takes the least-damaged row."""

    grid: np.ndarray  # (rows, width) uint8; sentinel = bin_num (empty)
    sentinel: int

    @classmethod
    def build(cls, keys: np.ndarray, buckets: np.ndarray, rows: int, width: int, bin_num: int) -> "MinMaxSketch":
        assert bin_num <= 255, "bucket ids + sentinel must fit uint8 (8-bit flag, SGD:343-346)"
        grid = np.full((rows, width), bin_num, dtype=np.uint8)
        for r in range(rows):
            np.minimum.at(grid[r], _positions(keys, r, width), buckets.astype(np.uint8))
        return cls(grid=grid, sentinel=bin_num)

    def query(self, keys: np.ndarray) -> np.ndarray:
        rows, width = self.grid.shape
        est = np.full(keys.shape, -1, dtype=np.int16)
        for r in range(rows):
            v = self.grid[r, _positions(keys, r, width)].astype(np.int16)
            v = np.where(v == self.sentinel, -1, v)
            est = np.maximum(est, v)
        return np.clip(est, 0, self.sentinel - 1)


_ESC = 255  # 8-bit delta escape marker
_ESC_MAX = (1 << 32) - 1  # largest delta the uint32 escape payload holds
_PAYLOAD = np.arange(1, 5)  # payload byte offsets after an escape marker


def encode_keys(keys: np.ndarray, key_bits: int = 8) -> bytes:
    """Delta-encode sorted int keys at ``key_bits`` resolution; deltas
    ≥ escape are stored as escape marker + uint32 (SGD:346 keyBits=8).
    A negative delta (unsorted keys) raises ValueError; a delta that
    does not fit the uint32 escape raises OverflowError."""
    assert key_bits == 8, "reference uses 8-bit delta keys"
    if keys.size == 0:
        return b""
    deltas = np.diff(keys, prepend=0).astype(np.int64, copy=False)
    if deltas.min() < 0 or deltas.max() > _ESC_MAX:
        d = int(deltas[((deltas < 0) | (deltas > _ESC_MAX)).argmax()])
        if d < 0:
            raise ValueError(f"keys must be sorted ascending (delta {d})")
        raise OverflowError(f"key delta {d} does not fit the 4-byte escape")
    esc = np.flatnonzero(deltas >= _ESC)
    # the k-th escape's marker lands at esc[k] + 4k, its payload after it
    payload_pos = (esc + 4 * np.arange(esc.size))[:, None] + _PAYLOAD
    is_payload = np.zeros(deltas.size + 4 * esc.size, dtype=bool)
    is_payload[payload_pos] = True
    out = np.empty(is_payload.size, dtype=np.uint8)
    out[~is_payload] = np.minimum(deltas, _ESC)
    out[payload_pos] = deltas[esc].astype("<u4").view(np.uint8).reshape(-1, 4)
    return out.tobytes()


def decode_keys(buf: bytes) -> np.ndarray:
    """Inverse of ``encode_keys``; a truncated escape raises ValueError."""
    b = np.frombuffer(buf, dtype=np.uint8)
    # a 0xFF byte is an escape unless it lies in an earlier escape's
    # payload; only 0xFF bytes need this sequential scan
    esc = []
    free = 0
    for p in np.flatnonzero(b == _ESC).tolist():
        if p >= free:
            esc.append(p)
            free = p + 5
    if free > b.size:
        raise ValueError(f"truncated key escape at byte {esc[-1]} of {b.size}")
    esc = np.asarray(esc, dtype=np.int64)
    payload_pos = esc[:, None] + _PAYLOAD
    is_start = np.ones(b.size, dtype=bool)
    is_start[payload_pos] = False
    deltas = b[is_start].astype(np.int64)
    deltas[esc - 4 * np.arange(esc.size)] = b[payload_pos].view("<u4").reshape(-1)
    return np.cumsum(deltas)


@dataclass
class SketchedGradient:
    """A gradient in transit (sparse/sketched message, dense accumulate —
    P9 in SURVEY.md §4)."""

    dim: int
    key_buf: bytes  # delta-encoded nonzero indices
    nnz: int
    # identity path ("None" compression): exact values; else None
    exact_values: np.ndarray | None
    # sketch path: quantile splits, per-key group ids, one MinMaxSketch
    # per group
    splits: np.ndarray | None
    group_ids: np.ndarray | None
    sketches: list[MinMaxSketch] | None

    def payload_bytes(self) -> int:
        """Transport size: the bytes a shuffle hop carries (``to_bytes``)."""
        return len(to_bytes(self))


def _check_finite(values: np.ndarray) -> None:
    """A NaN would fail the liveness test and vanish; an inf would turn
    the quantile splits into NaN. Either way the payload would lie."""
    bad = np.count_nonzero(~np.isfinite(values))
    if bad:
        raise ValueError(f"gradient has {bad} non-finite entries (NaN or inf)")


def compress(values: np.ndarray, cfg: SketchConfig, dim: int | None = None) -> SketchedGradient | None:
    """Dense float64 vector → sketched gradient. Returns None for the
    all-zero vector (ZeroGradient elision, SGD:203/223). Raises
    ValueError on NaN or inf entries."""
    values = np.asarray(values, dtype=np.float64)
    _check_finite(values)
    dim = dim if dim is not None else values.shape[0]
    keys = np.nonzero(np.abs(values) > EPS)[0]
    return compress_kv(keys, values[keys], cfg, dim)


def compress_kv(keys: np.ndarray, vals: np.ndarray, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Sparse (keys, values) gradient → sketched gradient, never touching
    a dim-sized buffer — the SparseDoubleGradient branch of the reference
    (SketchGradientDescent.scala:198-217). ``keys`` must be sorted and
    unique (np.unique output qualifies); near-zero entries are elided
    like the dense path's nnz test (SGD:356-362). Raises ValueError on
    NaN or inf values, before any elision."""
    keys = np.asarray(keys, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    _check_finite(vals)
    live = np.abs(vals) > EPS
    if not live.all():
        keys, vals = keys[live], vals[live]
    if keys.size == 0:
        return None
    key_buf = encode_keys(keys)
    if cfg.compression_type == "None" or keys.size < cfg.auto_fallback_nnz:
        return SketchedGradient(dim, key_buf, keys.size, vals.copy(), None, None, None)

    # 255 effective bins so bucket ids + the empty sentinel share uint8
    # (the reference's 8-bit quantization flag, SGD:343-346)
    bins = min(cfg.bin_num, 255)
    qs = np.linspace(0.0, 1.0, bins + 1)
    splits = np.quantile(vals, qs)
    # bucket i covers [splits[i], splits[i+1])
    buckets = np.clip(np.searchsorted(splits, vals, side="right") - 1, 0, bins - 1).astype(np.int16)
    # group by bucket range: similar-magnitude values share a grid so a
    # collision costs at most the group's value range
    group_ids = (buckets.astype(np.int64) * cfg.group_num // bins).astype(np.int8)
    sketches = []
    for g in range(cfg.group_num):
        mask = group_ids == g
        n_g = int(mask.sum())
        width = max(1, int(np.ceil(cfg.col_ratio * max(n_g, 1))))
        sketches.append(MinMaxSketch.build(keys[mask], buckets[mask], cfg.sketch_rows, width, bins))
    return SketchedGradient(dim, key_buf, keys.size, None, splits, group_ids, sketches)


def decompress_kv(sg: SketchedGradient) -> tuple[np.ndarray, np.ndarray]:
    """Sketched gradient → sparse (keys, values) without a dim-sized
    buffer. Keys come back sorted-unique (the codec stores them that
    way)."""
    keys = decode_keys(sg.key_buf)
    if sg.exact_values is not None:
        return keys, sg.exact_values.astype(np.float64, copy=True)
    vals = np.zeros(keys.shape[0], dtype=np.float64)
    bins = sg.splits.shape[0] - 1
    for g, sketch in enumerate(sg.sketches):
        mask = sg.group_ids == g
        if not mask.any():
            continue
        b = sketch.query(keys[mask]).astype(np.int64)
        vals[mask] = 0.5 * (sg.splits[b] + sg.splits[np.minimum(b + 1, bins)])
    return keys, vals


def decompress(sg: SketchedGradient | None, dim: int | None = None) -> np.ndarray:
    """Sketched gradient → dense float64 (``toAuto``/``toDense`` analog,
    SGD:244/276)."""
    if sg is None:
        if dim is None:
            raise ValueError("cannot densify ZeroGradient without dim")
        return np.zeros(dim, dtype=np.float64)
    out = np.zeros(sg.dim, dtype=np.float64)
    keys, vals = decompress_kv(sg)
    out[keys] = vals
    return out


def merge(a: SketchedGradient | None, b: SketchedGradient | None, cfg: SketchConfig, dim: int, resketch: bool = True) -> SketchedGradient | None:
    """Combine two in-transit gradients: decompress → add → (optionally)
    re-compress, so every hop of the reduce tree ships a sketch — the
    in-combiner re-sketch of SGD:274 (P1 in SURVEY.md §4).

    The add runs in sparse kv form (concat + unique-sum), so a combine
    costs O(nnz_a + nnz_b), not O(dim) — the property that keeps the
    reduce tree cheap on very wide sparse gradients (SGD:198-217's
    SparseVector branch is the reference analog)."""
    if a is None:
        return b
    if b is None:
        return a
    ka, va = decompress_kv(a)
    kb, vb = decompress_kv(b)
    keys = np.concatenate([ka, kb])
    uk, inv = np.unique(keys, return_inverse=True)
    vals = np.bincount(inv, weights=np.concatenate([va, vb]), minlength=uk.shape[0])
    if not resketch:
        identity = cfg.with_(compression_type="None")
        return compress_kv(uk, vals, identity, dim)
    return compress_kv(uk, vals, cfg, dim)


def count_nnz(values: np.ndarray) -> int:
    """countNNZ analog (SGD:356-362)."""
    return int((np.abs(values) > EPS).sum())


def to_bytes(sg: SketchedGradient | None) -> bytes:
    return zlib.compress(pickle.dumps(sg), 1)


def from_bytes(buf: bytes) -> SketchedGradient | None:
    return pickle.loads(zlib.decompress(buf))
