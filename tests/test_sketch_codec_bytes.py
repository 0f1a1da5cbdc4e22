"""Byte-identity tests for the vectorized codec paths (no Spark).

``_ref_encode_keys``/``_ref_decode_keys`` are the scalar per-byte delta
coder the numpy version replaced; they live here only as the reference
the shipped code must match byte for byte. The leaf test does the same
for the sparse gradient accumulation: one dim-wide ``bincount`` must
give the payload the per-unique-key (``np.unique``) accumulation gives.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import sketchmlflink_spark.ml.sketch as SK
from sketchmlflink_spark.config import SketchConfig
from sketchmlflink_spark.ml import sgd as SGD


def _ref_encode_keys(keys: np.ndarray) -> bytes:
    if keys.size == 0:
        return b""
    deltas = np.diff(keys, prepend=0).astype(np.int64)
    out = bytearray()
    for d in deltas:
        if d < 255:
            out.append(int(d))
        else:
            out.append(255)
            out.extend(int(d).to_bytes(4, "little"))
    return bytes(out)


def _ref_decode_keys(buf: bytes) -> np.ndarray:
    keys, acc, i = [], 0, 0
    n = len(buf)
    while i < n:
        d = buf[i]
        i += 1
        if d == 255:
            d = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        acc += d
        keys.append(acc)
    return np.asarray(keys, dtype=np.int64)


def _ref_walk_overshoots(buf: bytes) -> bool:
    """True if the reference walk reads past the end: a truncated escape,
    which the reference decoder silently accepted."""
    i = 0
    while i < len(buf):
        i += 5 if buf[i] == 255 else 1
    return i > len(buf)


def _same_coding(keys) -> None:
    keys = np.asarray(keys, dtype=np.int64)
    buf = SK.encode_keys(keys)
    assert buf == _ref_encode_keys(keys)
    back = SK.decode_keys(buf)
    assert back.dtype == np.int64
    np.testing.assert_array_equal(back, _ref_decode_keys(buf))
    np.testing.assert_array_equal(back, keys)


# gaps chosen to hit every branch: plain bytes, the 254/255/256 edge of
# the escape, gaps ≥ 2^24, the largest escapable gap, and gaps whose
# uint32 payload carries 0xFF bytes (255, 0x1FF, 0xFF00FF, ...)
_EDGE_GAPS = [1, 2, 254, 255, 256, 0x1FF, 0xFFFF, 0xFF00FF, 1 << 24, (1 << 24) + 255, 0xFFFFFF00, 0xFFFFFFFF]
_gap = st.one_of(st.integers(1, 600), st.sampled_from(_EDGE_GAPS), st.integers(1 << 24, (1 << 32) - 1))
_first = st.one_of(st.just(0), st.integers(0, (1 << 32) - 1), st.sampled_from(_EDGE_GAPS))
_keys = st.tuples(_first, st.lists(_gap, max_size=200)).map(lambda t: np.cumsum([t[0], *t[1]], dtype=np.int64))


@given(_keys)
@settings(max_examples=300, deadline=None)
def test_key_coding_matches_reference(keys):
    _same_coding(keys)


@pytest.mark.parametrize(
    "keys",
    [
        [],
        [0],
        [7],
        [254],
        [255],
        [256],
        [0, 254, 509, 765],  # deltas 254, 255, 256
        [0, 1, 2, 300, 301, 70000, 70001],
        [255, 510, 511],  # 0xFF payload followed by a 0xFF marker
        [0x1FF, 0x1FF + 0xFFFFFFFF],  # payloads full of 0xFF
        [1 << 24, (1 << 25) + 3, (1 << 32) + (1 << 25)],
    ],
)
def test_key_coding_edge_cases(keys):
    _same_coding(keys)


def test_key_coding_rejects_what_the_reference_rejects():
    for keys in ([1 << 32], [5, 5 + (1 << 32)], [0, 3, 3 + (1 << 40)]):
        keys = np.array(keys, dtype=np.int64)
        with pytest.raises(OverflowError):
            _ref_encode_keys(keys)
        with pytest.raises(OverflowError):
            SK.encode_keys(keys)
    unsorted = np.array([10, 3], dtype=np.int64)
    with pytest.raises(ValueError):
        _ref_encode_keys(unsorted)
    with pytest.raises(ValueError):
        SK.encode_keys(unsorted)


def test_truncated_escape_raises_on_decode():
    buf = SK.encode_keys(np.array([3, 3 + 70000], dtype=np.int64))
    for cut in range(1, 5):
        with pytest.raises(ValueError, match="truncated"):
            SK.decode_keys(buf[:-cut])
    with pytest.raises(ValueError, match="truncated"):
        SK.decode_keys(b"\xff")


@given(st.binary(max_size=64))
@settings(max_examples=300, deadline=None)
def test_decode_any_bytes_matches_reference(buf):
    if _ref_walk_overshoots(buf):
        with pytest.raises(ValueError):
            SK.decode_keys(buf)
    else:
        np.testing.assert_array_equal(SK.decode_keys(buf), _ref_decode_keys(buf))


def test_payload_bytes_is_the_wire_size():
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(0, 1 << 20, 5000))
    for cfg in (SketchConfig(auto_fallback_nnz=0), SketchConfig(compression_type="None")):
        sg = SK.compress_kv(keys, rng.standard_normal(keys.size), cfg, 1 << 20)
        assert sg.payload_bytes() == len(SK.to_bytes(sg))


@pytest.mark.parametrize("cfg", [SketchConfig(auto_fallback_nnz=0), SketchConfig(compression_type="None")])
def test_codec_rejects_non_finite(cfg):
    g = np.zeros(100)
    g[[3, 50]] = np.nan
    g[70] = np.inf
    g[80] = 1.0
    with pytest.raises(ValueError, match="3 non-finite"):
        SK.compress(g, cfg)
    keys = np.array([1, 4, 9])
    with pytest.raises(ValueError, match="1 non-finite"):
        SK.compress_kv(keys, np.array([0.5, -np.inf, 2.0]), cfg, 100)
    # checked before elision: a lone NaN is not an all-zero gradient
    with pytest.raises(ValueError, match="1 non-finite"):
        SK.compress_kv(keys[:1], np.array([np.nan]), cfg, 100)


def _unique_leaf_payload(block, w, b, cfg, dim) -> bytes:
    """The per-unique-key leaf accumulation the dim-wide bincount replaced."""
    row_ids, idx, val, y = block
    pred = np.bincount(row_ids, weights=val * w[idx], minlength=len(y))[: len(y)]
    g, _ = SGD._loss_grad("squared")(pred + b, y)
    uk, inv = np.unique(idx, return_inverse=True)
    gv = np.bincount(inv, weights=val * g[row_ids], minlength=uk.shape[0])
    return SK.to_bytes(SK.compress_kv(uk, gv, cfg, dim))


@pytest.mark.parametrize("cfg", [SketchConfig(auto_fallback_nnz=0), SketchConfig(compression_type="None")])
def test_sparse_leaf_payload_matches_unique_accumulation(cfg):
    dim = 5000
    rng = np.random.default_rng(17)
    rows = []
    for _ in range(300):
        idx = rng.integers(100, dim, size=rng.integers(1, 30))
        rows.append((idx, rng.standard_normal(idx.size)))
    # row 0: feature 11 repeated with summing values; feature 42's two
    # contributions cancel to exactly 0.0, so it must be elided
    rows[0] = (np.array([11, 42, 11, 42, 7]), np.array([0.25, 1.5, 0.5, -1.5, 3.0]))
    row_ids = np.repeat(np.arange(len(rows)), [r[0].size for r in rows])
    idx = np.concatenate([r[0] for r in rows]).astype(np.int64)
    val = np.concatenate([r[1] for r in rows])
    y = rng.standard_normal(len(rows))
    block = (row_ids, idx, val, y)
    w = rng.standard_normal(dim)
    b = 0.3

    fn = SGD._make_partial_fn_sparse(SimpleNamespace(value=(w, b)), dim, cfg)
    (out,) = fn(iter([block]))
    assert out["payload"] == _unique_leaf_payload(block, w, b, cfg, dim)
    keys, _ = SK.decompress_kv(SK.from_bytes(out["payload"]))
    assert 11 in keys and 42 not in keys
