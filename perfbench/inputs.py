"""Seeded input generator for the SGD workload.

The same (seed, parameters) always gives the same bytes. Each input is
cached under ``data/<kind>-s<seed>-<key>/`` where the key hashes the
seed and the parameters; it is written to a temporary directory first
and renamed into place, so an interrupted run never leaves a partial
input. The program under test only ever sees the files written here.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

from env import DATA_DIR


def _zipf_sampler(rng: np.random.Generator, dim: int, exponent: float):
    """Draw feature ids with P(rank r) ∝ r^-exponent over ``dim`` ranks;
    ranks map to ids through a seeded permutation, so popular features
    are spread over the whole key range."""
    w = np.arange(1, dim + 1, dtype=np.float64) ** -exponent
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    perm = rng.permutation(dim)

    def draw(n: int) -> np.ndarray:
        ranks = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), dim - 1)
        return perm[ranks]

    return draw


def _write_sparse_libsvm(out: str, seed: int, p: dict) -> None:
    rng = np.random.default_rng(seed)
    n, dim = int(p["rows"]), int(p["dim"])
    lo, hi = p["nnz_draws_per_row"]
    draw = _zipf_sampler(rng, dim, float(p["zipf_exponent"]))
    # unit weights with random signs: the label variance, and with it the
    # loss scale, is then the same for every seed
    w_true = rng.choice([-1.0, 1.0], dim)
    draws = rng.integers(lo, hi + 1, n)
    rows = np.repeat(np.arange(n, dtype=np.int64), draws)
    # one entry per (row, feature), sorted: LibSVM's strictly
    # increasing indices within a line
    flat = np.unique(rows * dim + draw(int(draws.sum())))
    rows, idx = flat // dim, flat % dim
    vals = np.round(rng.standard_normal(idx.shape[0]), 4)
    pred = np.bincount(rows, weights=vals * w_true[idx], minlength=n)
    y = pred + float(p["intercept"]) + rng.normal(0.0, float(p["noise_sigma"]), n)
    offsets = np.concatenate([[0], np.cumsum(np.bincount(rows, minlength=n))])
    bounds = np.linspace(0, n, 5).astype(np.int64)
    for part, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        with open(os.path.join(out, f"part-{part}.txt"), "w") as f:
            for i in range(a, b):
                s, e = offsets[i], offsets[i + 1]
                pairs = " ".join(f"{k + 1}:{v:.4f}" for k, v in zip(idx[s:e].tolist(), vals[s:e].tolist()))
                f.write(f"{float(y[i])!r} {pairs}\n")


def sparse_libsvm(seed: int, params: dict) -> str:
    """Zipf-sparse LibSVM text (1-based ``idx:val`` pairs, values with
    4 decimals, label = (±1 weights)·x + intercept + Gaussian noise) in
    4 files, one Spark partition each. Returns the input directory."""
    key = hashlib.sha256(json.dumps([seed, params], sort_keys=True).encode()).hexdigest()[:16]
    final = os.path.join(DATA_DIR, f"sparse_libsvm-s{seed}-{key}")
    if not os.path.isfile(os.path.join(final, "params.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "input"))
        _write_sparse_libsvm(os.path.join(tmp, "input"), seed, params)
        with open(os.path.join(tmp, "params.json"), "w") as f:
            json.dump({"seed": seed, "params": params}, f, sort_keys=True)
        try:
            os.rename(tmp, final)
        except OSError:  # another process cached the same input first
            shutil.rmtree(tmp, ignore_errors=True)
    return os.path.join(final, "input")
