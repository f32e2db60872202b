"""Seeded, SIFT-like inputs: a clustered 128-d corpus written as raw
``.fvecs`` (the reference's on-disk format) and near-cluster query batches.

The shape follows ``scripts/sift_scale.py``: seeded cluster centres plus
Gaussian noise, clipped to the 0..255 descriptor range.  Every stream
(corpus, delta rows, queries, tombstones) draws from its own generator
keyed by ``(seed, stream)``, so resizing one stream never changes another
and the same seed always gives the same inputs.
"""

from __future__ import annotations

import numpy as np

DIM = 128
N_CENTRES = 256
NOISE_SIGMA = 75.0

_CENTRES, _CORPUS, _DELTA, _QUERIES, _TOMBSTONES = range(5)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def centres(seed: int) -> np.ndarray:
    return _rng(seed, _CENTRES).uniform(0.0, 255.0, (N_CENTRES, DIM))


def _near_centres(rng: np.random.Generator, C: np.ndarray, n: int) -> np.ndarray:
    block = C[rng.integers(0, len(C), n)] + rng.normal(0.0, NOISE_SIGMA, (n, DIM))
    return np.clip(block, 0.0, 255.0).astype(np.float32)


def corpus(seed: int, n: int) -> np.ndarray:
    """(n, DIM) float32 base vectors; row i gets id i when scanned."""
    return _near_centres(_rng(seed, _CORPUS), centres(seed), n)


def delta_rows(seed: int, n: int) -> np.ndarray:
    """(n, DIM) float32 rows for the unindexed delta, same distribution."""
    return _near_centres(_rng(seed, _DELTA), centres(seed), n)


def query_batches(seed: int, n_batches: int, batch: int) -> list[tuple[np.ndarray, np.ndarray]]:
    """``n_batches`` pre-collected ``(qids, Q)`` batches of near-cluster
    points; qids are unique across batches."""
    Q = _near_centres(_rng(seed, _QUERIES), centres(seed), n_batches * batch)
    qids = np.arange(n_batches * batch, dtype=np.int64)
    return [
        (qids[b * batch:(b + 1) * batch], Q[b * batch:(b + 1) * batch])
        for b in range(n_batches)
    ]


def tombstones(seed: int, n_indexed: int, n: int) -> np.ndarray:
    """``n`` distinct indexed ids to delete, sorted."""
    return np.sort(_rng(seed, _TOMBSTONES).choice(n_indexed, n, replace=False)).astype(np.int64)


def write_fvecs(path: str, X: np.ndarray) -> None:
    """Raw ``.fvecs``: per record an int32 dim, then dim float32 values."""
    n, dim = X.shape
    rec = np.empty((n, dim + 1), dtype="<f4")
    rec[:, 0] = np.frombuffer(np.array([dim], dtype="<i4").tobytes(), dtype="<f4")[0]
    rec[:, 1:] = X
    rec.tofile(path)
