"""Reference answers and the rules the benchmark judges outputs by.

The reference is an exact NumPy float64 top-k with the engine's ordering,
ascending ``(dist, neighbor_id)``.  Two results match when they agree rank
by rank, where a different id at a rank still matches if its true distance
equals the reference distance at that rank within ``REL_TIE`` (relative):
a swap inside a group of equal distances is not an error.
"""

from __future__ import annotations

import math
import statistics

import numpy as np

REL_TIE = 1e-6
# the engine rounds returned distances to 4 decimals
DIST_DECIMALS_TOL = 1e-4


class Reference:
    """Exact L2 top-k over a fixed set of ``(ids, vectors)``."""

    def __init__(self, ids: np.ndarray, X: np.ndarray):
        ids = np.asarray(ids, dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        self.ids = ids[order]
        self.X = np.asarray(X, dtype=np.float64)[order]
        if len(self.ids) and np.any(self.ids[1:] == self.ids[:-1]):
            raise ValueError("reference ids must be unique")
        self.sq = np.einsum("ij,ij->i", self.X, self.X)

    def rows(self, ids) -> np.ndarray:
        """Row positions of ``ids``; raises KeyError on an unknown id."""
        ids = np.asarray(ids, dtype=np.int64)
        pos = np.searchsorted(self.ids, ids)
        pos_c = np.minimum(pos, len(self.ids) - 1)
        if len(ids) and (len(self.ids) == 0 or np.any(self.ids[pos_c] != ids)):
            raise KeyError(f"ids not in the reference set: {ids[self.ids[pos_c] != ids][:5]}")
        return pos

    def dists(self, q: np.ndarray, rows: np.ndarray | None = None) -> np.ndarray:
        X = self.X if rows is None else self.X[rows]
        diff = X - np.asarray(q, dtype=np.float64)
        return np.einsum("ij,ij->i", diff, diff)

    def topk(self, q: np.ndarray, k: int, rows: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
        """Exact ``(ids, dists)`` of the k nearest, ordered by (dist, id);
        ``rows`` restricts the search to those row positions."""
        if rows is None:
            # GEMM-form distances pick a superset of the top k (their error
            # is far below the slack); exact distances then rank it
            q64 = np.asarray(q, dtype=np.float64)
            approx = self.sq - 2.0 * (self.X @ q64) + q64 @ q64
            kth = np.partition(approx, min(k, len(approx)) - 1)[min(k, len(approx)) - 1]
            rows = np.flatnonzero(approx <= kth + 1e-6 * abs(kth) + 1e-3)
        rows = np.asarray(rows)
        d = self.dists(q, rows)
        ids = self.ids[rows]
        o = np.lexsort((ids, d))[:k]
        return ids[o], d[o]


def same_topk(got_ids, got_d, true_ids, true_d) -> bool:
    """Rank-by-rank match under the near-tie rule.  ``got_d`` are the
    true distances of ``got_ids`` (recomputed, not as returned)."""
    got_ids = np.asarray(got_ids)
    if len(got_ids) != len(true_ids) or len(np.unique(got_ids)) != len(got_ids):
        return False
    for gi, gd, ti, td in zip(got_ids, got_d, true_ids, true_d):
        if gi != ti and abs(gd - td) > REL_TIE * abs(td):
            return False
    return True


def recall(got_ids, got_d, true_ids, true_d) -> float:
    """Share of the k reference neighbours found.  A returned id outside the
    reference list counts as found when it ties the k-th reference distance
    within ``REL_TIE``."""
    k = len(true_ids)
    if k == 0:
        return 1.0
    truth = set(int(i) for i in true_ids)
    cutoff = true_d[-1] * (1.0 + REL_TIE)
    hits = sum(1 for i, d in zip(got_ids, got_d) if int(i) in truth or d <= cutoff)
    return min(hits, k) / k


def returned_dists_ok(returned, true_d) -> bool:
    """Returned (rounded) distances agree with the recomputed ones."""
    returned = np.asarray(returned, dtype=np.float64)
    true_d = np.asarray(true_d, dtype=np.float64)
    return bool(np.all(np.abs(returned - true_d) <= DIST_DECIMALS_TOL + 1e-9 * true_d))


# -- percentiles -------------------------------------------------------------

TAIL_SAMPLES = 10  # a percentile is reported only with this many samples beyond it


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p * len(xs) / 100.0) - 1)]


def tail_percentile(n: int) -> float | None:
    """Highest of p99/p90 that has at least ``TAIL_SAMPLES`` of ``n``
    samples beyond it, or None."""
    for p in (99.0, 90.0):
        if n - math.ceil(p * n / 100.0) >= TAIL_SAMPLES:
            return p
    return None


def summarize(samples) -> dict:
    """Median, the highest reportable tail percentile and the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    p = tail_percentile(len(samples))
    if p is not None:
        out[f"p{p:g}"] = percentile(samples, p)
    return out
