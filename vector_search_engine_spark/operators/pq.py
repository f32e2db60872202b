"""Product quantization (PQ): m-subspace byte codes for ~dim·4/m-fold
memory compression with provably lossless two-stage search.

At 100 TB the candidate-generation scan is the cost that matters; PQ cuts
it further than SQ8 (operators/sq.py): a dim-d float32 vector becomes m
bytes (m=8 at dim 64 → 32× fewer scan bytes) plus one float32 residual
norm.  Codebooks follow Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011): the vector is split into m
contiguous subspaces, each quantized independently against a 256-entry
codebook, and query-to-code distances are looked up per subspace (ADC)
instead of recomputed — sum of m table lookups per vector.

The reference has no compression tier at all (it scans full float32,
``write_buffer.h:54-70``); like SQ8 this is a north-star scale operator.

Exactness contract (same shape as ``IVFIndex.search_sq8``): the ADC
distance IS the exact distance from the query to the reconstructed
codeword, so by the triangle inequality

    |‖q−x‖ − ‖q−c(x)‖| ≤ ‖x−c(x)‖  (the stored per-vector residual)

every vector whose lower bound ``sqrt(d_adc) − resid`` is ≤ the k-th
smallest upper bound ``sqrt(d_adc) + resid`` is kept — a provable
superset of the true top-k per batch, hence globally — and the exact
float re-score of the survivors makes the output bit-identical to exact
kNN.  No top-C margin, no recall knob: the same hash-gated SQL oracle
that checks ``knn_exact`` checks this path.

Layout: ``(id, code binary[m bytes], resid float)``; codebooks are a tiny
(m, 256, dim/m) float array — a few hundred KB even at dim 1024 — trained
on a bounded driver sample (same discipline as the IVF coarse quantizer)
and broadcast to every scan task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.vector import l2_sq_matrix
from vector_search_engine_spark.operators.knn import (
    _PAIRS,
    _empty_topk,
    _exact_rescore,
    _queries_df,
    _query_arrays,
)


def _kmeans_1d(
    X: np.ndarray, k: int, iters: int, rng: np.random.Generator
) -> np.ndarray:
    """Seeded Lloyd over one subspace: X (n, dsub) → centroids (k', dsub)
    with k' = min(k, #distinct rows).  Dead centroids are re-seeded from
    the farthest points so the codebook never collapses."""
    uniq = np.unique(X, axis=0)
    if len(uniq) <= k:
        return uniq.astype(np.float64)
    C = X[rng.choice(len(X), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        D = l2_sq_matrix(X, C)  # (n, k)
        assign = D.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        hit = counts > 0
        # scatter-add cluster sums in one pass (a 256-mask python loop
        # was ~40× slower and dominated pq_train wall time)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        C[hit] = sums[hit] / counts[hit, None]
        if not hit.all():
            # re-seed dead entries from the worst-quantized points
            far = D[np.arange(len(X)), assign].argsort()[::-1]
            C[~hit] = X[far[: (~hit).sum()]]
    return C


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 256,
    sample_size: int = 65536,
    iters: int = 10,
    seed: int = 7,
    vec_col: str = "embedding",
    center_map: dict[int, np.ndarray] | None = None,
    centroid_col: str = "centroid_id",
) -> np.ndarray:
    """Train per-subspace codebooks on a bounded driver sample.

    Returns a float64 array (m, k', dsub) with k' ≤ ksub.  The sample is
    bounded (driver holds ≤ sample_size·dim floats — the same contract as
    the IVF coarse-quantizer sample, ``ivf.py`` build), deterministic for
    a fixed seed, and the only driver-side step in the PQ lifecycle.

    ``center_map`` switches to RESIDUAL training (IVFADC, Jégou et al.
    §V): codebooks learn x − centroid(x), which is far smaller than x
    after a good coarse quantizer — the lever that makes the lossless
    bound cut actually prune (SCALING.md finding 8)."""
    n_total = vectors.count()
    frac = min(1.0, (sample_size * 1.1) / max(n_total, 1))
    cols = [vec_col] + ([centroid_col] if center_map is not None else [])
    sample = (
        vectors.select(*cols).sample(frac, seed=seed).limit(sample_size)
        if frac < 1.0
        else vectors.select(*cols)
    )
    rows = sample.collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    if center_map is not None and len(rows):
        X -= np.stack([center_map[int(r[1])] for r in rows])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = [
        _kmeans_1d(X[:, j * dsub : (j + 1) * dsub], ksub, iters, rng)
        for j in range(m)
    ]
    # pad ragged books (distinct-row-limited subspaces) so the array is
    # rectangular.  The pad must be LARGE but FINITE: ±inf rows turn the
    # GEMM expansion into inf − inf = NaN columns, and np.argmin returns
    # the NaN position — corrupted codes.  1e30 keeps every pad distance
    # ~1e60, far beyond any real one, with no NaN anywhere.
    return _pad_books(books, m)


def _pad_books(books: list[np.ndarray], m: int) -> np.ndarray:
    """Rectangularize ragged per-subspace codebooks (see pq_train note:
    the pad is large-but-finite so GEMM never makes NaN)."""
    k_eff = max(len(b) for b in books)
    if k_eff > 256:
        raise ValueError("ksub > 256 does not fit uint8 codes")
    dsub = books[0].shape[1]
    out = np.full((m, k_eff, dsub), 1e30, dtype=np.float64)
    for j, b in enumerate(books):
        out[j, : len(b)] = b
    return out


def opq_train(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 256,
    sample_size: int = 65536,
    iters: int = 10,
    outer_iters: int = 6,
    seed: int = 7,
    vec_col: str = "embedding",
    center_map: dict[int, np.ndarray] | None = None,
    centroid_col: str = "centroid_id",
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge, He, Ke & Sun, CVPR 2013,
    OPQ-NP): learn an ORTHOGONAL rotation R jointly with the codebooks
    so the m subspaces decorrelate and share variance — the standard fix
    for PQ's blind spot (correlated / unevenly-spread dimensions force
    one subspace to carry most of the distortion).

    Alternating minimization on the same bounded driver sample
    ``pq_train`` uses: (1) train codebooks on X·R, (2) reconstruct Y,
    (3) R ← UVᵀ from the SVD of XᵀY (orthogonal Procrustes — the
    closed-form argmin of ‖XR − Y‖_F over orthogonal R).  Because R is
    orthogonal it preserves every L2 distance and residual norm, so the
    lossless triangle-inequality cut and the exact rescore are untouched
    — OPQ changes reconstruction ERROR (and therefore pruning power /
    top-C recall), never results.

    Returns ``(R (dim×dim) float64, codebooks (m, k', dsub))`` where the
    codebooks live in ROTATED space.  ``center_map`` switches to
    RESIDUAL training exactly as in ``pq_train`` (IVFADC-OPQ: the
    rotation is learned over x − centroid(x))."""
    n_total = vectors.count()
    frac = min(1.0, (sample_size * 1.1) / max(n_total, 1))
    cols = [vec_col] + ([centroid_col] if center_map is not None else [])
    sample = (
        vectors.select(*cols).sample(frac, seed=seed).limit(sample_size)
        if frac < 1.0
        else vectors.select(*cols)
    )
    rows = sample.collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    if center_map is not None and len(rows):
        X -= np.stack([center_map[int(r[1])] for r in rows])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    R = np.eye(dim)
    for _ in range(outer_iters):
        Xr = X @ R
        books = [
            _kmeans_1d(Xr[:, j * dsub : (j + 1) * dsub], ksub, 4, rng)
            for j in range(m)
        ]
        Y = np.empty_like(Xr)
        for j in range(m):
            sl = slice(j * dsub, (j + 1) * dsub)
            D = l2_sq_matrix(Xr[:, sl], books[j])
            Y[:, sl] = books[j][D.argmin(axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    Xr = X @ R
    books = [
        _kmeans_1d(Xr[:, j * dsub : (j + 1) * dsub], ksub, iters, rng)
        for j in range(m)
    ]
    return R, _pad_books(books, m)


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    center_map: dict[int, np.ndarray] | None = None,
    centroid_col: str = "centroid_id",
) -> DataFrame:
    """Encode vectors to (id, code binary[m], resid float) + keep_cols.

    ``resid`` is the L2 norm of the quantization error ‖x − c(x)‖ — the
    exact constant the search-time bound cut needs (module docstring).
    With ``center_map``, codes quantize the residual x − centroid(x)
    (``centroid_col`` must be among the input columns); the stored
    ``resid`` is then ‖x − (centroid + codeword)‖ — subtraction shifts
    the reconstruction, not the error norm, so the bound is unchanged."""
    spark = vectors.sparkSession
    m, _, dsub = codebooks.shape
    bc = spark.sparkContext.broadcast(codebooks)
    cm_bc = (
        spark.sparkContext.broadcast(center_map)
        if center_map is not None
        else None
    )
    in_cols = [id_col, vec_col, *keep_cols]
    if center_map is not None and centroid_col not in in_cols:
        in_cols.append(centroid_col)
    keep_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in vectors.schema.fields
        if f.name in keep_cols
    )
    schema = f"{id_col} long, code binary, resid float" + (
        f", {keep_schema}" if keep_schema else ""
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc.value
        CM = cm_bc.value if cm_bc is not None else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if CM is not None:
                V -= np.stack(
                    [CM[int(c)] for c in pdf[centroid_col].to_numpy()]
                )
            n = len(V)
            codes = np.empty((n, m), dtype=np.uint8)
            resid_sq = np.zeros(n, dtype=np.float64)
            for j in range(m):
                D = l2_sq_matrix(V[:, j * dsub : (j + 1) * dsub], B[j])
                codes[:, j] = D.argmin(axis=1)
                resid_sq += D.min(axis=1)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "code": [c.tobytes() for c in codes],
                "resid": np.sqrt(resid_sq).astype(np.float32),
            }
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return vectors.select(*in_cols).mapInPandas(encode, schema=schema)


def _adc_lut(q: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Per-subspace squared distances query → codebook entries: (m, k')."""
    m, k_eff, dsub = codebooks.shape
    lut = np.empty((m, k_eff), dtype=np.float64)
    for j in range(m):
        lut[j] = l2_sq_matrix(q[j * dsub : (j + 1) * dsub][None, :], codebooks[j])[0]
    return lut


def bound_cut_mask(
    d_adc: np.ndarray, resid: np.ndarray, k: int
) -> np.ndarray:
    """The lossless-cut decision, isolated for direct testing: given ADC
    squared distances and residual norms, keep every candidate whose
    lower bound ``sqrt(d_adc) − e`` is ≤ the k-th smallest upper bound
    ``sqrt(d_adc) + e`` (e = resid + float slop).  Returns a bool mask
    that provably covers the true top-k of the scanned set."""
    sd = np.sqrt(np.maximum(d_adc, 0.0))
    # float32 storage + float64 GEMM slop on top of the exact
    # triangle bound (same epsilon discipline as search_sq8)
    e = np.asarray(resid, dtype=np.float64) * (1 + 1e-5) + 1e-6
    ub = sd + e
    kth = np.partition(ub, min(k, len(ub)) - 1)[min(k, len(ub)) - 1]
    return (sd - e) <= kth


def pq_bound_cut(
    codes: DataFrame,
    qmap_bc,
    codebooks_bc,
    k: int,
    id_col: str,
    candidates_per_partition: int | None = None,
    center_map_bc=None,
    centroid_col: str = "centroid_id",
) -> DataFrame:
    """ADC scan over a (qid, id, code, resid) DataFrame.

    Default mode is the lossless triangle-inequality cut: emit the
    provable superset of each query's true top-k (module docstring) —
    right when quantization residuals are small vs the neighbor-distance
    spread.  When they are NOT (noisy data: SIFT-sigma descriptors keep
    100% of candidates — measured, ``SIFT1M.json`` pq.cut_selectivity),
    ``candidates_per_partition`` switches to the classic top-C ADC cut
    (Jégou et al. §IV): keep the C best ADC distances per query per
    Arrow batch, recall gated by tests instead of proved.  Callers
    re-score survivors exactly in both modes, so returned distances are
    always exact and the top-C mode degrades recall only, never values."""

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = codebooks_bc.value
        m_, _, _ = B.shape
        qm = qmap_bc.value
        CM = center_map_bc.value if center_map_bc is not None else None
        # residual codes: the LUT is per (query, cell) — built from
        # q − centroid_cell, since codes quantize x − centroid_cell
        keys = ["qid"] if CM is None else ["qid", centroid_col]
        # r18: survivors accumulate across the task and cross Arrow ONCE
        # per task (cut math per group unchanged — identical sets)
        out_q: list = []
        out_i: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for gkey, grp in pdf.groupby(keys):
                qid = gkey[0] if isinstance(gkey, tuple) else gkey
                q = qm[int(qid)]
                if CM is not None:
                    q = q - CM[int(gkey[1])]
                lut = _adc_lut(q, B)
                ids = grp[id_col].to_numpy(dtype=np.int64)
                raw = np.frombuffer(b"".join(grp["code"]), dtype=np.uint8)
                C = raw.reshape(len(ids), m_)
                # ADC: d̂ = Σ_j lut[j, code_j] — m table lookups per vector
                d_adc = lut[np.arange(m_)[None, :], C].sum(axis=1)
                np.maximum(d_adc, 0.0, out=d_adc)
                if candidates_per_partition is not None:
                    keep_n = min(max(candidates_per_partition, k), len(ids))
                    kept = ids[np.argpartition(d_adc, keep_n - 1)[:keep_n]]
                else:
                    kept = ids[
                        bound_cut_mask(
                            d_adc, grp["resid"].to_numpy(dtype=np.float64), k
                        )
                    ]
                out_q.append(np.full(len(kept), int(qid), dtype=np.int64))
                out_i.append(kept)
        if out_i:
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_i),
                }
            )

    return codes.mapInPandas(cut, schema="qid long, neighbor_id long")


def _rotated_view(
    vectors: DataFrame,
    R: np.ndarray,
    id_col: str,
    vec_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, x·R) view of a vector table — float64 end to end so the OPQ
    residual norms bound the TRUE distances with no rounding gap for the
    cut's epsilon to absorb."""
    bc = vectors.sparkSession.sparkContext.broadcast(
        np.asarray(R, dtype=np.float64)
    )

    @F.pandas_udf("array<double>")
    def rot(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vs.tolist(), dtype=np.float64) @ bc.value
        return pd.Series(list(V))

    return vectors.select(
        id_col, rot(F.col(vec_col)).alias(vec_col), *keep_cols
    )


def knn_pq_adc(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    opq: bool = False,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Two-stage PQ search over a flat table: byte-code ADC scan with the
    lossless bound cut, then exact float re-score + global top-k.  Output
    schema and values identical to ``knn_exact`` — oracle-hash-gated.

    ``opq=True`` trains an orthogonal rotation jointly with the
    codebooks (``opq_train``) and scans in rotated space; distances are
    rotation-invariant, so the bound cut stays lossless and the exact
    rescore (original space) is untouched — only reconstruction error,
    and with it pruning power, improves.  The exact stage is the rescore the
    quantized IVF tiers end in (``knn._exact_rescore``)."""
    spark = vectors.sparkSession
    if codebooks is None:
        if opq:
            rotation, codebooks = opq_train(vectors, m=m, vec_col=vec_col)
        else:
            codebooks = pq_train(vectors, m=m, vec_col=vec_col)
    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return _empty_topk(spark)
    Qscan = Q.astype(np.float64)
    if rotation is not None:
        Qscan = Qscan @ np.asarray(rotation, dtype=np.float64)
    qbc = spark.sparkContext.broadcast((qids, Qscan))
    books_bc = spark.sparkContext.broadcast(codebooks)

    enc_in = (
        vectors
        if rotation is None
        else _rotated_view(vectors, rotation, id_col, vec_col)
    )
    codes = pq_encode(enc_in, codebooks, id_col=id_col, vec_col=vec_col)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = books_bc.value
        m_ = B.shape[0]
        qids_, Qd = qbc.value
        luts = np.stack([_adc_lut(q, B) for q in Qd])  # (|Q|, m, k')
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            raw = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8)
            C = raw.reshape(len(ids), m_)
            resid = pdf["resid"].to_numpy(dtype=np.float64)
            # ADC for all queries at once: (|Q|, n) lookup-sum
            d_adc = luts[:, np.arange(m_)[None, :], C].sum(axis=2)
            for i, qid in enumerate(qids_):
                keep = bound_cut_mask(d_adc[i], resid, k)
                yield pd.DataFrame(
                    {"qid": int(qid), "neighbor_id": ids[keep]}
                )

    cand = codes.mapInPandas(scan, schema=_PAIRS)
    qdf = _queries_df(spark, queries, qids, Q)
    return _exact_rescore(cand, vectors, k, id_col, vec_col, qdf=qdf)
