"""Binary quantization (BQ): 1-bit sign codes for extreme scan-byte cuts.

The third point on the engine's compression ladder (float32 → SQ8 4× →
PQ ~16-32× → BQ 32×): each vector stores one SIGN BIT per dimension
(``x_i > 0``), packed 8-per-byte.  At 100 TB the candidate-generation
scan reads d/8 bytes per vector instead of 4d — the difference between
re-reading the corpus and keeping the whole code table in page cache.

Scoring is ASYMMETRIC (query stays float): ``score(v, q) = q · sign(v)``
— one GEMM of the unpacked ±1 matrix against the query block, strictly
better-ranked than symmetric Hamming because the query's magnitudes
survive.  A top-C candidate cut is followed by an exact float rescore,
so every RETURNED row carries the true distance and ordering.

Unlike the SQ8/PQ tiers there is NO lossless bound: sign codes discard
magnitude, so recall is a measured property (pytest-gated on the
fixture, C/k margin documented), not a proof.  This is the honest
trade every production BQ implementation makes; use SQ8/PQ when the
lossless contract matters and BQ when scan bytes dominate.

No reference analog (the reference scans full float32,
``write_buffer.h:54-70``); like SQ8/PQ this is a scale op the Spark
engine adds.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.vector import l2_sq
from vector_search_engine_spark.operators.knn import (
    _finalize_topk,
    _queries_df,
    _query_arrays,
)


def dim_thresholds(
    vectors: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> np.ndarray:
    """Per-dimension binarization thresholds = per-dimension means, one
    JVM-side aggregation pass (d scalar avg expressions — d is bounded
    by the embedding width, so the single result row is tiny).

    Sign-at-zero is meaningless for non-negative embedding families
    (e.g. SIFT-like histogram features: every bit would be 1); centering
    each dimension on its mean is the standard fix and degenerates to
    plain sign codes on zero-mean data."""
    if dim is None:
        first = vectors.select(vec_col).first()
        if first is None:
            return np.zeros(0, dtype=np.float64)
        dim = len(first[0])
    row = vectors.agg(
        *[
            F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ]
    ).collect()[0]
    return np.array([row[i] or 0.0 for i in range(dim)], dtype=np.float64)


def bq_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    thresholds: np.ndarray | None = None,
) -> DataFrame:
    """Encode float vectors to packed sign-bit codes: bit i =
    (x_i > t_i), ``np.packbits`` big-endian bit order, ceil(d/8) bytes
    per vector.  ``thresholds`` defaults to zeros (plain sign codes);
    pass ``dim_thresholds(vectors)`` for mean-centered codes (required
    for non-negative embedding families).  ``keep_cols`` ride along
    (e.g. ``centroid_id`` for an IVF sidecar)."""
    keep_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in vectors.schema.fields
        if f.name in keep_cols
    )
    schema = f"{id_col} long, code binary, dim int" + (
        f", {keep_schema}" if keep_schema else ""
    )
    spark = vectors.sparkSession
    # float64 on BOTH sides of the ladder: the search paths center queries
    # with the float64 thresholds (thresholds.json round-trips doubles), so
    # encoding must binarize against the identical values — a float32 cast
    # here could flip the sign bit of elements exactly at the threshold
    # relative to the scoring assumption (recall-only skew, but avoidable).
    bc_t = spark.sparkContext.broadcast(
        None if thresholds is None else np.asarray(thresholds, dtype=np.float64)
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = bc_t.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            thr = np.zeros(V.shape[1], dtype=np.float64) if t is None else t
            bits = (V > thr[None, :]).astype(np.uint8)
            codes = np.packbits(bits, axis=1)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "code": [c.tobytes() for c in codes],
                "dim": np.full(len(pdf), V.shape[1], dtype=np.int32),
            }
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col, *keep_cols).mapInPandas(
        encode, schema=schema
    )


def knn_bq_rescore(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates_per_partition: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: bool = False,
) -> DataFrame:
    """Two-stage BQ search: the packed-code scan ranks by the asymmetric
    score ``(q − t) · sign(v − t)`` and emits top-C candidates per
    partition; exact float rescore + global (dist, id) top-k.  Output
    schema and distance convention identical to ``knn_exact`` — only
    recall, never reported values, depends on the code quality.

    ``center=True`` binarizes around per-dimension means (one extra
    aggregation pass) — required for non-negative embedding families
    where sign-at-zero stores no information; a no-op in expectation on
    zero-mean data."""
    spark = vectors.sparkSession
    C = candidates_per_partition or 8 * k
    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "qid long, neighbor_id long, rank long, dist_sq double"
        )
    t = (
        dim_thresholds(vectors, vec_col=vec_col, dim=Q.shape[1])
        if center
        else np.zeros(Q.shape[1], dtype=np.float64)
    )
    bc = spark.sparkContext.broadcast(
        (qids, Q.astype(np.float64) - t[None, :])
    )

    codes = bq_encode(
        vectors, id_col=id_col, vec_col=vec_col,
        thresholds=t if center else None,
    )

    def approx_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Qd = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            d = int(pdf["dim"].iloc[0])
            raw = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8)
            bits = np.unpackbits(raw.reshape(len(ids), -1), axis=1)[:, :d]
            S = (2.0 * bits - 1.0) @ Qd.T  # (n, nq) alignment scores
            keep = min(C, len(ids))
            part = (
                np.argpartition(-S, keep - 1, axis=0)[:keep]
                if len(ids) > keep
                else np.tile(np.arange(len(ids))[:, None], (1, nq))
            )
            out_qid = np.repeat(qids_[None, :], part.shape[0], axis=0).ravel()
            out_ids = ids[part].ravel()
            yield pd.DataFrame({"qid": out_qid, "neighbor_id": out_ids})

    cand = codes.mapInPandas(approx_scan, schema="qid long, neighbor_id long")
    qdf = _queries_df(spark, queries, qids, Q)
    rescored = (
        cand.join(
            vectors.select(F.col(id_col).alias("neighbor_id"), vec_col),
            "neighbor_id",
        )
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid",
            "neighbor_id",
            l2_sq(F.col(vec_col), F.col("query")).alias("dist"),
        )
    )
    return _finalize_topk(rescored, k, "l2_sq")
