"""Scalar quantization (SQ8): int8-coded vectors for scan-byte reduction.

At 100 TB the dominant search cost is scan bytes; per-vector int8 codes
cut the candidate-generation scan 4× (float32 → uint8 + 2 floats of
range metadata), with an exact float re-score of the surviving
candidates — the standard two-stage design (quantized scan → top-C
candidates → exact top-k).  No reference analog (the reference scans
full float32, ``write_buffer.h:54-70``); this is a north-star scale op.

Layout: ``(id, code binary, lo float, hi float)`` — the code packs
``round((x - lo) / (hi - lo) * 255)`` per element as raw uint8 bytes in a
``binary`` column (Parquet stores it byte-packed; an ``array<tinyint>``
would cost ~4× more in memory and Arrow transfer).

Error bound: per element ≤ (hi − lo)/510 (half a quantization step), so
candidate margins C ≥ 3–4× k absorb it at realistic embedding spreads;
recall is pytest-gated and the exact re-score keeps reported distances
and ordering bit-identical to the exact engine for every returned row.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from vector_search_engine_spark.operators.knn import (
    _PAIRS,
    _empty_topk,
    _exact_rescore,
    _queries_df,
    _query_arrays,
)


def sq_codes_matrix(
    code_bytes, n: int, bits: int, dim: int
) -> np.ndarray:
    """Decode a column of packed code bytes back to an (n, dim) float64
    level matrix (levels, not dequantized values — callers apply
    ``lo + M * span/levels``).  bits=8: one byte per element; bits=4:
    two elements per byte, high nibble first."""
    raw = np.frombuffer(b"".join(code_bytes), dtype=np.uint8).reshape(n, -1)
    if bits == 8:
        return raw.astype(np.float64)
    M = np.empty((n, raw.shape[1] * 2), dtype=np.float64)
    M[:, 0::2] = raw >> 4
    M[:, 1::2] = raw & 0x0F
    return M[:, :dim]


def sq8_encode(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
    bits: int = 8,
) -> DataFrame:
    """Encode float32 vectors to per-vector-ranged integer codes.

    ``bits=8`` (default): one uint8 per element — 4× fewer scan bytes
    than float32.  ``bits=4``: 16 levels, two elements nibble-packed per
    byte — 8× fewer scan bytes; per-element error doubles per level
    count (≤ span/30 vs span/510), which the lossless bound cut in
    ``IVFIndex.search_sq8`` absorbs by keeping more candidates (the
    compute/byte trade the FAISS SQ4 variant makes).

    ``keep_cols`` ride along unchanged (e.g. ``centroid_id`` when the codes
    become an IVF index sidecar partitioned the same way as the vectors)."""
    if bits not in (4, 8):
        raise ValueError(f"bits must be 4 or 8, got {bits}")
    levels = float((1 << bits) - 1)
    keep_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in vectors.schema.fields
        if f.name in keep_cols
    )
    schema = f"{id_col} long, code binary, lo float, hi float" + (
        f", {keep_schema}" if keep_schema else ""
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            lo = V.min(axis=1)
            hi = V.max(axis=1)
            span = np.where(hi > lo, hi - lo, 1.0).astype(np.float32)
            codes = np.rint(
                (V - lo[:, None]) / span[:, None] * levels
            ).astype(np.uint8)
            if bits == 4:
                if codes.shape[1] % 2:
                    codes = np.concatenate(
                        [codes, np.zeros((len(codes), 1), dtype=np.uint8)],
                        axis=1,
                    )
                codes = (codes[:, 0::2] << 4) | codes[:, 1::2]
            out = {
                id_col: pdf[id_col].to_numpy(),
                "code": [c.tobytes() for c in codes],
                "lo": lo,
                "hi": hi,
            }
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col, *keep_cols).mapInPandas(
        encode, schema=schema
    )


def knn_sq8_rescore(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates_per_partition: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage search: uint8-approximate scan emits top-C candidates per
    partition; exact float re-score + global top-k.  Same output schema
    and distance convention as ``knn_exact``; the exact stage is the
    rescore the quantized IVF tiers end in (``knn._exact_rescore``)."""
    spark = vectors.sparkSession
    C = candidates_per_partition or 4 * k
    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return _empty_topk(spark)
    bc = spark.sparkContext.broadcast((qids, Q.astype(np.float64)))

    codes = sq8_encode(vectors, id_col=id_col, vec_col=vec_col)

    def approx_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Qd = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            raw = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8)
            codesm = raw.reshape(len(ids), -1).astype(np.float64)
            lo = pdf["lo"].to_numpy(dtype=np.float64)
            span = pdf["hi"].to_numpy(dtype=np.float64) - lo
            span[span <= 0] = 1.0
            # dequantize once per batch, single GEMM against all queries
            V = lo[:, None] + codesm * (span[:, None] / 255.0)
            D = (
                (V * V).sum(axis=1)[:, None]
                - 2.0 * (V @ Qd.T)
                + (Qd * Qd).sum(axis=1)[None, :]
            )
            keep = min(C, len(ids))
            part = (
                np.argpartition(D, keep - 1, axis=0)[:keep]
                if len(ids) > keep
                else np.tile(np.arange(len(ids))[:, None], (1, nq))
            )
            out_qid = np.repeat(qids_[None, :], part.shape[0], axis=0).ravel()
            out_ids = ids[part].ravel()
            yield pd.DataFrame({"qid": out_qid, "neighbor_id": out_ids})

    cand = codes.mapInPandas(approx_scan, schema=_PAIRS)
    qdf = _queries_df(spark, queries, qids, Q)
    return _exact_rescore(cand, vectors, k, id_col, vec_col, qdf=qdf)
