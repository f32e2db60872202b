"""fvecs/ivecs source/sink tests (reference S1/S2, ``utils.h:11-67``)."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.sources import (
    scan_fvecs,
    scan_ivecs,
    write_fvecs,
    write_ivecs,
)


def _write_ref_fvecs(path: str, mat: np.ndarray) -> None:
    """Byte-for-byte the reference's on-disk format (utils.h:11-39)."""
    with open(path, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", len(row)))
            f.write(row.astype("<f4").tobytes())


def test_scan_fvecs_matches_reference_layout(spark, tmp_path):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(100, 16)).astype(np.float32)
    p = str(tmp_path / "base.fvecs")
    _write_ref_fvecs(p, mat)
    # split_bytes small enough to force many ranged chunks
    df = scan_fvecs(spark, p, split_bytes=7 * (4 + 16 * 4))
    rows = df.orderBy("vec_id").collect()
    assert [r.vec_id for r in rows] == list(range(100))
    got = np.array([r.embedding for r in rows], dtype=np.float32)
    np.testing.assert_array_equal(got, mat)


def test_fvecs_roundtrip_sharded(spark, embeddings, embeddings_np):
    import tempfile

    out = tempfile.mkdtemp(prefix="vse_fvecs_")
    manifest = write_fvecs(embeddings, out, num_shards=4)
    shards = [r.shard for r in manifest.orderBy("shard").collect()]
    assert len(shards) >= 2  # actually sharded
    back = scan_fvecs(spark, out, split_bytes=50 * (4 + 64 * 4))
    ids, V = embeddings_np
    rows = back.orderBy("vec_id").collect()
    got_ids = np.array([r.vec_id for r in rows])
    got = np.array([r.embedding for r in rows], dtype=np.float32)
    order = np.argsort(ids)
    np.testing.assert_array_equal(got_ids, ids[order])
    np.testing.assert_array_equal(got, V[order])  # exact float32 round-trip


def test_ivecs_roundtrip(spark, tmp_path):
    lists = spark.createDataFrame(
        [(i, [i, i + 1, i + 2]) for i in range(50)], "qid long, neighbor_ids array<int>"
    )
    out = str(tmp_path / "gt")
    write_ivecs(lists, out, num_shards=2)
    back = scan_ivecs(spark, out, split_bytes=9 * (4 + 3 * 4))
    rows = back.orderBy("qid").collect()
    assert [r.qid for r in rows] == list(range(50))
    assert rows[17].neighbor_ids == [17, 18, 19]


def test_scan_rejects_ragged_dim(spark, tmp_path):
    p = str(tmp_path / "bad.fvecs")
    with open(p, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        # dim field lies (utils.h:24 must reject)
        f.write(struct.pack("<i", 3) + np.zeros(4, "<f4").tobytes())
    with pytest.raises(Exception, match="dim"):
        scan_fvecs(spark, p).collect()


def test_scan_rejects_truncated_file(spark, tmp_path):
    p = str(tmp_path / "trunc.fvecs")
    with open(p, "wb") as f:
        f.write(struct.pack("<i", 4) + np.zeros(4, "<f4").tobytes())
        f.write(b"\x04\x00")  # torn record
    with pytest.raises(ValueError, match="truncated|multiple"):
        scan_fvecs(spark, p)


def test_scan_pushes_no_data_through_driver(spark, tmp_path):
    """The plan side is chunk descriptors only — the scan must not collect
    vectors to the driver (scale posture)."""
    rng = np.random.default_rng(3)
    mat = rng.normal(size=(10, 8)).astype(np.float32)
    p = str(tmp_path / "t.fvecs")
    _write_ref_fvecs(p, mat)
    df = scan_fvecs(spark, p)
    # lazy: building the scan triggers no job beyond the 4-byte dim peek
    assert df.schema.simpleString() == "struct<vec_id:bigint,embedding:array<float>>"
    assert df.filter(F.col("vec_id") == 3).count() == 1


def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """JSONL write→scan is lossless under gzip sharding, and malformed
    lines are quarantined with accounting rather than dropped or fatal."""
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.sources import jsonl

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    jsonl.write_jsonl(docs, out, num_shards=3)
    back = jsonl.scan_jsonl(spark, out).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b

    # plant malformed lines in an extra (uncompressed) shard
    bad = tmp_path / "shards" / "part-bad.json"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n{"doc_id":\n')
    # cached first: Spark refuses a query over a raw JSON scan that
    # references only the corrupt-record column
    scanned = jsonl.scan_jsonl(spark, out).cache()
    corrupt = F.col("_corrupt_record")
    assert scanned.filter(corrupt.isNotNull()).count() == 2
    assert scanned.filter(corrupt.isNull()).count() == docs.count() + 1
    assert scanned.count() == docs.count() + 3
    scanned.unpersist()


def test_load_table_normalizes_events_ts_to_timestamp(spark, sf_dir):
    """events.ts physical type has drifted across driver generations
    (TIMESTAMP(NANOS) -> long shim; timestamp[us] no-tz -> TIMESTAMP_NTZ
    cast).  load_table is the single choke point: whatever parquet says,
    downstream event-time code gets a session-tz TIMESTAMP it can cast to
    long/double and unify with `timestamp` struct fields."""
    from vector_search_engine_spark import load_table

    events = load_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # the two casts the round-4 breakage hit must both analyze
    events.select(F.col("ts").cast("double"), F.col("ts").cast("long")).limit(
        1
    ).collect()


def _write_ref_bvecs(path: str, mat: np.ndarray) -> None:
    """Byte-for-byte the bigann .bvecs layout: int32 dim | dim uint8."""
    with open(path, "wb") as f:
        for row in mat:
            f.write(struct.pack("<i", len(row)))
            f.write(row.astype(np.uint8).tobytes())


def test_scan_bvecs_matches_reference_layout(spark, tmp_path):
    from vector_search_engine_spark.sources import scan_bvecs

    rng = np.random.default_rng(7)
    mat = rng.integers(0, 256, (100, 16)).astype(np.uint8)
    p = str(tmp_path / "base.bvecs")
    _write_ref_bvecs(p, mat)
    # records are NOT 4-byte aligned (4 + 16 bytes) — the generic
    # byte-matrix decode must handle that; small splits force many chunks
    df = scan_bvecs(spark, p, split_bytes=7 * (4 + 16))
    rows = df.orderBy("vec_id").collect()
    assert [r.vec_id for r in rows] == list(range(100))
    got = np.array([r.embedding for r in rows])
    np.testing.assert_array_equal(got, mat.astype(np.int64))
    assert got.max() > 127  # unsigned range survives (no int8 wraparound)


def test_bvecs_roundtrip_sharded(spark, tmp_path):
    import pandas as pd

    from vector_search_engine_spark.sources import scan_bvecs, write_bvecs

    rng = np.random.default_rng(9)
    mat = rng.integers(0, 256, (200, 24))
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(200), "embedding": [r.tolist() for r in mat]}
        )
    )
    out = str(tmp_path / "bv")
    manifest = write_bvecs(df, out, num_shards=3)
    assert manifest.count() >= 2
    back = scan_bvecs(spark, out)
    rows = back.orderBy("vec_id").collect()
    got = np.array([r.embedding for r in rows])
    np.testing.assert_array_equal(got, mat)
