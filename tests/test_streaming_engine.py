"""VectorEngine (LSM analog) tests: merged search equals exact over the
logical union, upsert shadows indexed versions, structured-streaming ingest
lands searchable rows, compaction preserves results exactly
(reference engine.h contracts, with the documented divergences fixed)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators.ivf import (
    _DISTRIBUTED_TIERS,
    _SERVING_TIERS,
    IVFIndex,
)
from vector_search_engine_spark.streaming.engine import VectorEngine


@pytest.fixture()
def engine(spark, embeddings, tmp_path):
    base = embeddings.filter(F.col("vec_id") < 400)
    return VectorEngine.create(base, str(tmp_path / "engine"), n_centroids=8)


def _sorted(df):
    return [tuple(r) for r in df.orderBy("qid", "rank").collect()]


def test_merged_search_equals_exact_over_union(spark, embeddings, engine):
    tail = embeddings.filter(F.col("vec_id") >= 400)
    engine.insert(tail)
    q = knn_ops.make_queries(embeddings, n=10)
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    exact = knn_exact_all = knn_ops.knn_exact(embeddings, q, k=10)
    assert _sorted(merged) == _sorted(exact)


def test_upsert_shadows_indexed_version(spark, embeddings, engine):
    # re-insert vec_id 0..4 moved far away; they must vanish from their own
    # top-1 (old versions shadowed) and appear at the new location
    moved = (
        embeddings.filter(F.col("vec_id") < 5)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.insert(moved)
    q = knn_ops.make_queries(embeddings, n=5)
    res = engine.search(q, k=3, nprobe=engine.index.meta["n_centroids"])
    rows = {(r.qid, r.rank): r for r in res.collect()}
    for qid in range(5):
        top1 = rows[(qid, 1)]
        assert top1.neighbor_id != qid or top1.dist_sq > 0.0
    # and the moved vectors are findable near their new location
    far_q = (
        embeddings.filter(F.col("vec_id") < 1)
        .select(
            F.col("vec_id").alias("qid"),
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).alias("query"),
        )
    )
    far_res = engine.search(far_q, k=1, nprobe=engine.index.meta["n_centroids"])
    assert far_res.collect()[0].neighbor_id == 0


def test_reinsert_latest_wins_within_delta(spark, embeddings, engine):
    v1 = embeddings.filter(F.col("vec_id") == 450)
    moved = v1.withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x + F.lit(5.0)).cast("array<float>"),
    )
    engine.insert(moved)   # _seq=0
    engine.insert(v1)      # _seq=1: back to original position
    q = v1.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("query"))
    res = engine.search(q, k=1, nprobe=engine.index.meta["n_centroids"])
    top = res.collect()[0]
    assert top.neighbor_id == 450 and top.dist_sq == 0.0


def test_streaming_ingest_then_search(spark, embeddings, engine, tmp_path):
    stage = tmp_path / "stage"
    stage.mkdir()
    tail = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    tail.write.mode("overwrite").parquet(str(stage / "batch"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(stage / "batch"))
    )
    qh = engine.ingest_stream(stream)
    qh.awaitTermination(120)
    q = knn_ops.make_queries(embeddings, n=5)
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    assert _sorted(merged) == _sorted(exact)


def test_compaction_preserves_results(spark, embeddings, engine):
    tail = embeddings.filter(F.col("vec_id") >= 400)
    moved = (
        embeddings.filter(F.col("vec_id") < 5)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.insert(tail)
    engine.insert(moved)
    q = knn_ops.make_queries(embeddings, n=10)
    np_full = engine.index.meta["n_centroids"]
    before = _sorted(engine.search(q, k=10, nprobe=np_full))
    n = engine.compact()
    assert n == 105  # 100 tail + 5 moved
    after = _sorted(engine.search(q, k=10, nprobe=np_full))
    assert before == after
    assert engine.delta().count() == 0
    # table has exactly one row per id
    ids = engine.index.vectors().groupBy("vec_id").count()
    assert ids.filter(F.col("count") > 1).count() == 0


def test_compaction_empty_delta_noop(engine):
    assert engine.compact() == 0


def test_maybe_compact_threshold_policy(spark, embeddings, tmp_path):
    """maybe_compact folds only past the delta-fraction threshold
    (reference W3 soft/hard-limit analog)."""
    from pyspark.sql import functions as F

    from vector_search_engine_spark.streaming.engine import VectorEngine

    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 400), str(tmp_path / "eng"), n_centroids=4
    )
    # 50 delta rows on 400 indexed = 12.5% < 25% -> no compaction
    eng.insert(embeddings.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)))
    assert eng.maybe_compact(max_delta_fraction=0.25) == 0
    assert eng.delta().count() == 50
    # 100 rows = 25% -> compacts everything
    eng.insert(embeddings.filter(F.col("vec_id") >= 450))
    assert eng.maybe_compact(max_delta_fraction=0.25) == 100
    assert eng.delta().count() == 0


def test_backpressure_compacts_midstream_and_stays_exact(
    spark, embeddings, engine, tmp_path
):
    """W3 write throttling under a real trigger cadence: maxFilesPerTrigger=1
    ingest with a tight delta-fraction limit must fold the delta into the
    index at least twice MID-STREAM (not once at the end), and the merged
    search must equal exact kNN afterwards.  Also pins the checkpoint
    surviving compaction: a second ingest_stream over the same source+
    checkpoint re-reads nothing (no duplicate delta rows)."""
    stage = tmp_path / "stage"
    stage.mkdir()
    tail = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    # 8 single-file batches of ~12-13 rows each against 400 indexed;
    # threshold 0.05 (~20 rows) -> a compaction roughly every other batch
    tail.repartition(8).write.mode("overwrite").parquet(str(stage / "batches"))

    compactions = []
    orig_compact = engine.compact

    def counting_compact():
        n = orig_compact()
        if n:
            compactions.append(n)
        return n

    engine.compact = counting_compact
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "batches"))
    )
    qh = engine.ingest_stream(stream, checkpoint=ckpt, max_delta_fraction=0.05)
    qh.awaitTermination(180)
    assert len(compactions) >= 2, compactions
    assert sum(compactions) + engine.delta().count() == tail.count()

    q = knn_ops.make_queries(embeddings, n=5)
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    assert _sorted(merged) == _sorted(exact)

    # checkpoint kept across compactions: resuming over the same source
    # must be a no-op, not a full re-read
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "batches"))
    )
    qh2 = engine.ingest_stream(stream2, checkpoint=ckpt, max_delta_fraction=0.05)
    qh2.awaitTermination(60)
    merged2 = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    assert _sorted(merged2) == _sorted(exact)
    assert engine.index.meta["n_vectors"] == embeddings.count()


def test_search_exact_while_ingesting(spark, embeddings, engine, tmp_path):
    """Reference isolation contract (M4/M5, client_bench.cpp:39-49):
    searches issued WHILE the ingest stream runs must be internally exact —
    every reported distance is the true squared L2 between that query and
    that id's vector (immutable files -> no torn reads), ranks are
    contiguous from 1, and the post-stream search equals exact kNN over
    the full universe."""
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float32).astype(np.float64)
        for r in embeddings.collect()
    }
    stage = tmp_path / "stage"
    stage.mkdir()
    tail = embeddings.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
    tail.repartition(8).write.mode("overwrite").parquet(str(stage / "batches"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "batches"))
    )
    q = knn_ops.make_queries(embeddings, n=3)
    qvecs = {
        r["qid"]: np.asarray(r["query"], dtype=np.float32).astype(np.float64)
        for r in q.collect()
    }
    qh = engine.ingest_stream(stream, max_delta_fraction=0.05)
    n_checked = 0
    while qh.isActive and n_checked < 6:
        res = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"]).collect()
        n_checked += 1
        by_q = {}
        for r in res:
            true_d = float(((qvecs[r["qid"]] - vecs[r["neighbor_id"]]) ** 2).sum())
            assert r["dist_sq"] == pytest.approx(true_d, abs=1e-3)
            by_q.setdefault(r["qid"], []).append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
    qh.awaitTermination(180)
    assert n_checked > 0
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    assert _sorted(merged) == _sorted(exact)


def test_metrics_sink_records_all_ops(spark, embeddings, engine):
    """S6 metrics sink: insert/search/compact land one series each with
    sane counts and monotone percentiles (p50 <= p99 <= p999)."""
    tail = embeddings.filter(F.col("vec_id") >= 400)
    engine.insert(tail)
    q = knn_ops.make_queries(embeddings, n=3)
    for _ in range(2):
        engine.search_timed(q, k=10, nprobe=engine.index.meta["n_centroids"])
    engine.compact()
    rows = {r["op"]: r for r in engine.metrics().collect()}
    assert rows["insert"]["count"] == 1
    assert rows["search"]["count"] == 2
    assert rows["compact"]["count"] == 1
    for r in rows.values():
        assert 0 < r["p50_ms"] <= r["p99_ms"] <= r["p999_ms"]


def test_hot_cell_autosplit_under_skewed_ingest(spark, tmp_path):
    """Sustained ingest into ONE region: the hot-cell policy must split
    the swollen cell mid-stream and searches must stay exact."""
    import pandas as pd

    rng = np.random.default_rng(3)
    centers = rng.normal(0, 20.0, (4, 16))
    base = np.concatenate(
        [centers[i] + rng.normal(0, 1.0, (50, 16)) for i in range(4)]
    ).astype(np.float32)
    base_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(base), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in base],
            }
        )
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    eng = VectorEngine.create(base_df, str(tmp_path / "eng"), n_centroids=4)
    # 400 new rows, ALL near center 0 — one cell takes the entire stream
    hot = (centers[0] + rng.normal(0, 1.0, (400, 16))).astype(np.float32)
    hot_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(1000, 1000 + len(hot), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in hot],
            }
        )
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    stage = str(tmp_path / "stage")
    hot_df.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    n_cells_before = len(eng.index.centroid_ids)
    qh = eng.ingest_stream(
        stream, max_delta_fraction=0.2, hot_cell_factor=1.3
    )
    qh.awaitTermination(240)
    assert len(eng.index.centroid_ids) > n_cells_before
    occ = {r["centroid_id"]: r["n_vectors"] for r in eng.index.stats().collect()}
    assert sum(occ.values()) + eng.delta().count() == len(base) + len(hot)
    # the pre-split hot cells (~230 rows) are gone; children are bounded
    assert max(occ.values()) < 200
    union = base_df.unionByName(hot_df)
    q = knn_ops.make_queries(union, n=5)
    merged = eng.search(q, k=10, nprobe=eng.index.meta["n_centroids"])
    exact = knn_ops.knn_exact(union, q, k=10)
    assert _sorted(merged) == _sorted(exact)


def test_compaction_crash_before_commit_is_harmless(spark, embeddings, engine):
    """Crash-safety of the commit order: dying AFTER the new generation
    dir is written but BEFORE the manifest swap must leave results
    unchanged (the folded rows are still live in the delta, and the
    unpublished generation is invisible); a later compact() succeeds and
    results are still exact."""
    tail = embeddings.filter(F.col("vec_id") >= 400)
    engine.insert(tail)
    q = knn_ops.make_queries(embeddings, n=5)
    exact = knn_ops.knn_exact(embeddings, q, k=10)

    real_commit = engine.index.commit_cells

    def crashing_commit(*a, **kw):
        raise RuntimeError("simulated crash before manifest swap")

    engine.index.commit_cells = crashing_commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.compact()
    # watermark untouched -> delta still live, index still old generation
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    assert _sorted(merged) == _sorted(exact)
    # recovery: a later compact over the same delta commits cleanly
    engine.index.commit_cells = real_commit
    assert engine.compact() > 0
    merged2 = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    assert _sorted(merged2) == _sorted(exact)
    assert engine.delta().count() == 0


def test_time_travel_read_of_previous_snapshot(spark, embeddings, engine):
    """One-commit time travel: after a compaction the previous index
    generation stays readable (the EBR grace period) and equals the
    pre-compaction table exactly."""
    before = sorted(
        tuple(r)
        for r in engine.index.vectors().select("vec_id", "centroid_id").collect()
    )
    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    assert engine.compact() > 0
    prev = sorted(
        tuple(r)
        for r in engine.index.vectors(snapshot="prev")
        .select("vec_id", "centroid_id")
        .collect()
    )
    assert prev == before
    cur = engine.index.vectors().count()
    assert cur == embeddings.count()


def test_compaction_generation_pins_quantized_sidecars(spark, embeddings, engine):
    """Sidecars are keyed by the snapshot generation they encode.  A
    compaction must (a) leave the superseded generation's codes on disk
    for the EBR grace window — an in-flight pinned search may still be
    scanning them — and (b) route NEW searches to a fresh sidecar built
    from the new snapshot, so quantized candidate generation never drops
    newly-committed vectors.  Once the old snapshot leaves retention, its
    sidecar dirs are GC'd with the same rule as base cells."""
    import os

    codes_dir, _ = engine.index.ensure_pq(m=8)
    sq_dir = engine.index.ensure_sq8()
    assert os.path.exists(os.path.join(codes_dir, "_SUCCESS"))
    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    assert engine.compact() > 0
    # (a) grace: the pre-compaction generation's codes survive the commit
    assert os.path.exists(os.path.join(codes_dir, "_SUCCESS"))
    assert os.path.exists(os.path.join(sq_dir, "_SUCCESS"))
    # (b) a post-compaction search builds + uses the NEW generation's
    # sidecar and sees the folded vectors: PQ full probe must equal the
    # float full probe over the compacted table
    q = knn_ops.make_queries(embeddings, n=5)
    np_full = engine.index.meta["n_centroids"]
    fl = _sorted(engine.index.search(q, k=10, nprobe=np_full))
    pz = _sorted(engine.index.search_pq(q, k=10, nprobe=np_full, m=8))
    assert fl == pz
    new_codes_dir, _ = engine.index.ensure_pq(m=8)
    assert new_codes_dir != codes_dir
    # (c) GC after retention: a second compaction evicts the original
    # snapshot from history; its sidecars go with it
    engine.insert(
        embeddings.filter(F.col("vec_id") < 3).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    assert engine.compact() > 0
    assert not os.path.exists(codes_dir)
    assert not os.path.exists(sq_dir)
    assert os.path.exists(new_codes_dir)  # still retained (prev snapshot)


def test_merged_search_pq_tier_equals_exact(spark, embeddings, engine,
                                            monkeypatch):
    """Every serving tier (pq, sq8/sq4, prefix, prefix_pca, bq, cascade,
    graph, ... — the whole tier table, so a new tier is covered the day
    it lands) swaps only the indexed side's candidate scan; at full probe
    with an unbounded budget the merged result must equal the float
    tier's (shadow exclusion happens BEFORE each lossless cut, so
    upserted ids cannot distort the k-th upper bound).  A second pass
    runs with tiny Arrow batches, so cells span several batches and one
    batch holds several cells — the kernels' shared cell loop must still
    give every tier the float tier's result.  The driver runner's budget
    is 0, so the float tier runs on that cell loop too."""
    monkeypatch.setattr(IVFIndex, "_driver_budget", lambda self: (0, 0))
    tail = embeddings.filter(F.col("vec_id") >= 400)
    moved = (
        embeddings.filter(F.col("vec_id") < 5)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.insert(tail)
    engine.insert(moved)  # shadows indexed versions of ids 0..4
    q = knn_ops.make_queries(embeddings, n=10)
    np_full = engine.index.meta["n_centroids"]
    fl = _sorted(engine.search(q, k=10, nprobe=np_full))
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_conf, None)
    try:
        for batch in (None, 37):
            if batch is not None:
                spark.conf.set(batch_conf, str(batch))
            for tier in _SERVING_TIERS:
                got = engine.search(
                    q, k=10, nprobe=np_full, tier=tier,
                    candidates_per_cell=10**9,
                )
                assert _sorted(got) == fl, (tier, batch)
    finally:
        if saved is None:
            spark.conf.unset(batch_conf)
        else:
            spark.conf.set(batch_conf, saved)
    with pytest.raises(ValueError, match="tier"):
        engine.search(q, k=10, tier="sq2")


def test_delete_shadows_and_compacts_physically(spark, embeddings, engine):
    """LSM tombstone deletes: a deleted id vanishes from merged search
    (whether it lived in the index or the delta), a later re-insert
    resurrects it, and compaction removes the rows physically."""
    q_for = lambda vid: embeddings.filter(F.col("vec_id") == vid).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )
    np_full = engine.index.meta["n_centroids"]

    # delete an INDEXED id: its own top-1 is no longer itself
    engine.delete([7])
    top = engine.search(q_for(7), k=1, nprobe=np_full).collect()[0]
    assert top.neighbor_id != 7
    # delete a DELTA id: insert then delete
    engine.insert(embeddings.filter(F.col("vec_id") == 450))
    engine.delete([450])
    top = engine.search(q_for(450), k=1, nprobe=np_full).collect()[0]
    assert top.neighbor_id != 450
    # re-insert after delete resurrects (latest version wins)
    engine.insert(embeddings.filter(F.col("vec_id") == 7))
    top = engine.search(q_for(7), k=1, nprobe=np_full).collect()[0]
    assert top.neighbor_id == 7 and top.dist_sq == 0.0

    # compaction applies tombstones physically and preserves results
    engine.delete([7, 11])
    before = _sorted(engine.search(q_for(11), k=5, nprobe=np_full))
    n_before = int(engine.index.meta["n_vectors"])
    assert engine.compact() > 0
    after = _sorted(engine.search(q_for(11), k=5, nprobe=np_full))
    assert before == after
    left = engine.index.vectors()
    assert left.filter(F.col("vec_id").isin([7, 11, 450])).count() == 0
    assert engine.delta().count() == 0
    # accounting: started with 400 indexed, net deletes of ids 7 and 11
    assert int(engine.index.meta["n_vectors"]) == 398
    assert left.count() == 398


def test_delete_composes_with_pq_tier(spark, embeddings, engine):
    """Tombstoned ids must be excluded BEFORE the PQ bound cut (they ride
    exclude_ids), so tier='pq' and tier='float' agree under deletes."""
    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    engine.delete([3, 401])
    q = knn_ops.make_queries(embeddings, n=5)
    np_full = engine.index.meta["n_centroids"]
    fl = _sorted(engine.search(q, k=10, nprobe=np_full))
    pz = _sorted(engine.search(q, k=10, nprobe=np_full, tier="pq"))
    assert fl == pz
    assert not any(r[1] in (3, 401) for r in fl)


def test_delete_nonexistent_and_empty_are_harmless(spark, embeddings, engine):
    engine.delete([999_999])
    engine.delete([])
    assert engine.compact() >= 1  # the tombstone folds away
    assert int(engine.index.meta["n_vectors"]) == 400
    assert engine.index.vectors().count() == 400


def test_concurrent_insert_and_delete_writers(spark, embeddings, engine):
    """Concurrent delta writers (a streaming-insert thread and delete
    batches, as in the mixed-RW bench) must never corrupt each other:
    the old append-into-shared-dir path let two Spark jobs share one
    _temporary staging dir and fail with TASK_WRITE_FAILED; the private
    staging + atomic-rename path gives every batch its own _seq and an
    all-or-nothing publish.  Afterward, merged search must equal exact
    kNN over the survivor universe."""
    import threading

    tail = embeddings.filter(F.col("vec_id") >= 400)
    batches = [tail.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    del_batches = [[i * 16 + 3 for i in range(12)], [i * 16 + 7 for i in range(12)]]
    errs: list = []

    def do_inserts():
        try:
            for b in batches:
                engine.insert(b)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_deletes():
        try:
            for d in del_batches:
                engine.delete(d)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=do_inserts), threading.Thread(target=do_deletes)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    # every batch claimed its own _seq partition
    assert len(engine._existing_seqs()) == len(batches) + len(del_batches)
    deleted = {i for d in del_batches for i in d}
    survivors = embeddings.filter(~F.col("vec_id").isin(list(deleted)))
    q = knn_ops.make_queries(embeddings, n=5)
    got = _sorted(engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"]))
    want = _sorted(knn_ops.knn_exact(survivors, q, k=10))
    assert got == want


def test_staging_gc_spares_young_dirs_removes_old(spark, embeddings, engine):
    """Constructor staging GC must only sweep crash orphans (old mtime) —
    a young staging dir may belong to a writer mid-_publish_delta_batch in
    another engine over the same root, and constructing a reader engine
    must not destroy its in-flight batch."""
    import os
    import time as _time

    young = os.path.join(engine.root_dir, "_staging-aaaaaaaaaaaa")
    old = os.path.join(engine.root_dir, "_staging-bbbbbbbbbbbb")
    os.makedirs(young)
    os.makedirs(old)
    past = _time.time() - 2 * VectorEngine._STAGING_GC_AGE_SEC
    os.utime(old, (past, past))
    VectorEngine(spark, engine.root_dir)  # reader over a live root
    assert os.path.isdir(young), "young (possibly live) staging swept"
    assert not os.path.exists(old), "crash orphan not collected"


def test_publish_raises_noncollision_rename_errors(spark, embeddings, engine, monkeypatch):
    """A non-collision OSError from os.rename (EACCES, EXDEV, read-only fs)
    must surface immediately — not be retried 100 times and masked as the
    generic claim-race RuntimeError."""
    import errno as _errno
    import os

    calls = {"n": 0}
    real_rename = os.rename

    def failing_rename(src, dst, **kw):
        if "_staging-" in str(src):
            calls["n"] += 1
            raise OSError(_errno.EXDEV, "Invalid cross-device link")
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", failing_rename)
    rows = embeddings.filter(F.col("vec_id") >= 400).limit(3)
    with pytest.raises(OSError) as exc:
        engine.insert(rows)
    assert exc.value.errno == _errno.EXDEV
    assert calls["n"] == 1, "non-collision error was retried"


def test_merged_search_prefix_tier_equals_float(spark, embeddings, engine):
    """tier="prefix" is a lossless cut: the merged result (upserts,
    deletes, delta union) must equal the float tier bit-for-bit."""
    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    engine.delete([3, 4])
    q = knn_ops.make_queries(embeddings)
    nc = engine.index.meta["n_centroids"]
    want = _sorted(engine.search(q, k=10, nprobe=nc))
    got = _sorted(engine.search(q, k=10, nprobe=nc, tier="prefix"))
    assert got == want
    assert all(r[1] not in (3, 4) for r in got)


# -- metadata-carrying engine (filtered × streaming) -------------------------


@pytest.fixture()
def meta_engine(spark, embeddings, tmp_path):
    base = embeddings.filter(F.col("vec_id") < 400)
    return VectorEngine.create(
        base, str(tmp_path / "meta_engine"), n_centroids=8,
        extra_cols=("label",),
    )


def test_filtered_merged_search_equals_exact(spark, embeddings, meta_engine):
    """Filtered merged search at full probe equals exact filtered kNN
    over the logical union — deltas carry the metadata column."""
    meta_engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    q = knn_ops.make_queries(embeddings, n=10)
    got = meta_engine.search(
        q, k=10, nprobe=meta_engine.index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )
    want = knn_ops.knn_exact(embeddings.filter(F.col("label") < 5), q, k=10)
    assert _sorted(got) == _sorted(want)


def test_filtered_search_sees_latest_metadata(spark, embeddings, meta_engine):
    """An upsert that changes a row's metadata OUT of the predicate takes
    effect immediately: the shadowed indexed version (which qualified)
    must not resurface."""
    meta_engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    # move every label-3 doc's latest version out of the predicate
    relabeled = embeddings.filter(F.col("label") == 3).withColumn(
        "label", F.lit(99)
    )
    meta_engine.insert(relabeled)
    q = knn_ops.make_queries(embeddings, n=10)
    got = meta_engine.search(
        q, k=10, nprobe=meta_engine.index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )
    want = knn_ops.knn_exact(
        embeddings.filter((F.col("label") < 5) & (F.col("label") != 3)),
        q, k=10,
    )
    assert _sorted(got) == _sorted(want)


def test_filtered_search_survives_delete_and_compact(
    spark, embeddings, meta_engine
):
    """Tombstones carry typed NULL extras (one delta schema) and
    compaction folds the metadata into the indexed cells: the filtered
    result is identical before and after compact()."""
    meta_engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    meta_engine.delete([0, 7, 450])
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    np_full = meta_engine.index.meta["n_centroids"]
    before = _sorted(
        meta_engine.search(q, k=10, nprobe=np_full, predicate=pred)
    )
    meta_engine.compact()
    after = _sorted(
        meta_engine.search(q, k=10, nprobe=np_full, predicate=pred)
    )
    assert before == after
    want = knn_ops.knn_exact(
        embeddings.filter(pred).filter(~F.col("vec_id").isin([0, 7, 450])),
        q, k=10,
    )
    assert after == _sorted(want)


def test_filtered_merged_search_through_tiers(spark, embeddings, meta_engine):
    """The predicate composes with every serving tier at full probe."""
    meta_engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    q = knn_ops.make_queries(embeddings, n=5)
    pred = F.col("label") < 5
    np_full = meta_engine.index.meta["n_centroids"]
    want = _sorted(
        knn_ops.knn_exact(embeddings.filter(pred), q.filter(F.col("qid") < 5), k=10)
    )
    q5 = knn_ops.make_queries(embeddings, n=5)
    for tier, kw in (
        ("float", {}),
        ("sq8", {}),
        ("sq4", {}),
        ("pq", {}),
        ("prefix", {}),
        ("cascade", {"candidates_per_cell": 10**9}),
    ):
        got = _sorted(
            meta_engine.search(
                q5, k=10, nprobe=np_full, tier=tier, predicate=pred, **kw
            )
        )
        assert got == want, tier


def test_engine_search_filtered_planner_routes(spark, embeddings, meta_engine):
    """Engine-level filtered search through the planner: both routes
    agree with exact filtered kNN over the logical union — prefilter at
    partial nprobe (exact by construction), inprobe at full probe — and
    an upsert moving a survivor must shadow its indexed copy in the
    prefilter brute-force too."""
    meta_engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    # upsert one qualifying indexed doc far away: its OLD position must
    # not appear (shadow reaches the prefilter base)
    sel = (F.col("label") == 3) & (F.col("vec_id") % 10 == 0)
    moved = (
        embeddings.filter(sel).limit(1)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).cast(
                "array<float>"
            ),
        )
    )
    moved_id = moved.collect()[0].vec_id
    meta_engine.insert(moved)
    q = knn_ops.make_queries(embeddings, n=10)
    union = embeddings.filter(F.col("vec_id") != moved_id).unionByName(
        spark.createDataFrame(
            moved.select("vec_id", "embedding", "label").collect(),
            "vec_id long, embedding array<float>, label int",
        ).select(*embeddings.columns),
        allowMissingColumns=True,
    )
    want = knn_ops.knn_exact(union.filter(sel), q, k=10)
    got_pre = meta_engine.search_filtered(
        q, k=10, nprobe=1, predicate=sel, strategy="auto"
    )
    assert _sorted(got_pre) == _sorted(want)
    got_in = meta_engine.search_filtered(
        q, k=10, nprobe=meta_engine.index.meta["n_centroids"],
        predicate=sel, strategy="inprobe",
    )
    assert _sorted(got_in) == _sorted(want)


def test_radius_search_merged_equals_exact_after_upsert_and_delete(
    spark, embeddings, engine
):
    """Merged RANGE search over upserts + tombstones: must equal brute
    radius over the latest live corpus — moved rows appear only at the
    new location, deleted ids nowhere, no duplicates from the overlap."""
    # upsert 0..4 moved +10 in every coordinate (leaves any radius-1.5
    # ball around the original queries), insert the >=400 tail, delete
    # 10..14 entirely
    moved = (
        embeddings.filter(F.col("vec_id") < 5)
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(10.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    engine.insert(moved)
    engine.delete([10, 11, 12, 13, 14])

    q = knn_ops.make_queries(embeddings, n=10)
    got = {
        (r.qid, r.neighbor_id, r.dist_sq)
        for r in engine.radius_search(q, 1.5).collect()
    }

    # brute oracle over the latest state
    rows = embeddings.collect()
    latest = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows
    }
    for r in moved.collect():
        latest[r.vec_id] = np.array(r.embedding, dtype=np.float64)
    for d in (10, 11, 12, 13, 14):
        latest.pop(d)
    qrows = {r.qid: np.array(r.query, dtype=np.float64) for r in q.collect()}
    exp = set()
    for qid, qv in qrows.items():
        for vid, v in latest.items():
            d = float(((v - qv) ** 2).sum())
            if d <= 1.5:
                exp.add((qid, vid, round(d, 4)))
    assert got == exp
    # duplicate guard: the overlap region must not double-emit
    assert len(got) == len({(a, b) for a, b, _ in got})


def test_delta_gc_defers_two_cycles_with_age_floor(spark, embeddings, engine):
    """EBR grace regression (caught live by the r10 bench mixed_rw
    phase): seq dirs folded by compaction N must survive on disk until
    compaction N+1 AND until older than the age floor — a concurrently
    executing search that pinned the pre-fold seq set keeps its files."""
    import os

    engine.insert(embeddings.filter(F.col("vec_id") >= 400))
    seqs_before = set(engine._existing_seqs())
    assert seqs_before
    engine.compact()
    # cycle 1: folded dirs still on disk (logically dead, physically live)
    assert set(engine._existing_seqs()) >= seqs_before
    engine.insert(
        embeddings.filter(F.col("vec_id") < 5).withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(1.0)).cast(
                "array<float>"
            ),
        )
    )
    # cycle 2 with the age floor active: young dirs STILL survive
    engine.compact()
    assert set(engine._existing_seqs()) >= seqs_before
    # cycle 2 replay with the floor lowered: now they are reclaimed
    engine._DELTA_GC_MIN_AGE_SEC = 0.0
    engine.insert(
        embeddings.filter(F.col("vec_id") < 3).withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(2.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.compact()
    assert not (set(engine._existing_seqs()) & seqs_before)
    # results remain exact throughout
    q = knn_ops.make_queries(embeddings, n=5)
    merged = engine.search(q, k=5, nprobe=engine.index.meta["n_centroids"])
    assert merged.count() == 25


def test_sidecar_carry_forward_across_compaction(
    spark, embeddings, engine, monkeypatch
):
    """Compaction rebuilds derived sidecars only for AFFECTED cells (the
    O(corpus)→O(affected) maintenance fix).  Untouched cells' partitions
    are exact file copies of the previous generation's (same part-file
    names and bytes — a rebuild would write fresh task files), and for
    the sidecars with no dir-global state (graph, SQ8) the carried rows
    are identical to a forced from-scratch rebuild of the new snapshot
    (graph determinism: hnsw.py md5 levels + id-ascending inserts; SQ
    codes: pure per-row function).  BQ/PQ carry their thresholds /
    codebooks forward explicitly, so their carried partitions equal the
    donor's AND full-probe search through every tier stays exact."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil

    import numpy as _np

    idx = engine.index
    snap0 = idx._read_manifest()
    g0 = {
        "graph": idx.ensure_graph(),
        "sq8": idx.ensure_sq8(),
        "bq": idx.ensure_bq(),
        "pq": idx.ensure_pq(m=8)[0],
    }

    # move 3 vectors far away: shadowed old cells + the receiving cell
    # get rewritten; the rest of the 8 cells must stay untouched
    moved = embeddings.filter(F.col("vec_id") < 3).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x + F.lit(25.0)).cast(
            "array<float>"
        ),
    )
    engine.insert(moved)
    assert engine.compact() > 0
    snap1 = idx._read_manifest()
    c0, c1 = dict(snap0["cells"]), dict(snap1["cells"])
    affected = sorted(c for c in c1 if c0.get(c) != c1[c])
    untouched = sorted(c for c in c1 if c0.get(c) == c1[c])
    assert affected and untouched  # the test needs both populations

    def part_files(root: str, cell: str) -> dict[str, bytes]:
        d = os.path.join(root, f"centroid_id={cell}")
        return {
            os.path.basename(p): open(p, "rb").read()
            for p in _glob.glob(os.path.join(d, "*.parquet"))
        }

    g1 = {
        "graph": idx.ensure_graph(),
        "sq8": idx.ensure_sq8(),
        "bq": idx.ensure_bq(),
        "pq": idx.ensure_pq(m=8)[0],
    }
    for name in g1:
        assert g1[name] != g0[name], name
        for c in untouched:
            assert part_files(g1[name], c) == part_files(g0[name], c), (
                name,
                c,
            )
        for c in affected:
            assert os.path.isdir(
                os.path.join(g1[name], f"centroid_id={c}")
            ), (name, c)

    # dir-global state carried forward explicitly (the within-dir
    # scan/code agreement rule)
    b0 = _np.load(os.path.join(os.path.dirname(g0["pq"]), "codebooks.npy"))
    b1 = _np.load(os.path.join(os.path.dirname(g1["pq"]), "codebooks.npy"))
    assert (b0 == b1).all()
    with open(os.path.join(g0["bq"], "thresholds.json")) as f:
        t0 = _json.load(f)
    with open(os.path.join(g1["bq"], "thresholds.json")) as f:
        t1 = _json.load(f)
    assert t0 == t1

    # no-global-state sidecars: carried content == forced from-scratch
    # rebuild of the SAME snapshot
    carried = {
        n: sorted(map(repr, spark.read.parquet(g1[n]).collect()))
        for n in ("graph", "sq8")
    }
    for n in ("graph", "sq8"):
        _shutil.rmtree(g1[n])
    monkeypatch.setattr(
        idx, "_sidecar_carry_forward", lambda *a, **k: (None, None)
    )
    assert (
        sorted(map(repr, spark.read.parquet(idx.ensure_graph()).collect()))
        == carried["graph"]
    )
    assert (
        sorted(map(repr, spark.read.parquet(idx.ensure_sq8()).collect()))
        == carried["sq8"]
    )
    monkeypatch.undo()

    # every tier still serves exactly at full probe over the compacted
    # table (the incremental sidecars, not the scratch rebuilds: restore
    # the carried dirs' role by rebuilding them through the normal path)
    q = knn_ops.make_queries(embeddings.filter(F.col("vec_id") < 400), n=5)
    np_full = idx.meta["n_centroids"]
    fl = _sorted(idx.search(q, k=10, nprobe=np_full))
    assert fl == _sorted(idx.search_sq8(q, k=10, nprobe=np_full))
    assert fl == _sorted(idx.search_pq(q, k=10, nprobe=np_full, m=8))
    assert fl == _sorted(idx.search_bq(
        q, k=10, nprobe=np_full, candidates_per_cell=10**9
    ))
    assert fl == _sorted(idx.search_graph(q, k=10, nprobe=np_full, ef=10**9))


def test_hot_cell_factor_auto_budget_derived_split(spark, tmp_path):
    """r13 (r11 verdict item 5): ``hot_cell_factor="auto"`` replaces the
    factor-of-mean guess with a seconds budget — the split threshold is
    inverted from a MEASURED per-cell graph-build cost calibration, so
    the worst post-compaction sidecar rebuild any one cell can cost is
    bounded by ``target_rebuild_sec``.  A tiny budget must therefore
    split a swollen cell that a generous factor would keep, searches
    stay exact through the split, and the threshold is monotone in the
    budget (a bigger budget never demands a smaller cell)."""
    import pandas as pd

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 20.0, (4, 16))
    base = np.concatenate(
        [centers[i] + rng.normal(0, 1.0, (300, 16)) for i in range(4)]
    ).astype(np.float32)
    base_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(base), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in base],
            }
        )
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    eng = VectorEngine.create(base_df, str(tmp_path / "eng"), n_centroids=4)

    # the calibration itself: bounded one-off collect, cached; monotone
    t_small = eng._auto_max_cell_rows(1e-4)
    assert eng._graph_build_cost_const is not None  # calibrated once
    t_big = eng._auto_max_cell_rows(60.0)
    assert t_big >= t_small >= 1024  # floor: the doubling ladder's base
    mean = len(base) / 4
    assert t_small > mean  # never shatters below the mean

    # 2000 rows into ONE region: cell 0 swells to ~2300 > the tiny
    # budget's threshold (1024) but BELOW a generous 4x-mean factor
    # (3200) — only the budget-derived policy splits it
    hot = (centers[0] + rng.normal(0, 1.0, (2000, 16))).astype(np.float32)
    hot_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(10_000, 10_000 + len(hot), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in hot],
            }
        )
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    eng.insert(hot_df)
    n_cells_before = len(eng.index.centroid_ids)
    folded = eng.maybe_compact(
        max_delta_fraction=0.05,
        hot_cell_factor="auto",
        target_rebuild_sec=1e-4,
    )
    assert folded == len(hot)
    assert len(eng.index.centroid_ids) > n_cells_before
    occ = {
        r["centroid_id"]: r["n_vectors"] for r in eng.index.stats().collect()
    }
    assert sum(occ.values()) == len(base) + len(hot)
    # every cell now respects the budget-derived bound
    assert max(occ.values()) <= t_small
    # exactness through the split
    union = base_df.unionByName(hot_df)
    q = knn_ops.make_queries(union, n=5)
    merged = eng.search(q, k=10, nprobe=len(eng.index.centroid_ids))
    exact = knn_ops.knn_exact(union, q, k=10)
    assert _sorted(merged) == _sorted(exact)


def test_search_distributed_merged_equals_exact(spark, embeddings, engine):
    """r13: the merged Q4 contract for DATASET-SIZED query tables —
    engine.search_distributed composes the bulk-query index tiers
    (float / sq8 / cascade) with shadowed-id exclusion and the
    block-join exact delta scan.  Gate: every tier equals exact kNN
    over the latest-wins logical union (insert + upsert + tombstone
    all live), and agrees with the per-query merged path at partial
    nprobe."""
    tail = embeddings.filter(F.col("vec_id") >= 400)
    engine.insert(tail)
    # upsert: move 3 indexed ids far away (their old versions shadow)
    moved = (
        embeddings.filter(F.col("vec_id").between(100, 102))
        .withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda x: x + F.lit(7.0)).cast(
                "array<float>"
            ),
        )
    )
    engine.insert(moved)
    engine.delete([200, 201])

    q = knn_ops.make_queries(embeddings, n=10)
    nc = engine.index.meta["n_centroids"]
    # latest-wins logical union minus tombstones
    delta_latest = engine.delta_latest()
    delta_live = delta_latest.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    )
    union = (
        engine.index.vectors()
        .select("vec_id", "embedding")
        .join(delta_latest.select("vec_id"), "vec_id", "left_anti")
        .unionByName(delta_live)
    )
    exact = knn_ops.knn_exact(union, q, k=10)
    want = _sorted(exact)
    # the float tier is the per-cell cogroup scan: shadowed-id exclusion
    # runs on the base BEFORE the cogroup
    for tier in _DISTRIBUTED_TIERS:
        got = engine.search_distributed(
            q, k=10, nprobe=nc, tier=tier, candidates_per_cell=10**9
        )
        assert _sorted(got) == want, tier
    # partial nprobe: bulk path == per-query merged path, tier by tier
    a = _sorted(engine.search(q, k=10, nprobe=3))
    for tier in ("float", "sq8"):
        b = _sorted(engine.search_distributed(q, k=10, nprobe=3, tier=tier))
        assert b == a, tier
    # filtered form: predicate applies to both sides' latest versions
    pred = F.col("vec_id") % 2 == 0
    filt_union = union.filter(pred)
    want_f = _sorted(knn_ops.knn_exact(filt_union, q, k=10))
    got_f = engine.search_distributed(
        q, k=10, nprobe=nc, tier="sq8", predicate=pred
    )
    assert _sorted(got_f) == want_f


def test_radius_search_distributed_merged_equals_exact(
    spark, embeddings, engine
):
    """r13: the bulk-query RANGE sibling — distributed merged radius ==
    brute force over the latest-wins union, through upsert + delete;
    and the index-level distributed form == the per-query pruned form
    bit-for-bit."""
    tail = embeddings.filter(F.col("vec_id") >= 400)
    engine.insert(tail)
    moved = embeddings.filter(F.col("vec_id").between(10, 12)).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x + F.lit(3.0)).cast(
            "array<float>"
        ),
    )
    engine.insert(moved)
    engine.delete([30, 31])
    q = knn_ops.make_queries(embeddings, n=10)
    r_sq = 40.0
    delta_latest = engine.delta_latest()
    union = (
        engine.index.vectors()
        .select("vec_id", "embedding")
        .join(delta_latest.select("vec_id"), "vec_id", "left_anti")
        .unionByName(
            delta_latest.filter(F.col("embedding").isNotNull()).select(
                "vec_id", "embedding"
            )
        )
    )
    want = sorted(
        map(tuple, knn_ops.radius_search(union, q, r_sq).collect())
    )
    got = sorted(
        map(tuple, engine.radius_search_distributed(q, r_sq).collect())
    )
    assert got == want
    # index-level: distributed == per-query pruned form
    a = sorted(map(tuple, engine.index.radius_search(q, r_sq).collect()))
    b = sorted(
        map(tuple, engine.index.radius_search_distributed(q, r_sq).collect())
    )
    assert a == b


def test_visible_vectors_set_semantics(spark, embeddings, tmp_path):
    """visible_vectors == indexed ∖ shadowed ∪ latest-live-delta: the
    snapshot-export surface must agree with id-set algebra under an
    upsert overlap, a pure insert, and a tombstone wave (r14)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 400),
        str(tmp_path / "vis_eng"),
        n_centroids=8,
    )
    eng.insert(embeddings.filter(F.col("vec_id") >= 350))
    eng.delete([0, 1, 2, 397, 499])
    vis = eng.visible_vectors()
    ids = sorted(r.vec_id for r in vis.select("vec_id").collect())
    want = sorted(set(range(500)) - {0, 1, 2, 397, 499})
    assert ids == want
    # upserted ids must carry exactly one row (latest wins, no ghosts)
    assert vis.groupBy("vec_id").count().filter("count > 1").count() == 0
    # values of an upserted id equal the (identical) newest insert
    row = vis.filter(F.col("vec_id") == 360).collect()[0]
    base = embeddings.filter(F.col("vec_id") == 360).collect()[0]
    assert row.embedding == base.embedding


def test_visible_vectors_invariant_under_compaction(spark, embeddings, tmp_path):
    """Compaction must be INVISIBLE to the snapshot-export surface:
    the (id, vector) multiset of visible_vectors is identical before
    and after compact() folds the delta (upserts + tombstones applied
    physically) — the reader-isolation contract extended to the new
    consumer (r14)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 400),
        str(tmp_path / "vis_compact_eng"),
        n_centroids=8,
    )
    eng.insert(embeddings.filter(F.col("vec_id") >= 350))
    eng.delete([5, 360, 499])

    def snap(df):
        return sorted(
            (r.vec_id, tuple(round(float(x), 5) for x in r.embedding))
            for r in df.collect()
        )

    before = snap(eng.visible_vectors())
    assert eng.compact() >= 0
    after = snap(eng.visible_vectors())
    assert before == after
    assert {i for i, _ in after}.isdisjoint({5, 360, 499})


def test_insert_casts_to_pinned_delta_schema(spark, embeddings, engine):
    """r18: insert() enforces the delta's pinned schema on the write side
    — int32 ids / array<double> vectors previously worked via footer
    inference but fail the explicit-schema scan (parquet forbids the
    int32->int64 / double->float column conversions at read time)."""
    wide = embeddings.filter(F.col("vec_id") >= 400).select(
        F.col("vec_id").cast("int").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    engine.insert(wide)
    q = knn_ops.make_queries(embeddings, n=5)
    merged = engine.search(q, k=10, nprobe=engine.index.meta["n_centroids"])
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    assert _sorted(merged) == _sorted(exact)
