"""The size-gated driver runner of the float serving search: both sides
of the gate (``IVFIndex._driver_route``) return the same rows and schema
from ``IVFIndex.search`` and ``VectorEngine.search``, every decision is
one structured event in ``dispatch_log``, and the flat Arrow decode
(``_flat_vectors``) honours offsets."""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators.ivf import (
    _DRIVER_BYTES,
    _DRIVER_PAIRS,
    IVFIndex,
    _flat_vectors,
)
from vector_search_engine_spark.streaming.engine import VectorEngine

CELLS = 8


@pytest.fixture(scope="module")
def engines(spark, embeddings, tmp_path_factory):
    """Two engines over one index with two retained snapshots: ``empty``
    has no live delta; ``live`` adds upserts of indexed ids 0..4, a
    tombstoned indexed id (7), an indexed id deleted then re-inserted
    (12), a delta id inserted then deleted (460), fresh delta rows and
    one batch that carries an indexed id (20) twice, at two vectors."""
    root = tmp_path_factory.mktemp("driver_route")
    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 400), str(root / "live"),
        n_centroids=CELLS,
    )
    eng.snapshot_retain = 2
    eng.insert(embeddings.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 440)))
    assert eng.compact() > 0
    shutil.copytree(root / "live", root / "empty")
    moved = embeddings.filter(F.col("vec_id") < 5).withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(0.5)).cast("array<float>"),
    )
    eng.insert(moved)
    eng.insert(embeddings.filter(F.col("vec_id") >= 440))
    eng.delete([7, 12, 460])
    eng.insert(embeddings.filter(F.col("vec_id") == 12))
    one = embeddings.filter(F.col("vec_id") == 20)
    eng.insert(
        one.withColumn("embedding", F.transform("embedding", lambda x: x + F.lit(0.25)))
        .unionByName(
            one.withColumn("embedding", F.transform("embedding", lambda x: x + F.lit(0.75)))
        )
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    )
    return {"live": eng, "empty": VectorEngine(spark, str(root / "empty"))}


def _queries(embeddings, n=20):
    return knn_ops.make_queries(embeddings, n=n)


# case -> (engine, callable(engine, queries, nprobe) -> DataFrame)
CASES = {
    "index_plain": ("live", lambda e, q, p: e.index.search(q, k=10, nprobe=p)),
    "index_exclude_list": (
        "live", lambda e, q, p: e.index.search(q, k=10, nprobe=p, exclude_ids=[1, 2, 3, 17]),
    ),
    "index_exclude_set": (
        "live", lambda e, q, p: e.index.search(q, k=10, nprobe=p, exclude_ids={1, 2, 3, 17}),
    ),
    "index_snapshot_int": (
        "live",
        lambda e, q, p: e.index.search(
            q, k=10, nprobe=p, snapshot=e.index.snapshots()[0]["snapshot_id"]
        ),
    ),
    "index_snapshot_prev": (
        "live", lambda e, q, p: e.index.search(q, k=10, nprobe=p, snapshot="prev"),
    ),
    "index_snapshot_dict": (
        "live",
        lambda e, q, p: e.index.search(
            q, k=10, nprobe=p, snapshot=e.index.manifest_at("prev"),
        ),
    ),
    "index_k_above_cell": (
        "live", lambda e, q, p: e.index.search(q, k=120, nprobe=p, round_output=False),
    ),
    "index_all_excluded": (
        "live",
        lambda e, q, p: e.index.search(q, k=10, nprobe=p, exclude_ids=list(range(500))),
    ),
    "index_no_queries": (
        "live", lambda e, q, p: e.index.search(q.limit(0), k=10, nprobe=p),
    ),
    "engine_delta": ("live", lambda e, q, p: e.search(q, k=10, nprobe=p)),
    "engine_empty_delta": ("empty", lambda e, q, p: e.search(q, k=10, nprobe=p)),
    "engine_k_above_cell": ("live", lambda e, q, p: e.search(q, k=120, nprobe=p)),
    "engine_no_queries": ("live", lambda e, q, p: e.search(q.limit(0), k=10, nprobe=p)),
}


@pytest.mark.parametrize("nprobe", [2, CELLS])
@pytest.mark.parametrize("case", sorted(CASES))
def test_gate_sides_return_identical_rows(engines, embeddings, monkeypatch, case, nprobe):
    """The default budget routes these searches to the driver runner;
    a budget forced to 0 closes the gate and runs the Spark plan.  Rows
    (ordered by qid, rank) and schema are equal, and the dispatch log
    names the route each side took."""
    name, call = CASES[case]
    eng = engines[name]
    q = _queries(embeddings)
    log = eng.index.dispatch_log

    def run():
        before = len(log)
        df = call(eng, q, nprobe)
        rows = [tuple(r) for r in df.orderBy("qid", "rank").collect()]
        return rows, df.schema, list(log)[before:]

    local, local_schema, local_ev = run()
    monkeypatch.setattr(IVFIndex, "_driver_budget", lambda self: (0, 0))
    spark_rows, spark_schema, spark_ev = run()
    assert local == spark_rows
    assert local_schema == spark_schema
    if case.endswith("no_queries"):
        assert local == [] and local_ev == [] and spark_ev == []
        return
    assert local == [] if case == "index_all_excluded" else len(local) >= 10 * 20
    op = "engine.search" if case.startswith("engine") else "search"
    (ev,) = [e for e in local_ev if e["op"] == op]
    assert ev["route"] == "driver" and ev["why"] is None
    assert 0 < ev["rows"] <= ev["pairs"]
    assert (ev["budget_bytes"], ev["budget_pairs"]) == (_DRIVER_BYTES, _DRIVER_PAIRS)
    (ev,) = [e for e in spark_ev if e["op"] == op]
    assert ev["route"] == "spark" and ev["why"] == "over budget"
    assert (ev["budget_bytes"], ev["budget_pairs"]) == (0, 0)
    if case.startswith("engine"):
        # the Spark side's indexed search excludes by DataFrame
        assert [e["why"] for e in spark_ev if e["op"] == "search"] == [
            "DataFrame exclusion"
        ]


def test_all_excluded_driver_search_runs_no_spark_job(engines, embeddings):
    """A driver-side search whose every probed row is excluded, with no
    delta, returns its empty top-k without a Spark job: the query set is
    pre-collected, and building and collecting the result launch no job
    in the search's job group."""
    eng = engines["live"]
    qrows = _queries(embeddings).collect()
    queries = (
        np.array([r.qid for r in qrows], dtype=np.int64),
        np.array([r.query for r in qrows], dtype=np.float32),
    )
    sc = eng.spark.sparkContext
    group = "all_excluded_driver_search"
    sc.setJobGroup(group, group)
    try:
        rows = eng.index.search(
            queries, k=10, nprobe=CELLS, exclude_ids=list(range(500))
        ).collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == []
    assert eng.index.dispatch_log[-1]["route"] == "driver"
    assert jobs == []


def test_engine_delta_rules_hold_on_the_driver_runner(engines, embeddings):
    """Read against the visible set: a tombstoned id never returns, an
    id re-inserted after its tombstone does, an upserted id returns at
    its new vector (not its indexed one)."""
    eng = engines["live"]
    q = _queries(embeddings)
    rows = eng.search(q, k=1, nprobe=CELLS).collect()
    assert eng.index.dispatch_log[-1]["route"] == "driver"
    top = {r.qid: (r.neighbor_id, r.dist_sq) for r in rows}
    assert top[7][0] != 7
    assert top[12] == (12, 0.0)
    for i in range(5):
        assert top[i][1] > 0.0  # the moved version is the one left
    # one version of the id carried twice by one batch is visible, the
    # one delta_latest keeps
    (want,) = eng.delta_latest().filter(F.col("vec_id") == 20).collect()
    probe = eng.spark.createDataFrame([(20, want.embedding)], "qid long, query array<float>")
    got = eng.search(probe, k=3, nprobe=CELLS).collect()
    assert [r.dist_sq for r in got if r.neighbor_id == 20] == [0.0]
    gone = embeddings.filter(F.col("vec_id") == 460).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )
    assert eng.search(gone, k=1, nprobe=CELLS).collect()[0].neighbor_id != 460


def test_spark_side_skips_delta_footers_and_plans_once(engines, embeddings, monkeypatch):
    """An indexed side over budget closes the gate before any delta
    footer is opened, and the Spark side reuses the engine's probe plan
    (one ``_probe_plan`` per search)."""
    eng = engines["live"]
    q = _queries(embeddings, n=3)
    plans = []
    probe_plan = IVFIndex._probe_plan

    def counted(self, *a):
        plans.append(a)
        return probe_plan(self, *a)

    def no_footers(self, seqs, files):
        raise AssertionError("delta footers opened past a closed gate")

    monkeypatch.setattr(IVFIndex, "_driver_budget", lambda self: (1, 1))
    monkeypatch.setattr(IVFIndex, "_probe_plan", counted)
    monkeypatch.setattr(VectorEngine, "_delta_rows", no_footers)
    assert eng.search(q, k=5, nprobe=2).count() == 15
    ev = [e for e in eng.index.dispatch_log if e["op"] == "engine.search"][-1]
    assert (ev["route"], ev["why"]) == ("spark", "over budget")
    assert len(plans) == 1


@pytest.mark.parametrize("budget", [(1, 1 << 40), (1 << 40, 1)])
def test_either_bound_closes_the_gate(engines, embeddings, monkeypatch, budget):
    """The byte bound and the pair bound each close the gate alone."""
    eng = engines["live"]
    q = _queries(embeddings, n=3)
    monkeypatch.setattr(IVFIndex, "_driver_budget", lambda self: budget)
    eng.index.search(q, k=5, nprobe=2).collect()
    ev = eng.index.dispatch_log[-1]
    assert (ev["route"], ev["why"], ev["budget_bytes"]) == ("spark", "over budget", budget[0])


def test_dispatch_events_name_the_closed_condition(engines, embeddings, spark):
    """Each closed condition is one event whose ``why`` names it; the
    log is bounded."""
    eng = engines["live"]
    q = _queries(embeddings, n=3)
    log = eng.index.dispatch_log
    excl = spark.createDataFrame([(1,)], "vec_id long")
    pred = F.col("vec_id") > 10
    calls = [
        (lambda: eng.index.search(q, k=5, predicate=pred), "search", "predicate"),
        (lambda: eng.index.search(q, k=5, exclude_ids=excl), "search",
         "DataFrame exclusion"),
        (lambda: eng.search(q, k=5, tier="sq8"), "engine.search", "tier"),
        (lambda: eng.search(q, k=5, predicate=pred), "engine.search", "predicate"),
    ]
    for call, op, why in calls:
        before = len(log)
        call()
        ev = list(log)[before]
        assert (ev["op"], ev["route"], ev["why"]) == (op, "spark", why)
    assert log.maxlen is not None and len(log) <= log.maxlen


def test_flat_vectors_honours_chunk_and_slice_offsets():
    rows = [[float(i), i + 0.5, -float(i)] for i in range(10)]
    whole = pa.array(rows, type=pa.list_(pa.float32()))
    sliced = pa.chunked_array([whole.slice(2, 3), whole.slice(7, 2)])
    want = np.array(rows[2:5] + rows[7:9], dtype=np.float64)
    got = _flat_vectors(sliced, 3)
    assert got.dtype == np.float64 and got.shape == (5, 3)
    np.testing.assert_array_equal(got, want)
    # a plain (unchunked) sliced array: .values would start at row 0
    np.testing.assert_array_equal(_flat_vectors(whole.slice(4, 2), 3), rows[4:6])
    assert _flat_vectors(whole.slice(0, 0), 3).shape == (0, 3)
    with pytest.raises(ValueError, match="NULL vector"):
        _flat_vectors(pa.array([[1.0, 2.0], None], type=pa.list_(pa.float32())), 2)


def test_driver_runner_fails_loudly_on_a_vanished_cell(spark, embeddings, tmp_path):
    """A pinned cell whose files are gone (its rows counted, its dir
    removed) raises instead of dropping the cell's rows silently."""
    import os

    index = IVFIndex.build(embeddings, str(tmp_path / "index"), n_centroids=4)
    q = _queries(embeddings, n=3)
    snap = index._read_manifest()
    assert index.search(q, k=5, nprobe=4, snapshot=snap).count() == 15
    cell, gen = next(iter(snap["cells"].items()))
    shutil.rmtree(os.path.join(index.index_dir, "vectors", f"gen={gen}", f"centroid_id={cell}"))
    with pytest.raises(FileNotFoundError, match="pinned cell"):
        index.search(q, k=5, nprobe=4, snapshot=snap)
    assert index.dispatch_log[-1]["route"] == "driver"
