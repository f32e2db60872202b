"""IVF index tests: exactness at full probe, recall monotonicity, partition
pruning in the physical plan (SURVEY.md §4 — the HNSW candidate-pruning role
must be played by Catalyst partition pruning, verifiably)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators.ivf import IVFIndex


@pytest.fixture(scope="module")
def index(spark, embeddings, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf") / "index")
    return IVFIndex.build(embeddings, d, n_centroids=8, extra_cols=("label",))


def test_full_probe_equals_exact(spark, embeddings, index):
    q = knn_ops.make_queries(embeddings, n=10)
    exact = knn_ops.knn_exact(embeddings, q, k=10).orderBy("qid", "rank")
    ann = index.search(q, k=10, nprobe=8).orderBy("qid", "rank")
    assert [tuple(r) for r in ann.collect()] == [tuple(r) for r in exact.collect()]


def test_recall_monotone_in_nprobe(spark, embeddings, index):
    q = knn_ops.make_queries(embeddings, n=10)
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    gt = (
        exact.orderBy("rank")
        .groupBy("qid")
        .agg(F.collect_list("neighbor_id").alias("neighbor_ids"))
    )
    recalls = []
    for nprobe in (1, 4, 8):
        res = index.search(q, k=10, nprobe=nprobe)
        recalls.append(knn_ops.recall_at_k(res, gt, k=10).collect()[0].recall_at_k)
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0  # full probe -> exact
    assert recalls[0] > 0.0  # nprobe=1 finds at least the home cell


def test_results_subset_of_probed_cells(spark, embeddings, index):
    """ANN results must come only from probed partitions (candidate-set
    contract of the coarse quantizer)."""
    q = knn_ops.make_queries(embeddings, n=5)
    qrows = q.collect()
    qids = np.array([r.qid for r in qrows], dtype=np.int64)
    Q = np.array([r.query for r in qrows], dtype=np.float32)
    pairs = set(index.probe_pairs(qids, Q, nprobe=2))
    res = index.search(q, k=10, nprobe=2)
    cell_of = {
        r[index.meta["id_col"]]: r.centroid_id
        for r in index.vectors().select(index.meta["id_col"], "centroid_id").collect()
    }
    for r in res.collect():
        assert (r.qid, cell_of[r.neighbor_id]) in pairs


def test_partition_pruning_in_plan(spark, embeddings, index):
    probed = index.vectors().filter(F.col("centroid_id").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


def test_index_stats_cover_all_vectors(index, embeddings):
    total = index.stats().agg(F.sum("n_vectors")).collect()[0][0]
    assert total == embeddings.count()


def test_stats_branches_interchangeable(monkeypatch, index):
    """The footer-metadata path and the scan+groupBy fallback must stay
    drop-in replacements: same schema, same rows, same ascending order,
    no zero-count rows from either."""
    footer = index.stats()
    monkeypatch.setattr(type(index), "_read_manifest", lambda self: None)
    scanned = index.stats()
    assert [(f.name, f.dataType.simpleString()) for f in footer.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in scanned.schema.fields
    ]
    frows = [tuple(r) for r in footer.collect()]
    srows = [tuple(r) for r in scanned.collect()]
    assert frows == srows
    assert frows == sorted(frows)  # ascending centroid_id
    assert all(n > 0 for _, n in frows)  # empty cells appear in neither


def test_pinned_manifest_dict_accepted_by_every_tier(spark, embeddings, index):
    """A pinned manifest dict (``manifest_at`` / ``_read_manifest`` — the
    form ``search()`` documents) is a valid ``snapshot`` on every tier,
    and pinning the current snapshot returns the same rows as the live
    read (``snapshot=None``)."""
    q = knn_ops.make_queries(embeddings, n=5)
    pinned = index.manifest_at("current")
    pred = F.col("vec_id") % 2 == 0
    calls = {
        "search_sq8": {},
        "search_bq": {},
        "search_pq": {},
        "search_prefix": {},
        "search_prefix_pca": {},
        "search_cascade": {},
        "search_filtered": {"predicate": pred},
        "search_distributed": {},
        "search_sq8_distributed": {},
        "search_cascade_distributed": {},
    }
    for name, kw in calls.items():
        run = getattr(index, name)
        live = run(q, k=5, nprobe=3, **kw).collect()
        at = run(q, k=5, nprobe=3, snapshot=pinned, **kw).collect()
        assert sorted(map(tuple, at)) == sorted(map(tuple, live)), name


def test_vectors_memo_keeps_hot_current_snapshot(spark, embeddings, tmp_path):
    """The per-snapshot ``vectors()`` memo evicts its least recently
    used entry when full: as-of reads of 9 older retained snapshots,
    interleaved with the serving loop's current reads, never drop the
    hot current snapshot's DataFrame (a full clear used to)."""
    import os
    import shutil

    idx = IVFIndex.build(embeddings, str(tmp_path / "index"), n_centroids=4)
    root = os.path.join(idx.index_dir, "vectors")
    cell = sorted(idx._read_manifest()["cells"])[0]
    for gen in range(1, 10):
        # re-publish one cell per commit: every snapshot gets its own
        # cell map, hence its own memo entry
        src_gen = idx._read_manifest()["cells"][cell]
        shutil.copytree(
            os.path.join(root, f"gen={src_gen}", f"centroid_id={cell}"),
            os.path.join(root, f"gen={gen}", f"centroid_id={cell}"),
        )
        idx.commit_cells(gen, [int(cell)], retain=10)
    older = [s["snapshot_id"] for s in idx.snapshots()][:-1]
    assert len(older) == 9
    current = idx.vectors()
    for sid in older:
        idx.vectors(snapshot=sid)
        assert idx.vectors() is current, sid


def test_search_empty_queries(spark, index):
    q = spark.createDataFrame([], "qid long, query array<float>")
    assert index.search(q, k=5).count() == 0


def test_lsh_knn_recall_and_exact_rescore(spark, embeddings):
    """BRP-LSH ANN family: recall >= 0.9 vs exact; candidate distances are
    exact squared L2 (re-scored, not approximated)."""
    from vector_search_engine_spark.operators import knn as knn_ops
    from vector_search_engine_spark.operators import lsh

    q = knn_ops.make_queries(embeddings)
    exact = {
        (r.qid, r.neighbor_id): r.dist_sq
        for r in knn_ops.knn_exact(embeddings, q, k=10).collect()
    }
    got = {
        (r.qid, r.neighbor_id): r.dist_sq
        for r in lsh.knn_lsh(embeddings, q, k=10).collect()
    }
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.9
    for key in set(got) & set(exact):
        assert got[key] == exact[key]  # same rounded squared-L2 values


def test_sq8_rescore_recall_and_exactness(spark, embeddings):
    """SQ8 two-stage search: recall ~1 at C=4k; returned rows carry EXACT
    squared-L2 (re-scored); full-candidate mode equals exact search."""
    from vector_search_engine_spark.operators import knn as knn_ops
    from vector_search_engine_spark.operators import sq

    q = knn_ops.make_queries(embeddings)
    exact = {
        (r.qid, r.neighbor_id): (r.rank, r.dist_sq)
        for r in knn_ops.knn_exact(embeddings, q, k=10).collect()
    }
    got = {
        (r.qid, r.neighbor_id): (r.rank, r.dist_sq)
        for r in sq.knn_sq8_rescore(embeddings, q, k=10).collect()
    }
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.95
    for key in set(got) & set(exact):
        assert got[key][1] == exact[key][1]  # exact rescored distances
    # C = N degenerates to exact search, row for row
    n = embeddings.count()
    full = {
        (r.qid, r.neighbor_id): (r.rank, r.dist_sq)
        for r in sq.knn_sq8_rescore(
            embeddings, q, k=10, candidates_per_partition=n
        ).collect()
    }
    assert full == exact


def test_sq8_codes_are_byte_packed(spark, embeddings):
    from vector_search_engine_spark.operators import sq

    codes = sq.sq8_encode(embeddings)
    row = codes.first()
    dim = len(embeddings.first().embedding)
    assert len(bytes(row.code)) == dim  # 1 byte/element, 4x under float32
    assert row.lo <= row.hi


def test_recall_monotone_in_nprobe(spark, sf_dir):
    """The ef_search↦nprobe knob contract: recall@10 is non-decreasing in
    nprobe and hits 1.0 at full probe (fixture geometry note in
    registry.ann_ivf_recall_curve)."""
    from vector_search_engine_spark import registry

    rows = sorted(
        (r.nprobe, r.recall_at_k)
        for r in registry.QUERIES["ann_ivf_recall_curve"](spark, sf_dir).collect()
    )
    recalls = [rec for _, rec in rows]
    assert all(a <= b + 1e-9 for a, b in zip(recalls, recalls[1:]))


def test_radius_search_pruned_equals_brute(spark, embeddings, index):
    q = knn_ops.make_queries(embeddings, n=10)
    brute = {
        (r.qid, r.neighbor_id, r.dist_sq)
        for r in knn_ops.radius_search(embeddings, q, 1.5).collect()
    }
    pruned = {
        (r.qid, r.neighbor_id, r.dist_sq)
        for r in index.radius_search(q, 1.5).collect()
    }
    assert pruned == brute  # triangle-inequality pruning is lossless
    assert len(brute) >= 10  # at least the self-pairs


def test_radius_search_tiny_radius_is_self_only(spark, embeddings, index):
    # queries are a subset of the vectors; fixture geometry has no other
    # pair inside 1e-4 (FIXTURES.md), so a tiny radius returns exactly
    # the self-pairs at distance 0
    q = knn_ops.make_queries(embeddings, n=10)
    rows = index.radius_search(q, 1e-6).collect()
    assert {(r.qid, r.neighbor_id) for r in rows} == {(i, i) for i in range(10)}
    assert all(r.dist_sq == 0.0 for r in rows)


def test_radius_search_prunes_cells(spark, embeddings, index):
    # the triangle rule must rule out at least one (query, cell) pair for
    # a small radius on the fixture's spread-out cells
    import numpy as np
    from vector_search_engine_spark.functions.vector import l2_sq_matrix

    q = knn_ops.make_queries(embeddings, n=10)
    qrows = q.collect()
    Q = np.array([r["query"] for r in qrows], dtype=np.float64)
    radii = {
        int(r["centroid_id"]): float(r["r_sq"])
        for r in index.vectors()
        .groupBy("centroid_id")
        .agg(F.max("dist_to_centroid").alias("r_sq"))
        .collect()
    }
    Dqc = l2_sq_matrix(Q, index.centroids)
    r = np.sqrt(1e-6)
    n_probed = sum(
        1
        for qi in range(len(Q))
        for ci, cid in enumerate(index.centroid_ids)
        if np.sqrt(Dqc[qi, ci]) <= r + np.sqrt(radii.get(int(cid), 0.0))
    )
    assert n_probed < len(Q) * len(index.centroid_ids)


def test_search_sq8_identical_to_search_at_any_nprobe(spark, embeddings, index):
    """The error-bound candidate cut is provably lossless, so the SQ8
    two-stage probe must return bit-identical results to the float scan at
    the SAME nprobe — partial and full."""
    q = knn_ops.make_queries(embeddings, n=10)
    for nprobe in (2, 8):
        fl = index.search(q, k=10, nprobe=nprobe).orderBy("qid", "rank")
        sq = index.search_sq8(q, k=10, nprobe=nprobe).orderBy("qid", "rank")
        assert [tuple(r) for r in sq.collect()] == [tuple(r) for r in fl.collect()]


def test_search_sq4_identical_to_search_at_any_nprobe(spark, embeddings, index):
    """SQ4's wider per-element error (span/30) keeps the same lossless
    bound argument: the 16-level probe must also match the float scan
    bit-for-bit at the SAME nprobe — partial and full."""
    q = knn_ops.make_queries(embeddings, n=10)
    for nprobe in (2, 8):
        fl = index.search(q, k=10, nprobe=nprobe).orderBy("qid", "rank")
        s4 = index.search_sq8(q, k=10, nprobe=nprobe, bits=4).orderBy(
            "qid", "rank"
        )
        assert [tuple(r) for r in s4.collect()] == [tuple(r) for r in fl.collect()]


def test_sq4_codes_are_nibble_packed(spark, embeddings, index):
    """The SQ4 sidecar stores two elements per byte — half SQ8's bytes —
    and odd dims pad a zero nibble; decode inverts the packing exactly."""
    import numpy as np

    from vector_search_engine_spark.operators import sq

    codes4 = sq.sq8_encode(embeddings, bits=4)
    row = codes4.first()
    dim = len(embeddings.first().embedding)
    assert len(bytes(row.code)) == (dim + 1) // 2
    # decode inverts packing: levels land in [0, 15]
    M = sq.sq_codes_matrix([bytes(row.code)], 1, 4, dim)
    assert M.shape == (1, dim)
    assert M.min() >= 0 and M.max() <= 15
    # odd-dim padding path
    odd = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    orow = sq.sq8_encode(odd, bits=4).first()
    assert len(bytes(orow.code)) == 2
    Modd = sq.sq_codes_matrix([bytes(orow.code)], 1, 4, 3)
    # lo=1, hi=3 → levels 0 / rint(7.5)=8 (half-to-even) / 15
    assert list(Modd[0]) == [0.0, 8.0, 15.0]


def test_search_filtered_planner_branches_agree_at_full_probe(
    spark, embeddings, index
):
    """prefilter and inprobe are different physical plans for the same
    logical query: at full probe both are exact, so they must agree
    bit-for-bit."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    full = index.meta["n_centroids"]
    pre = index.search_filtered(
        q, k=10, nprobe=full, predicate=pred, strategy="prefilter"
    )
    inp = index.search_filtered(
        q, k=10, nprobe=full, predicate=pred, strategy="inprobe"
    )
    assert sorted(map(tuple, pre.collect())) == sorted(
        map(tuple, inp.collect())
    )


def test_search_filtered_auto_prefilters_selective_predicate(
    spark, embeddings, index
):
    """A ~1%-selective predicate at nprobe=1 must route to prefilter —
    and therefore be EXACT despite the tiny nprobe (the planner's whole
    point): equal to flat exact kNN over the filtered set."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = (F.col("label") == 3) & (F.col("vec_id") % 10 == 0)
    auto = index.search_filtered(
        q, k=10, nprobe=1, predicate=pred, strategy="auto"
    )
    exact = knn_ops.knn_exact(embeddings.filter(pred), q, k=10)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_cascade_equals_search_with_unbounded_stage1(spark, embeddings, index):
    """With an unbounded stage-1 cut the cascade's BQ stage keeps every
    probed candidate and the SQ8 stage's cut is lossless, so the staged
    search must agree with search() bit-for-bit at ANY nprobe — the
    construction behind the graded full-probe exactness."""
    q = knn_ops.make_queries(embeddings, n=10)
    for nprobe in (2, index.meta["n_centroids"]):
        casc = index.search_cascade(
            q, k=10, nprobe=nprobe, candidates_per_cell=10**9
        )
        plain = index.search(q, k=10, nprobe=nprobe)
        assert sorted(map(tuple, casc.collect())) == sorted(
            map(tuple, plain.collect())
        )


def test_cascade_shuffle_fallback_above_broadcast_bound(
    spark, embeddings, index, monkeypatch
):
    """When the estimated stage-1 candidate list exceeds the broadcast
    budget (always true in the unbounded-C exactness configuration), the
    stage-2 join must take the shuffle path instead of collecting |Q|·N
    rows to the driver — with identical results."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    monkeypatch.setattr(ivf_mod, "_CASCADE_BROADCAST_ROWS", 0)
    q = knn_ops.make_queries(embeddings, n=10)
    casc = index.search_cascade(
        q, k=10, nprobe=index.meta["n_centroids"], candidates_per_cell=10**9
    )
    plain = index.search(q, k=10, nprobe=index.meta["n_centroids"])
    assert sorted(map(tuple, casc.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_cascade_finite_c_recall(spark, embeddings, index):
    """The finite-C serving shape: recall@10 against exact ≥ 0.8 at full
    probe with a modest stage-1 budget, and the output schema/tie-break
    contract matches the other tiers."""
    q = knn_ops.make_queries(embeddings, n=10)
    casc = index.search_cascade(
        q, k=10, nprobe=index.meta["n_centroids"], candidates_per_cell=40
    )
    exact = knn_ops.knn_exact(embeddings, q, k=10)
    got = {(r.qid, r.neighbor_id) for r in casc.collect()}
    want = {(r.qid, r.neighbor_id) for r in exact.collect()}
    assert len(got & want) / len(want) >= 0.8
    assert casc.columns == ["qid", "neighbor_id", "rank", "dist_sq"]


def test_cascade_filtered_and_excluded(spark, embeddings, index):
    """predicate + exclude_ids compose: at full probe with an unbounded
    stage-1 cut the result equals exact kNN over the filtered base."""
    from pyspark.sql import functions as SF

    q = knn_ops.make_queries(embeddings, n=5)
    pred = F.col("label") < 5
    excl = embeddings.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    casc = index.search_cascade(
        q,
        k=10,
        nprobe=index.meta["n_centroids"],
        candidates_per_cell=10**9,
        predicate=pred,
        exclude_ids=excl,
    )
    base = embeddings.filter(pred).filter(~(SF.col("vec_id") % 7 == 0))
    exact = knn_ops.knn_exact(base, q, k=10)
    assert sorted(map(tuple, casc.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_search_filtered_threads_pinned_snapshot(spark, embeddings, index):
    """The inprobe fallback must receive the SAME pinned manifest dict
    the cost model used — not re-read the manifest — so a commit landing
    between the strategy decision and the probed scan cannot make the
    two halves observe different snapshots (r9 advisor finding)."""
    q = knn_ops.make_queries(embeddings, n=3)
    captured = {}
    orig = index.search

    def spy(queries, **kw):
        captured["snapshot"] = kw.get("snapshot")
        return orig(queries, **kw)

    index.search = spy
    try:
        index.search_filtered(
            q, k=5, nprobe=2, predicate=F.col("label") < 5,
            strategy="inprobe",
        ).collect()
    finally:
        index.search = orig
    assert isinstance(captured["snapshot"], dict), (
        "inprobe fallback must be handed the pinned manifest dict"
    )


def test_tune_candidates_meets_target_or_reports_ceiling(
    spark, embeddings, index
):
    """The C-knob calibrator returns the smallest candidates_per_cell
    meeting the target recall at the given nprobe — and the returned
    ladder must be monotone (recall never decreases with C, since a
    larger cut keeps a superset and downstream stages are exact)."""
    q = knn_ops.make_queries(embeddings, n=10)
    rep = index.tune_candidates(
        q, target_recall=0.9, k=10, nprobe=index.meta["n_centroids"],
        tier="bq",
    )
    recalls = [e["recall"] for e in sorted(
        rep["ladder"], key=lambda e: e["candidates_per_cell"]
    )]
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])), recalls
    if "nprobe_ceiling" not in rep:
        assert rep["recall"] >= 0.9
        # minimality: one step below the answer must miss the target
        below = [
            e for e in rep["ladder"]
            if e["candidates_per_cell"] < rep["candidates_per_cell"]
        ]
        if below:
            assert max(e["recall"] for e in below) < 0.9
    with pytest.raises(ValueError, match="lossy"):
        index.tune_candidates(q, tier="sq8")


@pytest.mark.parametrize("tier", ["sq8", "sq4", "bq", "cascade"])
def test_cosine_search_through_tiers(spark, sf_dir, embeddings, tier):
    """The cosine wrapper's candidate stage can run through any serving
    tier; at full probe (with unbounded top-C for the lossy tiers) the
    exact-cosine rescore makes every tier agree with the flat cosine
    path bit-for-bit."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="cosine")
    q = knn_ops.make_queries(embeddings, n=10)
    got = ivf_mod.search_cosine(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"],
        tier=tier, candidates_per_cell=10**9,
    )
    want = knn_ops.knn_exact(embeddings, q, k=10, metric="cosine")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_search_filtered_auto_caches_survivor_count(spark, embeddings, index):
    """The auto planner memoizes its survivor count per (predicate,
    snapshot generation): repeated auto searches on an unchanged snapshot
    run the cost-model count job exactly once.  _snapshot_counts() (the
    pinned-snapshot footer total) is only invoked from the uncached
    cost-model branch, so spying it counts cost-model evaluations."""
    q = knn_ops.make_queries(embeddings, n=5)
    pred = F.col("label") == 3
    index._survivor_cache = {}
    calls = {"n": 0}
    orig_counts = index._snapshot_counts

    def spy(snap):
        calls["n"] += 1
        return orig_counts(snap)

    index._snapshot_counts = spy
    try:
        index.search_filtered(
            q, k=5, nprobe=1, predicate=pred, strategy="auto"
        ).collect()
        index.search_filtered(
            q, k=5, nprobe=1, predicate=pred, strategy="auto"
        ).collect()
    finally:
        index._snapshot_counts = orig_counts
    assert calls["n"] == 1
    assert len(index._survivor_cache) == 1


def test_search_filtered_auto_probes_broad_predicate(spark, embeddings, index):
    """A ~50%-selective predicate at nprobe=2 must route to inprobe —
    same rows as search(predicate=...) at the same nprobe."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    auto = index.search_filtered(
        q, k=10, nprobe=2, predicate=pred, strategy="auto"
    )
    probed = index.search(q, k=10, nprobe=2, predicate=pred)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, probed.collect())
    )


def test_search_filtered_rejects_bad_args(spark, embeddings, index):
    q = knn_ops.make_queries(embeddings, n=2)
    with pytest.raises(ValueError, match="predicate"):
        index.search_filtered(q, k=5, nprobe=2)
    with pytest.raises(ValueError, match="strategy"):
        index.search_filtered(
            q, k=5, nprobe=2, predicate=F.col("label") < 5, strategy="bogus"
        )


def test_recall_on_clustered_data_at_small_nprobe(spark, tmp_path):
    """The reference's methodology (recall_bench.cpp:80-101) runs on
    SIFT1M, which is strongly clusterable — the regime where a coarse
    quantizer earns its keep.  The driver fixture is isotropic (recall at
    small nprobe is legitimately bounded there; see ann_ivf_recall_curve),
    so prove the ef_search ↦ nprobe knob on planted cluster structure:
    16 well-separated Gaussian clusters, recall@10 ≥ 0.9 at nprobe = C/4."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n_clusters, per_cluster, dim = 16, 250, 32
    centers = rng.normal(0, 10.0, (n_clusters, dim))
    pts = (
        centers[np.repeat(np.arange(n_clusters), per_cluster)]
        + rng.normal(0, 1.0, (n_clusters * per_cluster, dim))
    ).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(pts), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in pts],
            }
        )
    )
    index = IVFIndex.build(
        df, str(tmp_path / "clustered_index"), n_centroids=n_clusters
    )
    q = knn_ops.make_queries(df, n=20)
    exact = knn_ops.knn_exact(df, q, k=10)
    gt = (
        exact.orderBy("rank")
        .groupBy("qid")
        .agg(F.collect_list("neighbor_id").alias("neighbor_ids"))
    )
    res = index.search(q, k=10, nprobe=n_clusters // 4)
    recall = knn_ops.recall_at_k(res, gt, k=10).collect()[0].recall_at_k
    assert recall >= 0.9, recall


def test_rebalance_splits_hot_cells_and_stays_exact(spark, tmp_path):
    """Skewed data → one hot cell; rebalance must split it (max occupancy
    drops, total rows invariant), publish a new centroid set + manifest
    generation, and keep full-probe search bit-identical to exact kNN."""
    import pandas as pd

    rng = np.random.default_rng(11)
    # 1 dense blob (800 rows) + 3 sparse blobs (50 each): 4 coarse cells
    centers = rng.normal(0, 20.0, (4, 16))
    counts = [800, 50, 50, 50]
    pts = np.concatenate(
        [
            centers[i] + rng.normal(0, 1.0, (n, 16))
            for i, n in enumerate(counts)
        ]
    ).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(pts), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in pts],
            }
        )
    )
    index = IVFIndex.build(df, str(tmp_path / "skew_index"), n_centroids=4)
    before = {r["centroid_id"]: r["n_vectors"] for r in index.stats().collect()}
    mapping = index.rebalance(max_cell_rows=400, sub_k=4)
    assert mapping, before  # the hot cell was split
    after = {r["centroid_id"]: r["n_vectors"] for r in index.stats().collect()}
    assert sum(after.values()) == sum(before.values()) == len(pts)
    assert max(after.values()) < max(before.values())
    for parent, children in mapping.items():
        assert parent not in after
        assert all(ch in after for ch in children)
    assert index.meta["n_centroids"] == len(after)
    # full probe still exact after the split
    q = knn_ops.make_queries(df, n=10)
    exact = knn_ops.knn_exact(df, q, k=10).orderBy("qid", "rank")
    ann = index.search(q, k=10, nprobe=index.meta["n_centroids"]).orderBy(
        "qid", "rank"
    )
    assert [tuple(r) for r in ann.collect()] == [tuple(r) for r in exact.collect()]
    # and the SQ8 sidecar was invalidated + rebuilt consistently
    sq = index.search_sq8(q, k=10, nprobe=index.meta["n_centroids"]).orderBy(
        "qid", "rank"
    )
    assert [tuple(r) for r in sq.collect()] == [tuple(r) for r in exact.collect()]


def test_search_snapshot_survives_concurrent_rebalance(spark, tmp_path):
    """A search that pinned its (manifest, centroids) view before a
    rebalance commit must keep reading the SAME cells — the parent cells
    it probed are dropped from the live manifest but stay on disk for one
    commit cycle (EBR grace).  Emulates the racing reader by capturing
    the snapshot a pre-rebalance search would hold, committing the
    rebalance, then evaluating against the pinned snapshot."""
    import pandas as pd

    rng = np.random.default_rng(13)
    centers = rng.normal(0, 20.0, (4, 16))
    counts = [800, 50, 50, 50]
    pts = np.concatenate(
        [
            centers[i] + rng.normal(0, 1.0, (n, 16))
            for i, n in enumerate(counts)
        ]
    ).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(pts), dtype=np.int64),
                "embedding": [[float(x) for x in v] for v in pts],
            }
        )
    )
    index = IVFIndex.build(df, str(tmp_path / "race_index"), n_centroids=4)
    snap = index._read_manifest()
    old_cids, old_C = index._centroids_for(snap)
    n_before = index.vectors(snapshot=snap).count()

    mapping = index.rebalance(max_cell_rows=400, sub_k=4)
    assert mapping  # the hot cell was split; parents left the live manifest

    # pinned snapshot still reads every pre-rebalance row, including the
    # split parents'
    assert index.vectors(snapshot=snap).count() == n_before == len(pts)
    pinned_cells = {int(c) for c in snap["cells"]}
    got_cells = {
        r["centroid_id"]
        for r in index.vectors(snapshot=snap).select("centroid_id").distinct().collect()
    }
    assert got_cells <= pinned_cells
    assert set(mapping) <= got_cells  # parents readable, not dangling
    # pinned centroid set is the OLD one even though live centroids moved on
    again_cids, again_C = index._centroids_for(snap)
    assert np.array_equal(again_cids, old_cids)
    assert np.array_equal(again_C, old_C)
    live_cids, _ = index._centroids_for(index._read_manifest())
    assert len(live_cids) > len(old_cids)


def test_search_distributed_identical_to_search(spark, embeddings, index):
    """The large-|Q| per-cell cogroup path must return exactly what the
    collect-and-broadcast path returns at the same nprobe."""
    q = knn_ops.make_queries(embeddings, n=10)
    for nprobe in (2, 8):
        a = index.search(q, k=10, nprobe=nprobe).orderBy("qid", "rank")
        b = index.search_distributed(q, k=10, nprobe=nprobe).orderBy("qid", "rank")
        assert [tuple(r) for r in b.collect()] == [tuple(r) for r in a.collect()]


def _hot_cell_index(spark, path):
    """An index with one deliberately hot cell that every query probes
    at nprobe=2: 8 far cells at ``±R·e_i`` (pairwise ``R·sqrt(2)`` or
    ``2R`` apart) around a central cell at the origin holding 60% of
    the rows.  A query near a far centroid has the centre as its second
    nearest centroid (distance ~R), and a query near the centre probes
    it first."""
    import pandas as pd

    rng = np.random.default_rng(11)
    dim, R = 8, 100.0
    far = np.concatenate([np.eye(dim)[:4], -np.eye(dim)[:4]]) * R
    C = np.vstack([np.zeros((1, dim)), far])
    home = np.concatenate([np.zeros(600, dtype=int), rng.integers(1, 9, 400)])
    V = (C[home] + rng.normal(0, 5.0, (len(home), dim))).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(V), dtype=np.int64),
                "embedding": list(V),
                "label": (np.arange(len(V)) % 7).astype(np.int64),
            }
        )
    )
    return IVFIndex.build(df, path, centroids=C, extra_cols=("label",)), V


def test_search_distributed_partial_probe_identity_hot_cell(spark, tmp_path,
                                                           monkeypatch):
    """Each tier's bulk form equals its serving form at partial nprobe
    with a predicate, with excluded ids and at a pinned as-of snapshot,
    on a hot cell every query probes, with Arrow batches (37 rows) far
    smaller than the cells: the serving runner (cell slices of Arrow
    batches) and the bulk runner (whole cells) run one kernel per tier,
    and no shape of either may drop, duplicate or re-rank a candidate.
    Pairs: float, sq8, cascade at unbounded C, and radius (current
    snapshot only: ``radius_search`` has no ``snapshot``).  The driver
    runner's budget is 0, so the float serving search takes the Spark
    serving runner it tests here."""
    import os

    import pyarrow.parquet as pq

    monkeypatch.setattr(IVFIndex, "_driver_budget", lambda self: (0, 0))
    idx, V = _hot_cell_index(spark, str(tmp_path / "hot"))
    root = os.path.join(idx.index_dir, "vectors")
    # publish a second generation of the hot cell with its odd ids
    # dropped, so the as-of snapshot and the current one differ
    src = os.path.join(root, "gen=0", "centroid_id=0")
    dst = os.path.join(root, "gen=1", "centroid_id=0")
    os.makedirs(dst)
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(src, f))
            keep = np.asarray(t.column("vec_id")) % 2 == 0
            pq.write_table(t.filter(keep), os.path.join(dst, f))
    idx.commit_cells(1, [0], retain=2)
    assert idx.vectors(snapshot="prev").count() == len(V)
    assert idx.vectors().count() < len(V)

    rows = np.random.default_rng(12).choice(len(V), 24, replace=False)
    q = spark.createDataFrame(
        [(int(i), V[i].tolist()) for i in rows], "qid long, query array<float>"
    )
    qrows = q.collect()
    pairs = set(idx.probe_pairs(
        np.array([r.qid for r in qrows], dtype=np.int64),
        np.array([r.query for r in qrows], dtype=np.float32), nprobe=2,
    ))
    assert {qid for qid, c in pairs if c == 0} == {int(i) for i in rows}

    excluded = [int(i) for i in rows[:6]] + [2, 4, 6]
    excl_df = spark.createDataFrame([(i,) for i in excluded], "vec_id long")
    pred = F.col("label") != 3
    # (serving kwargs, bulk kwargs); the serving side takes the id list
    cases = (
        ({}, {}),
        ({"predicate": pred}, {"predicate": pred}),
        ({"exclude_ids": excluded}, {"exclude_ids": excl_df}),
        (
            {"predicate": pred, "exclude_ids": excluded},
            {"predicate": pred, "exclude_ids": excl_df},
        ),
    )
    topk = {"k": 10, "nprobe": 2}
    # the float pair runs every case; the other pairs run the combined
    # one, which composes both pre-cut filters with their cut kernel
    tiers = (
        (idx.search, idx.search_distributed, topk, cases),
        (idx.search_sq8, idx.search_sq8_distributed, topk, cases[-1:]),
        (
            idx.search_cascade, idx.search_cascade_distributed,
            {**topk, "candidates_per_cell": 10**9}, cases[-1:],
        ),
        (
            idx.radius_search, idx.radius_search_distributed,
            {"radius_sq": 300.0}, cases[-1:],
        ),
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "37")
    try:
        for serve, bulk, args, tier_cases in tiers:
            ranked = "k" in args
            for snapshot in (None, "prev") if ranked else (None,):
                snap = {"snapshot": snapshot} if ranked else {}
                for kw, dkw in tier_cases:
                    a = serve(q, **args, **snap, **kw)
                    b = bulk(q, **args, **snap, **dkw)
                    order = ("qid", "rank" if ranked else "neighbor_id")
                    want = [tuple(r) for r in a.orderBy(*order).collect()]
                    got = [tuple(r) for r in b.orderBy(*order).collect()]
                    where = (serve.__name__, snapshot, kw)
                    if ranked:
                        assert len(want) == 10 * len(rows), where
                    else:
                        assert len(want) > len(rows), where
                    assert got == want, where
    finally:
        spark.conf.set(conf, old)


def test_every_serving_tier_accepts_an_exclude_id_list(embeddings, index):
    """One exclusion rule: every serving tier takes ``exclude_ids`` as a
    plain list of ids, as ``search()`` always did, and at full probe
    with an unbounded budget returns the float tier's result."""
    from vector_search_engine_spark.operators.ivf import _SERVING_TIERS, _run_tier

    q = knn_ops.make_queries(embeddings, n=5)
    full = index.meta["n_centroids"]
    excluded = sorted(
        {r.neighbor_id for r in index.search(q, k=2, nprobe=full).collect()}
    )
    want = sorted(
        map(tuple, index.search(q, k=10, nprobe=full, exclude_ids=excluded).collect())
    )
    assert len(want) == 50 and not {r[1] for r in want} & set(excluded)
    for tier in _SERVING_TIERS:
        got = _run_tier(
            index, _SERVING_TIERS, tier, q, 10**9, k=10, nprobe=full,
            exclude_ids=excluded,
        )
        assert sorted(map(tuple, got.collect())) == want, tier


def test_search_distributed_reuses_probe_broadcast(spark, embeddings, index,
                                                   monkeypatch):
    """Two identical ``search_distributed`` calls ship the centroid
    matrix once: the probe broadcast is memoized per (centroids file,
    nprobe), not created (and leaked) per search."""
    fresh = IVFIndex(spark, index.index_dir)
    sc = spark.sparkContext
    made = []
    orig = sc.broadcast

    def spy(value):
        made.append(value)
        return orig(value)

    monkeypatch.setattr(sc, "broadcast", spy)
    q = knn_ops.make_queries(embeddings, n=5)
    a = fresh.search_distributed(q, k=5, nprobe=3).collect()
    b = fresh.search_distributed(q, k=5, nprobe=3).collect()
    probe_bcs = [
        v for v in made
        if isinstance(v, tuple) and len(v) == 3 and isinstance(v[2], int)
    ]
    assert len(probe_bcs) == 1
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_vectors_schema_follows_other_instance_rebuild(spark, embeddings,
                                                       tmp_path):
    """An ``IVFIndex`` sees the column set that a rebuild committed by
    another instance over the same dir publishes: the schema is
    inferred per published cell map, not memoized for the instance
    lifetime."""
    import os

    a = IVFIndex.build(
        embeddings, str(tmp_path / "index"), n_centroids=4,
        extra_cols=("label",),
    )
    b = IVFIndex(spark, a.index_dir)
    assert "extra" not in a.vectors().columns
    gen = b.next_gen()
    (
        b.vectors()
        .withColumn("extra", F.col("vec_id") * 2)
        .write.partitionBy("centroid_id")
        .parquet(os.path.join(b.index_dir, "vectors", f"gen={gen}"))
    )
    b.commit_cells(gen, [int(c) for c in b._read_manifest()["cells"]])
    got = a.vectors()
    assert "extra" in got.columns
    assert got.filter(F.col("extra") != F.col("vec_id") * 2).count() == 0


def test_cosine_ivf_full_probe_equals_flat_cosine(spark, embeddings, tmp_path):
    """Cosine via the normalized-vector L2 index + exact-cosine rescore
    must equal the flat cosine path bit-for-bit at full probe."""
    from vector_search_engine_spark.functions.vector import normalize
    from vector_search_engine_spark.operators import ivf as ivf_mod

    d = str(tmp_path / "cosidx")
    normed = embeddings.select(
        "vec_id",
        normalize(F.col("embedding")).cast("array<float>").alias("embedding"),
    )
    idx = ivf_mod.IVFIndex.build(normed, d, n_centroids=8, extra_cols=())
    q = knn_ops.make_queries(embeddings, n=10)
    flat = knn_ops.knn_exact(embeddings, q, k=10, metric="cosine").orderBy(
        "qid", "rank"
    )
    got = ivf_mod.search_cosine(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"]
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]
    # partial probe: self-match survives (query IS a corpus vector, its
    # cell is always the nearest) and sims are exact for returned rows
    part = ivf_mod.search_cosine(idx, embeddings, q, k=10, nprobe=2)
    top1 = {r.qid: r for r in part.collect() if r.rank == 1}
    for qid, r in top1.items():
        assert r.neighbor_id == qid and r.sim == 1.0


def test_mips_ivf_full_probe_equals_flat_ip(spark, embeddings, sf_dir):
    """The inner-product→L2 reduction (constant-norm augmentation + zero-
    padded queries) must rank exactly as MIPS; with the exact dot rescore
    the full-probe output equals the flat metric='ip' path bit-for-bit."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="mips")
    q = knn_ops.make_queries(embeddings, n=10)
    flat = knn_ops.knn_exact(embeddings, q, k=10, metric="ip").orderBy(
        "qid", "rank"
    )
    got = ivf_mod.search_ip(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"]
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_knn_exact_ip_matches_numpy(spark, embeddings, embeddings_np):
    ids, V = embeddings_np
    q = knn_ops.make_queries(embeddings, n=5)
    got = {
        (r.qid, r.rank): (r.neighbor_id, r.sim)
        for r in knn_ops.knn_exact(embeddings, q, k=5, metric="ip").collect()
    }
    Vd = V.astype(np.float64)
    order = np.argsort(ids)
    for qid in range(5):
        qv = Vd[order][qid]
        sims = Vd[order] @ qv
        # rank desc by (sim, -id): lexsort on (id, -sim)
        rank = np.lexsort((ids[order], -sims))
        for r in range(5):
            nid, sim = got[(qid, r + 1)]
            assert nid == ids[order][rank[r]]
            assert sim == round(float(sims[rank[r]]), 4)


def test_filtered_cosine_ivf_full_probe(spark, embeddings, sf_dir):
    """predicate composes with the cosine tier: full probe equals the
    flat cosine top-k over the filtered subset."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="cosine")
    q = knn_ops.make_queries(embeddings, n=5)
    flat = knn_ops.knn_exact(
        embeddings.filter(F.col("label") < 5), q, k=10, metric="cosine"
    ).orderBy("qid", "rank")
    got = ivf_mod.search_cosine(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"],
        predicate=F.col("label") < 5,
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_cosine_radius_pruned_equals_brute(spark, embeddings, sf_dir):
    """Threshold-cosine search via unit-L2 radius pruning must equal the
    brute-force cosine filter exactly, and a tight threshold returns
    only the self-pairs (fixture geometry: no near-identical pairs)."""
    from vector_search_engine_spark.functions.vector import cosine_sim_matrix
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="cosine")
    q = knn_ops.make_queries(embeddings, n=10)
    got = {
        (r.qid, r.neighbor_id): r.sim
        for r in ivf_mod.cosine_radius_search(idx, embeddings, q, 0.3).collect()
    }
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    S = cosine_sim_matrix(V[order][:10], V)
    brute = {
        (int(qi), int(ids[j])): round(float(S[qi, j]), 4)
        for qi in range(10)
        for j in range(len(ids))
        if S[qi, j] >= 0.3
    }
    assert got == brute
    tight = ivf_mod.cosine_radius_search(idx, embeddings, q, 0.999).collect()
    assert {(r.qid, r.neighbor_id) for r in tight} == {(i, i) for i in range(10)}


def test_cosine_distributed_full_probe_equals_flat(spark, embeddings, sf_dir):
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="cosine")
    q = knn_ops.make_queries(embeddings, n=10)
    flat = knn_ops.knn_exact(embeddings, q, k=10, metric="cosine").orderBy(
        "qid", "rank"
    )
    got = ivf_mod.search_cosine_distributed(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"]
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_ip_distributed_full_probe_equals_flat(spark, embeddings, sf_dir):
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="mips")
    q = knn_ops.make_queries(embeddings, n=10)
    flat = knn_ops.knn_exact(embeddings, q, k=10, metric="ip").orderBy(
        "qid", "rank"
    )
    got = ivf_mod.search_ip_distributed(
        idx, embeddings, q, k=10, nprobe=idx.meta["n_centroids"]
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_build_or_load_concurrent_callers_single_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Concurrent build_or_load callers racing on the same cache key must
    produce exactly ONE disk build and share one IVFIndex instance — the
    per-key lock serializes the build-or-construct section (a redundant
    double build at 100 TB is hours of wasted cluster time, and two
    interleaved writers into one index_dir could publish mixed files)."""
    import os
    import shutil
    import threading
    import time as _time

    from vector_search_engine_spark.operators import ivf as ivf_mod

    d = tmp_path / "sfcopy"
    d.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"), d / "embeddings.parquet"
    )
    calls: list[int] = []
    real_build = ivf_mod.IVFIndex.build

    def counting_build(*a, **kw):
        calls.append(1)
        _time.sleep(0.3)  # widen the race window
        return real_build(*a, **kw)

    monkeypatch.setattr(
        ivf_mod.IVFIndex, "build", staticmethod(counting_build)
    )
    results: list = [None] * 4
    errs: list = []

    def run(i):
        try:
            results[i] = ivf_mod.build_or_load(spark, str(d), n_centroids=4)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert len(calls) == 1
    assert all(r is results[0] for r in results)


def test_key_locks_pruned_with_dead_app_entries(spark, sf_dir):
    """_KEY_LOCKS must not leak one lock per index_dir for the process
    lifetime: when dead-app instance-cache entries are evicted, locks for
    index_dirs with no cached instance (and uncontended) go with them."""
    import threading

    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir)  # ensures a live entry
    with ivf_mod._INSTANCE_LOCK:
        ivf_mod._INSTANCE_CACHE[("dead-app-id", "/tmp/dead_dir_a")] = idx
        ivf_mod._KEY_LOCKS["/tmp/dead_dir_a"] = threading.Lock()
        ivf_mod._KEY_LOCKS["/tmp/dead_dir_b"] = threading.Lock()
        held = threading.Lock()
        held.acquire()
        ivf_mod._KEY_LOCKS["/tmp/dead_dir_held"] = held
    ivf_mod.build_or_load(spark, sf_dir)  # triggers dead-app eviction
    with ivf_mod._INSTANCE_LOCK:
        assert "/tmp/dead_dir_a" not in ivf_mod._KEY_LOCKS
        assert "/tmp/dead_dir_b" not in ivf_mod._KEY_LOCKS
        # a held (contended) lock is never dropped out from under its owner
        assert "/tmp/dead_dir_held" in ivf_mod._KEY_LOCKS
        del ivf_mod._KEY_LOCKS["/tmp/dead_dir_held"]


def test_search_sq8_with_predicate_equals_filtered_float(spark, embeddings, index):
    """Filtered x SQ8: predicate applies before the bound cut, so output
    equals the float filtered probe bit-for-bit at every nprobe."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    for nprobe in (2, 8):
        fl = index.search(q, k=10, nprobe=nprobe, predicate=pred).orderBy(
            "qid", "rank"
        )
        sq = index.search_sq8(q, k=10, nprobe=nprobe, predicate=pred).orderBy(
            "qid", "rank"
        )
        assert [tuple(r) for r in sq.collect()] == [tuple(r) for r in fl.collect()]


def test_radius_search_with_predicate(spark, embeddings, index):
    """Filtered range search: equals the brute-force radius scan over the
    predicate-filtered table (pre-filtering is trivially lossless for an
    absolute radius)."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    brute = {
        (r.qid, r.neighbor_id, r.dist_sq)
        for r in knn_ops.radius_search(
            embeddings.filter(pred), q, 1.5
        ).collect()
    }
    pruned = {
        (r.qid, r.neighbor_id, r.dist_sq)
        for r in index.radius_search(q, 1.5, predicate=pred).collect()
    }
    assert pruned == brute


def test_search_distributed_with_predicate(spark, embeddings, index):
    """Filtered large-|Q| tier: index side filtered before the shuffle
    join; full probe equals the flat filtered search bit-for-bit."""
    q = knn_ops.make_queries(embeddings, n=10)
    pred = F.col("label") < 5
    fl = index.search(q, k=10, nprobe=8, predicate=pred).orderBy("qid", "rank")
    ds = index.search_distributed(
        q, k=10, nprobe=8, predicate=pred
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in ds.collect()] == [tuple(r) for r in fl.collect()]


def test_tune_nprobe_meets_target_and_is_minimal(spark, embeddings, index):
    """The calibration pass returns the smallest nprobe meeting the
    recall target (monotonicity makes the doubling+bisection search
    exact), and a target of 1.0 terminates at or below full probe."""
    q = knn_ops.make_queries(embeddings)
    out = index.tune_nprobe(q, target_recall=0.9, k=10)
    assert out["recall"] >= 0.9
    nc = index.meta["n_centroids"]
    assert 1 <= out["nprobe"] <= nc
    if out["nprobe"] > 1:
        # minimality: one step down must miss the target
        prev = [e for e in out["ladder"] if e["nprobe"] == out["nprobe"] - 1]
        if prev:
            assert prev[0]["recall"] < 0.9
    perfect = index.tune_nprobe(q, target_recall=1.0, k=10)
    assert perfect["recall"] == 1.0 and perfect["nprobe"] <= nc


def test_prefix_pca_exact_and_prunes_on_correlated_data(spark, tmp_path):
    """The PCA-rotated prefix tier: (a) hash-exact vs brute force at
    full probe on CORRELATED data whose raw leading dims are useless
    (energy hidden by a random rotation); (b) the rotation actually
    concentrates energy — the bound-cut survivor fraction collapses in
    the rotated basis while the raw-basis cut keeps nearly everything
    (SCALING finding 11's degenerate regime, fixed)."""
    import numpy as np

    from vector_search_engine_spark.operators import knn as knn_ops
    from vector_search_engine_spark.operators.ivf import IVFIndex
    from vector_search_engine_spark.operators.pca import (
        explained_prefix_energy,
        pca_rotation,
    )

    rng = np.random.default_rng(3)
    n, d, dp = 2000, 32, 8
    spectrum = np.exp(-np.arange(d) / 3.0)  # strong decay
    latent = rng.normal(0, 1, (n, d)) * spectrum
    mix = np.linalg.qr(rng.normal(0, 1, (d, d)))[0]  # hide it from raw dims
    X = (latent @ mix).astype(np.float32)
    import pandas as pd

    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(X)}
        )
    )
    idx = IVFIndex.build(emb, str(tmp_path / "idx"), n_centroids=8)
    q = (np.arange(10, dtype=np.int64), X[:10].astype(np.float64))
    exact = [
        tuple(r)
        for r in knn_ops.knn_exact(emb, q, k=10).orderBy("qid", "rank").collect()
    ]
    got = [
        tuple(r)
        for r in idx.search_prefix_pca(q, k=10, nprobe=8, prefix_dims=dp)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == exact

    # (b) energy + survivor-fraction claim, same bound math as the kernel
    R = pca_rotation(emb, vec_col="embedding")
    X64 = X.astype(np.float64)
    assert explained_prefix_energy(X64, R, dp) > 0.9
    assert explained_prefix_energy(X64, np.eye(d), dp) < 0.5

    def survivors(basis: np.ndarray) -> float:
        Z = X64 @ basis
        kept = 0
        for qi in range(10):
            qr = X64[qi] @ basis
            dpd = ((Z[:, :dp] - qr[:dp]) ** 2).sum(axis=1)
            lb = np.sqrt(dpd)
            seed = np.argpartition(lb, 9)[:10]
            T = np.sqrt(((Z[seed] - qr) ** 2).sum(axis=1)).max()
            kept += int((lb <= T).sum())
        return kept / (10 * n)

    frac_pca, frac_raw = survivors(R), survivors(np.eye(d))
    assert frac_pca < 0.25, frac_pca
    assert frac_raw > 0.6, frac_raw


def test_merge_built_partitions_refuses_lost_tmp(tmp_path):
    """ADVICE r11: a sidecar merge must never publish _SUCCESS when the
    incremental build's tmp output vanished between the Spark write and
    the merge (the GC race) — a silent publish would leave a sidecar
    missing the rebuilt cells' partitions and drop those cells'
    candidates from every search at that snapshot."""
    from vector_search_engine_spark.operators.ivf import (
        _merge_built_partitions,
    )

    out = tmp_path / "sq8_gen1"
    out.mkdir()
    tmp = tmp_path / "sq8_gen1.build"
    tmp.mkdir()
    (tmp / "centroid_id=0").mkdir()
    # tmp lacks Spark's job-level _SUCCESS marker == the output was lost
    with pytest.raises(RuntimeError, match="refusing to publish"):
        _merge_built_partitions(str(tmp), str(out))
    assert not (out / "_SUCCESS").exists()
    # intact tmp (marker present): merge moves partitions and publishes
    (tmp / "_SUCCESS").touch()
    _merge_built_partitions(str(tmp), str(out))
    assert (out / "_SUCCESS").exists()
    assert (out / "centroid_id=0").is_dir()
    assert not tmp.exists()


def test_invalidate_sidecars_spares_inflight_build_dirs(index):
    """ADVICE r11: transient ``<tag>_gen{N}.build`` dirs of a RETAINED
    generation must survive a concurrent ``invalidate_sidecars`` (the
    old rsplit('_gen') parse yielded '{N}.build', never matched the
    retention set, and GC'd the in-flight build mid-flight); evicted
    generations' dirs — .build or committed — still go."""
    import os

    gen = index._sidecar_gen(None)
    assert gen != "raw"
    keep_build = os.path.join(index.index_dir, f"sq8_gen{gen}.build")
    dead_build = os.path.join(index.index_dir, "sq8_gen999.build")
    dead_dir = os.path.join(index.index_dir, "sq8_gen999")
    for d in (keep_build, dead_build, dead_dir):
        os.makedirs(d, exist_ok=True)
    try:
        index.invalidate_sidecars()
        assert os.path.isdir(keep_build)
        assert not os.path.exists(dead_build)
        assert not os.path.exists(dead_dir)
    finally:
        import shutil

        shutil.rmtree(keep_build, ignore_errors=True)


def test_sq8_distributed_identical_to_search_at_any_nprobe(
    spark, embeddings, index
):
    """The bulk-query quantized tier (r12): search_sq8_distributed must
    equal search() bit-for-bit at ANY nprobe (the per-batch bound cut is
    lossless even after the shuffle join scatters a query's candidates
    across partitions — the subset-composability argument), including
    the SQ4 nibble path and the filtered form."""
    q = knn_ops.make_queries(embeddings, n=10)
    full = index.meta["n_centroids"]
    for nprobe in (1, 3, full):
        a = [
            tuple(r)
            for r in index.search(q, k=10, nprobe=nprobe)
            .orderBy("qid", "rank")
            .collect()
        ]
        b = [
            tuple(r)
            for r in index.search_sq8_distributed(q, k=10, nprobe=nprobe)
            .orderBy("qid", "rank")
            .collect()
        ]
        assert a == b, nprobe
    # SQ4 nibble sidecar through the same path
    d4 = [
        tuple(r)
        for r in index.search_sq8_distributed(q, k=10, nprobe=full, bits=4)
        .orderBy("qid", "rank")
        .collect()
    ]
    exact = [
        tuple(r)
        for r in index.search(q, k=10, nprobe=full)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert d4 == exact
    # filtered: predicate applies BEFORE the bound cut (losslessness)
    fa = [
        tuple(r)
        for r in index.search_filtered(
            q, k=10, nprobe=full, predicate=F.col("label") < 5
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    fb = [
        tuple(r)
        for r in index.search_sq8_distributed(
            q, k=10, nprobe=full, predicate=F.col("label") < 5
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    assert fa == fb


def test_cascade_distributed_exact_unbounded_and_sane_finite_c(
    spark, embeddings, index
):
    """Bulk-query cascade: unbounded stage-1 C at full probe is exact by
    construction (stage 1 keeps everything, stage 2 lossless); finite C
    stays a subset of the scored universe with high recall."""
    q = knn_ops.make_queries(embeddings, n=10)
    full = index.meta["n_centroids"]
    exact = [
        tuple(r)
        for r in index.search(q, k=10, nprobe=full)
        .orderBy("qid", "rank")
        .collect()
    ]
    got = [
        tuple(r)
        for r in index.search_cascade_distributed(
            q, k=10, nprobe=full, candidates_per_cell=10**9
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == exact
    # also at partial nprobe: equals the per-query cascade's output
    per_q = [
        tuple(r)
        for r in index.search_cascade(
            q, k=10, nprobe=3, candidates_per_cell=10**9
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    dist = [
        tuple(r)
        for r in index.search_cascade_distributed(
            q, k=10, nprobe=3, candidates_per_cell=10**9
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    assert dist == per_q
    # finite C: recall vs exact stays high (BQ stage is the lossy one)
    gt = {}
    for r in exact:
        gt.setdefault(r[0], set()).add(r[1])
    fin = index.search_cascade_distributed(
        q, k=10, nprobe=full, candidates_per_cell=40
    ).collect()
    hit = sum(1 for r in fin if r.neighbor_id in gt.get(r.qid, set()))
    assert hit / max(1, len(fin)) >= 0.8


def test_cascade_distributed_broadcasts_memoized_per_generation(
    spark, embeddings, index
):
    """r16 advisor: repeated auto-budget cascade searches against the
    same generation must REUSE one budget broadcast and one thresholds
    broadcast (keyed (gen, k) / sidecar dir) instead of leaking a fresh
    broadcast per search — and results stay exact at full probe."""
    q = knn_ops.make_queries(embeddings, n=4)
    full = index.meta["n_centroids"]
    exact = [
        tuple(r)
        for r in index.search(q, k=5, nprobe=full)
        .orderBy("qid", "rank")
        .collect()
    ]
    r1 = [
        tuple(r)
        for r in index.search_cascade_distributed(q, k=5, nprobe=full)
        .orderBy("qid", "rank")
        .collect()
    ]
    bud_cache = dict(index._sign_budget_bc_cache)
    thr_cache = dict(index._bq_thr_bc_cache)
    assert len(bud_cache) == 1 and len(thr_cache) == 1
    r2 = [
        tuple(r)
        for r in index.search_cascade_distributed(q, k=5, nprobe=full)
        .orderBy("qid", "rank")
        .collect()
    ]
    # same broadcast OBJECTS after the second search — no new entries,
    # no replacement
    assert index._sign_budget_bc_cache == bud_cache
    assert index._bq_thr_bc_cache == thr_cache
    assert r1 == r2
    # auto-budget at full probe keeps the finding-41 exactness contract
    assert {t[:2] for t in r1} == {t[:2] for t in exact}
    # a different k derives a different budget map → its own cache key
    index.search_cascade_distributed(q, k=3, nprobe=full).count()
    assert len(index._sign_budget_bc_cache) == 2


def test_cascade_distributed_lazy_search_survives_broadcast_eviction(
    spark, embeddings, index
):
    """A bulk cascade search built lazily must still run after later
    searches push its memoized budget broadcast out of the cache: past
    17 ``(generation, k)`` keys the cache evicts only the
    least-recently-used broadcast and unpersists it (an unpersisted
    broadcast re-ships on use).  Destroying every cached broadcast on
    overflow failed the first search with "Attempted to use Broadcast
    after it was destroyed"."""
    q = knn_ops.make_queries(embeddings, n=4)
    full = index.meta["n_centroids"]
    first = index.search_cascade_distributed(q, k=5, nprobe=full)
    for k in range(6, 24):
        index.search_cascade_distributed(q, k=k, nprobe=full)
    gen = index._read_manifest()["latest_gen"]
    assert (gen, 5) not in index._sign_budget_bc_cache
    assert len(index._sign_budget_bc_cache) <= 17
    assert first.count() == 20


def test_radius_search_distributed_memoizes_cell_radii(
    spark, embeddings, index, monkeypatch
):
    """Per-cell radii come from one memo per generation: two
    ``radius_search_distributed`` calls on one generation run the
    ``max(dist_to_centroid)`` aggregation once."""
    from collections import OrderedDict

    q = knn_ops.make_queries(embeddings, n=3)
    index._radii_cache = OrderedDict()
    calls = {"n": 0}
    orig_max = F.max

    def spy(col):
        if isinstance(col, str) and col == "dist_to_centroid":
            calls["n"] += 1
        return orig_max(col)

    monkeypatch.setattr(F, "max", spy)
    a = index.radius_search_distributed(q, 1.5).collect()
    b = index.radius_search_distributed(q, 1.5).collect()
    assert calls["n"] == 1
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pca_staleness_monitor_and_retrain(spark, tmp_path):
    """r12 (verdict item 3): the pcarot sidecar's carried-forward
    rotation is MONITORED — build-time prefix energy persists in the
    sidecar, carry-forward recomputes it on the current corpus, and the
    report surfaces the decay; under the default policy a ratio below
    the documented threshold triggers a from-scratch retrain that
    restores pruning power.  Exactness holds throughout (any orthogonal
    R keeps the prefix bound lossless)."""
    import json as _json
    import os
    import shutil as _shutil

    import pandas as pd

    from vector_search_engine_spark.streaming.engine import VectorEngine

    rng = np.random.default_rng(31)
    d, dp, n_a = 64, 16, 1200
    mix = np.linalg.qr(rng.normal(0, 1, (d, d)))[0]
    A = (
        (rng.normal(0, 1, (n_a, d)) * np.exp(-np.arange(d) / 4.0)) @ mix
    ).astype(np.float32)
    df_a = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n_a, dtype=np.int64), "embedding": list(A)}
        )
    )
    eng = VectorEngine.create(df_a, str(tmp_path / "eng"), n_centroids=8)
    idx = eng.index
    rot0 = idx.ensure_pca_rot()
    R0 = np.load(os.path.join(rot0, "rotation.npy"))
    rep0 = {r.prefix_dims: r for r in idx.pca_energy_report().collect()}
    assert rep0[dp].energy_ratio == 1.0
    assert rep0[dp].trained_energy > 0.8  # decaying spectrum recovered

    # drift: 3x the corpus arrives with its energy in R0's TRAILING
    # dims (offset along the last eigendirection keeps the newcomers in
    # one cell, so carry-forward genuinely happens for the others)
    tail_basis = R0[:, -8:]
    B = (
        rng.normal(0, 1, (3 * n_a, 8)) @ tail_basis.T + 30.0 * R0[:, -1]
    ).astype(np.float32)
    df_b = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": n_a + np.arange(3 * n_a, dtype=np.int64),
                "embedding": list(B),
            }
        )
    )
    eng.insert(df_b)
    assert eng.compact() > 0

    # monitor-only build: donor rotation reused, decay surfaced + flagged
    rot1 = idx.ensure_pca_rot(min_energy_ratio=None)
    assert rot1 != rot0
    assert (np.load(os.path.join(rot1, "rotation.npy")) == R0).all()
    rep1 = {
        r.prefix_dims: r
        for r in idx.pca_energy_report(min_energy_ratio=None).collect()
    }
    assert rep1[dp].energy_ratio < 0.5, rep1[dp]
    assert rep1[dp].stale  # flagged against the documented threshold
    # exactness unaffected by the stale rotation
    q = (np.arange(10, dtype=np.int64), np.vstack([A[:5], B[:5]]))
    nc = idx.meta["n_centroids"]
    exact = [
        tuple(r)
        for r in idx.search(q, k=10, nprobe=nc).orderBy("qid", "rank").collect()
    ]
    got = [
        tuple(r)
        for r in idx.search_prefix_pca(q, k=10, nprobe=nc, prefix_dims=dp)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == exact

    # enforcement: rebuilding under the default policy retrains
    _shutil.rmtree(rot1)
    rot2 = idx.ensure_pca_rot()
    R2 = np.load(os.path.join(rot2, "rotation.npy"))
    assert not (R2 == R0).all()  # fresh basis, not the stale donor
    rep2 = {r.prefix_dims: r for r in idx.pca_energy_report().collect()}
    assert rep2[dp].energy_ratio == 1.0 and not rep2[dp].stale
    assert rep2[dp].current_energy > rep1[dp].current_energy + 0.3
    got2 = [
        tuple(r)
        for r in idx.search_prefix_pca(q, k=10, nprobe=nc, prefix_dims=dp)
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got2 == exact


def test_pca_carry_forward_recovers_from_donor_missing_rotation(
    spark, tmp_path
):
    """r13 regression (ADVICE), extended to every sidecar with state: a
    donor can carry _SUCCESS but not its state file (thresholds.json,
    codebooks.npy, rotation.npy).  Before the shared sidecar lifecycle
    the parquet write published _SUCCESS before the state file, donors
    were vetted on _SUCCESS alone, and the r12 ensure_pca_rot crash-
    looped on such a donor (UnboundLocalError on every retry).  A dir
    is now ready only with _SUCCESS AND its state files, so the
    poisoned dir never donates: after the compaction each tier rebuilds
    in full (no part file copied from the donor) with fresh state, and
    serves the float tier's hash at full probe."""
    import glob
    import json as _json
    import os

    import pandas as pd

    from vector_search_engine_spark.streaming.engine import VectorEngine

    rng = np.random.default_rng(47)
    d, n = 32, 800
    A = rng.normal(0, 1, (n, d)).astype(np.float32)
    df_a = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(A)}
        )
    )
    eng = VectorEngine.create(df_a, str(tmp_path / "eng"), n_centroids=6)
    idx = eng.index
    nc = idx.meta["n_centroids"]
    tiers = {  # tier: (build, state file, full-probe search)
        "bq": (
            idx.ensure_bq,
            "thresholds.json",
            lambda q: idx.search_bq(
                q, k=5, nprobe=nc, candidates_per_cell=10**9
            ),
        ),
        "pq": (
            lambda: os.path.dirname(idx.ensure_pq(m=8)[0]),
            "codebooks.npy",
            lambda q: idx.search_pq(q, k=5, nprobe=nc, m=8),
        ),
        "pcarot": (
            idx.ensure_pca_rot,
            "rotation.npy",
            lambda q: idx.search_prefix_pca(q, k=5, nprobe=nc, prefix_dims=8),
        ),
    }

    def part_files(root: str) -> set[str]:
        return {
            os.path.basename(f)
            for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        }

    gen0 = {}
    for name, (build, state, _) in tiers.items():
        root = build()
        gen0[name] = (root, part_files(root))
        assert part_files(root), name
        # simulate the crash window: the dir keeps _SUCCESS, loses state
        os.remove(os.path.join(root, state))

    # advance the generation so the poisoned dirs become donors
    B = (rng.normal(0, 1, (200, d)) + 5.0).astype(np.float32)
    df_b = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": n + np.arange(200, dtype=np.int64),
                "embedding": list(B),
            }
        )
    )
    eng.insert(df_b)
    assert eng.compact() > 0

    q = (np.arange(6, dtype=np.int64), np.vstack([A[:3], B[:3]]))
    exact = [
        tuple(r)
        for r in idx.search(q, k=5, nprobe=nc).orderBy("qid", "rank").collect()
    ]
    for name, (build, state, search) in tiers.items():
        root = build()  # pre-fix (pcarot): UnboundLocalError, every retry
        root0, files0 = gen0[name]
        assert root != root0, name
        assert os.path.exists(os.path.join(root, state)), name
        # full build: every partition freshly written, none carried
        assert part_files(root) and not part_files(root) & files0, name
        got = [tuple(r) for r in search(q).orderBy("qid", "rank").collect()]
        assert got == exact, name
    # the from-scratch pcarot retrain records a fresh baseline
    with open(os.path.join(idx.ensure_pca_rot(), "energy.json")) as f:
        assert _json.load(f)["energy_ratio"] == 1.0
    R1 = np.load(os.path.join(idx.ensure_pca_rot(), "rotation.npy"))
    assert R1.shape == (d, d)


def test_metric_distributed_quantized_stage_identical(spark, sf_dir):
    """r13: the metric × quantized × bulk matrix — swapping the
    candidate stage to sq8/cascade changes NOTHING in the output (the
    bound cuts are lossless on the normalized / MIPS-augmented L2
    geometries), at partial nprobe and full probe alike."""
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators import ivf, knn as knn_ops

    emb = load_table(spark, sf_dir, "embeddings")
    q = knn_ops.make_queries(emb, n=8)
    for geometry, fn in (
        ("cosine", ivf.search_cosine_distributed),
        ("mips", ivf.search_ip_distributed),
    ):
        index = ivf.build_or_load(spark, sf_dir, geometry=geometry)
        for nprobe in (3, index.meta["n_centroids"]):
            base = sorted(
                map(tuple, fn(index, emb, q, k=10, nprobe=nprobe).collect())
            )
            for tier in ("sq8", "cascade"):
                got = sorted(
                    map(
                        tuple,
                        fn(
                            index, emb, q, k=10, nprobe=nprobe, tier=tier,
                            # cascade stage 1 is the one lossy stage:
                            # unbounded C is the identity configuration
                            candidates_per_cell=10**9,
                        ).collect(),
                    )
                )
                assert got == base, (geometry, nprobe, tier)


def test_exact_bounded_distributed_identical_to_exact(spark, embeddings, index):
    """search_exact_bounded_distributed (r14): seed + triangle-verify must
    be hash-identical to exact kNN at EVERY seed width — the bound is an
    upper bound by construction, so exactness cannot depend on it."""
    q = knn_ops.make_queries(embeddings, n=10)
    exact = knn_ops.knn_exact(embeddings, q, k=10).orderBy("qid", "rank")
    want = [tuple(r) for r in exact.collect()]
    for seed in (1, 2, 8):
        got = index.search_exact_bounded_distributed(
            q, k=10, nprobe_seed=seed
        ).orderBy("qid", "rank")
        assert [tuple(r) for r in got.collect()] == want


def test_exact_bounded_prunes_on_clustered_data(spark, tmp_path):
    """On a clustered corpus the verify pass must (a) stay exact and
    (b) actually prune: with 8 well-separated Gaussian clusters and a
    tight seed bound, the probed (qid, cell) fan-out must be far below
    the full |Q| x n_cells grid.  Also pins the <k-seed fallback: a
    query landing in a nearly-empty cell still returns the true top-k."""
    import pandas as pd

    rng = np.random.default_rng(77)
    n_per, d, kc = 250, 16, 8
    centers = rng.normal(0, 10.0, (kc, d))
    V = np.concatenate(
        [c + rng.normal(0, 0.3, (n_per, d)) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(len(V), dtype=np.int64), "embedding": list(V)}
        )
    )
    idx = IVFIndex.build(
        df, str(tmp_path / "clustered_idx"), n_centroids=kc, extra_cols=()
    )
    q = knn_ops.make_queries(df, n=20)
    exact = knn_ops.knn_exact(df, q, k=5).orderBy("qid", "rank")
    got = idx.search_exact_bounded_distributed(
        q, k=5, nprobe_seed=1
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in exact.collect()
    ]
    # pruning witness: replicate the probe decision host-side — each
    # query's seed bound must exclude every non-home cell (clusters are
    # 10-sigma separated, bounds are ~cluster-internal distances)
    cids, C = idx._centroids_for(idx._read_manifest())
    seed = idx.search_distributed(q, k=5, nprobe=1, round_output=False)
    dk = {r["qid"]: r["_dk"] for r in
          seed.groupBy("qid").agg(F.max("dist_sq").alias("_dk")).collect()}
    radii = {
        int(r["centroid_id"]): float(r["r"])
        for r in idx.vectors()
        .groupBy("centroid_id")
        .agg(F.max("dist_to_centroid").alias("r"))
        .collect()
    }
    Rc = np.sqrt(np.array([radii.get(int(c), 0.0) for c in cids]))
    Qm = np.stack([r["query"] for r in q.orderBy("qid").collect()]).astype(np.float64)
    qids = [r["qid"] for r in q.orderBy("qid").collect()]
    probed = 0
    for i, qid in enumerate(qids):
        dqc = np.sqrt(((C - Qm[i]) ** 2).sum(axis=1))
        probed += int((dqc <= np.sqrt(dk[qid]) + Rc).sum())
    assert probed <= len(qids) * 2  # ~1 cell/query vs the 8-cell grid


# -- the shared per-cell kernels, on NumPy arrays (no Spark) -----------------


def test_topk_kernel_ties_small_cell_and_tiling(monkeypatch):
    """The float kernel keeps each query's exact ``(dist, id)`` top-k of
    the cell: duplicates straddling the k-th distance keep their
    smallest ids, a cell smaller than k returns every row, and tiling
    the query axis (``_TILE_CELLS``) keeps the same rows."""
    from vector_search_engine_spark.functions.vector import l2_sq_matrix
    from vector_search_engine_spark.operators import ivf

    rng = np.random.default_rng(5)
    V = rng.normal(size=(30, 6))
    q = rng.normal(size=6)
    V[0] = q  # two rows nearer than the duplicates
    V[1] = q + 0.01
    V[10:17] = q + 0.5  # seven duplicates straddling rank k=5
    Q = np.vstack([q, rng.normal(size=(3, 6))])
    ids = np.arange(200, 170, -1, dtype=np.int64)  # ids against row order
    cell = {"ids": ids, "vec": V}
    D = l2_sq_matrix(V, Q)

    def want(kk):
        return [
            sorted(zip(D[:, j], ids))[:kk] for j in range(len(Q))
        ]

    def got(kernel):
        return [
            list(zip(d, i)) for i, d in kernel(0, Q, cell)
        ]

    top5 = got(ivf._topk_kernel(5))
    assert top5 == want(5)
    assert sorted(i for _, i in top5[0][2:]) == [184, 185, 186]
    assert got(ivf._topk_kernel(50)) == want(30)
    # one query per tile: the same rows; a one-column GEMM may round a
    # distance's last ulp differently
    monkeypatch.setattr(ivf, "_TILE_CELLS", len(V))
    tiled = got(ivf._topk_kernel(5))
    assert [[i for _, i in r] for r in tiled] == [[i for _, i in r] for r in top5]
    np.testing.assert_allclose(
        [[d for d, _ in r] for r in tiled], [[d for d, _ in r] for r in top5],
        rtol=1e-12, atol=1e-12,
    )


def _sq8_cell(V):
    """SQ8 sidecar columns of ``V``, encoded as ``sq.sq8_encode`` does."""
    V = V.astype(np.float32)
    lo, hi = V.min(axis=1), V.max(axis=1)
    span = np.where(hi > lo, hi - lo, 1.0).astype(np.float32)
    codes = np.rint((V - lo[:, None]) / span[:, None] * 255).astype(np.uint8)
    return {
        "ids": np.arange(len(V), dtype=np.int64),
        "code": np.array([c.tobytes() for c in codes], dtype=object),
        "lo": lo,
        "hi": hi,
    }


def test_sq_cut_kernel_keeps_true_topk_for_one_query_row():
    from vector_search_engine_spark.operators import ivf

    rng = np.random.default_rng(6)
    V = rng.normal(size=(400, 16)).astype(np.float32)
    cell = _sq8_cell(V)
    for q in rng.normal(size=(5, 16)):
        ((kept, d),) = ivf._sq_cut_kernel(16, 8, 10)(3, q[None, :], cell)
        assert d is None
        true = np.argsort(((V.astype(np.float64) - q) ** 2).sum(axis=1))[:10]
        assert set(true) <= set(kept.tolist())
        assert len(kept) < len(V)  # the cut prunes


def test_radius_kernel_equals_brute_force():
    from vector_search_engine_spark.operators import ivf

    rng = np.random.default_rng(7)
    V = rng.normal(size=(300, 8))
    Q = rng.normal(size=(4, 8))
    D = ((V[:, None, :] - Q[None, :, :]) ** 2).sum(axis=2)
    # a radius halfway inside the widest gap near the median distance
    s = np.sort(D.ravel())
    mid = len(s) // 2
    g = mid + int(np.argmax(s[mid + 1 : mid + 50] - s[mid : mid + 49]))
    radius_sq = float((s[g] + s[g + 1]) / 2)
    ids = np.arange(1000, 1300, dtype=np.int64)
    got = list(ivf._radius_kernel(radius_sq)(0, Q, {"ids": ids, "vec": V}))
    for j, (hit, d) in enumerate(got):
        want = np.flatnonzero(D[:, j] <= radius_sq)
        assert hit.tolist() == ids[want].tolist()
        np.testing.assert_allclose(d, D[want, j], rtol=1e-9, atol=1e-9)


def test_sign_kernel_keeps_min_budget_and_cell_rows():
    from vector_search_engine_spark.operators import ivf

    rng = np.random.default_rng(8)
    dim = 12
    V = rng.normal(size=(40, dim))
    thr = V.mean(axis=0)
    bits = np.packbits((V > thr).astype(np.uint8), axis=1)
    cell = {
        "ids": np.arange(500, 540, dtype=np.int64),
        "code": np.array([b.tobytes() for b in bits], dtype=object),
        "dim": np.full(len(V), dim),
    }
    Q = rng.normal(size=(3, dim))
    for C, budget, cid, keep in (
        (7, None, 0, 7),
        (100, None, 0, 40),
        (100, {0: 9}, 0, 9),  # a cell's own budget wins
        (11, {0: 9}, 1, 11),  # C for a cell outside the budget
        (100, {0: 64}, 0, 40),
    ):
        got = ivf._sign_kernel(C, thr, budget)(cid, Q, cell)
        assert len(got) == len(Q)
        for kept, d in got:
            assert d is None
            assert len(set(kept.tolist())) == len(kept) == min(keep, len(V))
            assert set(kept.tolist()) <= set(cell["ids"].tolist())
