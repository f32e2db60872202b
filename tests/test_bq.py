"""Binary-quantization tier: packed-code integrity, Hamming kernel, and
the recall/exact-rescore contract of the two-stage search."""

from __future__ import annotations

import numpy as np
import pytest

from vector_search_engine_spark.operators import bq as bq_ops
from vector_search_engine_spark.operators import knn as knn_ops


def test_bq_encode_roundtrip_bits(spark, embeddings):
    rows = bq_ops.bq_encode(embeddings).collect()
    orig = {
        r.vec_id: np.array(r.embedding, dtype=np.float32)
        for r in embeddings.collect()
    }
    assert len(rows) == len(orig)
    for r in rows[:50]:
        v = orig[r.vec_id]
        assert r.dim == len(v)
        bits = np.unpackbits(
            np.frombuffer(r.code, dtype=np.uint8)
        )[: len(v)]
        assert (bits == (v > 0.0)).all()


def test_bq_rescore_exhaustive_is_exact(spark, embeddings):
    """Unbounded C keeps every candidate, so the float rescore is
    exhaustive and the output is identical to exact kNN — the lossless
    end of the 1-bit C ladder (registry row knn_bq_rescore_exhaustive).
    The same holds at C equal to the row count, with centered codes."""
    q = knn_ops.make_queries(embeddings)
    want = [
        tuple(r)
        for r in knn_ops.knn_exact(embeddings, q, k=10)
        .orderBy("qid", "rank")
        .collect()
    ]
    for C, center in ((1 << 31, False), (embeddings.count(), True)):
        got = [
            tuple(r)
            for r in bq_ops.knn_bq_rescore(
                embeddings, q, k=10, candidates_per_partition=C, center=center
            )
            .orderBy("qid", "rank")
            .collect()
        ]
        assert got == want, (C, center)


def test_bq_rescore_reports_true_distances_and_recall(spark, embeddings):
    """Returned rows always carry the exact float distance (the rescore
    contract); recall@10 at C=16k is gated at the measured-minus-margin
    level for the isotropic fixture (BQ's worst-case geometry — the
    sign code's recall is a measured property, not a bound)."""
    q = knn_ops.make_queries(embeddings)
    exact = {
        (r.qid, r.neighbor_id): r.dist_sq
        for r in knn_ops.knn_exact(embeddings, q, k=10).collect()
    }
    got = bq_ops.knn_bq_rescore(
        embeddings, q, k=10, candidates_per_partition=160
    ).collect()
    all_dists = {
        (r.qid, r.neighbor_id): r.dist_sq
        for r in knn_ops.knn_exact(embeddings, q, k=500).collect()
    }
    hits = 0
    for r in got:
        # every reported distance is the true exact distance
        assert all_dists[(r.qid, r.neighbor_id)] == r.dist_sq
        if (r.qid, r.neighbor_id) in exact:
            hits += 1
    assert hits / len(exact) >= 0.85


def test_ivf_search_bq_exact_at_full_probe_full_candidates(spark, sf_dir, embeddings):
    """At full probe with candidates_per_cell >= cell size every row
    survives the cut and the exact rescore makes the output identical to
    the float probe — the BQ analog of the SQ8/PQ exactness gates."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir)
    q = knn_ops.make_queries(embeddings)
    nc = idx.meta["n_centroids"]
    exact = [
        tuple(r)
        for r in idx.search(q, k=10, nprobe=nc).orderBy("qid", "rank").collect()
    ]
    got = [
        tuple(r)
        for r in idx.search_bq(
            q, k=10, nprobe=nc, candidates_per_cell=10**6
        )
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == exact


def test_ivf_search_bq_recall_and_predicate(spark, sf_dir, embeddings):
    """Serving shape: modest C at full probe keeps recall high (measured
    gate), and a metadata predicate composes (results ⊆ predicate set,
    exact distances)."""
    from pyspark.sql import functions as F

    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir)
    q = knn_ops.make_queries(embeddings)
    nc = idx.meta["n_centroids"]
    exact = {
        (r.qid, r.neighbor_id)
        for r in idx.search(q, k=10, nprobe=nc).collect()
    }
    got = idx.search_bq(q, k=10, nprobe=nc, candidates_per_cell=80).collect()
    hits = sum(1 for r in got if (r.qid, r.neighbor_id) in exact)
    assert hits / len(exact) >= 0.8
    # filtered x BQ
    pred = F.col("label") < 5
    fl = idx.search_bq(
        q, k=10, nprobe=nc, candidates_per_cell=10**6, predicate=pred
    )
    flt = idx.search(q, k=10, nprobe=nc, predicate=pred)
    assert [tuple(r) for r in fl.orderBy("qid", "rank").collect()] == [
        tuple(r) for r in flt.orderBy("qid", "rank").collect()
    ]


def test_engine_merged_search_bq_tier(spark, embeddings, tmp_path):
    """Merged search through the BQ tier: upserted/deleted ids shadow the
    indexed side exactly as in the float tier, and with an effectively
    unbounded C the merged result equals the float-tier merged search."""
    from pyspark.sql import functions as F

    from vector_search_engine_spark.streaming.engine import VectorEngine

    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 400),
        str(tmp_path / "eng"),
        n_centroids=8,
    )
    eng.insert(embeddings.filter(F.col("vec_id") >= 400))
    eng.delete([7, 8])
    q = knn_ops.make_queries(embeddings)
    nc = eng.index.meta["n_centroids"]
    want = [
        tuple(r)
        for r in eng.search(q, k=10, nprobe=nc).orderBy("qid", "rank").collect()
    ]
    # engine path (tier="bq") with default C: recall-checked
    got = [
        tuple(r)
        for r in eng.search(q, k=10, nprobe=nc, tier="bq")
        .orderBy("qid", "rank")
        .collect()
    ]
    hits = sum(1 for t in got if t in set(want))
    assert hits / len(want) >= 0.8
    # deleted ids never appear
    assert all(t[1] not in (7, 8) for t in got)


def test_bq_centering_rescues_nonnegative_data(spark):
    """On an all-positive embedding family (SIFT-like), sign-at-zero
    codes are all ones — candidate ranking is noise.  Mean-centered
    codes (center=True) must recover high recall on the same data."""
    rng = np.random.default_rng(11)
    centers = rng.uniform(2.0, 8.0, (10, 32))
    V = (centers[rng.integers(0, 10, 2000)] + rng.normal(0, 0.3, (2000, 32))).astype(
        np.float32
    )
    V = np.abs(V)  # strictly non-negative
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(2000, dtype=np.int64), "embedding": list(V)})
    )
    q = (np.arange(10, dtype=np.int64), V[:10])
    exact = {
        (r.qid, r.neighbor_id)
        for r in knn_ops.knn_exact(df, q, k=10).collect()
    }

    def recall(center):
        got = bq_ops.knn_bq_rescore(
            df, q, k=10, candidates_per_partition=80, center=center
        ).collect()
        return sum(1 for r in got if (r.qid, r.neighbor_id) in exact) / len(exact)

    r_centered = recall(True)
    assert r_centered >= 0.85, r_centered
    # encode really is all-ones without centering (information-free)
    codes = bq_ops.bq_encode(df).limit(50).collect()
    for r in codes:
        bits = np.unpackbits(np.frombuffer(r.code, dtype=np.uint8))[:32]
        assert bits.all()


def _skewed_clustered_index(spark, tmpdir, n_hot=1800, n_cold=200, d=8):
    """Two far-apart gaussian clusters with a 9:1 population skew →
    kmeans(2) lands one HOT cell far above the average cell size."""
    import numpy as np
    import pandas as pd

    from vector_search_engine_spark.operators.ivf import IVFIndex

    rng = np.random.default_rng(3)
    hot = rng.normal(0, 0.2, (n_hot, d)) + 5.0
    cold = rng.normal(0, 0.2, (n_cold, d)) - 5.0
    V = np.vstack([hot, cold]).astype(np.float32)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(len(V), dtype=np.int64),
                "embedding": list(V),
            }
        )
    )
    idx = IVFIndex.build(emb, tmpdir + "/i", n_centroids=2)
    return idx, emb


def test_sign_tier_auto_budget_derives_from_actual_cell_sizes(spark, tmp_path):
    """Finding 41 fix (r16): with candidates_per_cell unset, the stage-1
    budget auto-derives PER PROBED CELL from that cell's ACTUAL
    population (manifest footer counts) — not 8·k, not the average.  On
    a skewed layout the hot cell's budget must equal the hot cell's own
    row count (the average would under-budget it)."""
    idx, _ = _skewed_clustered_index(spark, str(tmp_path))
    snap = idx._read_manifest()
    pops = {
        int(r["centroid_id"]): int(r["n_vectors"])
        for r in idx.stats().collect()
    }
    hot = max(pops, key=pops.get)
    cold = min(pops, key=pops.get)
    assert pops[hot] >= 3 * pops[cold]  # the skew the test needs
    avg = sum(pops.values()) / len(pops)
    budgets = idx._auto_sign_budget(10, snap, sorted(pops), "t")
    assert budgets[hot] == pops[hot]  # ACTUAL hot population
    assert budgets[hot] > avg  # not the average-derived number
    assert budgets[cold] == max(80, pops[cold])  # 8·k floor


def test_sign_tier_default_budget_exact_on_clustered_no_warning(spark, tmp_path):
    """Finding 41 done-criterion: default-budget search_bq / search_cascade
    on a clustered corpus return the EXACT top-k (budget = cell
    population ⇒ stage 1 keeps everything, later stages are exact /
    lossless) and emit NO finding-41 warning."""
    import warnings

    from vector_search_engine_spark.operators import knn as knn_ops

    idx, emb = _skewed_clustered_index(spark, str(tmp_path))
    q = emb.limit(3).select(
        emb.vec_id.alias("qid"), emb.embedding.alias("query")
    )
    exact = sorted(
        (r.qid, r.rank, r.neighbor_id)
        for r in knn_ops.knn_exact(emb, q, k=10).collect()
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got_bq = sorted(
            (r.qid, r.rank, r.neighbor_id)
            for r in idx.search_bq(q, k=10, nprobe=2).collect()
        )
        got_casc = sorted(
            (r.qid, r.rank, r.neighbor_id)
            for r in idx.search_cascade(q, k=10, nprobe=2).collect()
        )
        assert not any("finding 41" in str(x.message) for x in w)
    assert got_bq == exact
    assert got_casc == exact


def test_sign_tier_auto_budget_cap_and_raw_layout_warn(spark, tmp_path, monkeypatch):
    """The two degraded paths still warn: (a) a probed cell above
    AUTO_SIGN_BUDGET_CAP keeps the cap (bounded rescore) with a
    RuntimeWarning; (b) a pre-manifest raw layout (no footer table)
    falls back to 8·k with the original finding-41 warning."""
    import warnings

    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx, _ = _skewed_clustered_index(spark, str(tmp_path))
    snap = idx._read_manifest()
    pops = {
        int(r["centroid_id"]): int(r["n_vectors"])
        for r in idx.stats().collect()
    }
    hot = max(pops, key=pops.get)
    monkeypatch.setattr(ivf_mod, "AUTO_SIGN_BUDGET_CAP", 128)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        budgets = idx._auto_sign_budget(10, snap, sorted(pops), "t")
        assert any("capped" in str(x.message) for x in w)
    assert budgets[hot] == 128
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        budgets = idx._auto_sign_budget(10, None, [0, 1], "t")
        assert any("finding 41" in str(x.message) for x in w)
    assert budgets == {0: 80, 1: 80}


def test_heal_sign_budget_cap_restores_full_population_budgets(
    spark, tmp_path, monkeypatch
):
    """r17 (r16 verdict task 1): a hot cell above AUTO_SIGN_BUDGET_CAP
    is the one place the sign-tier default could still silently
    under-recall.  heal_sign_budget_cap() must split the offender(s)
    via rebalance until every cell fits the cap, after which the
    auto-derived budget is the FULL population again (no capped
    warning) and default-budget BQ/cascade at full probe return the
    exact top-k.  The cap warning itself must name the heal call."""
    import warnings

    from vector_search_engine_spark.operators import ivf as ivf_mod
    from vector_search_engine_spark.operators import knn as knn_ops

    idx, emb = _skewed_clustered_index(spark, str(tmp_path))
    monkeypatch.setattr(ivf_mod, "AUTO_SIGN_BUDGET_CAP", 600)
    snap = idx._read_manifest()
    pops = {
        int(r["centroid_id"]): int(r["n_vectors"])
        for r in idx.stats().collect()
    }
    hot = max(pops, key=pops.get)
    assert pops[hot] > 600  # precondition: the cap engages
    # capped state: warning names the exact remedy
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        idx._auto_sign_budget(10, snap, sorted(pops), "t")
        msgs = [str(x.message) for x in w]
    assert any("heal_sign_budget_cap" in m and "rebalance" in m for m in msgs)
    # heal: every post-split cell fits the cap, budgets = populations
    mapping = idx.heal_sign_budget_cap()
    assert hot in mapping and len(mapping[hot]) >= 2
    pops2 = {
        int(r["centroid_id"]): int(r["n_vectors"])
        for r in idx.stats().collect()
    }
    assert max(pops2.values()) <= 600
    snap2 = idx._read_manifest()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        budgets2 = idx._auto_sign_budget(10, snap2, sorted(pops2), "t")
        assert not any("capped" in str(x.message) for x in w)
    for c, n in pops2.items():
        assert budgets2[c] == max(80, n)  # population (or the 8·k floor)
    # healed default budget: exact at full probe, no finding-41 warning
    q = knn_ops.make_queries(emb, n=6)
    exact = sorted(
        (r.qid, r.rank, r.neighbor_id)
        for r in knn_ops.knn_exact(emb, q, k=10).collect()
    )
    full = idx.meta["n_centroids"]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got_bq = sorted(
            (r.qid, r.rank, r.neighbor_id)
            for r in idx.search_bq(q, k=10, nprobe=full).collect()
        )
        got_casc = sorted(
            (r.qid, r.rank, r.neighbor_id)
            for r in idx.search_cascade(q, k=10, nprobe=full).collect()
        )
        assert not any("capped" in str(x.message) for x in w)
    assert got_bq == exact
    assert got_casc == exact
    # idempotent: nothing left to split
    assert idx.heal_sign_budget_cap() == {}
