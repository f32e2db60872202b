"""Exact kNN operator tests vs a NumPy oracle + reference edge semantics:
k > N returns N rows; empty table returns empty (``hnsw_index.h:228-231``);
pandas and sql paths agree exactly."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops


def numpy_topk(ids, V, Q, qids, k, metric="l2_sq"):
    out = {}
    V64 = V.astype(np.float64)
    for qi, q in zip(qids, Q.astype(np.float64)):
        if metric == "l2_sq":
            d = ((V64 - q) ** 2).sum(axis=1)
            order = np.lexsort((ids, d))
        else:
            vn = np.linalg.norm(V64, axis=1)
            qn = np.linalg.norm(q)
            d = (V64 @ q) / (vn * qn)
            order = np.lexsort((ids, -d))
        out[qi] = [int(ids[i]) for i in order[:k]]
    return out


def _queries(embeddings):
    return knn_ops.make_queries(embeddings, n=10)


def test_knn_exact_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    qids = ids[ids < 10]
    Q = V[np.argsort(ids)][np.sort(qids)]
    expected = numpy_topk(ids, V, Q, np.sort(qids), k=10)
    res = knn_ops.knn_exact(embeddings, _queries(embeddings), k=10)
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r.qid, []).append(r.neighbor_id)
    assert got == expected


def test_pandas_and_sql_paths_agree(embeddings):
    q = _queries(embeddings)
    a = knn_ops.knn_exact(embeddings, q, k=7, method="pandas").orderBy("qid", "rank")
    b = knn_ops.knn_exact(embeddings, q, k=7, method="sql").orderBy("qid", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_distributed_path_agrees_with_collect_path(embeddings):
    q = _queries(embeddings)
    for metric in ("l2_sq", "cosine"):
        a = knn_ops.knn_exact(embeddings, q, k=7, metric=metric).orderBy(
            "qid", "rank"
        )
        b = knn_ops.knn_exact_distributed(
            embeddings, q, k=7, metric=metric, q_blocks=3, v_blocks=5
        ).orderBy("qid", "rank")
        assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_distributed_path_k_larger_than_block(embeddings):
    # k exceeding a vblock's row count must still return the global top-k
    q = _queries(embeddings).limit(3)
    a = knn_ops.knn_exact(embeddings, q, k=40).orderBy("qid", "rank")
    b = knn_ops.knn_exact_distributed(
        embeddings, q, k=40, q_blocks=2, v_blocks=8
    ).orderBy("qid", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_cosine_metric(embeddings, embeddings_np):
    ids, V = embeddings_np
    qids = np.sort(ids[ids < 10])
    Q = V[np.argsort(ids)][qids]
    expected = numpy_topk(ids, V, Q, qids, k=5, metric="cosine")
    res = knn_ops.knn_exact(embeddings, _queries(embeddings), k=5, metric="cosine")
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r.qid, []).append(r.neighbor_id)
    assert got == expected


def test_k_larger_than_n(spark):
    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame([(0, [0.0] * 4)], "qid long, query array<float>")
    res = knn_ops.knn_exact(df, q, k=10)
    assert res.count() == 3  # k > N -> N rows (hnsw_index.h:228-231 analog)


def test_empty_table_returns_empty(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [0.0] * 4)], "qid long, query array<float>")
    assert knn_ops.knn_exact(df, q, k=5).count() == 0


def test_empty_queries(embeddings):
    q = embeddings.sparkSession.createDataFrame([], "qid long, query array<float>")
    assert knn_ops.knn_exact(embeddings, q, k=5).count() == 0


def test_filtered_knn_is_prefilter(embeddings, embeddings_np):
    ids, V = embeddings_np
    labels = {
        r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()
    }
    mask = np.array([labels[int(i)] < 5 for i in ids])
    qids = np.sort(ids[ids < 10])
    Q = V[np.argsort(ids)][qids]
    expected = numpy_topk(ids[mask], V[mask], Q, qids, k=10)
    res = knn_ops.knn_filtered(
        embeddings, _queries(embeddings), F.col("label") < 5, k=10
    )
    got = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r.qid, []).append(r.neighbor_id)
    assert got == expected


def test_recall_harness_exact_is_one(spark, embeddings):
    res = knn_ops.knn_exact(embeddings, _queries(embeddings), k=10)
    gt = (
        res.orderBy("rank")
        .groupBy("qid")
        .agg(F.collect_list("neighbor_id").alias("neighbor_ids"))
    )
    row = knn_ops.recall_at_k(res, gt, k=10).collect()[0]
    assert row.recall_at_k == 1.0
    assert row.n_queries == 10


def test_mass_duplicate_vectors_tie_break_exact(spark):
    """More than 4k+1 identical vectors at the top-k boundary: the
    per-partition argpartition pre-cut must widen to the whole tie group so
    the global (dist, id) tie-break matches the oracle ordering exactly."""
    import pandas as pd

    dup = [0.5] * 8
    rows = pd.DataFrame(
        {
            "vec_id": range(200),
            # 100 duplicates (ids 0..99) then distinct tail
            "embedding": [dup] * 100
            + [[float(i) / 7.0] * 8 for i in range(1, 101)],
        }
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        pd.DataFrame({"qid": [0], "query": [dup]}),
        "qid long, query array<float>",
    )
    res = knn_ops.knn_exact(df.repartition(4), q, k=10).orderBy("rank").collect()
    # all duplicates are at distance 0; (dist, id) order = ids 0..9
    assert [r.neighbor_id for r in res] == list(range(10))
    assert all(r.dist_sq == 0.0 for r in res)


@pytest.mark.parametrize("metric", ["l2_sq", "cosine", "ip"])
@pytest.mark.parametrize("n", [40, 400])
def test_topk_kernel_matches_lexsort_reference(monkeypatch, metric, n):
    """The float kernel every flat and probed scan runs keeps each
    query's exact top-k — the NumPy ``(key, id)`` lexsort, key = dist
    for L2 and −sim for cosine and IP — below the selection threshold
    (full sort) and above it (argpartition pre-cut), where a
    mass-duplicate tie group straddles the k-th place: the pre-cut must
    widen to the whole group so the smallest ids place.  A query tile
    split by a small ``_TILE_CELLS`` keeps the same rows; k = 0 keeps
    none."""
    from vector_search_engine_spark.functions.vector import (
        cosine_sim_matrix,
        ip_matrix,
        l2_sq_matrix,
    )

    k = 5
    rng = np.random.default_rng(3)
    V = rng.normal(size=(n, 8))
    Q = rng.normal(size=(6, 8))
    u = rng.normal(size=8)
    u -= (u @ Q[0]) / (Q[0] @ Q[0]) * Q[0]
    u /= np.linalg.norm(u)
    # for query 0: two rows ahead of a 3k-row duplicate group, so the
    # k-th place falls inside the group
    if metric == "ip":
        V[0], V[1], dup = 2.5 * Q[0], 2.2 * Q[0], 2.0 * Q[0]
    else:
        V[0], V[1], dup = Q[0], Q[0] + 0.05 * u, Q[0] + 0.3 * u
    group = np.arange(n // 2, n // 2 + 3 * k)
    V[group] = dup
    ids = rng.permutation(np.arange(1000, 1000 + n)).astype(np.int64)
    D = {"l2_sq": l2_sq_matrix, "cosine": cosine_sim_matrix, "ip": ip_matrix}[
        metric
    ](V, Q)
    key = D if metric == "l2_sq" else -D
    want = [
        [(ids[r], D[r, j]) for r in np.lexsort((ids, key[:, j]))[:k]]
        for j in range(len(Q))
    ]

    def got(k=k):
        kernel = knn_ops._topk_kernel(k, metric)
        return [list(zip(i, d)) for i, d in kernel(0, Q, {"ids": ids, "vec": V})]

    assert (n > knn_ops._SORT_ROWS_PER_K * k) == (n == 400)
    top = got()
    assert top == want
    assert got(0) == [[]] * len(Q)
    placed = [i for i, _ in top[0][2:]]
    assert placed == sorted(ids[group])[: k - 2]
    monkeypatch.setattr(knn_ops, "_TILE_CELLS", 2 * n)  # two queries per tile
    tiled = got()
    assert [[i for i, _ in r] for r in tiled] == [[i for i, _ in r] for r in top]
    np.testing.assert_allclose(
        [[d for _, d in r] for r in tiled], [[d for _, d in r] for r in top],
        rtol=1e-12, atol=1e-12,
    )


def test_merge_topk_honours_metric_direction():
    """The runners' per-query merge ranks by ascending distance for L2
    and descending similarity for cosine and IP, ties by id."""
    piles = {0: [(np.array([5, 3]), np.array([0.2, 0.9])),
                 (np.array([1, 4]), np.array([0.9, 0.5]))]}
    ((_, ids, d),) = knn_ops._merge_topk(piles, 3)
    assert ids.tolist() == [5, 4, 1] and d.tolist() == [0.2, 0.5, 0.9]
    ((_, ids, d),) = knn_ops._merge_topk(piles, 3, "cosine")
    assert ids.tolist() == [1, 3, 4] and d.tolist() == [0.9, 0.9, 0.5]


def test_precollected_query_tuple_matches_dataframe(spark, embeddings):
    """The serving-shape query form — a pre-collected (qids, matrix) tuple
    (collect once, search many; reference holds queries in client RAM) —
    must produce identical results to the DataFrame form on every search
    entry point that accepts it."""
    import pytest

    q_df = knn_ops.make_queries(embeddings)
    q_tup = knn_ops._query_arrays(q_df)
    a = sorted(tuple(r) for r in knn_ops.knn_exact(embeddings, q_df, k=5).collect())
    b = sorted(tuple(r) for r in knn_ops.knn_exact(embeddings, q_tup, k=5).collect())
    assert a == b and len(a) > 0
    ra = sorted(
        tuple(r)
        for r in knn_ops.radius_search(embeddings, q_df, radius_sq=2.0).collect()
    )
    rb = sorted(
        tuple(r)
        for r in knn_ops.radius_search(embeddings, q_tup, radius_sq=2.0).collect()
    )
    assert ra == rb
    # the SQL path is Catalyst-only by design: tuple input must raise
    with pytest.raises(ValueError, match="pandas path"):
        knn_ops.knn_exact(embeddings, q_tup, k=5, method="sql")


# -- epsilon pairs / classification / outlier scoring (r10) -----------------


def _pair_dists(V):
    V64 = V.astype(np.float64)
    n2 = (V64 * V64).sum(axis=1)
    D = n2[:, None] - 2.0 * (V64 @ V64.T) + n2[None, :]
    np.maximum(D, 0.0, out=D)
    return D


def test_radius_pairs_distributed_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    eps = 1.4
    D = _pair_dists(V)
    ii, jj = np.nonzero(D <= eps)
    exp = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(ii, jj)
        if ids[i] < ids[j]
    }
    res = knn_ops.radius_pairs_distributed(
        embeddings, eps, q_blocks=3, v_blocks=5
    ).collect()
    got = {(r.id_a, r.id_b) for r in res}
    assert got == exp
    assert len(res) == len(got)  # each unordered pair emitted exactly once


def test_radius_pairs_distance_values(embeddings, embeddings_np):
    ids, V = embeddings_np
    D = _pair_dists(V)
    pos = {int(v): i for i, v in enumerate(ids)}
    for r in knn_ops.radius_pairs_distributed(embeddings, 1.3).collect():
        assert r.dist_sq == round(float(D[pos[r.id_a], pos[r.id_b]]), 4)


def _ref_classify(ids, V, labels, qids, k):
    """Leave-one-out majority vote, ties -> smaller label."""
    D = _pair_dists(V)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for q in qids:
        qi = pos[int(q)]
        order = np.lexsort((ids, D[qi]))
        nbr = [i for i in order if ids[i] != q][:k]
        votes = {}
        for i in nbr:
            votes[int(labels[i])] = votes.get(int(labels[i]), 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out[int(q)] = best
    return out


def test_knn_classify_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    rows = embeddings.select("vec_id", "label").collect()
    lbl = {r.vec_id: r.label for r in rows}
    labels = np.array([lbl[int(i)] for i in ids])
    qids = np.sort(ids[ids < 10])
    exp = _ref_classify(ids, V, labels, qids, k=7)
    res = knn_ops.knn_classify(
        embeddings, knn_ops.make_queries(embeddings, n=10), k=7
    ).collect()
    got = {r.qid: (r.predicted_label, r.votes) for r in res}
    assert got == exp


def test_knn_classify_tie_breaks_to_smaller_label(spark):
    # query at origin; two label-1 and two label-0 points equidistant:
    # 2-2 vote ties -> label 0 must win
    rows = [
        (0, [1.0, 0.0], 1), (1, [0.0, 1.0], 1),
        (2, [-1.0, 0.0], 0), (3, [0.0, -1.0], 0),
        (4, [5.0, 5.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = spark.createDataFrame(
        [(100, [0.0, 0.0])], "qid long, query array<float>"
    )
    out = knn_ops.knn_classify(emb, q, k=4).collect()
    assert len(out) == 1
    assert (out[0].predicted_label, out[0].votes) == (0, 2)


def test_knn_classify_excludes_self_and_refills(spark):
    # self is nearest; with exclude_self the vote must come from the
    # k OTHER points, so label flips to theirs
    rows = [
        (0, [0.0, 0.0], 9),
        (1, [1.0, 0.0], 2), (2, [0.0, 1.0], 2), (3, [1.0, 1.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )
    out = knn_ops.knn_classify(emb, q, k=3).collect()
    assert (out[0].predicted_label, out[0].votes) == (2, 3)


def test_knn_outlier_scores_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    k, top_n = 5, 40
    D = _pair_dists(V)
    np.fill_diagonal(D, np.inf)
    kdist = np.sort(D, axis=1)[:, k - 1]
    order = np.lexsort((ids, -kdist))[:top_n]
    exp = [(int(ids[i]), round(float(kdist[i]), 4)) for i in order]
    res = knn_ops.knn_outlier_scores(embeddings, k=k, top_n=top_n).collect()
    got = [(r.vec_id, r.kdist_sq) for r in res]
    assert sorted(got) == sorted(exp)


def test_radius_pairs_chunked_tile_path_identical(embeddings, embeddings_np):
    """Force the query-axis GEMM chunking (tile smaller than the
    cogroup) — results must be identical to the single-tile path."""
    a = knn_ops.radius_pairs_distributed(embeddings, 1.35).collect()
    b = knn_ops.radius_pairs_distributed(
        embeddings, 1.35, max_tile_cells=1000
    ).collect()
    key = lambda r: (r.id_a, r.id_b, r.dist_sq)
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_knn_lof_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    k = 5
    D = _pair_dists(V)
    np.fill_diagonal(D, np.inf)
    n = len(ids)
    pos = np.argsort(ids)  # rows of D are in collect order; work by index
    # exactly-k neighborhoods under (dist, id) order
    nbr = {}
    for i in range(n):
        order = np.lexsort((ids, D[i]))[:k]
        nbr[i] = order
    kdist = {i: D[i, nbr[i][-1]] for i in range(n)}
    # re-derive kdist as max over the set (tie-safe)
    kdist = {i: max(D[i, j] for j in nbr[i]) for i in range(n)}
    lrd = {}
    for i in range(n):
        s = sum(max(D[i, j], kdist[j]) for j in nbr[i])
        lrd[i] = k / s
    exp = {}
    for i in range(n):
        exp[int(ids[i])] = round(sum(lrd[j] for j in nbr[i]) / (k * lrd[i]), 4)
    got = {
        r.vec_id: r.lof for r in knn_ops.knn_lof_scores(embeddings, k=k).collect()
    }
    assert got == exp


def test_lof_flags_density_boundary_point(spark):
    """The canonical LOF motivation: a point just outside a tight
    cluster has modest k-distance but LOF >> 1; deep-cluster points
    sit near 1."""
    import itertools

    pts = []
    vid = 0
    # 3x3 tight grid, spacing 0.1
    for x, y in itertools.product(range(3), range(3)):
        pts.append((vid, [x * 0.1, y * 0.1])); vid += 1
    # the boundary point: 1.0 away from the cluster
    pts.append((100, [1.2, 0.1]))
    # a far-away uniform backdrop so the boundary point's neighbors
    # are all cluster points
    emb = spark.createDataFrame(
        [(i, [float(a) for a in v]) for i, v in pts],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.lof for r in knn_ops.knn_lof_scores(emb, k=3).collect()}
    assert got[100] > 3.0           # outlier relative to its neighbors
    # grid-center point is an inlier (LOF ~1; below 1 here — it is
    # DENSER than its edge-of-grid neighbors, amplified by the squared
    # metric); the point is the contrast with the boundary point
    assert got[4] <= 1.3
    assert got[100] > 3 * got[4]


def test_kcenter_select_matches_numpy_greedy(embeddings, embeddings_np):
    """r13: the distributed greedy k-center replays the NumPy greedy
    exactly (anchor = min id; argmax of min-dist with id tie-break),
    and the selection carries the Gonzalez spread guarantee shape:
    the radius ladder (dist_sq per step) is non-increasing."""
    from vector_search_engine_spark.operators import knn as knn_ops

    ids, V = embeddings_np
    order = np.argsort(ids)
    ids, V = ids[order], V[order].astype(np.float64)
    k = 8
    sel = [0]
    md = ((V - V[0][None, :]) ** 2).sum(axis=1)
    dists = [0.0]
    for _ in range(k - 1):
        live = np.ones(len(ids), bool)
        live[sel] = False
        # argmax of min-dist, ties by smallest id
        best = np.lexsort((ids, -md))
        for j in best:
            if live[j]:
                sel.append(int(j))
                dists.append(float(md[j]))
                break
        md = np.minimum(md, ((V - V[sel[-1]][None, :]) ** 2).sum(axis=1))
    want = [
        (r + 1, int(ids[j]), round(d, 4))
        for r, (j, d) in enumerate(zip(sel, dists))
    ]
    got = [
        (r["rank"], r["vec_id"], r["dist_sq"])
        for r in knn_ops.kcenter_select(embeddings, k=k)
        .orderBy("rank")
        .collect()
    ]
    assert got == want
    ladder = [d for _, _, d in got[1:]]
    assert ladder == sorted(ladder, reverse=True)  # non-increasing radius


def test_block_cogroup_keys_survive_scale(spark):
    """r13 regression for a scale-dependent silent-loss bug: the block
    nested-loop cogroups keyed one side with BIGINT (pmod of xxhash64)
    and the other with INT (explode of sequence); each side
    hash-partitions by ITS OWN types and Murmur3 hashes int x and long
    x differently, so at ~5k rows whole (qblock, vblock) cogroups
    paired a non-empty side with an empty one — knn_exact_distributed
    dropped ENTIRE query blocks (16/50 queries at 5000 vectors) and
    radius_pairs_distributed returned 12% of the true pairs at 20k.
    Invisible at fixture scale, where both sweeps stayed green.  Keys
    are now cast to one type; this pins the exact sizes that bit."""
    import pandas as pd

    from vector_search_engine_spark.operators import knn as knn_ops

    rng = np.random.default_rng(31)
    nv, nq, d = 5000, 50, 16
    V = rng.normal(0, 1, (nv, d)).astype(np.float32)
    vec = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(nv, dtype=np.int64), "embedding": list(V)}
        )
    )
    Q = rng.normal(0, 1, (nq, d)).astype(np.float32)
    q = spark.createDataFrame(
        pd.DataFrame(
            {"qid": np.arange(nq, dtype=np.int64), "query": list(Q)}
        )
    )
    out = knn_ops.knn_exact_distributed(vec, q, k=6)
    assert out.count() == nq * 6
    assert out.select("qid").distinct().count() == nq
    # and the values agree with the broadcast exact path
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, knn_ops.knn_exact(vec, q, k=6).collect()))
    assert a == b

    # radius self-join vs NumPy ground truth at the same scale
    eps_sq = float(np.quantile(
        ((V[:200, None, :] - V[None, :200, :]) ** 2).sum(-1), 0.05
    ))
    got = knn_ops.radius_pairs_distributed(vec, eps_sq).count()
    G = V.astype(np.float64)
    want = 0
    for i in range(0, nv, 1000):
        B = G[i:i + 1000]
        D = (B * B).sum(1)[:, None] - 2 * B @ G.T + (G * G).sum(1)[None, :]
        ii = np.arange(i, i + len(B))
        want += int(((D <= eps_sq) & (ii[:, None] < np.arange(nv)[None, :])).sum())
    assert got == want


def test_block_cogroup_keys_helper_contract(spark):
    """Finding-28 is fixed BY CONSTRUCTION now: block_cogroup_keys is the
    single place both cogroup sides' grouping keys are built, and both
    columns it emits are INT.  This pins (a) the helper's type contract,
    (b) that both production operators route through it (their built
    sides carry identical key types), and (c) that the structural guard
    trips on a deliberately mixed-type frame pair."""
    import pandas as pd
    import pytest

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from vector_search_engine_spark.operators import knn as knn_ops

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(8, dtype=np.int64),
                      "embedding": list(np.eye(8, 4, dtype=np.float32))})
    )
    own, rep = knn_ops.block_cogroup_keys("vec_id", 4, 3, "qblock", "vblock")
    built = df.select("vec_id", own, rep)
    assert built.schema["qblock"].dataType == IntegerType()
    assert built.schema["vblock"].dataType == IntegerType()
    # replicate axis covers exactly 0..other_blocks-1 per row
    reps = built.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in reps] == [3]

    # (c) the guard trips on a mixed-type pair (the pre-fix shape)
    qb_bad = df.select(
        F.col("vec_id").alias("qid"),
        F.pmod(F.xxhash64("vec_id"), F.lit(4)).alias("qblock"),  # BIGINT
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("vblock"),
    )
    vb_ok = df.select(
        F.col("vec_id").alias("nid"),
        F.pmod(F.xxhash64("vec_id"), F.lit(4)).cast("int").alias("vblock"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("qblock"),
    )
    with pytest.raises(AssertionError, match="finding 28"):
        knn_ops._assert_block_key_types(qb_bad, vb_ok)


def test_kcenter_tier_identity_driver_vs_distributed(spark):
    """r16 small-input tier: the driver NumPy greedy loop must select
    the SAME exemplars with the SAME dist_sq as the per-round Spark
    tier (forced via max_driver_elems=0) — including on duplicate
    vectors, where the min-id tie-break is the only separator."""
    import pandas as pd

    from vector_search_engine_spark.operators import knn as knn_ops

    rng = np.random.default_rng(45)
    V = rng.normal(0, 1, (60, 8)).astype(np.float32)
    V[17] = V[3]  # exact duplicates: equal distances, id tie-break
    V[41] = V[3]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(60, dtype=np.int64),
                      "embedding": list(V)})
    )
    fast = [
        (r["rank"], r["vec_id"], r["dist_sq"])
        for r in knn_ops.kcenter_select(df, k=9).orderBy("rank").collect()
    ]
    slow = [
        (r["rank"], r["vec_id"], r["dist_sq"])
        for r in knn_ops.kcenter_select(df, k=9, max_driver_elems=0)
        .orderBy("rank")
        .collect()
    ]
    assert fast == slow


def test_kcenter_mass_tie_vectorized_fold_tier_identity(spark):
    """r16 advisor: a duplicate-heavy corpus puts >64 candidates inside
    the exact-fold confirmation margin — the driver tier must take the
    VECTORIZED dim-order fold (bit-identical to the scalar fold by
    construction) and still agree with the distributed tier on both
    selection and dist_sq, min-id tie-break included."""
    import pandas as pd

    from vector_search_engine_spark.operators import knn as knn_ops

    # id 0 anchors at the origin; ids 1..100 are ALL the same far point
    # (they tie exactly at the round-2 argmax, |near|=100 > 64); a few
    # mid points give later rounds real choices
    V = np.zeros((104, 6), dtype=np.float32)
    V[1:101] = 7.0
    V[101] = [3, 0, 0, 0, 0, 0]
    V[102] = [0, 4, 0, 0, 0, 0]
    V[103] = [0, 0, 2, 0, 0, 0]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(104, dtype=np.int64),
                      "embedding": list(V)})
    )
    fast = [
        tuple(r)
        for r in knn_ops.kcenter_select(df, k=5).orderBy("rank").collect()
    ]
    slow = [
        tuple(r)
        for r in knn_ops.kcenter_select(df, k=5, max_driver_elems=0)
        .orderBy("rank")
        .collect()
    ]
    assert fast == slow
    # round 2 must pick the SMALLEST id among the 100 tied duplicates
    assert fast[1][1] == 1


def test_kcenter_select_fewer_rows_than_k(spark):
    """k > N returns every row once in selection order instead of
    IndexError (ADVICE r13); empty input raises ValueError."""
    import pandas as pd
    import pytest

    from vector_search_engine_spark.operators import knn as knn_ops

    V = np.array([[0.0, 0.0], [3.0, 0.0], [0.0, 4.0]], dtype=np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(3, dtype=np.int64),
                      "embedding": list(V)})
    )
    out = knn_ops.kcenter_select(df, k=10).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [0, 2, 1]  # anchor, then farthest
    assert [r["dist_sq"] for r in out] == [0.0, 16.0, 9.0]

    empty = df.filter("vec_id < 0")
    with pytest.raises(ValueError, match="no rows"):
        knn_ops.kcenter_select(empty, k=2)


def test_intrinsic_dim_twonn_recovers_known_dimension(spark):
    """TwoNN on data of KNOWN intrinsic dimension embedded in 64 ambient
    dims: d=5 and d=12 gaussians recover their dimension within 15%
    (the estimator's documented small-sample bias band), and exact
    duplicate points are excluded and counted."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    for d_true in (5, 12):
        X = rng.normal(0, 1, (2000, d_true)).astype(np.float32)
        pad = np.zeros((2000, 64 - d_true), dtype=np.float32)
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(2000, dtype=np.int64),
                    "embedding": list(np.hstack([X, pad])),
                }
            )
        )
        r = knn_ops.intrinsic_dim_twonn(df).collect()[0]
        assert r["n_points"] == 2000 and r["n_dup_dropped"] == 0
        assert abs(r["intrinsic_dim"] - d_true) / d_true < 0.15

    # duplicates: 3 copies of one point -> those rows have d1 = 0 and
    # are dropped from the estimate but counted
    Y = rng.normal(0, 1, (50, 8)).astype(np.float32)
    Y[1] = Y[0]
    Y[2] = Y[0]
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(50, dtype=np.int64), "embedding": list(Y)}
        )
    )
    r = knn_ops.intrinsic_dim_twonn(df).collect()[0]
    assert r["n_dup_dropped"] == 3 and r["n_used"] == 47
    assert r["intrinsic_dim"] is not None


def test_hard_negatives_matches_numpy(spark, embeddings, embeddings_np):
    import pandas as pd

    ids, V = embeddings_np
    labels = {
        r.vec_id: r.label
        for r in embeddings.select("vec_id", "label").collect()
    }
    k_pos, margin, k_neg = 3, 4.0, 5
    anchors = embeddings.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    got = {}
    for r in knn_ops.hard_negatives(
        embeddings, anchors, k_pos=k_pos, margin=margin, k_neg=k_neg
    ).collect():
        got.setdefault(r.qid, []).append(
            (r.rank, r.neighbor_id, r.neighbor_label, r.dist_sq, r.pos_radius_sq)
        )
    G = V.astype(np.float64)
    order = np.argsort(ids)
    for qi in range(0, len(ids), 7):  # sample anchors
        qid = int(ids[qi])
        d = ((G - G[qi]) ** 2).sum(axis=1)
        pairs = sorted(
            (float(d[j]), int(ids[j]))
            for j in range(len(ids))
            if ids[j] != qid
        )
        same = [(dd, j) for dd, j in pairs if labels[j] == labels[qid]]
        assert len(same) >= k_pos
        pos_radius = same[k_pos - 1][0]
        want = [
            (dd, j) for dd, j in pairs
            if labels[j] != labels[qid] and dd <= margin * pos_radius
        ][:k_neg]
        rows = sorted(got.get(qid, []))
        assert len(rows) == len(want)
        for (rank, nid, nlabel, dist_sq, pr_sq), (dd, j) in zip(rows, want):
            assert nid == j
            assert nlabel == labels[j]
            assert abs(dist_sq - dd) < 1e-3
            assert abs(pr_sq - pos_radius) < 1e-3


def test_hard_negatives_insufficient_positives_emit_nothing(spark):
    import pandas as pd

    # label 0 has ONE member: no 3rd same-label distance -> no output rows
    # for that anchor; label 1 has 5 members -> rows exist.
    rng = np.random.default_rng(5)
    V = rng.normal(0, 1, (6, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(6, dtype=np.int64),
                "embedding": list(V),
                "label": [0, 1, 1, 1, 1, 1],
            }
        )
    )
    anchors = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    out = knn_ops.hard_negatives(emb, anchors, k_pos=3, margin=100.0, k_neg=5)
    qids = {r.qid for r in out.collect()}
    assert 0 not in qids  # lone-label anchor silent
    assert qids  # labeled anchors with enough positives do emit


def test_anisotropy_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    G = V.astype(np.float64)
    nrm = np.sqrt((G**2).sum(axis=1))
    U = G / nrm[:, None]
    s2 = float((U.sum(axis=0) ** 2).sum())
    n = len(G)
    row = knn_ops.anisotropy_stats(embeddings).collect()[0]
    assert row.n_vectors == n
    assert abs(row.mean_norm - nrm.mean()) < 1e-4
    assert abs(row.std_norm - nrm.std()) < 1e-4
    assert abs(row.mean_pairwise_cosine - (s2 - n) / (n * (n - 1))) < 1e-5
    assert abs(row.resultant_len - np.sqrt(s2) / n) < 1e-5


def test_anisotropy_collapsed_directions(spark):
    import pandas as pd

    # every vector the SAME direction, varied magnitude: mean pairwise
    # cosine and resultant length are exactly 1.
    base = np.ones(4, dtype=np.float32)
    V = [base * s for s in (1.0, 2.0, 5.0, 0.5, 3.0)]
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(5, dtype=np.int64), "embedding": V}
        )
    )
    row = knn_ops.anisotropy_stats(emb).collect()[0]
    assert abs(row.mean_pairwise_cosine - 1.0) < 1e-9
    assert abs(row.resultant_len - 1.0) < 1e-9


def test_hard_negatives_pandas_sql_identical(spark, embeddings):
    anchors = embeddings.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    a = sorted(
        map(tuple, knn_ops.hard_negatives(embeddings, anchors).collect())
    )
    b = sorted(
        map(
            tuple,
            knn_ops.hard_negatives(
                embeddings, anchors, method="sql"
            ).collect(),
        )
    )
    assert a == b and a


def test_class_scatter_matches_numpy(embeddings, embeddings_np):
    ids, V = embeddings_np
    labels = np.array(
        [r.label for r in embeddings.select("vec_id", "label").collect()]
    )
    G = V.astype(np.float64)
    gmu = G.mean(axis=0)
    got = {r.label: r for r in knn_ops.class_scatter(embeddings).collect()}
    assert set(got) == set(np.unique(labels).tolist())
    for lab in np.unique(labels):
        X = G[labels == lab]
        mu = X.mean(axis=0)
        within = ((X - mu) ** 2).sum(axis=1).mean()
        between = ((mu - gmu) ** 2).sum()
        r = got[int(lab)]
        assert r.n_vectors == len(X)
        assert abs(r.within_ms - within) < 1e-4
        assert abs(r.between_sq - between) < 1e-6
        assert abs(r.fisher_ratio - between / within) < 1e-4


def test_hard_negatives_cogroup_identical_to_pandas(spark, embeddings):
    anchors = embeddings.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    a = sorted(
        map(tuple, knn_ops.hard_negatives(embeddings, anchors).collect())
    )
    c = sorted(
        map(
            tuple,
            knn_ops.hard_negatives(
                embeddings, anchors, method="cogroup"
            ).collect(),
        )
    )
    assert a == c and a


def test_cluster_quality_matches_numpy(spark, embeddings, embeddings_np):
    """Davies-Bouldin report vs a NumPy reference: per-label
    mean-Euclidean scatter, the attaining worst neighbor, and the DB
    component (r14 third wave)."""
    import numpy as np
    import pytest

    from vector_search_engine_spark.operators import knn as knn_ops

    ids, V = embeddings_np
    labels = np.array(
        [r.label for r in embeddings.select("vec_id", "label").collect()]
    )
    # embeddings_np row order matches the same collect() ordering only if
    # re-collected identically — re-key by vec_id to be safe
    lab = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    labels = np.array([lab[i] for i in ids])
    Vd = V.astype(np.float64)
    uniq = sorted(set(labels.tolist()))
    cent = {l: Vd[labels == l].mean(axis=0) for l in uniq}
    s = {
        l: float(np.linalg.norm(Vd[labels == l] - cent[l], axis=1).mean())
        for l in uniq
    }
    got = {r.label: r for r in knn_ops.cluster_quality(embeddings).collect()}
    assert set(got) == set(uniq)
    for l in uniq:
        ratios = {
            j: (s[l] + s[j]) / float(np.linalg.norm(cent[l] - cent[j]))
            for j in uniq
            if j != l
        }
        best = max(ratios.items(), key=lambda kv: (kv[1], -kv[0]))
        g = got[l]
        assert g.n_vectors == int((labels == l).sum())
        assert g.scatter == pytest.approx(s[l], abs=1e-5)
        assert g.worst_neighbor == best[0]
        assert g.db_component == pytest.approx(best[1], abs=1e-5)


def test_effective_rank_matches_numpy_and_detects_collapse(spark, embeddings):
    """PR = tr(C)^2/tr(C^2) vs np.cov on the fixture, and a planted
    rank-2 corpus must report effective rank ~2 (r14 third wave)."""
    import numpy as np
    import pandas as pd
    import pytest

    from vector_search_engine_spark.operators import knn as knn_ops

    X = np.array(
        [r.embedding for r in embeddings.select("embedding").collect()],
        dtype=np.float64,
    )
    C = np.cov(X.T, bias=True)
    want = float(np.trace(C) ** 2 / (C * C).sum())
    got = knn_ops.effective_rank(embeddings).collect()[0]
    assert got.n_vectors == len(X) and got.dim == X.shape[1]
    assert got.effective_rank == pytest.approx(want, abs=1e-4)

    rng = np.random.default_rng(5)
    Z = rng.normal(0, 1, (400, 2)) @ rng.normal(0, 1, (2, 32))
    low = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(400, dtype=np.int64),
                "embedding": list(Z.astype(np.float32)),
            }
        )
    )
    pr = knn_ops.effective_rank(low).collect()[0].effective_rank
    assert 1.0 <= pr <= 2.5


def test_whiten_identity_covariance_and_determinism(spark, embeddings):
    """ZCA whitening: post-whitening population covariance ~= I (so
    effective rank ~= d), the transform is deterministic, and it undoes
    a planted anisotropic stretch (r14 third wave)."""
    import numpy as np
    import pytest

    from vector_search_engine_spark.operators import knn as knn_ops

    wdf = knn_ops.whiten(embeddings)
    rows = wdf.collect()
    again = {r.vec_id: r.embedding for r in knn_ops.whiten(embeddings).collect()}
    Z = np.array([r.embedding for r in rows], dtype=np.float64)
    for r in rows[:20]:
        assert again[r.vec_id] == r.embedding
    C = np.cov(Z.T, bias=True)
    d = C.shape[0]
    assert np.abs(C - np.eye(d)).max() < 1e-2
    pr = knn_ops.effective_rank(wdf).collect()[0].effective_rank
    assert pr == pytest.approx(d, rel=0.02)


def test_effective_rank_by_label_matches_numpy(spark, embeddings):
    """Per-label PR vs np.cov per slice (r14 third wave)."""
    import numpy as np
    import pytest

    from vector_search_engine_spark.operators import knn as knn_ops

    rows = embeddings.select("vec_id", "label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.embedding)
    got = {r.label: r for r in knn_ops.effective_rank_by(embeddings).collect()}
    assert set(got) == set(by_label)
    for lab, vecs in by_label.items():
        X = np.array(vecs, dtype=np.float64)
        C = np.cov(X.T, bias=True)
        want = float(np.trace(C) ** 2 / (C * C).sum())
        assert got[lab].n_vectors == len(vecs)
        assert got[lab].effective_rank == pytest.approx(want, abs=1e-4)
