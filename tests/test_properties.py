"""Hypothesis property tests: the engine's plans vs pure NumPy/Python
oracles on adversarial small inputs (ties, k > N, ragged dims, gaps).

Complements the DuckDB oracle gate (fixed fixtures) with randomized
coverage of the semantics SURVEY.md §5 pins: squared-L2 float behavior,
(dist, id) tie-breaking, session gap edges, dim validation.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# quantized coords force distance ties; small dims keep Spark latency sane
coord = st.integers(min_value=-3, max_value=3).map(lambda v: v / 2.0)
vec4 = st.lists(coord, min_size=4, max_size=4)


@given(
    data=st.lists(vec4, min_size=1, max_size=30),
    queries=st.lists(vec4, min_size=1, max_size=4),
    k=st.integers(min_value=1, max_value=12),
)
@SET
def test_knn_matches_numpy_oracle(spark, data, queries, k):
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "qid long, query array<float>",
    )
    got = [
        (r.qid, r.rank, r.neighbor_id, r.dist_sq)
        for r in knn_ops.knn_exact(vdf, qdf, k=k).collect()
    ]
    V = np.array(data, dtype=np.float32).astype(np.float64)
    want = []
    for qi, q in enumerate(queries):
        d = ((V - np.array(q, dtype=np.float32).astype(np.float64)) ** 2).sum(axis=1)
        order = sorted(range(len(data)), key=lambda i: (d[i], i))[:k]
        want += [
            (qi, rank + 1, i, round(float(d[i]), 4))
            for rank, i in enumerate(order)
        ]
    assert sorted(got) == sorted(want)


@given(
    data=st.lists(vec4, min_size=2, max_size=25),
    threshold=st.sampled_from([0.0, 0.25, 0.5]),
)
@SET
def test_similarity_pairs_match_numpy(spark, data, threshold):
    from vector_search_engine_spark.operators.simjoin import similarity_pairs

    vdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity_pairs(vdf, threshold=threshold, metric="cosine").collect()
    }
    V = np.array(data, dtype=np.float32).astype(np.float64)
    n = np.linalg.norm(V, axis=1)
    want = {}
    for i in range(len(data)):
        for j in range(i + 1, len(data)):
            denom = n[i] * n[j]
            sim = 0.0 if denom == 0 else float(V[i] @ V[j] / denom)
            if sim >= threshold:
                want[(i, j)] = round(sim, 4)
    assert set(got) == set(want)
    for key, sim in want.items():
        assert got[key] == pytest.approx(sim, abs=1e-4)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=8000),  # seconds
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@SET
def test_sessionize_matches_python_fold(spark, events):
    from vector_search_engine_spark.operators.events import (
        SESSION_GAP_S,
        sessionize,
    )

    rows = [
        (i, f"2024-01-01 00:00:00", u, "view", 0.0, "{}")
        for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        [(i, u, s) for i, (u, s) in enumerate(events)],
        "event_id long, user_id long, off long",
    ).select(
        "event_id",
        F.timestamp_seconds(F.lit(1704067200) + F.col("off")).alias("ts"),
        "user_id",
    )
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_s)
        for r in sessionize(df).collect()
    }
    want = {}
    by_user: dict[int, list[int]] = {}
    for u, s in events:
        by_user.setdefault(u, []).append(s)
    for u, ts in by_user.items():
        ts.sort()
        seq, start, last, n = 0, ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > SESSION_GAP_S:
                want[(u, seq)] = (n, last - start)
                seq, start, n = seq + 1, t, 0
            n, last = n + 1, t
        want[(u, seq)] = (n, last - start)
    assert got == want


def _uf_components(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict:
    """Union-find reference: node -> min id of its component."""
    parent = {n: n for n in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in n_nodes}


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_connected_components_matches_union_find(spark, edges):
    from vector_search_engine_spark.operators import graph as graph_ops

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "u long, v long"
    )
    got = {
        r["node"]: r["component"]
        for r in graph_ops.connected_components(df).collect()
    }
    nodes = sorted({x for e in edges for x in e})
    assert got == _uf_components(nodes, edges)


word = st.sampled_from(["a", "b", "c", "dd", "e"])


@given(
    docs=st.lists(
        st.lists(word, min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_repetition_stats_matches_python(spark, docs):
    from vector_search_engine_spark.operators import text_ops

    rows = [(i, "s", " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id: r for r in text_ops.repetition_stats(df).collect()}
    for i, toks in enumerate(docs):
        g2 = [f"{toks[j]} {toks[j+1]}" for j in range(len(toks) - 1)]
        r = got[i]
        assert r.n_tokens == len(toks)
        assert r.n_uniq_tokens == len(set(toks))
        assert r.n_2grams == len(g2)
        assert r.n_uniq_2grams == len(set(g2))
        want_tok = 0.0 if not toks else 1 - len(set(toks)) / len(toks)
        want_g2 = 0.0 if not g2 else 1 - len(set(g2)) / len(g2)
        assert r.token_rep_ratio == pytest.approx(want_tok, abs=1e-4)
        assert r.gram2_rep_ratio == pytest.approx(want_g2, abs=1e-4)
        assert r.is_repetitive == (round(want_g2, 4) > text_ops.REPETITION_THRESHOLD)


@given(
    docs=st.lists(
        st.lists(word, min_size=0, max_size=10),
        min_size=1,
        max_size=10,
    )
)
@SET
def test_decontaminate_matches_python(spark, docs):
    from vector_search_engine_spark.operators import text_ops

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_overlap, r.contaminated)
           for r in text_ops.decontaminate(df).collect()}

    def sh3(toks):
        return {" ".join(toks[j:j+3]) for j in range(len(toks) - 2)}

    eval_sh = set()
    for i, toks in enumerate(docs):
        if i % text_ops.DECON_EVAL_MOD == text_ops.DECON_EVAL_REM:
            eval_sh |= sh3(toks)
    want = {}
    for i, toks in enumerate(docs):
        if i % text_ops.DECON_EVAL_MOD == text_ops.DECON_EVAL_REM:
            continue
        n = len(sh3(toks) & eval_sh)
        want[i] = (n, n >= text_ops.DECON_MIN_OVERLAP)
    assert got == want


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(2, 64),
    m=st.integers(1, 8),
    k=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
    scale=st.floats(1e-3, 1e3),
)
def test_pq_bound_cut_mask_covers_true_topk(n, m, k, seed, scale):
    """Pure-math property of the lossless cut: for ANY vectors, ANY
    codeword assignment (even adversarially bad ones) and any k, the
    kept set must contain the true top-k by exact distance.  This is
    the triangle-inequality claim the oracle-hash equality rides on,
    exercised far beyond the trained-codebook geometries Spark tests
    reach."""
    from vector_search_engine_spark.operators.pq import bound_cut_mask

    rng = np.random.default_rng(seed)
    dim = 4 * m
    X = rng.normal(0, scale, (n, dim))
    q = rng.normal(0, scale, dim)
    # arbitrary (not even nearest!) codewords: the bound only needs the
    # residual to be measured against whatever codeword was stored
    recon = X + rng.normal(0, scale * rng.uniform(0, 2), (n, dim))
    d_adc = ((recon - q) ** 2).sum(axis=1)
    resid = np.linalg.norm(X - recon, axis=1).astype(np.float32)  # storage dtype
    keep = bound_cut_mask(d_adc, resid.astype(np.float64), k)
    true_d = ((X - q) ** 2).sum(axis=1)
    top = np.argsort(true_d, kind="stable")[: min(k, n)]
    assert keep[top].all(), (keep.sum(), n)


@given(
    data=st.lists(vec4, min_size=1, max_size=30),
    queries=st.lists(vec4, min_size=1, max_size=3),
    k=st.integers(min_value=1, max_value=12),
    dp=st.integers(min_value=1, max_value=6),
)
@SET
def test_prefix_rescore_always_equals_exact(spark, data, queries, k, dp):
    """The prefix bound cut is lossless for ANY corpus, query set, k and
    prefix width — including the quantized-coordinate tie storms this
    strategy generates (where a off-by-one-ulp cut would misrank)."""
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "qid long, query array<float>",
    )
    exact = sorted(
        (r.qid, r.rank, r.neighbor_id, r.dist_sq)
        for r in knn_ops.knn_exact(vdf, qdf, k=k).collect()
    )
    got = sorted(
        (r.qid, r.rank, r.neighbor_id, r.dist_sq)
        for r in knn_ops.knn_prefix_rescore(
            vdf, qdf, k=k, prefix_dims=dp
        ).collect()
    )
    assert got == exact


@given(
    ranks_l=st.lists(st.integers(1, 8), min_size=0, max_size=5, unique=True),
    ranks_v=st.lists(st.integers(1, 8), min_size=0, max_size=5, unique=True),
)
@SET
def test_retrieval_eval_metric_bounds(spark, ranks_l, ranks_v):
    """All four metrics stay in [0, 1] for arbitrary run/qrel overlap,
    and a run whose top-|qrels| prefix is exactly the qrel set scores
    ndcg = recall = 1."""
    from vector_search_engine_spark.operators import retrieval

    run = spark.createDataFrame(
        [(0, 100 + r, r) for r in sorted(ranks_l)] or [(9, 1, 1)],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 100 + r) for r in sorted(ranks_v)] or [(9, 1)],
        "query_id long, doc_id long",
    )
    for r in retrieval.retrieval_eval(run, qrels, k=10).collect():
        for m in (r.precision_at_k, r.recall_at_k, r.mrr, r.ndcg_at_k):
            assert -1e-9 <= m <= 1.0 + 1e-9, r
    # perfect-prefix identity
    perfect_run = spark.createDataFrame(
        [(1, d, i + 1) for i, d in enumerate((5, 6, 7))],
        "query_id long, doc_id long, rank long",
    )
    perfect_qrels = spark.createDataFrame(
        [(1, 5), (1, 6), (1, 7)], "query_id long, doc_id long"
    )
    row = retrieval.retrieval_eval(perfect_run, perfect_qrels, k=10).collect()[0]
    assert row.recall_at_k == 1.0 and row.ndcg_at_k == 1.0 and row.mrr == 1.0


@given(
    texts=st.lists(
        st.sampled_from(["aa", "bb", "cc", "aa ", " AA", "dd"]),
        min_size=2,
        max_size=16,
    ),
    split=st.integers(min_value=0, max_value=2),
)
@SET
def test_incremental_dedup_matches_python_fold(spark, texts, split):
    """incremental_dedup keep semantics vs a pure-Python fold over the
    same normalized-hash rule: a batch doc is kept iff no SEEN doc shares
    its normalized text and it is the lowest-id batch holder of it.
    Sampled texts collide under normalization ('aa' vs 'aa ' vs ' AA'),
    exercising cross-split and within-batch shadowing."""
    from vector_search_engine_spark.operators import dedup as dedup_ops

    docs = [(i, t) for i, t in enumerate(texts)]
    seen = [(i, t) for i, t in docs if i % 3 != split]
    batch = [(i, t) for i, t in docs if i % 3 == split]
    if not batch:
        return
    sdf = spark.createDataFrame(seen or [(10**6, "zz-sentinel")],
                                "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    got = {
        r.doc_id: (r.seen_before, r.first_in_batch, r.keep)
        for r in dedup_ops.incremental_dedup(bdf, sdf).collect()
    }

    def norm(t: str) -> str:
        return " ".join(t.lower().split())

    seen_norms = {norm(t) for _, t in seen}
    first: dict[str, int] = {}
    for i, t in sorted(batch):
        first.setdefault(norm(t), i)
    for i, t in batch:
        sb = norm(t) in seen_norms
        fb = first[norm(t)] == i
        assert got[i] == (sb, fb, (not sb) and fb), (i, t)


# -- partitioning invariance (r10) -------------------------------------------
# The core distributed-correctness property: results must be a function
# of the DATA, never of the physical layout. Each new r10 operator runs
# over the same rows at 1 partition and at a prime partition count and
# must produce identical output.


def _layouts(df):
    return [df.coalesce(1), df.repartition(7)]


def test_radius_pairs_partitioning_invariant(spark, embeddings):
    from vector_search_engine_spark.operators import knn as knn_ops

    outs = []
    for v in _layouts(embeddings):
        res = knn_ops.radius_pairs_distributed(v, 1.35, q_blocks=3,
                                               v_blocks=2).collect()
        outs.append(sorted((r.id_a, r.id_b, r.dist_sq) for r in res))
    assert outs[0] == outs[1]


def test_dbscan_partitioning_invariant(spark, embeddings):
    from vector_search_engine_spark.operators.graph import dbscan

    outs = []
    for v in _layouts(embeddings):
        res = dbscan(v, eps_sq=1.35, min_pts=4).collect()
        outs.append(sorted((r.vec_id, r.cluster_id, r.role) for r in res))
    assert outs[0] == outs[1]


def test_lof_partitioning_invariant(spark, embeddings):
    from vector_search_engine_spark.operators import knn as knn_ops

    outs = []
    for v in _layouts(embeddings):
        res = knn_ops.knn_lof_scores(v, k=5).collect()
        outs.append(sorted((r.vec_id, r.lof) for r in res))
    assert outs[0] == outs[1]


def test_triangles_and_lpa_partitioning_invariant(spark):
    import pandas as pd

    from vector_search_engine_spark.operators.graph import (
        label_propagation,
        triangle_counts,
    )

    base = spark.createDataFrame(
        pd.DataFrame(
            [(i, (i * 3 + 1) % 60) for i in range(120)]
            + [(i, (i + 1) % 60) for i in range(60)],
            columns=["src", "dst"],
        ),
        "src long, dst long",
    )
    t, l = [], []
    for e in _layouts(base):
        t.append(sorted(tuple(r) for r in triangle_counts(e).collect()))
        l.append(sorted(
            tuple(r) for r in label_propagation(e, iterations=3).collect()
        ))
    assert t[0] == t[1]
    assert l[0] == l[1]


def test_bigram_logprob_partitioning_invariant(spark, sf_dir):
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators import text_ops

    docs = load_table(spark, sf_dir, "documents")
    outs = []
    for v in _layouts(docs):
        res = text_ops.bigram_logprob(v).collect()
        outs.append(sorted((r.doc_id, r.n_bigrams, r.avg_neg_logprob)
                           for r in res))
    assert outs[0] == outs[1]


def test_k_core_partitioning_invariant(spark):
    import pandas as pd

    from vector_search_engine_spark.operators.graph import k_core

    base = spark.createDataFrame(
        pd.DataFrame(
            [(i, (i * 5 + 2) % 40) for i in range(160)]
            + [(i, (i + 1) % 40) for i in range(40)],
            columns=["src", "dst"],
        ),
        "src long, dst long",
    )
    outs = []
    for e in _layouts(base):
        outs.append(sorted(tuple(r) for r in k_core(e, k=3, rounds=8).collect()))
    assert outs[0] == outs[1]


def test_source_overlap_partitioning_invariant(spark, sf_dir):
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators import text_ops

    docs = load_table(spark, sf_dir, "documents")
    outs = []
    for v in _layouts(docs):
        outs.append(sorted(
            (r.source_a, r.source_b, r.n_common, r.jaccard)
            for r in text_ops.source_overlap(v).collect()
        ))
    assert outs[0] == outs[1]
    # the sketch is deterministic too (salted md5 + sorted bottom-k)
    sk = []
    for v in _layouts(docs):
        sk.append(sorted(
            (r.source_a, r.source_b, r.jaccard_est)
            for r in text_ops.source_overlap_minhash(v).collect()
        ))
    assert sk[0] == sk[1]


def test_source_psi_partitioning_invariant(spark, sf_dir):
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators import text_ops

    docs = load_table(spark, sf_dir, "documents")
    outs = []
    for v in _layouts(docs):
        outs.append(sorted(
            (r.source, r.psi) for r in text_ops.source_psi(v).collect()
        ))
    assert outs[0] == outs[1]


def test_prefix_pca_rotation_deterministic(spark, sf_dir):
    """pca_rotation must be byte-identical across retrains on the same
    data (sign-pinned eigenbasis, deterministic sample) — the property
    the sidecar carry-forward byte-identity contract rests on."""
    import numpy as np

    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators.pca import pca_rotation

    emb = load_table(spark, sf_dir, "embeddings")
    R1 = pca_rotation(emb)
    R2 = pca_rotation(emb.repartition(7))
    assert (R1 == R2).all()
    # orthogonality: the lossless-bound argument needs R'R = I
    d = R1.shape[0]
    assert np.allclose(R1.T @ R1, np.eye(d), atol=1e-10)


def test_prefix_pca_rotation_sampled_layout_independent(spark, sf_dir):
    """The SAMPLED path (corpus > sample_size) must also be a pure
    function of the data multiset — ADVICE r11 flagged that the old
    ``.sample(frac).limit(n)`` selection varied with partition layout,
    narrowing the byte-identical-rebuild contract to unchanged file
    layouts.  The hash-ranked top-``sample_size`` selection is
    layout-independent by construction; this pins it at the bit level
    across repartitionings AND verifies the sample is genuinely proper
    (different seeds pick different subsets → different rotations)."""
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators.pca import pca_rotation

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    size = max(8, n // 3)  # force the sampled regime
    R1 = pca_rotation(emb, sample_size=size)
    R2 = pca_rotation(emb.repartition(11), sample_size=size)
    R3 = pca_rotation(emb.coalesce(1), sample_size=size)
    assert (R1 == R2).all() and (R1 == R3).all()
    # the subset really is a sample: a different salt selects a
    # different third of the corpus, so the trained basis moves
    R_other = pca_rotation(emb, sample_size=size, seed=12345)
    assert not (R1 == R_other).all()


# word-ish documents: small vocab forces shared shingles and ties
_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@given(docs=st.lists(_doc, min_size=2, max_size=12))
@SET
def test_containment_dominates_jaccard(spark, docs):
    """For every emitted pair, max(cont_ab, cont_ba) >= jaccard of the
    same shingle sets, and both containments bound it from above —
    the set-algebra relationship the asymmetric tier exists for
    (|A∩B|/min ≥ |A∩B|/|A∪B|); cross-checked against Python sets."""
    from vector_search_engine_spark.operators import dedup as dedup_ops

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = dedup_ops.containment_pairs(df, threshold=0.0).collect()
    # the prefix-filter tier must agree pair-for-pair at a real threshold
    at_half = sorted(
        map(tuple, dedup_ops.containment_pairs(df, threshold=0.5).collect())
    )
    at_half_prefix = sorted(
        map(tuple, dedup_ops.containment_pairs_prefix(df, threshold=0.5).collect())
    )
    assert at_half == at_half_prefix

    def sh(t):
        toks = [x for x in t.strip().split(" ") if x]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t) for i, t in enumerate(docs)}
    for r in got:
        sa, sb = sets[r.doc_a], sets[r.doc_b]
        inter = len(sa & sb)
        assert inter > 0
        jac = inter / len(sa | sb)
        assert r.cont_ab == pytest.approx(inter / len(sa), abs=1e-4)
        assert r.cont_ba == pytest.approx(inter / len(sb), abs=1e-4)
        assert max(r.cont_ab, r.cont_ba) >= jac - 1e-9


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=40),
    d=st.integers(min_value=2, max_value=8),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_participation_ratio_bounds_numpy(n, d, seed):
    """1 <= PR <= d for any covariance (Cauchy-Schwarz on eigenvalues) —
    the invariant the effective_rank operator's formula rests on,
    checked at the NumPy level over random data."""
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, (n, d)) * rng.uniform(0.1, 3.0, d)[None, :]
    C = np.cov(X.T, bias=True)
    pr = np.trace(C) ** 2 / (C * C).sum()
    assert 1.0 - 1e-9 <= pr <= d + 1e-9
