"""BM25 / hybrid-RRF retrieval and the exact prefix-bound kNN tier.

BM25 is checked against a from-scratch NumPy computation on a hand-built
corpus (not just self-consistency); RRF against a hand-computed fusion;
the prefix tier against knn_exact bit-for-bit, including the pathological
all-duplicates corpus where a naive bound cut loses tie-group members.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark import load_table
from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators import retrieval


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_matches_numpy_reference(spark, monkeypatch):
    """Engine BM25 equals a from-first-principles computation on a tiny
    corpus with known tf/df/dl — through both term-set branches of
    ``_matched_tokens`` (Column ``isin`` and, with BM25_SQL_IN_TERMS at
    0, the parsed SQL ``IN`` over ``SQL_TOKENS``), and with a document
    whose leading, trailing and doubled spaces the tokenizer must
    drop."""
    corpus = [
        (0, "cat dog cat"),
        (1, "cat fish"),
        (2, "dog dog dog dog"),
        (3, "bird"),
        (4, "  cat  dog "),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    q = spark.createDataFrame([(0, "cat"), (1, "dog"), (1, "cat")],
                              "query_id long, term string")

    k1, b = retrieval.BM25_K1, retrieval.BM25_B
    dls = {0: 3, 1: 2, 2: 4, 3: 1, 4: 2}
    n_docs, avgdl = 5, (3 + 2 + 4 + 1 + 2) / 5.0
    tfs = {
        ("cat", 0): 2, ("cat", 1): 1, ("cat", 4): 1,
        ("dog", 0): 1, ("dog", 2): 4, ("dog", 4): 1,
    }
    dfs = {"cat": 3, "dog": 3}

    def score(terms, d):
        s = 0.0
        for t in terms:
            tf = tfs.get((t, d), 0)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dls[d] / avgdl)
            )
        return round(s, retrieval.SCORE_DECIMALS)

    expect = {}
    for qid, terms in ((0, ["cat"]), (1, ["dog", "cat"])):
        scored = sorted(
            ((score(terms, d), d) for d in dls if score(terms, d) > 0.0),
            key=lambda x: (-x[0], x[1]),
        )
        for rank, (s, d) in enumerate(scored, 1):
            expect[(qid, d)] = (rank, s)
    for sql_in_terms in (retrieval.BM25_SQL_IN_TERMS, 0):
        monkeypatch.setattr(retrieval, "BM25_SQL_IN_TERMS", sql_in_terms)
        out = {
            (r.query_id, r.doc_id): (r.rank, r.bm25)
            for r in retrieval.bm25_topk(docs, q, k=10).collect()
        }
        assert out == expect, sql_in_terms


def test_bm25_only_matching_docs_and_contiguous_ranks(spark, documents):
    out = retrieval.bm25_topk(
        documents, retrieval.make_term_queries(spark), k=10
    )
    rows = out.collect()
    assert rows, "fixture queries must match documents"
    by_q = {}
    for r in rows:
        assert r.bm25 > 0.0
        by_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # deterministic under repartition
    again = retrieval.bm25_topk(
        documents.repartition(7), retrieval.make_term_queries(spark), k=10
    )
    assert _rows(out, "query_id", "rank") == _rows(again, "query_id", "rank")


def test_bm25_duplicate_query_terms_count_once(spark):
    docs = spark.createDataFrame(
        [(0, "cat dog"), (1, "cat cat")], "doc_id long, text string"
    )
    q1 = spark.createDataFrame([(0, "cat")], "query_id long, term string")
    q2 = spark.createDataFrame(
        [(0, "cat"), (0, "cat")], "query_id long, term string"
    )
    assert _rows(
        retrieval.bm25_topk(docs, q1), "query_id", "rank"
    ) == _rows(retrieval.bm25_topk(docs, q2), "query_id", "rank")


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------


def test_rrf_hand_computed_fusion(spark):
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank long"
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "qid long, neighbor_id long, rank long"
    )
    out = {
        r.doc_id: (r.rank, r.rrf)
        for r in retrieval.hybrid_rrf(lex, vec, k=10).collect()
    }
    K = retrieval.RRF_K
    exp = {
        11: round(1.0 / (K + 2) + 1.0 / (K + 1), 6),  # in both lists
        10: round(1.0 / (K + 1), 6),
        12: round(1.0 / (K + 2), 6),
    }
    order = sorted(exp, key=lambda d: (-exp[d], d))
    assert out == {d: (i + 1, exp[d]) for i, d in enumerate(order)}
    # the doc present in both lists outranks single-list docs here
    assert out[11][0] == 1


def test_hybrid_rrf_registry_query_shape(spark, documents, sf_dir):
    from vector_search_engine_spark import registry

    out = registry.QUERIES["hybrid_search_rrf"](spark, sf_dir)
    rows = out.collect()
    nq = len(retrieval.QUERY_TERMS_FIXTURE)
    assert {r.query_id for r in rows} == set(range(nq))
    for r in rows:
        assert 1 <= r.rank <= 10 and r.rrf > 0.0


# ---------------------------------------------------------------------------
# Prefix-bound exact kNN (Matryoshka tier)
# ---------------------------------------------------------------------------


def test_prefix_rescore_equals_exact_all_widths(spark, embeddings):
    q = knn_ops.make_queries(embeddings)
    exact = _rows(knn_ops.knn_exact(embeddings, q, k=10), "qid", "rank")
    for dp in (1, 4, 16, 64, 999):
        got = _rows(
            knn_ops.knn_prefix_rescore(embeddings, q, k=10, prefix_dims=dp),
            "qid",
            "rank",
        )
        assert got == exact, f"prefix_dims={dp}"


def test_prefix_rescore_duplicate_vectors_tie_exact(spark):
    """All-duplicate corpus: T seeds at 0 and fp noise in the GEMM bound
    must not evict tied rows — the slack guard keeps the cut lossless."""
    base = [0.5] * 8
    rows = [(i, base) for i in range(30)] + [
        (100 + i, [float(i + 1)] * 8) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, base)], "qid long, query array<float>")
    got = _rows(
        knn_ops.knn_prefix_rescore(df, q, k=10, prefix_dims=2), "qid", "rank"
    )
    exact = _rows(knn_ops.knn_exact(df, q, k=10), "qid", "rank")
    assert got == exact
    # ties break by ascending id: the 10 lowest duplicate ids, dist 0
    assert [r[1] for r in got] == list(range(10))
    assert all(r[3] == 0.0 for r in got)


def _survivor_frac(V, q, dp, k=10):
    """NumPy replica of the per-partition bound cut (same seed/cut rule)."""
    Dp = ((V[:, :dp] - q[:dp]) ** 2).sum(axis=1)
    seed = np.argpartition(Dp, k - 1)[:k]
    T = (((V[seed] - q) ** 2).sum(axis=1)).max()
    return float((Dp <= T + 1e-9 * (1 + T)).mean())


def test_prefix_rescore_prunes_on_decaying_spectrum():
    """The cut's pruning RATE is governed by spectral decay (its
    exactness never is).  On a trained-embedding-like decaying spectrum
    a 16-of-64 prefix must prune almost everything; the isotropic
    synthetic fixture is the documented degenerate regime (flat
    spectrum -> distance concentration -> ~all rows survive, matching
    the PQ tier's measured boundary in SCALING.md)."""
    rng = np.random.default_rng(7)
    n, d = 5000, 64
    V = rng.normal(0, 1, (n, d)) * np.exp(-np.arange(d) / 6.0)
    fr = np.mean([_survivor_frac(V, V[i], 16) for i in range(10)])
    assert fr < 0.02, f"survivor fraction {fr} on decaying spectrum"
    iso = rng.normal(0, 1, (n, d))
    fr_iso = np.mean([_survivor_frac(iso, iso[i], 16) for i in range(10)])
    assert fr_iso > 0.5  # the boundary is real: isotropic data won't prune


def test_ivf_search_prefix_equals_float_probe(spark, sf_dir, embeddings):
    """The prefix cut composed inside IVF cells is lossless at EVERY
    nprobe: output identical to search() — and to exact kNN at full
    probe — for any prefix width; predicate composes."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir)
    q = knn_ops.make_queries(embeddings)
    nc = idx.meta["n_centroids"]
    for nprobe in (2, nc):
        want = _rows(idx.search(q, k=10, nprobe=nprobe), "qid", "rank")
        for dpv in (4, 16):
            got = _rows(
                idx.search_prefix(q, k=10, nprobe=nprobe, prefix_dims=dpv),
                "qid",
                "rank",
            )
            assert got == want, (nprobe, dpv)
    pred = F.col("label") < 5
    want = _rows(idx.search(q, k=10, nprobe=nc, predicate=pred), "qid", "rank")
    got = _rows(
        idx.search_prefix(q, k=10, nprobe=nc, prefix_dims=16, predicate=pred),
        "qid",
        "rank",
    )
    assert got == want


def test_ivf_search_prefix_composes_with_cosine_geometry(spark, sf_dir):
    """The prefix cut is metric-blind (it bounds the L2 the index is
    built over), so on a cosine-geometry index (L2 over normalized
    copies) search_prefix must reproduce the cosine probe bit-for-bit."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    idx = ivf_mod.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    from vector_search_engine_spark.functions.vector import normalize

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        normalize(F.col("embedding")).cast("array<float>").alias("query"),
    )
    nc = idx.meta["n_centroids"]
    want = _rows(idx.search(q, k=10, nprobe=nc), "qid", "rank")
    got = _rows(
        idx.search_prefix(q, k=10, nprobe=nc, prefix_dims=16), "qid", "rank"
    )
    assert got == want


# ---------------------------------------------------------------------------
# Weighted RRF + MMR diversification
# ---------------------------------------------------------------------------


def test_weighted_rrf_biases_fusion(spark):
    lex = spark.createDataFrame(
        [(0, 10, 1)], "query_id long, doc_id long, rank long"
    )
    vec = spark.createDataFrame(
        [(0, 20, 1)], "qid long, neighbor_id long, rank long"
    )
    K = retrieval.RRF_K
    # unweighted: tie on score -> doc_id breaks it (10 first)
    out = {r.doc_id: r.rank for r in retrieval.hybrid_rrf(lex, vec).collect()}
    assert out == {10: 1, 20: 2}
    # vector-heavy weights flip the order
    out = {
        r.doc_id: r.rank
        for r in retrieval.hybrid_rrf(lex, vec, w_lex=1.0, w_vec=3.0).collect()
    }
    assert out == {20: 1, 10: 2}


def test_mmr_matches_numpy_reference(spark):
    """Engine MMR equals a from-scratch greedy reference on a shortlist
    with a planted near-duplicate pair."""
    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.999, 0.04, 0.0],   # near-dup of 1
        3: [0.0, 1.0, 0.0],
        4: [0.0, 0.0, 1.0],
    }
    rel = {1: 0.9, 2: 0.85, 3: 0.5, 4: 0.4}
    cand = spark.createDataFrame(
        [(0, d, rel[d]) for d in vecs], "query_id long, doc_id long, rrf double"
    )
    emb = spark.createDataFrame(
        [(d, v) for d, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    lam = 0.6
    got = [
        (r.doc_id, r.rank)
        for r in retrieval.mmr_diversify(cand, emb, k=4, lam=lam)
        .orderBy("rank")
        .collect()
    ]

    # NumPy reference
    ids = sorted(vecs)
    V = np.array([vecs[d] for d in ids], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    r = np.array([rel[d] for d in ids])
    sel, max_sim, remaining = [], np.zeros(4), np.ones(4, bool)
    for _ in range(4):
        mmr = lam * r - (1 - lam) * max_sim
        mmr[~remaining] = -np.inf
        best = min(
            ((-mmr[i], ids[i], i) for i in range(4) if remaining[i])
        )[2]
        sel.append(ids[best])
        remaining[best] = False
        np.maximum(max_sim, Vn @ Vn[best], out=max_sim)
    assert [d for d, _ in got] == sel
    # the near-dup (2) must NOT be picked second despite rel rank 2
    assert got[1][0] != 2


def test_mmr_lambda_one_is_pure_relevance(spark, embeddings, documents):
    from vector_search_engine_spark import registry

    nq = len(retrieval.QUERY_TERMS_FIXTURE)
    lex = retrieval.bm25_topk(
        documents, retrieval.make_term_queries(spark), k=retrieval.HYBRID_DEPTH
    )
    vec = knn_ops.knn_exact(
        embeddings, knn_ops.make_queries(embeddings, n=nq),
        k=retrieval.HYBRID_DEPTH,
    )
    fused = retrieval.hybrid_rrf(lex, vec, k=retrieval.HYBRID_DEPTH)
    out = retrieval.mmr_diversify(fused, embeddings, k=10, lam=1.0)
    got = {
        (r.query_id, r.rank): r.doc_id for r in out.collect()
    }
    want = {
        (r.query_id, r.rank): r.doc_id
        for r in fused.filter(F.col("rank") <= 10).collect()
    }
    assert got == want
    # determinism under repartition
    again = {
        (r.query_id, r.rank): r.doc_id
        for r in retrieval.mmr_diversify(
            fused.repartition(7), embeddings, k=10, lam=1.0
        ).collect()
    }
    assert again == got


def test_retrieval_eval_hand_computed(spark):
    """Metrics against a worked example: q0 run = [1,2,3], qrels {1,3,9};
    q1 retrieved nothing relevant; q2 absent from the run entirely."""
    run = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 7, 1)],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 1), (0, 3), (0, 9), (1, 8), (2, 5)],
        "query_id long, doc_id long",
    )
    out = {
        r.query_id: r for r in retrieval.retrieval_eval(run, qrels, k=10).collect()
    }
    import math

    # q0: hits at ranks 1 and 3 of 3 rel docs
    assert out[0].precision_at_k == round(2 / 10, 6)
    assert out[0].recall_at_k == round(2 / 3, 6)
    assert out[0].mrr == 1.0
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert out[0].ndcg_at_k == round(dcg / idcg, 6)
    # q1: nothing relevant retrieved
    assert (out[1].precision_at_k, out[1].recall_at_k, out[1].mrr,
            out[1].ndcg_at_k) == (0.0, 0.0, 0.0, 0.0)
    # q2: in qrels but absent from the run — still gets an all-zero row
    assert out[2].ndcg_at_k == 0.0 and out[2].mrr == 0.0


def test_doc_tfidf_vectors_properties(spark, documents):
    """Unit norm per doc, bucket range, determinism under repartition,
    and a hand-check of the tf component on a controlled corpus."""
    out = retrieval.doc_tfidf_vectors(documents).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r.bucket < retrieval.TFIDF_BUCKETS
        by_doc.setdefault(r.doc_id, []).append(r.weight)
    for doc, ws in by_doc.items():
        assert abs(sum(w * w for w in ws) - 1.0) < 1e-3, doc
    again = {
        (r.doc_id, r.bucket): r.weight
        for r in retrieval.doc_tfidf_vectors(documents.repartition(9)).collect()
    }
    assert {(r.doc_id, r.bucket): r.weight for r in out} == again
    # controlled corpus: one doc repeating a single token gets a single
    # bucket with weight 1.0 after normalization
    one = spark.createDataFrame(
        [(0, "zzz zzz zzz"), (1, "qqq")], "doc_id long, text string"
    )
    rows = retrieval.doc_tfidf_vectors(one).collect()
    d0 = [r for r in rows if r.doc_id == 0]
    assert len(d0) == 1 and d0[0].weight == 1.0


def test_doc_tfidf_knn_planted_duplicate_ranks_first(spark):
    """A verbatim duplicate must be its twin's rank-1 neighbor with
    cosine 1.0; an unrelated-vocabulary doc never pairs with them
    unless buckets collide — and ranks below the twin if it does
    (r14 third wave)."""
    from vector_search_engine_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, "alpha beta gamma delta", "en", "s", 22),
            (3, "zeta eta theta iota kappa", "en", "s", 25),
            (4, "zeta eta theta iota kappa lam", "en", "s", 29),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_id, r.rank): r
        for r in retrieval.doc_tfidf_knn(docs, k=2).collect()
    }
    assert got[(1, 1)].neighbor_id == 2 and got[(1, 1)].sim == 1.0
    assert got[(2, 1)].neighbor_id == 1 and got[(2, 1)].sim == 1.0
    assert got[(3, 1)].neighbor_id == 4
    assert got[(4, 1)].neighbor_id == 3
    assert got[(3, 1)].sim > 0.8


def test_doc_tfidf_knn_gemm_agrees_with_sparse_join(spark, sf_dir):
    """The dense block-GEMM tier must produce the sparse join's
    neighbor RANKING at matched (k, n_buckets); sims agree to the
    float32-GEMM tolerance (r14 scale path, SCALING finding 39)."""
    from vector_search_engine_spark import load_table
    from vector_search_engine_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    a = {
        (r.doc_id, r.rank): r
        for r in retrieval.doc_tfidf_knn(docs, k=3, n_buckets=256).collect()
    }
    b = {
        (r.doc_id, r.rank): r
        for r in retrieval.doc_tfidf_knn_gemm(docs, k=3, n_buckets=256).collect()
    }
    assert set(a) == set(b)
    mismatched_neighbor = 0
    for key, ra in a.items():
        rb = b[key]
        assert abs(ra.sim - rb.sim) < 1e-4
        if ra.neighbor_id != rb.neighbor_id:
            # only permissible on a rounded-sim tie
            mismatched_neighbor += 1
            assert abs(ra.sim - rb.sim) < 1e-4
    assert mismatched_neighbor <= len(a) * 0.02


def test_doc_tfidf_knn_gemm_margin_boundary_planted_ties(spark):
    """r16 verdict minor (c): pin the GEMM tier's documented residual AT
    the GEMM_RERANK_MARGIN boundary.  Corpus A plants a rounded-sim tie
    class LARGER than the k+1+margin fetch window (identical docs, all
    pairwise sims exactly 1.0); corpus B keeps the tie class inside the
    window.  On BOTH sides the GEMM tier must return the sparse tier's
    exact rows: exact float ties are broken by neighbor_id inside the
    block kernel's (dist, id) cut, so the fetch window always contains
    the globally smallest tied ids.  Any residual divergence is
    asserted to be the documented mode ONLY — an equal-rounded-sim
    neighbor swap, never a sim change or a rank hole."""
    from vector_search_engine_spark.operators import retrieval
    from vector_search_engine_spark.operators.retrieval import (
        GEMM_RERANK_MARGIN,
    )

    k = 5
    window = k + 1 + GEMM_RERANK_MARGIN

    def corpus(n_tied):
        rows = [
            (i, "alpha beta gamma delta epsilon", "en", "s", 30)
            for i in range(n_tied)
        ]
        rows += [
            (100 + j, f"zeta eta theta word{j} iota", "en", "s", 25)
            for j in range(4)
        ]
        return spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    for n_tied in (window + 15, window - 5):  # both sides of the margin
        docs = corpus(n_tied)
        sparse = {
            (r.doc_id, r.rank): r
            for r in retrieval.doc_tfidf_knn(
                docs, k=k, n_buckets=256
            ).collect()
        }
        gemm = {
            (r.doc_id, r.rank): r
            for r in retrieval.doc_tfidf_knn_gemm(
                docs, k=k, n_buckets=256
            ).collect()
        }
        assert set(sparse) == set(gemm)
        for key, ra in sparse.items():
            rb = gemm[key]
            assert abs(ra.sim - rb.sim) <= 1e-4
            if ra.neighbor_id != rb.neighbor_id:
                assert ra.sim == rb.sim  # documented residual mode only
        # tied docs: top-k must be the k SMALLEST tied ids (global
        # rounded ranking), even when the tie class dwarfs the window
        for q in range(min(n_tied, 8)):
            got = sorted(
                gemm[(q, r)].neighbor_id for r in range(1, k + 1)
            )
            expect = [i for i in range(n_tied) if i != q][:k]
            assert got == expect, (n_tied, q, got)


def test_doc_tfidf_knn_size_aware_dispatch(spark):
    """Finding 39's routing rule is CODE now (r15): past
    ``max_join_pairs`` estimated intermediate rows (Σ_b df_b² — the
    exact sparse-join volume) doc_tfidf_knn warns and routes to the
    GEMM tier; ``allow_gemm_dispatch=False`` raises at the boundary;
    an oversize n_buckets makes the dense escape hatch itself unsafe
    and raises with guidance; and fixture-scale calls at the DEFAULT
    ceiling keep the oracle-graded sparse plan with no warning."""
    import warnings

    import pytest

    from vector_search_engine_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, "alpha beta gamma delta", "en", "s", 22),
            (3, "zeta eta theta iota kappa", "en", "s", 25),
            (4, "zeta eta theta iota kappa lam", "en", "s", 29),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # default ceiling: sparse plan, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        base = {
            (r.doc_id, r.rank): r.neighbor_id
            for r in retrieval.doc_tfidf_knn(docs, k=2).collect()
        }
    # forced over-threshold: warns, routes to GEMM, same ranking
    with pytest.warns(RuntimeWarning, match="doc_tfidf_knn_gemm"):
        routed = {
            (r.doc_id, r.rank): r.neighbor_id
            for r in retrieval.doc_tfidf_knn(
                docs, k=2, max_join_pairs=1
            ).collect()
        }
    assert routed == base
    # opt-out raises at the boundary instead of dispatching
    with pytest.raises(ValueError, match="max_join_pairs"):
        retrieval.doc_tfidf_knn(
            docs, k=2, max_join_pairs=1, allow_gemm_dispatch=False
        )
    # oversize dense side: the escape hatch refuses with guidance
    with pytest.raises(ValueError, match="n_buckets"):
        retrieval.doc_tfidf_knn(
            docs, k=2, max_join_pairs=1, n_buckets=2**17
        )
