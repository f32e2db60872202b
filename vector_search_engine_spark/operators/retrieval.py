"""Lexical (BM25) and hybrid lexical+vector retrieval.

The reference is a pure-vector search server (``server.cpp`` exposes only
Search/Insert RPCs over embeddings); every production deployment of such
an engine pairs it with a lexical ranker and a fusion step — the
"hybrid search" mode.  This module adds that surface Spark-first:

* ``bm25_topk`` — Okapi BM25 (Robertson/Spärck Jones probabilistic
  relevance weighting, the k1/b form) as a pure DataFrame plan: the
  corpus explodes to postings ONCE, is filtered to query terms BEFORE
  the term-frequency aggregation (the broadcast term set reaches the
  scan), and document statistics are two tiny broadcast aggregates.
* ``hybrid_rrf`` — reciprocal-rank fusion (Cormack, Clarke & Büttcher,
  SIGIR 2009): ``score(d) = Σ_lists 1/(K + rank_list(d))`` over the
  lexical and vector rankings.  Rank-based, so no score calibration
  between BM25 and L2/cosine is needed — the reason RRF is the default
  fusion in practice.

Determinism contract (oracle parity): scores are rounded to
``SCORE_DECIMALS`` and ranking orders by ``(rounded score DESC, doc_id)``
— both engines compute the same float64 arithmetic from the same integer
tf/df/dl inputs, so rounded scores and hence ranks hash-match.

Scale posture (100 TB): the corpus is tokenized EXACTLY ONCE into a
pinned ``(doc_id, dl, matched query-term occurrences)`` proxy frame —
tens of bytes per doc (guide §8: decide with small rows) — from which
corpus stats, df, tf and the scores all derive; the only corpus-sized
shuffle is the matched-occurrence tf aggregation, bounded by
``|docs| × |query terms|`` with map-side partial aggregation;
per-(query, doc) scoring joins are against broadcast-sized stats; the
final top-k is one window over ``|Q| × matched-docs`` rows.  No
all-pairs anything.  (Query frames too large to collect take the
three-scan broadcast-join fallback, ``_bm25_topk_join``.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.hashing import salted_md5_long
from vector_search_engine_spark.functions.text import DD_TOKENS, SQL_TOKENS, tokens

BM25_K1 = 1.2
BM25_B = 0.75
SCORE_DECIMALS = 4
RRF_K = 60  # the SIGIR'09 paper's constant
HYBRID_DEPTH = 20  # per-list candidate depth fed into fusion
# bm25_topk collects the distinct query-term set to the driver when it is
# at most this many terms (the client-RAM query-workload contract every
# kNN search path already uses); larger frames take the broadcast-join
# fallback so the driver never holds unbounded data.
BM25_MAX_CLIENT_TERMS = 100_000
# Above this many distinct terms the per-literal Column ``isin`` is
# replaced by ONE parsed SQL IN expression (r18): each Column literal
# costs a py4j round-trip, so plan BUILD time is linear with a brutal
# constant — measured on this box: 0.8 s at 1k, 5.6 s at 10k, 37.5 s at
# 50k terms — while the SQL parser ingests the same IN list in one call
# (0.23 s / 0.45 s / 3.8 s at 10k/50k/100k).  The optimizer converts
# both forms to the same InSet plan (inSetConversionThreshold=10), so
# execution and results are identical.
BM25_SQL_IN_TERMS = 512


def _matched_tokens(toks, qterms: list[str]):
    """``filter(toks, t -> t IN qterms)`` built the cheap way for large
    term sets (see BM25_SQL_IN_TERMS).  The parsed branch tokenizes the
    ``text`` column with ``functions.text.SQL_TOKENS``, the SQL twin of
    ``tokens``."""
    if len(qterms) <= BM25_SQL_IN_TERMS:
        return F.filter(toks, lambda t: t.isin(*qterms))

    def esc(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

    in_list = ",".join(esc(t) for t in qterms)
    return F.expr(
        f"filter({SQL_TOKENS.format(t='text')}, t -> t IN ({in_list}))"
    )

# Fixture query set (query_id, terms) — mirrored verbatim in the oracle
# VALUES CTE, like MIXTURE_WEIGHTS_FIXTURE.  Terms come from the synthetic
# corpus vocabulary (stable across all SFs, TESTDATA.md).
QUERY_TERMS_FIXTURE: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("hash", "join")),
    (1, ("window", "agg", "spark")),
    (2, ("vector", "scan")),
    (3, ("slow", "query", "filter")),
    (4, ("batch", "stream")),
    (5, ("table", "merge", "sort")),
)


def make_term_queries(spark: SparkSession) -> DataFrame:
    """The fixture term-query set as an exploded (query_id, term) frame."""
    rows = [(qid, t) for qid, terms in QUERY_TERMS_FIXTURE for t in terms]
    return spark.createDataFrame(rows, "query_id long, term string")


def _bm25_topk_join(
    documents: DataFrame,
    queries: DataFrame,
    k: int,
    k1: float,
    b: float,
    max_df_fraction: float | None,
) -> DataFrame:
    """Broadcast-join BM25 (the r16 shape) — fallback for query frames
    too large to collect as a literal term set.  Three tokenizing corpus
    scans (lengths, df pre-pass, postings), each filtered to the
    broadcast query-term set; identical results to ``bm25_topk``."""
    q = queries.select("query_id", "term").distinct()
    qterm_set = q.select("term").distinct()

    # per-doc token length + corpus stats: one column-pruned scan
    lens = documents.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("dl")
    )
    stats = lens.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    # df pre-pass: one row per (doc, DISTINCT term) filtered to the
    # broadcast query-term set, aggregated to ≤|terms| keys — map-side
    # partial aggregation means the shuffle moves at most |terms| rows
    # per input partition no matter how common the terms are.  Computing
    # df BEFORE the postings aggregation (rather than from it) is what
    # lets the max_df_fraction guard bound the expensive shuffle below.
    df_t = (
        documents.select(
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
        )
        .join(F.broadcast(qterm_set), "term")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    if max_df_fraction is not None:
        # the guard: only sub-cap terms reach the postings aggregation.
        # df_t is ≤|terms| rows, so the kept set stays broadcast-sized.
        kept = (
            df_t.crossJoin(F.broadcast(stats))
            .filter(
                F.col("df")
                <= F.lit(float(max_df_fraction)) * F.col("n_docs")
            )
            .select("term")
        )
    else:
        kept = qterm_set

    # postings, filtered to surviving query terms BEFORE the tf
    # aggregation: the broadcast semi-join keeps the shuffle at
    # |matching postings|, not the corpus token count — and with the df
    # guard, bounded even for stopword-common terms.
    postings = (
        documents.select(
            "doc_id",
            F.size(tokens(F.col("text"))).alias("dl"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .join(F.broadcast(kept), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )

    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * dl / F.col("avgdl")
    )
    contrib = idf * tf * F.lit(k1 + 1.0) / denom

    scored = (
        postings.join(F.broadcast(q), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("bm25"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "bm25",
        )
    )


def bm25_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """Top-k documents per query under Okapi BM25.

    ``queries``: an exploded ``(query_id, term)`` DataFrame (duplicate
    terms within a query are deduplicated — each distinct term
    contributes once, the standard bag-of-distinct-terms form).

    ``score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`` — all inputs
    (tf, df, dl, N) exact integers, avgdl an exact ratio, so both engines
    evaluate the identical float64 expression.

    ``max_df_fraction``: the common-term guard — classic stopword
    pruning.  Terms whose document frequency exceeds ``fraction · N``
    are dropped BEFORE the postings aggregation, so the big shuffle is
    bounded by ``|terms| · fraction · N`` (doc, term) pairs instead of
    degenerating to O(corpus) when a query contains a stopword-common
    term (such terms have idf ≈ 0 and contribute almost nothing to
    ranking anyway).  ``None`` = exact Okapi over every query term —
    correct at any df, but at 100 TB a careless common-term query
    shuffles the corpus; production callers should set a cap.

    Returns ``(query_id, doc_id, rank, bm25)``; only documents containing
    at least one surviving query term appear (BM25 of a no-overlap doc
    is 0 and unranked).

    Plan shape (r17 optimization, guide §8 "decide with small rows"):
    the query-term set is a client-RAM workload (the same contract as
    every kNN query set — ``knn_query_arrays`` collects those), so it is
    collected ONCE and pushed into the corpus scan as a term-set filter
    over the token array.  The corpus is then scanned and
    tokenized EXACTLY ONCE into a pinned ``(doc_id, dl, matched
    occurrences)`` proxy — ~tens of bytes per doc, everything every
    downstream stage needs — from which corpus stats (n_docs, avgdl),
    per-term df, per-(doc,term) tf, and the final scores all derive.
    The r16 shape ran three separate tokenizing scans (lengths, df
    pre-pass, postings) plus two more under ``max_df_fraction``.  df
    comes from a by-term (map-side-collapsing) aggregate of the proxy,
    and the df guard prunes capped terms BEFORE the (doc, dl, term) tf
    aggregation via a lazy broadcast semi-join (r18) — so the big
    shuffle is bounded by ``|terms| · fraction · N`` again, as this
    paragraph promises.  Query frames beyond ``BM25_MAX_CLIENT_TERMS``
    distinct terms fall back to the broadcast-join path (no driver
    collect of unbounded data).

    EAGERNESS NOTE: this path runs two driver-visible side effects at
    PLAN-CONSTRUCTION time — the bounded term-set collect and the eager
    ``localCheckpoint`` materializing the proxy (which also truncates
    lineage: a lost executor cannot recompute the pinned blocks; the
    >cap fallback path stays fully lazy/recomputable).  Callers building
    plans they may never execute should use ``_bm25_topk_join``."""
    q = queries.select("query_id", "term").distinct()
    term_rows = (
        q.select("term").distinct().limit(BM25_MAX_CLIENT_TERMS + 1).collect()
    )
    qterms = sorted(r["term"] for r in term_rows)
    if len(qterms) > BM25_MAX_CLIENT_TERMS:
        return _bm25_topk_join(documents, queries, k, k1, b, max_df_fraction)
    if not qterms:
        return documents.sparkSession.createDataFrame(
            [], "query_id long, doc_id long, rank long, bm25 double"
        )

    toks = tokens(F.col("text"))
    pinned = documents.select(
        "doc_id",
        F.size(toks).alias("dl"),
        _matched_tokens(toks, qterms).alias("_mtoks"),
    ).localCheckpoint(eager=True)

    stats = pinned.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # df straight from the pinned proxy: explode DISTINCT matched terms
    # per doc and count by term — keys are terms only, so the partial
    # (map-side) aggregation collapses a stopword's n_docs rows to one
    # row per task before the exchange.  Same values as counting the
    # (doc, term) tf rows (both = number of docs containing the term),
    # but independent of the postings aggregation below — which lets the
    # df guard prune BEFORE the big shuffle (r18, ADVICE fix).
    df_t = (
        pinned.select(F.explode(F.array_distinct("_mtoks")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    postings = pinned.select(
        "doc_id", "dl", F.explode("_mtoks").alias("term")
    )
    if max_df_fraction is not None:
        # the common-term guard, restored to BEFORE the tf aggregation
        # (r18): the r17 shape dropped capped terms only at the scoring
        # join, so a stopword-common term still shuffled one
        # (doc, dl, term) row per matching doc — O(corpus) at 100 TB,
        # exactly what the guard exists to prevent.  Surviving terms
        # come from the tiny df aggregate via a LAZY broadcast semi-join
        # (no driver collect, no eager job); tf/df values are
        # guard-independent, so results are identical either way.
        kept_terms = (
            df_t.crossJoin(F.broadcast(stats))
            .filter(
                F.col("df")
                <= F.lit(float(max_df_fraction)) * F.col("n_docs")
            )
            .select("term")
        )
        postings = postings.join(F.broadcast(kept_terms), "term")
    postings = postings.groupBy("doc_id", "dl", "term").agg(
        F.count("*").cast("long").alias("tf")
    )

    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * dl / F.col("avgdl")
    )
    contrib = idf * tf * F.lit(k1 + 1.0) / denom

    scored = postings.join(F.broadcast(q), "term").join(
        F.broadcast(df_t), "term"
    ).crossJoin(F.broadcast(stats))
    if max_df_fraction is not None:
        # the common-term guard, applied at the scoring join: terms over
        # the df cap contribute nothing (identical results to pruning
        # them before the tf aggregation — tf/df are guard-independent)
        scored = scored.filter(
            F.col("df") <= F.lit(float(max_df_fraction)) * F.col("n_docs")
        )
    scored = (
        scored.select("query_id", "doc_id", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("bm25"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "bm25")
    )


def hybrid_rrf(
    lexical: DataFrame,
    vector: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
    w_lex: float = 1.0,
    w_vec: float = 1.0,
) -> DataFrame:
    """Fuse a lexical ranking ``(query_id, doc_id, rank)`` and a vector
    ranking ``(qid, neighbor_id, rank)`` by reciprocal-rank fusion.

    ``rrf(d) = Σ w_list/(rrf_k + rank)`` over the lists containing
    ``d`` — a document missing from one list simply contributes nothing
    for it (the standard convention); ``w_lex``/``w_vec`` bias the
    fusion toward one modality (the weighted-RRF knob every hybrid API
    exposes; 1/1 is the classic unweighted form).  Output ``(query_id,
    doc_id, rank, rrf)``, rank by (rounded rrf DESC, doc_id).  Each
    input is already a per-query top-``depth`` list, so fusion is a
    full outer join of two ``|Q|·depth``-row frames — driver-free and
    trivially scalable."""
    lex = lexical.select(
        "query_id", "doc_id", F.col("rank").alias("lrank")
    )
    vec = vector.select(
        F.col("qid").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("vrank"),
    )
    fused = (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(
                    F.lit(float(w_lex)) / (F.lit(float(rrf_k)) + F.col("lrank")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(float(w_vec)) / (F.lit(float(rrf_k)) + F.col("vrank")),
                    F.lit(0.0),
                ),
                6,
            ),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("long").alias("rank"), "rrf")
    )


def hybrid_combsum(
    lexical: DataFrame,
    vector: DataFrame,
    k: int = 10,
    w_lex: float = 1.0,
    w_vec: float = 1.0,
) -> DataFrame:
    """Score-normalized CombSUM fusion (Fox & Shaw, TREC-2 1994) — the
    other standard hybrid besides RRF: each list's scores are min-max
    normalized per query WITHIN its top-depth window, then summed with
    weights.  Unlike RRF it preserves score magnitudes (a runaway BM25
    winner stays a runaway winner); unlike raw summing it is insensitive
    to the two lists' incomparable score scales.

    ``lexical``: ``(query_id, doc_id, rank, bm25)`` (higher better).
    ``vector``: ``(qid, neighbor_id, rank, dist_sq)`` (lower better —
    normalized as ``(max − d)/(max − min)``).  A doc missing from one
    list contributes 0 for it; a constant list (max == min) normalizes
    to 1.0 for every member.  Output ``(query_id, doc_id, rank, score)``,
    rank by (rounded score DESC, doc_id).

    Scale shape: both inputs are per-query top-depth lists (|Q|·depth
    rows); the min/max window aggregates and the full-outer fusion join
    all run on those bounded frames — nothing here touches the corpus.
    """
    lw = Window.partitionBy("query_id")
    lex = (
        lexical.select("query_id", "doc_id", "bm25")
        .withColumn("_mn", F.min("bm25").over(lw))
        .withColumn("_mx", F.max("bm25").over(lw))
        .select(
            "query_id",
            "doc_id",
            F.when(
                F.col("_mx") > F.col("_mn"),
                (F.col("bm25") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
            )
            .otherwise(F.lit(1.0))
            .alias("nlex"),
        )
    )
    vw = Window.partitionBy("qid")
    vec = (
        vector.select(
            F.col("qid"), F.col("neighbor_id"), F.col("dist_sq")
        )
        .withColumn("_mn", F.min("dist_sq").over(vw))
        .withColumn("_mx", F.max("dist_sq").over(vw))
        .select(
            F.col("qid").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            F.when(
                F.col("_mx") > F.col("_mn"),
                (F.col("_mx") - F.col("dist_sq"))
                / (F.col("_mx") - F.col("_mn")),
            )
            .otherwise(F.lit(1.0))
            .alias("nvec"),
        )
    )
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").withColumn(
        "score",
        F.round(
            F.lit(float(w_lex)) * F.coalesce(F.col("nlex"), F.lit(0.0))
            + F.lit(float(w_vec)) * F.coalesce(F.col("nvec"), F.lit(0.0)),
            6,
        ),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )


def mmr_diversify(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    score_col: str = "rrf",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) — the standard diversification pass over a retrieval
    shortlist: greedily pick ``argmax λ·rel(d) − (1−λ)·max_{s∈S}
    cos(d, s)`` so near-duplicate hits don't crowd the top-k.

    ``candidates``: a per-query ranked shortlist ``(query_id, doc_id,
    <score_col>)`` (e.g. ``hybrid_rrf`` output); ``vectors`` supplies
    the doc embeddings for the diversity term.  Ties break on
    (value DESC, doc_id ASC), and the selection value (cosine and the
    MMR combination) is rounded to 6 decimals BEFORE the argmax — the
    ``hybrid_rrf`` rounded-ranking discipline — so the greedy walk is
    bit-deterministic across runs, partitionings AND engines (the
    DuckDB oracle replays the identical unrolled selection).

    Plan: one broadcast-ready join to attach embeddings, ONE shuffle
    grouping by query, then a per-query greedy NumPy loop over the
    shortlist (|shortlist| ≤ depth ≈ 10-100 rows — the loop is O(k·n·d)
    on a tiny n; the corpus-sized work already happened upstream).
    Returns ``(query_id, doc_id, rank, mmr_score)``; zero-norm vectors
    contribute cosine 0 (the ``cosine_sim`` convention), and the
    diversity term is CLAMPED at 0 (``max_sim`` accumulates from 0):
    anti-correlated candidates never score above pure relevance —
    the oracle replays the clamp with ``greatest(max(s), 0.0)``."""
    lam = float(lam)

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        order = np.lexsort(
            (pdf["doc_id"].to_numpy(), -pdf[score_col].to_numpy())
        )
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)[order]
        rel = pdf[score_col].to_numpy(dtype=np.float64)[order]
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        Vn = V / norms
        n = len(ids)
        kk = min(k, n)
        selected: list[int] = []
        max_sim = np.zeros(n)
        remaining = np.ones(n, dtype=bool)
        out_ids, out_scores = [], []
        for _ in range(kk):
            mmr = np.round(lam * rel - (1.0 - lam) * max_sim, 6)
            mmr_masked = np.where(remaining, mmr, -np.inf)
            # deterministic argmax: highest score, lowest doc_id on ties
            best = np.lexsort((ids, -mmr_masked))[0]
            selected.append(best)
            remaining[best] = False
            out_ids.append(ids[best])
            out_scores.append(mmr_masked[best])
            sims = np.round(Vn @ Vn[best], 6)
            np.maximum(max_sim, sims, out=max_sim)
        return pd.DataFrame(
            {
                "query_id": np.full(kk, qid, dtype=np.int64),
                "doc_id": np.array(out_ids, dtype=np.int64),
                "rank": np.arange(1, kk + 1, dtype=np.int64),
                "mmr_score": np.round(np.array(out_scores), 6),
            }
        )

    enriched = candidates.join(
        vectors.select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias(vec_col)
        ),
        "doc_id",
    )
    return (
        enriched.groupBy("query_id")
        .applyInPandas(
            per_query,
            schema="query_id long, doc_id long, rank long, mmr_score double",
        )
    )


def retrieval_eval(
    ranking: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Standard ranking-quality metrics of a retrieval run against a
    binary relevance set — the eval harness every retrieval stack runs
    (TREC conventions):

    * ``precision_at_k`` = |relevant in top-k| / k
    * ``recall_at_k``    = |relevant in top-k| / |qrels(q)|
    * ``mrr``            = 1 / rank of the first relevant hit (0 if none)
    * ``ndcg_at_k``      = Σ_hits 1/log2(rank+1), normalized by the
      ideal DCG of min(k, |qrels(q)|) relevant docs at the top.

    ``ranking``: ``(query_id, doc_id, rank)``; ``qrels``: ``(query_id,
    doc_id)`` binary relevance.  Queries present in ``qrels`` always get
    a row (all-zero metrics when nothing was retrieved).  Plan: one
    equi-join of two per-query-bounded frames + one aggregation — both
    sides are top-k/qrel-sized, never corpus-sized."""
    kk = int(k)
    hits = (
        qrels.select("query_id", "doc_id")
        .distinct()
        .join(
            ranking.select("query_id", "doc_id", "rank"),
            ["query_id", "doc_id"],
            "left",
        )
    )
    n_rel = F.count("*").cast("long")
    in_k = F.sum(
        F.when(F.col("rank").isNotNull() & (F.col("rank") <= kk), 1).otherwise(0)
    ).cast("long")
    first_rank = F.min(F.when(F.col("rank").isNotNull(), F.col("rank")))
    dcg = F.sum(
        F.when(
            F.col("rank").isNotNull() & (F.col("rank") <= kk),
            F.lit(1.0) / F.log2(F.col("rank") + F.lit(1.0)),
        ).otherwise(F.lit(0.0))
    )
    per_q = hits.groupBy("query_id").agg(
        n_rel.alias("n_rel"),
        in_k.alias("hits_at_k"),
        first_rank.alias("first_rank"),
        dcg.alias("dcg"),
    )
    # ideal DCG for m = min(k, n_rel) relevant docs ranked 1..m
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(kk)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
    )
    return per_q.select(
        "query_id",
        F.round(F.col("hits_at_k") / F.lit(float(kk)), 6).alias(
            "precision_at_k"
        ),
        F.round(F.col("hits_at_k") / F.col("n_rel"), 6).alias("recall_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rank"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(F.col("dcg") / idcg, 6).alias("ndcg_at_k"),
    )


TFIDF_BUCKETS = 64


def doc_tfidf_vectors(
    documents: DataFrame, n_buckets: int = TFIDF_BUCKETS
) -> DataFrame:
    """Hashing-trick TF-IDF document vectors (Weinberger et al., ICML
    2009 feature hashing) — the model-free featurizer that bridges raw
    text into a vector space: token → bucket via md5 mod ``n_buckets``,
    ``weight(doc, b) = tf(doc, b) · ln(1 + N/df(b))``, L2-normalized per
    document.

    Output is the SPARSE row form ``(doc_id, bucket, weight)`` — the
    layout a downstream GEMM/join consumes directly and the one an
    order-insensitive oracle can hash (an array column would pin an
    ordering for no gain).  Plan: one corpus explode → (doc, bucket)
    count [one shuffle], bucket dfs as a ≤``n_buckets``-row broadcast
    aggregate, per-doc norm as a window over ≤``n_buckets`` rows per
    doc.  md5-based bucketing is engine-portable (same convention as
    the salted-md5 sampling ops), so two engines build bit-identical
    vectors."""
    bucket = (salted_md5_long(F.col("term")) % n_buckets).alias("bucket")
    tf = (
        documents.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .select("doc_id", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    n_docs = documents.select(
        F.count("*").cast("double").alias("n_docs")
    )
    dfs = tf.groupBy("bucket").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    weighted = (
        tf.join(F.broadcast(dfs), "bucket")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "bucket",
            (
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df"))
            ).alias("w"),
        )
    )
    norm = Window.partitionBy("doc_id")
    return (
        weighted.withColumn(
            "w", F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(norm))
        )
        .select(
            "doc_id",
            F.col("bucket").cast("long").alias("bucket"),
            F.round("w", 6).alias("weight"),
        )
    )


DOC_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t.term), 1, 15)) AS BIGINT)
           % {TFIDF_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, unnest({DD_TOKENS.format(t="text")}) AS term
    FROM documents
  ) t
),
tf AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS tf
  FROM toks GROUP BY doc_id, bucket
),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
dfs AS (
  SELECT bucket, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY bucket
),
w AS (
  SELECT t.doc_id, t.bucket,
         t.tf * ln(1.0 + n.n_docs / d.df) AS w
  FROM tf t JOIN dfs d USING (bucket) CROSS JOIN n
),
nrm AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w GROUP BY doc_id
)
SELECT w.doc_id, w.bucket, round(w.w / nrm.nn, 6) AS weight
FROM w JOIN nrm USING (doc_id)
"""


TFIDF_KNN_K = 5

# Ceiling on the sparse bucket join's INTERMEDIATE row count
# (Σ_b df_b² — the exact size of a.join(b, "bucket")'s output before the
# pair aggregation).  SCALING finding 39 measured the join tier
# exhausting 80 GB of local disk at ~10¹⁰ rows; 2²⁸ (~2.7e8) keeps a
# ~40× safety margin while sitting far above fixture/bench scale
# (sf0.1 ≈ 6e6), so graded runs always keep the oracle-twinned plan.
SPARSE_PAIRS_CEILING = 2**28
# Densifying to the GEMM tier materializes n_buckets floats per doc;
# past 2^16 buckets a dense row is ≥256 KB and the dense path stops
# being the safe escape hatch — raise with guidance instead.
GEMM_MAX_DENSE_BUCKETS = 2**16
# Extra rows fetched past k+1 by the GEMM tier before its rounded
# re-rank, so neighbors whose ROUNDED sim ties the k-th but whose
# unrounded float32 rank falls just outside k+1 stay in the window.
GEMM_RERANK_MARGIN = 8


def doc_tfidf_knn(
    documents: DataFrame,
    k: int = TFIDF_KNN_K,
    n_buckets: int = TFIDF_BUCKETS,
    max_join_pairs: int = SPARSE_PAIRS_CEILING,
    allow_gemm_dispatch: bool = True,
) -> DataFrame:
    """Top-k most-similar documents per document by COSINE over the
    hashed TF-IDF vectors — the model-free doc-similarity search that
    needs no embedding model: since ``doc_tfidf_vectors`` is already
    L2-normalized, cosine is a plain sparse dot product, computed as an
    inverted-index join on the bucket key (the BM25 posting discipline
    — docs sharing zero buckets never pair).

    Cross-engine exactness: the dot product runs over the ROUNDED
    6-decimal weights (bit-identical inputs on both engines), and
    ranking keys on ``round(sim, 6)`` with neighbor-id tie-break, so
    join-order float noise (~1e-16) can never flip a rank.

    Size-aware routing (finding 39, now code instead of prose): the
    sparse join's intermediate is EXACTLY ``Σ_b df_b²`` rows, computed
    here from a ≤``n_buckets``-row aggregate over the (checkpointed)
    vector table before the join is ever planned.  Under
    ``max_join_pairs`` the oracle-twinned sparse plan runs; over it the
    call dispatches to ``doc_tfidf_knn_gemm`` (same output contract;
    sims from float32 GEMM, ≤1e-6 off the sparse float64 dots — a
    TOLERANCE change, so never silent: a ``RuntimeWarning`` names both
    tiers, and ``allow_gemm_dispatch=False`` raises at the boundary
    instead — the ``similarity_pairs`` dispatch discipline).  At the
    measured 100k-doc scale the sparse shape shuffles ~10¹⁰ rows and
    exhausts local disk while the GEMM twin finishes (finding 39).

    The vector table is eagerly checkpointed on the estimator path: the
    self-join consumes it twice and the estimator once, and Catalyst
    does not dedupe the common subplan — one corpus scan instead of
    three.  Fixture-scale fast path (r16, r15 verdict task 5): when the
    corpus is small enough that even the WORST-CASE join volume
    (``Σ_b df_b² ≤ N²·n_buckets`` — every doc colliding with every
    other in every bucket) provably fits under ``max_join_pairs``, the
    estimator job and the checkpoint are both skipped; the guard itself
    is a BOUNDED probe (r16 advisor) — ``limit(t+1).count()`` with
    ``t = isqrt(max_join_pairs / n_buckets)`` the largest corpus whose
    worst case provably fits — so deciding the tier never scans more
    than ``t+1`` rows even over an expensive non-parquet upstream plan
    (a full ``count()`` would evaluate the whole plan just to learn the
    answer is "too big")."""
    import math

    from pyspark.sql import Window

    t = math.isqrt(max(0, int(max_join_pairs) // max(1, int(n_buckets))))
    n_docs = documents.limit(t + 1).count()
    if n_docs <= t:
        v = doc_tfidf_vectors(documents, n_buckets)
        est = None  # provably under the ceiling — sparse plan guaranteed
    else:
        v = doc_tfidf_vectors(documents, n_buckets).localCheckpoint(
            eager=True
        )
        est = (
            v.groupBy("bucket")
            .agg(F.count("*").alias("df"))
            .agg(F.sum(F.col("df") * F.col("df")).alias("pairs"))
            .collect()[0]["pairs"]
        )
    if est is not None and int(est) > int(max_join_pairs):
        if not allow_gemm_dispatch:
            raise ValueError(
                "doc_tfidf_knn: the sparse bucket join would materialize "
                f"~{int(est):,} intermediate rows (> max_join_pairs="
                f"{int(max_join_pairs):,}; finding 39 measured this shape "
                "exhausting local disk at ~1e10). Re-call with "
                "allow_gemm_dispatch=True to route to doc_tfidf_knn_gemm, "
                "or raise max_join_pairs explicitly."
            )
        if n_buckets > GEMM_MAX_DENSE_BUCKETS:
            raise ValueError(
                "doc_tfidf_knn: join volume exceeds max_join_pairs but "
                f"n_buckets={n_buckets} > {GEMM_MAX_DENSE_BUCKETS} makes "
                "the dense GEMM escape hatch itself oversize (≥256 KB/row "
                "dense vectors). Shrink n_buckets, cap the corpus, or use "
                "bm25_topk's df-cap / PPJoin prefix-filter disciplines."
            )
        import warnings

        warnings.warn(
            "doc_tfidf_knn: sparse bucket join would materialize "
            f"~{int(est):,} intermediate rows (> max_join_pairs="
            f"{int(max_join_pairs):,}); dispatching to the dense block-"
            "GEMM tier (doc_tfidf_knn_gemm). Output contract is "
            "unchanged; sims come from float32 GEMM (<=1e-6 off the "
            "sparse float64 dots). Pass allow_gemm_dispatch=False to "
            "raise instead, or raise max_join_pairs explicitly.",
            RuntimeWarning,
            stacklevel=2,
        )
        return doc_tfidf_knn_gemm(
            documents, k=k, n_buckets=n_buckets, cells=v
        )
    a = v.select(
        F.col("doc_id").alias("doc_id"), "bucket", F.col("weight").alias("wa")
    )
    b = v.select(
        F.col("doc_id").alias("neighbor_id"),
        "bucket",
        F.col("weight").alias("wb"),
    )
    sims = (
        a.join(b, "bucket")
        .filter(F.col("doc_id") != F.col("neighbor_id"))
        .groupBy("doc_id", "neighbor_id")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 6).alias("sim"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "neighbor_id", "rank", "sim")
    )


def doc_tfidf_knn_gemm(
    documents: DataFrame,
    k: int = TFIDF_KNN_K,
    n_buckets: int = 256,
    q_blocks: int = 4,
    v_blocks: int = 4,
    cells: DataFrame | None = None,
) -> DataFrame:
    """``doc_tfidf_knn`` through the DENSE block-GEMM tier — the scale
    path for all-pairs document similarity.  The sparse bucket join is
    the right plan while posting lists stay short, but all-pairs top-k
    is inherently |pairs-sharing-a-bucket|-bounded: at 100k docs even
    n_buckets = 4096 makes nearly every doc pair share buckets, and the
    join materializes ~10¹⁰ shuffle rows (measured: exhausts local disk
    — SCALING finding 39).  Assembling the hashed vectors into dense
    ``n_buckets``-dim arrays and riding ``knn_exact_distributed``'s
    block cogroup turns the same 10¹⁰ interactions into tiled GEMM
    FLOPs with ``|Q|·v_blocks + N·q_blocks`` shuffle rows — the
    finding-28/31 machinery, already exactness-gated at 1M.

    Output contract matches ``doc_tfidf_knn`` (doc_id, neighbor_id,
    rank, sim) with sim from the float32 GEMM (≤1e-6 off the sparse
    join's float64 dots — rank agreement pytest-gated; the sparse tier
    stays the oracle-graded twin)."""
    from vector_search_engine_spark.operators import knn as knn_ops

    # ``cells`` lets the doc_tfidf_knn dispatcher hand over its already-
    # checkpointed vector table instead of re-running the corpus scan.
    if cells is None:
        cells = doc_tfidf_vectors(documents, n_buckets)
    m = F.map_from_arrays(F.collect_list("bucket"), F.collect_list("weight"))
    dense = (
        cells.groupBy("doc_id")
        .agg(m.alias("_m"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("long")), F.lit(0.0)
                ),
            )
            .cast("array<float>")
            .alias("embedding"),
        )
    )
    queries = dense.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )
    res = knn_ops.knn_exact_distributed(
        dense,
        queries,
        # +1 drops the self-pair; the extra GEMM_RERANK_MARGIN rows give
        # the rounded re-rank below a tie window: the block kernel's
        # internal cut ranks on UNROUNDED float32, so a neighbor whose
        # rounded sim ties the k-th could otherwise sit just outside a
        # bare k+1 fetch (r16 advisor fix)
        k=k + 1 + GEMM_RERANK_MARGIN,
        metric="cosine",
        q_blocks=q_blocks,
        v_blocks=v_blocks,
        round_output=False,
    )
    # Match the sparse tier's ROW SET and tie-break semantics: the
    # sparse join/oracle structurally never materializes zero-overlap
    # pairs, so drop them here on UNROUNDED sim — TF-IDF weights are
    # nonnegative, so a zero-overlap pair's float32 dot is EXACTLY 0.0
    # (every addend is 0) while any shared-bucket pair is > 0; rounding
    # before this filter would also drop shared-bucket pairs whose true
    # positive cosine rounds to 0 at 6dp, which the sparse tier keeps
    # (r16 advisor fix).  Ranking then keys on round(sim, 6) like the
    # sparse tier.  Residual tolerance, documented not hidden: ties in
    # rounded sim deeper than GEMM_RERANK_MARGIN beyond k+1 in the
    # unrounded float32 order could still admit a different (equal-sim)
    # neighbor than the sparse tier's global rounded ranking.
    w = Window.partitionBy("qid").orderBy(
        F.round("sim", 6).desc(), "neighbor_id"
    )
    return (
        res.filter(F.col("qid") != F.col("neighbor_id"))
        .filter(F.col("sim") > 0)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("doc_id"),
            "neighbor_id",
            "rank",
            F.round("sim", 6).alias("sim"),
        )
    )


DOC_TFIDF_KNN_ORACLE = f"""
WITH v AS ({DOC_TFIDF_ORACLE}),
sims AS (
  SELECT a.doc_id, b.doc_id AS neighbor_id,
         round(sum(a.weight * b.weight), 6) AS sim
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
r AS (
  SELECT doc_id, neighbor_id, sim,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY sim DESC, neighbor_id ASC
         ) AS "rank"
  FROM sims
)
SELECT doc_id, neighbor_id, "rank", sim
FROM r WHERE "rank" <= {TFIDF_KNN_K}
"""


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_DD_QUERY_TERMS = ", ".join(
    f"({qid}, '{t}')" for qid, terms in QUERY_TERMS_FIXTURE for t in terms
)


def _dd_bm25_ranked(
    query_terms_values: str = _DD_QUERY_TERMS,
    max_df_fraction: float | None = None,
) -> str:
    """The shared CTE body computing the full BM25 ranking (unlimited
    depth); callers append their own rank cutoff.  Mirrors the engine's
    df-first structure: df comes from a distinct-(doc, term) pre-pass
    and the optional ``max_df_fraction`` guard drops common terms before
    the postings aggregation — the oracle stays equivalent at ANY cap
    because both sides evaluate the identical ``df <= fraction · N``
    predicate on the same integers."""
    kept = (
        "SELECT d.term FROM dfs d CROSS JOIN stats s "
        f"WHERE d.df <= {max_df_fraction!r} * s.n_docs"
        if max_df_fraction is not None
        else "SELECT term FROM dfs"
    )
    return f"""
q(query_id, term) AS (VALUES {query_terms_values}),
lens AS (
  SELECT doc_id, len({DD_TOKENS.format(t="text")})::BIGINT AS dl
  FROM documents
),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM lens),
dfs AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df
  FROM (
    SELECT doc_id, unnest({DD_TOKENS.format(t="text")}) AS term
    FROM documents
  ) p
  WHERE p.term IN (SELECT DISTINCT term FROM q)
  GROUP BY term
),
kept AS ({kept}),
posts AS (
  SELECT l.doc_id, l.dl, p.term, count(*)::BIGINT AS tf
  FROM (
    SELECT doc_id, unnest({DD_TOKENS.format(t="text")}) AS term
    FROM documents
  ) p
  JOIN lens l USING (doc_id)
  WHERE p.term IN (SELECT term FROM kept)
  GROUP BY l.doc_id, l.dl, p.term
),
scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {BM25_K1 + 1.0}
           / (p.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * p.dl / s.avgdl))
         ), {SCORE_DECIMALS}) AS bm25
  FROM posts p
  JOIN q ON p.term = q.term
  JOIN dfs d ON p.term = d.term
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id, bm25,
         row_number() OVER (
           PARTITION BY query_id ORDER BY bm25 DESC, doc_id
         ) AS "rank"
  FROM scored
)
"""

_DD_BM25_RANKED = _dd_bm25_ranked()

BM25_TOPK_ORACLE = f"""
WITH {_DD_BM25_RANKED}
SELECT query_id, doc_id, "rank", bm25 FROM ranked WHERE "rank" <= 10
"""

# Fixture for the df-capped (stopword-pruned) BM25 variant: the synthetic
# corpus has exactly one rare term ('dup', df ≈ 0.05·N — TESTDATA.md) and
# ~30 stopword-common terms (df ≈ 0.78·N), so a 0.5 cap drops every
# common term and ranks on the discriminative one — the guard's intended
# behavior, graded end-to-end.
BM25_MAX_DF_FRACTION = 0.5
CAPPED_QUERY_TERMS_FIXTURE: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("dup", "join")),
    (1, ("dup", "the", "scan")),
)

_DD_CAPPED_QUERY_TERMS = ", ".join(
    f"({qid}, '{t}')"
    for qid, terms in CAPPED_QUERY_TERMS_FIXTURE
    for t in terms
)

BM25_TOPK_CAPPED_ORACLE = f"""
WITH {_dd_bm25_ranked(_DD_CAPPED_QUERY_TERMS, BM25_MAX_DF_FRACTION)}
SELECT query_id, doc_id, "rank", bm25 FROM ranked WHERE "rank" <= 10
"""


def make_capped_term_queries(spark: SparkSession) -> DataFrame:
    """The capped-BM25 fixture as an exploded (query_id, term) frame."""
    rows = [
        (qid, t)
        for qid, terms in CAPPED_QUERY_TERMS_FIXTURE
        for t in terms
    ]
    return spark.createDataFrame(rows, "query_id long, term string")

# DuckDB float64 squared-L2 (the registry's _DD_L2SQ twin, inlined here to
# keep module dependencies acyclic — registry imports operators).
_DD_L2SQ_LOCAL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2))"
)

_N_HYBRID_QUERIES = len(QUERY_TERMS_FIXTURE)

# Fixture weights for the weighted-fusion oracle query (exact binary
# doubles so engine/oracle literals are bit-identical).
HYBRID_W_LEX = 2.0
HYBRID_W_VEC = 1.0


def _hybrid_ctes(w_lex: float, w_vec: float) -> str:
    """The shared CTE chain computing the fused hybrid ranking (rr) —
    composed into the fusion oracles and the retrieval-eval oracle."""
    return f"""{_DD_BM25_RANKED},
ltop AS (
  SELECT query_id, doc_id, "rank" AS lrank FROM ranked
  WHERE "rank" <= {HYBRID_DEPTH}
),
vecq AS (
  SELECT vec_id AS query_id, embedding AS query FROM embeddings
  WHERE vec_id < {_N_HYBRID_QUERIES}
),
vd AS (
  SELECT vq.query_id, e.vec_id AS doc_id,
         row_number() OVER (
           PARTITION BY vq.query_id
           ORDER BY {_DD_L2SQ_LOCAL.format(a="e.embedding", b="vq.query")},
                    e.vec_id
         ) AS vrank
  FROM embeddings e CROSS JOIN vecq vq
),
vtop AS (SELECT query_id, doc_id, vrank FROM vd WHERE vrank <= {HYBRID_DEPTH}),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         round(coalesce({w_lex!r} / ({RRF_K}.0 + l.lrank), 0.0)
               + coalesce({w_vec!r} / ({RRF_K}.0 + v.vrank), 0.0), 6) AS rrf
  FROM ltop l
  FULL OUTER JOIN vtop v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
),
rr AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, doc_id
         ) AS "rank"
  FROM fused
)"""


def _hybrid_rrf_oracle(w_lex: float, w_vec: float) -> str:
    return f"""
WITH {_hybrid_ctes(w_lex, w_vec)}
SELECT query_id, doc_id, "rank", rrf FROM rr WHERE "rank" <= 10
"""


HYBRID_RRF_ORACLE = _hybrid_rrf_oracle(1.0, 1.0)
HYBRID_RRF_WEIGHTED_ORACLE = _hybrid_rrf_oracle(HYBRID_W_LEX, HYBRID_W_VEC)

# CombSUM (min-max normalized) fusion oracle: the same two top-depth
# lists, each min-max normalized per query before the weighted sum.
# The vector list carries round(dist, 4) to match the engine's rounded
# dist_sq (knn.DIST_DECIMALS) so both sides normalize identical doubles.
HYBRID_COMBSUM_ORACLE = f"""
WITH {_DD_BM25_RANKED},
ltop AS (
  SELECT query_id, doc_id, bm25 FROM ranked WHERE "rank" <= {HYBRID_DEPTH}
),
lnorm AS (
  SELECT query_id, doc_id,
         CASE WHEN max(bm25) OVER (PARTITION BY query_id)
                   > min(bm25) OVER (PARTITION BY query_id)
              THEN (bm25 - min(bm25) OVER (PARTITION BY query_id))
                   / (max(bm25) OVER (PARTITION BY query_id)
                      - min(bm25) OVER (PARTITION BY query_id))
              ELSE 1.0 END AS nlex
  FROM ltop
),
vecq AS (
  SELECT vec_id AS query_id, embedding AS query FROM embeddings
  WHERE vec_id < {_N_HYBRID_QUERIES}
),
vd AS (
  SELECT vq.query_id, e.vec_id AS doc_id,
         round({_DD_L2SQ_LOCAL.format(a="e.embedding", b="vq.query")}, 4)
           AS dist,
         row_number() OVER (
           PARTITION BY vq.query_id
           ORDER BY {_DD_L2SQ_LOCAL.format(a="e.embedding", b="vq.query")},
                    e.vec_id
         ) AS vrank
  FROM embeddings e CROSS JOIN vecq vq
),
vtop AS (SELECT query_id, doc_id, dist FROM vd WHERE vrank <= {HYBRID_DEPTH}),
vnorm AS (
  SELECT query_id, doc_id,
         CASE WHEN max(dist) OVER (PARTITION BY query_id)
                   > min(dist) OVER (PARTITION BY query_id)
              THEN (max(dist) OVER (PARTITION BY query_id) - dist)
                   / (max(dist) OVER (PARTITION BY query_id)
                      - min(dist) OVER (PARTITION BY query_id))
              ELSE 1.0 END AS nvec
  FROM vtop
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         round(1.0 * coalesce(l.nlex, 0.0)
               + 1.0 * coalesce(v.nvec, 0.0), 6) AS score
  FROM lnorm l
  FULL OUTER JOIN vnorm v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
),
rr AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS "rank"
  FROM fused
)
SELECT query_id, doc_id, "rank", score FROM rr WHERE "rank" <= 10
"""

# Eval of the (unweighted) hybrid run against vector-exact top-10 qrels:
# run and qrels reuse the same CTE chain the fusion oracle uses.
RETRIEVAL_EVAL_ORACLE = f"""
WITH {_hybrid_ctes(1.0, 1.0)},
run AS (SELECT query_id, doc_id, "rank" AS rnk FROM rr WHERE "rank" <= 10),
qrels AS (SELECT query_id, doc_id FROM vd WHERE vrank <= 10),
h AS (
  SELECT q.query_id, q.doc_id, r.rnk
  FROM qrels q LEFT JOIN run r
    ON q.query_id = r.query_id AND q.doc_id = r.doc_id
),
perq AS (
  SELECT query_id,
         count(*)::BIGINT AS n_rel,
         sum(CASE WHEN rnk IS NOT NULL AND rnk <= 10 THEN 1 ELSE 0 END)::BIGINT
           AS hits_at_k,
         min(CASE WHEN rnk IS NOT NULL THEN rnk END) AS first_rank,
         sum(CASE WHEN rnk IS NOT NULL AND rnk <= 10
                  THEN 1.0 / log2(rnk + 1.0) ELSE 0.0 END) AS dcg
  FROM h GROUP BY query_id
)
SELECT query_id,
       round(hits_at_k / 10.0, 6) AS precision_at_k,
       round(hits_at_k / CAST(n_rel AS DOUBLE), 6) AS recall_at_k,
       round(coalesce(1.0 / first_rank, 0.0), 6) AS mrr,
       round(dcg / list_sum(list_transform(
               range(1, least(n_rel, 10) + 1),
               i -> 1.0 / log2(i + 1.0))), 6) AS ndcg_at_k
FROM perq
"""

_DD_DOT_LOCAL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)


def _mmr_oracle(k: int = 10, lam: float = 0.7, depth: int = HYBRID_DEPTH) -> str:
    """Unrolled-greedy MMR oracle (the PageRank-unroll precedent): step
    i's CTE anti-joins the selected set, takes max rounded cosine to it,
    and argmaxes the rounded MMR combination — replaying
    ``mmr_diversify``'s rounded-selection walk exactly.  ``repr`` floats
    keep the λ / (1−λ) literals bit-identical to the engine's."""
    lam_r, oml_r = repr(float(lam)), repr(1.0 - float(lam))
    na = _DD_DOT_LOCAL.format(a="a.embedding", b="a.embedding")
    nb = _DD_DOT_LOCAL.format(a="b.embedding", b="b.embedding")
    ab = _DD_DOT_LOCAL.format(a="a.embedding", b="b.embedding")
    cos = (
        f"CASE WHEN sqrt({na}) * sqrt({nb}) = 0 THEN 0.0 "
        f"ELSE {ab} / (sqrt({na}) * sqrt({nb})) END"
    )
    parts = [
        f"""
WITH {_hybrid_ctes(1.0, 1.0)},
shortlist AS MATERIALIZED (
  SELECT query_id, doc_id, rrf AS rel FROM rr WHERE "rank" <= {depth}
),
cand AS MATERIALIZED (
  SELECT s.query_id, s.doc_id, s.rel, e.embedding
  FROM shortlist s JOIN embeddings e ON s.doc_id = e.vec_id
),
csim AS MATERIALIZED (
  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
         round({cos}, 6) AS s
  FROM cand a JOIN cand b ON a.query_id = b.query_id
),
s1 AS MATERIALIZED (
  SELECT query_id, doc_id, mmr FROM (
    SELECT query_id, doc_id, round({lam_r} * rel, 6) AS mmr,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY round({lam_r} * rel, 6) DESC, doc_id
           ) AS rn
    FROM cand) t WHERE rn = 1
)"""
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, doc_id FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f""",
sel{i - 1} AS MATERIALIZED ({prev}),
m{i} AS (
  SELECT c.query_id, c.doc_id,
         round({lam_r} * c.rel - {oml_r} * greatest(max(cs.s), 0.0), 6) AS mmr
  FROM cand c
  JOIN sel{i - 1} sl ON sl.query_id = c.query_id
  JOIN csim cs ON cs.query_id = c.query_id AND cs.db = c.doc_id
       AND cs.da = sl.doc_id
  LEFT JOIN sel{i - 1} x
    ON x.query_id = c.query_id AND x.doc_id = c.doc_id
  WHERE x.doc_id IS NULL
  GROUP BY c.query_id, c.doc_id, c.rel
),
s{i} AS MATERIALIZED (
  SELECT query_id, doc_id, mmr FROM (
    SELECT query_id, doc_id, mmr,
           row_number() OVER (
             PARTITION BY query_id ORDER BY mmr DESC, doc_id
           ) AS rn
    FROM m{i}) t WHERE rn = 1
)"""
        )
    final = "\nUNION ALL\n".join(
        f'SELECT query_id, doc_id, {i} AS "rank", mmr AS mmr_score FROM s{i}'
        for i in range(1, k + 1)
    )
    parts.append(f"\n{final}")
    return "".join(parts)


MMR_ORACLE = _mmr_oracle()
