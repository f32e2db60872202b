#!/usr/bin/env python3
"""Scale stress harness (SCALING.md's data source): run the headline
dedup/ANN operators on a deterministic synthetic corpus 20-50x the bench
fixture and print one JSON line of timings.

Corpus (derived from sf0.1, fully deterministic):
  * documents: every sf0.1 doc x N_VARIANTS near-identical variants
    (one extra variant token appended) -> a worst-case dense-duplicate
    corpus with ~|docs| * C(N_VARIANTS,2) true near-dup pairs;
  * embeddings: N_VECS unit-normalized 64-dim vectors, seeded RNG (no
    planted structure -> LSH verify stage sees pure noise).

Usage:
    python scripts/scale_stress.py [--ppjoin]   # ppjoin tier is ~4 min extra
    python scripts/scale_stress.py --only-docs  # document-op section only
    python scripts/scale_stress.py --only-vecs  # vector-op section only
    python scripts/scale_stress.py --only-<section>  # one finding's
        # section (see _SECTIONS for the flags, e.g. --only-sift-merged)
    python scripts/scale_stress.py --help       # this text; starts nothing
    [--out FILE] also writes the JSON line to FILE; --churn-modes X picks
    the --only-churn modes.  Any other argument exits 2 with this text.

Treat ratios, not absolutes (box variance 2-5x run-to-run); compare
against the table in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_search_engine_spark import load_table
from vector_search_engine_spark.operators import dedup as dedup_ops
from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators import text_ops as txt_ops
from vector_search_engine_spark.operators.ivf import IVFIndex
from vector_search_engine_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_VARIANTS = 20
N_VECS = 100_000
DIM = 64


def _emit(payload: dict) -> None:
    """Print the section result AND, when --out FILE is given, write it
    via json.dump — rung artifacts must parse with json.load (r15
    verdict task 4: tee'd stdout interleaves JVM GC warnings)."""
    print(json.dumps(payload))
    if "--out" in sys.argv:
        with open(sys.argv[sys.argv.index("--out") + 1], "w") as f:
            json.dump(payload, f, indent=1)


def timed(results: dict, name: str, fn):
    t0 = time.time()
    out = fn()
    results[name] = {"sec": round(time.time() - t0, 2), "rows": out}
    print(f"  {name}: {results[name]}", file=sys.stderr)


def _usage_exit(msg: str) -> None:
    print(f"scale_stress.py: {msg}\n{__doc__}", file=sys.stderr)
    sys.exit(2)


def _section_flag(argv: list[str]) -> str | None:
    """The one ``--only-*`` section flag of ``argv`` (None: the full
    run).  Any other argument but ``--ppjoin``, ``--out FILE`` and
    ``--churn-modes X`` prints the usage to stderr and exits 2, so a
    mistyped flag never falls through to the full stress run."""
    flags, i = [], 0
    while i < len(argv):
        a = argv[i]
        if a in ("--out", "--churn-modes"):
            if i + 1 == len(argv):
                _usage_exit(f"{a} needs a value")
            i += 2
            continue
        if a in _SECTIONS or a in _DOC_SECTIONS:
            flags.append(a)
        elif a != "--ppjoin":
            _usage_exit(f"unknown argument {a!r}")
        i += 1
    if len(flags) > 1:
        _usage_exit(f"more than one section flag: {' '.join(flags)}")
    return flags[0] if flags else None


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if {"-h", "--help"} & set(argv):
        print(__doc__)
        return
    flag = _section_flag(argv)
    spark = get_spark("vse-scale-stress")
    results: dict = {}
    if flag in _SECTIONS:
        run, payload = _SECTIONS[flag]
        run(spark, results)
        if payload == "n_vecs":
            _emit({"n_vecs": N_VECS, "results": results})
        elif payload == "results":
            _emit({"results": results})
        return

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs = (
        base.crossJoin(
            spark.range(N_VARIANTS).select(F.col("id").alias("_v"))
        )
        .select(
            (F.col("doc_id") * N_VARIANTS + F.col("_v")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" variant"), F.col("_v")).alias(
                "text"
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
        )
        .cache()
    )
    n_docs = docs.count()
    print(f"stress corpus: {n_docs} documents", file=sys.stderr)

    if flag in ("--only-fn", "--only-overlap"):
        _DOC_SECTIONS[flag](results, docs)
        _emit(({"n_docs": n_docs, "results": results}))
        return

    timed(results, "exact_dedup", lambda: dedup_ops.exact_dedup(docs).count())
    # r9: arriving-batch dedup against the seen corpus's signatures —
    # one hash-distinct + digest-keyed join + batch-local window
    timed(
        results,
        "incremental_dedup",
        lambda: dedup_ops.incremental_dedup(
            docs.filter(F.col("doc_id") % 3 == 0),
            docs.filter(F.col("doc_id") % 3 != 0),
        ).count(),
    )
    timed(
        results,
        "minhash_lsh_pairs",
        lambda: dedup_ops.minhash_lsh_pairs(docs).count(),
    )
    timed(
        results, "simhash_pairs", lambda: dedup_ops.simhash_pairs(docs).count()
    )
    timed(
        results,
        "ngram_jaccard_pairs",
        lambda: dedup_ops.ngram_jaccard_pairs(docs).count(),
    )
    if "--ppjoin" in argv:
        timed(
            results,
            "ngram_jaccard_pairs_ppjoin",
            lambda: dedup_ops.ngram_jaccard_pairs_ppjoin(docs).count(),
        )

    # round-6 text-pipeline passes: the zero-shuffle scans should scale
    # linearly; the postings-join ops (dup spans, unigrams, ngram stats)
    # carry one-to-two hash-key shuffles whose cost this pins at 100k
    from vector_search_engine_spark.operators import text_ops

    timed(
        results,
        "quality_filter",
        lambda: text_ops.quality_filter(docs).count(),
    )
    timed(results, "pii_scrub", lambda: text_ops.pii_scrub(docs).count())
    timed(
        results,
        "dup_span_stats",
        lambda: text_ops.dup_span_stats(docs).count(),
    )
    timed(
        results,
        "unigram_stats",
        lambda: text_ops.unigram_stats(docs).count(),
    )
    timed(
        results, "ngram_stats", lambda: text_ops.ngram_stats(docs).count()
    )

    # Composed end-to-end pipeline (registry pipeline_neardup_corpus shape):
    # shingle -> Jaccard pairs -> iterative connected components -> quality
    # gate, all over the same cached scan.  Components are individually
    # stressed above; the composition (two joins + CC rounds sharing the
    # corpus) is where memory pressure would actually surface at scale.
    from vector_search_engine_spark.operators import graph as graph_ops

    cc_stats: dict = {}

    def neardup_pipeline() -> int:
        pdocs = docs.withColumn(
            "lang",
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        )
        stats = text_ops.doc_stats(pdocs)
        pairs = dedup_ops.ngram_jaccard_pairs(pdocs)
        comp = graph_ops.connected_components(
            pairs.select(
                F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
            ),
            stats_out=cc_stats,
        )
        labeled = (
            pdocs.select("doc_id")
            .join(comp, pdocs["doc_id"] == comp["node"], "left")
            .select(
                "doc_id", F.coalesce("component", "doc_id").alias("cluster_id")
            )
        )
        kept = stats.join(
            labeled.filter(F.col("doc_id") == F.col("cluster_id")).select(
                "doc_id"
            ),
            "doc_id",
        ).filter(F.col("quality_score") >= 0.5)
        out = kept.groupBy("lang").agg(
            F.count("*").alias("n_docs_kept"), F.sum("n_tokens").alias("toks")
        )
        return out.count()

    # r8: lexical retrieval over the stress corpus — the postings shuffle
    # is pre-filtered to the broadcast query-term set, so cost should
    # track matched postings, not corpus tokens
    from vector_search_engine_spark.operators import retrieval

    timed(
        results,
        "bm25_topk",
        lambda: retrieval.bm25_topk(
            docs, retrieval.make_term_queries(spark), k=10
        ).count(),
    )
    # r9: the df-capped form on the SAME common-term fixture — the guard
    # drops stopword-common terms (df > 0.5·N) before the postings
    # aggregation, so the degenerate O(corpus) shuffle above collapses
    # to the rare-term postings only (SCALING finding 11 re-measure)
    timed(
        results,
        "bm25_topk_capped",
        lambda: retrieval.bm25_topk(
            docs,
            retrieval.make_term_queries(spark),
            k=10,
            max_df_fraction=retrieval.BM25_MAX_DF_FRACTION,
        ).count(),
    )

    timed(results, "pipeline_neardup_corpus", neardup_pipeline)
    results["pipeline_neardup_corpus"]["cc_rounds"] = cc_stats.get("rounds")

    # r10: exact-substring span dedup at 100k (Lee et al. 2022 shape) —
    # pins the postings volume (every length-n token window posts one
    # (doc, pos, md5) row), the gaps-and-islands window-merge wall, and
    # the one-co-partitioned-join clean pass over the same corpus
    postings_volume = docs.select(
        F.sum(
            F.greatest(
                F.size(text_ops.tokens(F.col("text")))
                - text_ops.DUP_SPAN_N
                + 1,
                F.lit(0),
            )
        ).alias("v")
    ).collect()[0]["v"]
    timed(
        results,
        "substring_spans",
        lambda: text_ops.substring_spans(docs).count(),
    )
    results["substring_spans"]["postings_volume"] = int(postings_volume)
    # force the clean text itself (sum of output lengths), not count():
    # the left join preserves row count, so Catalyst's outer-join
    # elimination would make a count() measurement vacuous
    timed(
        results,
        "substring_dedup_clean",
        lambda: int(
            text_ops.substring_dedup_clean(docs)
            .agg(F.sum(F.length("clean_text")).alias("b"))
            .collect()[0]["b"]
        ),
    )

    # r10: Ed-Join edit-distance similarity join — strings are the docs'
    # 24-char natural-language prefixes (Zipfian gram frequencies: a few
    # very common q-grams, a long rare tail — exactly the regime the
    # df-ascending prefix order is the skew guard for) plus a per-variant
    # suffix so near-duplicate groups sit within ED<=k of each other.
    # candidate_pairs (pre-verification) is the prefix filter's measured
    # selectivity: the claim to confirm is candidates ~ O(k*q*N*group),
    # orders of magnitude under the N^2 cross product, at BOTH sizes.
    from vector_search_engine_spark.operators import simjoin

    def ed_strings(n_variants: int):
        return docs.filter(F.col("doc_id") % N_VARIANTS < n_variants).select(
            F.col("doc_id").alias("key"),
            F.concat(
                F.lower(F.substring("text", 1, 24)),
                F.lit(" v"),
                (F.col("doc_id") % N_VARIANTS).cast("string"),
            ).alias("s"),
        )

    for nv in (N_VARIANTS // 2, N_VARIANTS):
        st: dict = {}
        name = f"edit_distance_pairs_{nv * (n_docs // N_VARIANTS)}"
        timed(
            results,
            name,
            lambda nv=nv, st=st: simjoin.edit_distance_pairs(
                ed_strings(nv), k=2, q=2, stats_out=st
            ).count(),
        )
        results[name]["candidate_pairs"] = st.get("candidate_pairs")
        results[name]["n_strings"] = nv * (n_docs // N_VARIANTS)

    # r10: the dup-heavy shape the distinct-universe plan exists for —
    # suffix-FREE prefixes give 20 byte-identical copies of each base
    # string (~5k distinct of 100k keys); dedupe_exact runs the gram
    # join over the distinct universe and expands matches back, so
    # candidates collapse from the suffixed fixture's ~878M to the
    # distinct universe's ~1.5M (SCALING finding 16's measured win)
    st_dup: dict = {}
    dup_strs = docs.select(
        F.col("doc_id").alias("key"),
        F.lower(F.substring("text", 1, 24)).alias("s"),
    )
    timed(
        results,
        "edit_distance_pairs_dupheavy_100k",
        lambda: simjoin.edit_distance_pairs(
            dup_strs, k=2, q=2, stats_out=st_dup
        ).count(),
    )
    results["edit_distance_pairs_dupheavy_100k"]["candidate_pairs"] = (
        st_dup.get("candidate_pairs")
    )

    _fngrams_section(results, docs)

    docs.unpersist()

    if flag == "--only-docs":
        _emit(({"n_docs": n_docs, "results": results}))
        return
    _vector_section(spark, results, n_docs)


def _overlap_section(results: dict, docs) -> None:
    """Finding-27 data source (r11 verdict stretch item 8): the
    cross-source overlap matrix at PRODUCTION source counts.  The exact
    path's per-shingle pair volume is bounded by C(S,2); the fixture has
    S=20 where that bound never bites — here the 100k-doc stress corpus
    re-sources into S=500 (every base doc's 20 variants land in 20
    different sources, so cross-source overlap is dense and hot
    stopword shingles approach the full C(500,2)=124,750 pair fan-out).
    Measures exact vs bottom-k sketch wall AND the estimator's error
    against the exact matrix on the identical input — the handoff point
    the operator docstrings assert."""
    d500 = docs.withColumn(
        "source",
        F.concat(F.lit("s"), (F.col("doc_id") % 500).cast("string")),
    )
    out: dict = {"n_sources": 500}
    t0 = time.time()
    exact = {
        (r["source_a"], r["source_b"]): r["jaccard"]
        for r in txt_ops.source_overlap(d500).collect()
    }
    out["exact"] = {
        "sec": round(time.time() - t0, 2), "pairs": len(exact)
    }
    print(f"  overlap exact S=500: {out['exact']}", file=sys.stderr)
    for k in (128, 256, 512):
        t0 = time.time()
        est = {
            (r["source_a"], r["source_b"]): r["jaccard_est"]
            for r in txt_ops.source_overlap_minhash(d500, k=k).collect()
        }
        errs = sorted(
            abs(est.get(p, 0.0) - j) for p, j in exact.items()
        )
        out[f"sketch_k{k}"] = {
            "sec": round(time.time() - t0, 2),
            "pairs": len(est),
            "mean_abs_err": round(float(np.mean(errs)), 4),
            "p95_abs_err": round(float(errs[int(0.95 * len(errs))]), 4),
            "max_abs_err": round(float(errs[-1]), 4),
        }
        print(f"  overlap sketch k={k}: {out[f'sketch_k{k}']}",
              file=sys.stderr)
    results["overlap_s500"] = out


def _fngrams_section(results: dict, docs) -> None:
    """r10 finding 18: exact frequent-ngram mining at 100k.

    Three regimes:
      * auto capacity (2N/threshold) at threshold 50 — baseline;
      * a FORCED capacity ~1.2N/threshold at threshold 200, small enough
        that the per-batch merge-prune path runs for real, big enough to
        keep the superset guarantee — asserted EXACT against a
        brute-force group-count at the same threshold;
      * the guarantee-violating config (threshold 50, capacity 20k,
        N/(cap+1) ~ 260 > 50) must RAISE, not return silently-short
        results — the failure mode the first run of this section caught.
    """
    from vector_search_engine_spark.operators import text_ops
    from vector_search_engine_spark.functions.text import tokens

    st_fn_auto: dict = {}
    st_fn_forced: dict = {}
    timed(
        results,
        "frequent_ngrams_auto_cap_t50",
        lambda: text_ops.frequent_ngrams(
            docs, threshold=50, stats_out=st_fn_auto
        ).count(),
    )
    n_grams = st_fn_auto["n_grams"]
    forced_cap = int(1.2 * n_grams / 200) + 1
    timed(
        results,
        "frequent_ngrams_forced_cap_t200",
        lambda: text_ops.frequent_ngrams(
            docs, threshold=200, capacity=forced_cap, stats_out=st_fn_forced
        ).count(),
    )

    def brute_t200() -> int:
        from pyspark.ml.feature import NGram

        g = NGram(n=3, inputCol="_toks", outputCol="_g").transform(
            docs.withColumn("_toks", tokens(F.col("text")))
        )
        return (
            g.select(F.explode("_g").alias("g"))
            .groupBy("g")
            .count()
            .filter(F.col("count") >= 200)
            .count()
        )

    timed(results, "frequent_ngrams_brute_t200", brute_t200)
    assert (
        results["frequent_ngrams_forced_cap_t200"]["rows"]
        == results["frequent_ngrams_brute_t200"]["rows"]
    ), "MG prune path changed the exact answer"

    def guard_raises() -> int:
        try:
            text_ops.frequent_ngrams(docs, threshold=50, capacity=20_000)
        except ValueError:
            return 1
        raise AssertionError("undersized capacity did not raise")

    timed(results, "frequent_ngrams_guard_raises", guard_raises)
    for nm, st in (
        ("frequent_ngrams_auto_cap_t50", st_fn_auto),
        ("frequent_ngrams_forced_cap_t200", st_fn_forced),
    ):
        results[nm].update(
            capacity=st.get("capacity"),
            n_candidates=st.get("n_candidates"),
            total_err=st.get("total_err"),
            n_grams=st.get("n_grams"),
            summary_rows=st.get("summary_rows"),
        )


def _vector_section(spark, results: dict, n_docs: int) -> None:
    from vector_search_engine_spark.operators import dedup as dedup_ops

    rng = np.random.default_rng(7)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(V)}
        )
    ).cache()
    emb.count()

    timed(
        results,
        "embedding_lsh_pairs",
        lambda: dedup_ops.embedding_lsh_pairs(emb, threshold=0.9).count(),
    )
    q = (np.arange(20, dtype=np.int64), V[:20])
    timed(
        results,
        "knn_exact_20q",
        lambda: knn_ops.knn_exact(emb, q, k=10).count(),
    )
    idx_dir = tempfile.mkdtemp(prefix="vse_stress_ivf_")
    holder: dict = {}

    def build():
        holder["idx"] = IVFIndex.build(emb, f"{idx_dir}/index")
        return holder["idx"].stats().count()

    timed(results, "ivf_build", build)
    idx = holder["idx"]
    nc = idx.meta["n_centroids"]
    timed(
        results,
        "ivf_search_nprobe8",
        lambda: idx.search(q, k=10, nprobe=8).count(),
    )
    timed(
        results,
        "ivf_search_full_probe",
        lambda: idx.search(q, k=10, nprobe=nc).count(),
    )
    # r10: PageRank over the 100k-node kNN graph, edges from the
    # documented scale path (search_distributed, nprobe=8: probe
    # assignment inside query partitions, shuffle join on centroid_id)
    # — pins the full coreset-scoring composition: graph build + 8
    # power iterations with per-iteration lineage cuts.
    graph_holder: dict = {}

    def _knn_pagerank() -> int:
        from vector_search_engine_spark.operators.graph import pagerank

        qall = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
        )
        nbrs = idx.search_distributed(qall, k=6, nprobe=8)
        edges = nbrs.filter(F.col("qid") != F.col("neighbor_id")).select(
            F.col("qid").alias("src"), F.col("neighbor_id").alias("dst")
        )
        # materialize once; pagerank re-checkpoints internally and the
        # triangle/LPA rows below reuse the SAME 500k-edge graph so the
        # three analytics are directly comparable (edge-build cost is
        # charged to this row, like the sidecar-build convention)
        graph_holder["edges"] = edges.localCheckpoint(eager=True)
        return pagerank(graph_holder["edges"], iterations=8).count()

    timed(results, "knn_pagerank_100k", _knn_pagerank)
    # r10 third wave: triangle structure + LPA communities over the
    # identical kNN graph (edge build amortized into the pagerank row)
    from vector_search_engine_spark.operators.graph import (
        label_propagation,
        triangle_counts,
    )

    timed(
        results,
        "knn_triangles_100k",
        lambda: triangle_counts(graph_holder["edges"]).count(),
    )
    timed(
        results,
        "knn_communities_100k",
        lambda: label_propagation(graph_holder["edges"], iterations=4)
        .select(F.countDistinct("community"))
        .collect()[0][0],
    )
    timed(
        results,
        "pq_sidecar_build",
        lambda: 1 if idx.ensure_pq(m=8) else 0,
    )
    timed(
        results,
        "pq_search_nprobe8",
        lambda: idx.search_pq(q, k=10, nprobe=8).count(),
    )
    timed(
        results,
        "pq_search_nprobe8_topc",
        lambda: idx.search_pq(
            q, k=10, nprobe=8, candidates_per_partition=160
        ).count(),
    )
    # r9: OPQ at 100k — rotation training (bounded driver sample,
    # alternating Lloyd + Procrustes) plus the full encode pass, then
    # the rotated ADC search (costs should track plain PQ: the rotation
    # is one broadcast matmul per batch)
    timed(
        results,
        "opq_sidecar_build",
        lambda: 1 if idx.ensure_pq(m=8, opq=True) else 0,
    )
    timed(
        results,
        "opq_search_nprobe8",
        lambda: idx.search_pq(q, k=10, nprobe=8, opq=True).count(),
    )

    # r8 tiers.  BQ: 1-bit scan + exact rescore (isotropic = worst-case
    # recall geometry; timing is the point here).  Prefix-bound tier:
    # measured in BOTH regimes — isotropic (degenerate: ~all survive,
    # should cost ~knn_exact) and a decaying spectrum (trained-embedding
    # shape: the bound prunes almost everything).
    from vector_search_engine_spark.operators import bq as bq_ops

    timed(
        results,
        "bq_rescore_20q",
        lambda: bq_ops.knn_bq_rescore(
            emb, q, k=10, candidates_per_partition=160
        ).count(),
    )
    timed(
        results,
        "prefix_rescore_isotropic_20q",
        lambda: knn_ops.knn_prefix_rescore(
            emb, q, k=10, prefix_dims=16
        ).count(),
    )
    Vd = (
        rng.normal(0, 1, (N_VECS, DIM)) * np.exp(-np.arange(DIM) / 6.0)
    ).astype(np.float32)
    embd = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(Vd)}
        )
    ).cache()
    embd.count()
    qd = (np.arange(20, dtype=np.int64), Vd[:20])
    timed(
        results,
        "knn_exact_decay_20q",
        lambda: knn_ops.knn_exact(embd, qd, k=10).count(),
    )
    timed(
        results,
        "prefix_rescore_decay_20q",
        lambda: knn_ops.knn_prefix_rescore(
            embd, qd, k=10, prefix_dims=16
        ).count(),
    )
    # SemDeDup at 100k: blocked by a synthetic ~316-cluster key (the IVF
    # cell id plays this role in production); one shuffle + per-cluster
    # GEMMs of ~316x316
    emb_lab = emb.withColumn("label", (F.col("vec_id") % 316).cast("int"))
    timed(
        results,
        "semantic_dedup_100k",
        lambda: dedup_ops.semantic_dedup(emb_lab, threshold=0.9).count(),
    )

    # r8 third wave.  SQ4: the 8× rung, same probed shape as SQ8.
    # Parent retrieval + MaxSim: 100k children → 316 parents; the partial
    # aggregation emits 316×|Q| rows per partition, so timing measures
    # the GEMM+reduce, not a shuffle.  Filtered planner: both routes.
    from vector_search_engine_spark.operators import multivec

    timed(
        results,
        "sq4_search_nprobe8",
        lambda: idx.search_sq8(q, k=10, nprobe=8, bits=4).count(),
    )
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(20, dtype=np.int64), "query": list(V[:20])})
    )
    timed(
        results,
        "parent_closest_100k",
        lambda: multivec.parent_closest(emb_lab, qdf, k=5).count(),
    )
    mq = spark.createDataFrame(
        pd.DataFrame(
            {
                "qid": (np.arange(20) // 5).astype(np.int64),
                "qvec_id": np.arange(20, dtype=np.int64),
                "query": list(V[:20]),
            }
        )
    )
    timed(
        results,
        "maxsim_100k",
        lambda: multivec.maxsim_topk(emb_lab, mq, k=5).count(),
    )
    idx_lab_dir = tempfile.mkdtemp(prefix="vse_stress_ivf_lab_")
    idx_lab = IVFIndex.build(
        emb_lab, f"{idx_lab_dir}/index", extra_cols=("label",)
    )
    timed(
        results,
        "filtered_auto_selective",
        lambda: idx_lab.search_filtered(
            q,
            k=10,
            nprobe=8,
            predicate=F.col("label") == 7,
            strategy="auto",
        ).count(),
    )
    timed(
        results,
        "filtered_auto_broad",
        lambda: idx_lab.search_filtered(
            q,
            k=10,
            nprobe=8,
            predicate=F.col("label") < 158,
            strategy="auto",
        ).count(),
    )

    _eps_section(spark, results)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_vecs": N_VECS,
                "results": results,
            }
        )
    )


def _pca_section(spark, results: dict) -> None:
    """Finding-24 data source: the PCA-rotated prefix tier at 100k, on
    BOTH regimes — correlated data (decaying spectrum hidden from the
    raw dims by a random mixing rotation: the tier's favorable case)
    and the isotropic fixture (flat spectrum: no rotation can compact
    it — the honest no-gain case).  Compares plain prefix vs PCA prefix
    vs full float probe: wall + the rotated-basis prefix energy."""
    from vector_search_engine_spark.operators.ivf import IVFIndex
    from vector_search_engine_spark.operators.pca import (
        explained_prefix_energy,
        pca_rotation,
    )

    rng = np.random.default_rng(17)
    dp = 8
    mix = np.linalg.qr(rng.normal(0, 1, (DIM, DIM)))[0]
    corpora = {
        "correlated": (
            rng.normal(0, 1, (N_VECS, DIM)) * np.exp(-np.arange(DIM) / 6.0)
        )
        @ mix,
        "isotropic": rng.normal(0, 1, (N_VECS, DIM)),
    }
    for tag, X in corpora.items():
        X = X.astype(np.float32)
        emb = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(N_VECS, dtype=np.int64),
                    "embedding": list(X),
                }
            )
        ).cache()
        emb.count()
        idx_dir = tempfile.mkdtemp(prefix=f"vse_stress_pca_{tag}_")
        idx = IVFIndex.build(emb, f"{idx_dir}/index")
        q = (np.arange(20, dtype=np.int64), X[:20].astype(np.float64))
        npb = 8
        sec: dict = {}
        R = pca_rotation(emb, vec_col="embedding")
        sec["prefix_energy_raw"] = round(
            explained_prefix_energy(X[:4096].astype(np.float64), np.eye(DIM), dp), 4
        )
        sec["prefix_energy_pca"] = round(
            explained_prefix_energy(X[:4096].astype(np.float64), R, dp), 4
        )
        idx.ensure_pca_rot()  # build charged separately from serving
        for name, fn in (
            ("float_probe", lambda: idx.search(q, k=10, nprobe=npb)),
            (
                "prefix",
                lambda: idx.search_prefix(q, k=10, nprobe=npb, prefix_dims=dp),
            ),
            (
                "prefix_pca",
                lambda: idx.search_prefix_pca(
                    q, k=10, nprobe=npb, prefix_dims=dp
                ),
            ),
        ):
            t0 = time.time()
            n = fn().count()
            sec[name] = {"sec": round(time.time() - t0, 2), "rows": n}
        results[tag] = sec
        print(f"  {tag}: {sec}", file=sys.stderr)
        emb.unpersist()
        import shutil

        shutil.rmtree(idx_dir, ignore_errors=True)


def _distq_merged_section(spark, results: dict) -> None:
    """Finding-28 data source (r13): the merged Q4 contract on the
    bulk-query path under LIVE state — 100k indexed + 5k delta inserts
    (1k of them upserts shadowing indexed ids) + 1k tombstones, a
    10k-row query table, nprobe=8, k=6.  Measures
    engine.search_distributed float vs sq8 wall (the anti-join +
    block-join delta overhead on top of finding 25's index-only
    numbers) and gates a 50-query exactness spot check against
    brute-force kNN over the latest-wins union at full probe."""
    import shutil

    from vector_search_engine_spark.streaming.engine import VectorEngine

    rng = np.random.default_rng(31)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)

    def df_of(ids: np.ndarray, W: np.ndarray):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": list(W)})
        )

    root = tempfile.mkdtemp(prefix="vse_stress_dqm_")
    eng = VectorEngine.create(
        df_of(np.arange(N_VECS, dtype=np.int64), V), f"{root}/engine"
    )
    # delta: 4k new + 1k upserts (ids 0..999 moved), then 1k deletes
    W_new = rng.normal(0, 1, (4_000, DIM)).astype(np.float32)
    W_new /= np.linalg.norm(W_new, axis=1, keepdims=True)
    eng.insert(df_of(N_VECS + np.arange(4_000, dtype=np.int64), W_new))
    W_up = rng.normal(0, 1, (1_000, DIM)).astype(np.float32)
    W_up /= np.linalg.norm(W_up, axis=1, keepdims=True)
    eng.insert(df_of(np.arange(1_000, dtype=np.int64), W_up))
    eng.delete(list(range(2_000, 3_000)))
    eng.index.ensure_sq8()  # sidecar build charged separately

    nq = 10_000
    Q = rng.normal(0, 1, (nq, DIM)).astype(np.float32)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {"qid": np.arange(nq, dtype=np.int64), "query": list(Q)}
        )
    ).cache()
    qdf.count()
    out: dict = {"nq": nq, "delta_rows": 5_000, "tombstones": 1_000}
    for tier in ("float", "sq8"):
        t0 = time.time()
        n = eng.search_distributed(qdf, k=6, nprobe=8, tier=tier).count()
        out[f"{tier}_wall_sec"] = round(time.time() - t0, 2)
        out[f"{tier}_rows"] = n
        print(f"  merged distq {tier}: {out[f'{tier}_wall_sec']}s",
              file=sys.stderr)
    # exactness spot check: 50 queries, full probe, vs latest-wins union
    q50 = qdf.filter(F.col("qid") < 50)
    nc = len(eng.index.centroid_ids)
    got = sorted(
        map(
            tuple,
            eng.search_distributed(q50, k=6, nprobe=nc, tier="sq8").collect(),
        )
    )
    delta_latest = eng.delta_latest()
    union = (
        eng.index.vectors()
        .select("vec_id", "embedding")
        .join(delta_latest.select("vec_id"), "vec_id", "left_anti")
        .unionByName(
            delta_latest.filter(F.col("embedding").isNotNull()).select(
                "vec_id", "embedding"
            )
        )
    )
    want = sorted(map(tuple, knn_ops.knn_exact(union, q50, k=6).collect()))
    out["exact_on_50q_full_probe"] = bool(got == want)
    print(f"  merged distq exactness: {out['exact_on_50q_full_probe']}",
          file=sys.stderr)
    results["distq_merged"] = out
    qdf.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def _distq_section(spark, results: dict) -> None:
    """Finding-25 data source (r11 verdict's top item, delivered r12):
    the quantized ladder on the BULK-QUERY distributed path, measured
    at 100k corpus × 100k queries (every vector queries the index —
    the all-corpus-retrieval shape), nprobe=8, k=6.  Reports wall for
    float vs SQ8 vs cascade candidate generation, the on-disk bytes of
    each candidate-stage layout (the scan-byte cut is a property of
    the layout: float cells vs int8 codes vs packed sign bits — what a
    100 TB cluster actually reads), and a bit-equality spot check of
    the sq8 path against the float path on a 50-query subsample."""
    import shutil

    rng = np.random.default_rng(29)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(V)}
        )
    ).cache()
    emb.count()
    idx_dir = tempfile.mkdtemp(prefix="vse_stress_distq_")
    idx = IVFIndex.build(emb, f"{idx_dir}/index")
    sq_dir = idx.ensure_sq8()
    bq_dir = idx.ensure_bq()

    def _du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, fn))
        return total

    gen_dir = os.path.join(idx.index_dir, "vectors")
    results["scan_bytes"] = {
        "float_cells": _du(gen_dir),
        "sq8_codes": _du(sq_dir),
        "bq_codes": _du(bq_dir),
    }
    results["scan_bytes"]["sq8_cut_x"] = round(
        results["scan_bytes"]["float_cells"]
        / max(1, results["scan_bytes"]["sq8_codes"]),
        2,
    )
    results["scan_bytes"]["bq_cut_x"] = round(
        results["scan_bytes"]["float_cells"]
        / max(1, results["scan_bytes"]["bq_codes"]),
        2,
    )
    print(f"  scan_bytes: {results['scan_bytes']}", file=sys.stderr)

    qall = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )
    timed(
        results,
        "float_distributed_100kq",
        lambda: idx.search_distributed(qall, k=6, nprobe=8).count(),
    )
    timed(
        results,
        "sq8_distributed_100kq",
        lambda: idx.search_sq8_distributed(qall, k=6, nprobe=8).count(),
    )
    timed(
        results,
        "cascade_distributed_100kq",
        lambda: idx.search_cascade_distributed(
            qall, k=6, nprobe=8, candidates_per_cell=48
        ).count(),
    )
    # bit-equality spot check (the oracle gate runs at sf0.01; this pins
    # the same contract at the stress corpus): sq8 == float on 50 queries
    qs = qall.filter(F.col("qid") < 50)
    a = sorted(
        map(tuple, idx.search_distributed(qs, k=6, nprobe=8).collect())
    )
    b = sorted(
        map(tuple, idx.search_sq8_distributed(qs, k=6, nprobe=8).collect())
    )
    results["sq8_eq_float_50q"] = bool(a == b)
    print(f"  sq8_eq_float_50q: {results['sq8_eq_float_50q']}", file=sys.stderr)
    emb.unpersist()
    shutil.rmtree(idx_dir, ignore_errors=True)


def _churn_section(spark, results: dict) -> None:
    """Finding-23 data source (r10 stretch item 8): 100k inserts into a
    100k-vector engine as 20 ticks of 5k, each tick = insert →
    threshold compaction (maybe_compact) → one graph-tier merged search
    — realistic steady-state cadence exercising, together: the
    hardened two-cycle EBR grace, per-tick generation churn, and the
    r11 incremental sidecar carry-forward (every compaction bumps the
    generation; the graph search right after forces the sidecar for
    the new snapshot).  Exactness is gated live: the final full-probe
    graph-tier search must equal exact kNN over the logical union."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    rng = np.random.default_rng(13)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)

    def df_of(lo: int, hi: int, W: np.ndarray):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(lo, hi, dtype=np.int64),
                    "embedding": list(W),
                }
            )
        )

    qids = np.arange(10, dtype=np.int64)
    queries = (qids, V[:10].astype(np.float64))
    n_ticks, batch = 20, 5_000

    def run_mode(
        tag: str, hot_cell_factor: float | str | None
    ) -> "VectorEngine":
        root = tempfile.mkdtemp(prefix=f"vse_stress_churn_{tag}_")
        eng = VectorEngine.create(df_of(0, N_VECS, V), f"{root}/engine")
        tick_secs, compactions, graph_secs = [], 0, []
        t_all = time.time()
        mode_rng = np.random.default_rng(13)
        for t in range(n_ticks):
            # clustered around a rotating anchor — the locality regime
            # carry-forward exists for (finding 21)
            W = V[(t * 997) % N_VECS] + mode_rng.normal(
                0, 0.05, (batch, DIM)
            ).astype(np.float32)
            W /= np.linalg.norm(W, axis=1, keepdims=True)
            lo = N_VECS + t * batch
            t0 = time.time()
            eng.insert(df_of(lo, lo + batch, W))
            folded = eng.maybe_compact(
                max_delta_fraction=0.05, hot_cell_factor=hot_cell_factor
            )
            compactions += 1 if folded else 0
            t1 = time.time()
            eng.search(queries, k=10, nprobe=4, tier="graph").count()
            t2 = time.time()
            tick_secs.append(round(t1 - t0, 2))
            graph_secs.append(round(t2 - t1, 2))
            print(
                f"  [{tag}] tick {t}: ingest+compact {tick_secs[-1]}s "
                f"(folded {folded}), graph search {graph_secs[-1]}s",
                file=sys.stderr,
            )
        results[f"churn_{tag}"] = {
            "ticks": n_ticks,
            "batch": batch,
            "compactions": compactions,
            "total_sec": round(time.time() - t_all, 2),
            "ingest_compact_secs": tick_secs,
            "graph_search_secs": graph_secs,
            "n_cells": int(len(eng.index.centroid_ids)),
            "max_graph_search_sec": max(graph_secs),
            "max_ingest_compact_sec": max(tick_secs),
        }
        return eng

    # phase A: carry-forward alone — the hot cell grows unbounded
    # phase B: + hot-cell splitting (the finding-23 lever): any cell
    # exceeding 4× the mean splits at compaction, bounding the per-cell
    # graph rebuild a generation bump can ever cost
    # phase C (r13, verdict item 5): hot_cell_factor="auto" — the split
    # threshold derives from the MEASURED per-cell graph-build cost
    # curve so the worst single-cell rebuild stays ≈ target_rebuild_sec,
    # instead of a factor-of-mean guess that let the clustered hot
    # cell's tick drift 9 → 17 s in finding 23.
    # --churn-modes nosplit,split4x,auto selects; default re-measures
    # the finding-23 lever (split4x) against auto on the same box.
    modes = {"split4x": 4.0, "auto": "auto", "nosplit": None}
    sel = "split4x,auto"
    for i, a in enumerate(sys.argv):
        if a == "--churn-modes" and i + 1 < len(sys.argv):
            sel = sys.argv[i + 1]
    eng = None
    for tag in sel.split(","):
        eng = run_mode(tag, modes[tag])
    results["churn"] = results[f"churn_{sel.split(',')[-1]}"]
    n_cells = results["churn"]["n_cells"]
    # live exactness gate: merged graph tier at full probe + unbounded
    # beam == exact kNN over the logical union of all live versions
    t0 = time.time()
    merged = eng.search(
        queries, k=10, nprobe=n_cells, tier="graph",
        candidates_per_cell=10**9,
    )
    # latest-wins union: delta versions shadow indexed versions by id
    delta_rows = eng.delta_latest().select("vec_id", "embedding")
    union = (
        eng.index.vectors()
        .select("vec_id", "embedding")
        .join(delta_rows.select("vec_id"), "vec_id", "left_anti")
        .unionByName(delta_rows)
    )
    exact = knn_ops.knn_exact(union, queries, k=10)
    a = [tuple(r) for r in merged.orderBy("qid", "rank").collect()]
    b = [tuple(r) for r in exact.orderBy("qid", "rank").collect()]
    results["churn"]["final_exactness"] = a == b
    results["churn"]["final_check_sec"] = round(time.time() - t0, 2)
    print(f"  final exactness: {a == b}", file=sys.stderr)
    import glob as _glob
    import shutil

    for d in _glob.glob(tempfile.gettempdir() + "/vse_stress_churn_*"):
        shutil.rmtree(d, ignore_errors=True)


def _delta_graph_section(results: dict) -> None:
    """Finding-22 data source: would a per-batch mini-graph over the
    streaming DELTA ever beat the exact vectorized scan it gets today?

    Both candidate kernels run in-process inside a pandas task, so the
    honest comparison is the kernels themselves: (a) the delta scan's
    one GEMM over all (queries x delta rows) vs (b) build_cell_graph
    over the batch + a per-query Python beam walk.  Reports per-query
    serve cost and the amortization horizon = build_cost /
    (scan_per_q - walk_per_q) in queries — the number of searches a
    batch must absorb BEFORE the next compaction invalidates its graph
    for the build to pay."""
    from vector_search_engine_spark.operators import hnsw

    rng = np.random.default_rng(11)
    NQ = 100
    Q = rng.normal(0, 1, (NQ, DIM)).astype(np.float64)
    for B in (1_000, 10_000, 50_000):
        V = rng.normal(0, 1, (B, DIM)).astype(np.float64)
        ids = np.arange(B, dtype=np.int64)
        t0 = time.time()
        # the delta scan's actual shape: one GEMM, all queries at once
        d = (V * V).sum(axis=1)[None, :] - 2.0 * (Q @ V.T)
        np.argpartition(d, 10, axis=1)
        scan_sec = time.time() - t0
        t0 = time.time()
        levels, layers = hnsw.build_cell_graph(ids, V.astype(np.float32))
        levels = np.asarray(levels, dtype=np.int64)
        build_sec = time.time() - t0
        t0 = time.time()
        for i in range(NQ):
            hnsw.search_cell_graph(ids, V, levels, layers, Q[i], 64)
        walk_sec = time.time() - t0
        scan_q, walk_q = scan_sec / NQ, walk_sec / NQ
        horizon = (
            build_sec / (scan_q - walk_q) if scan_q > walk_q else None
        )
        results[f"delta_{B}"] = {
            "scan_per_query_ms": round(scan_q * 1e3, 3),
            "walk_per_query_ms": round(walk_q * 1e3, 3),
            "graph_build_sec": round(build_sec, 2),
            "amortize_after_queries": (
                None if horizon is None else int(horizon)
            ),
        }
        print(f"  delta B={B}: {results[f'delta_{B}']}", file=sys.stderr)


def _sidecar_section(spark, results: dict) -> None:
    """Finding-21 data source: sidecar maintenance cost under steady-state
    ingest — full from-scratch rebuild vs the incremental carry-forward
    (unchanged cells copied from the previous generation, only affected
    cells re-encoded / re-inserted).  The claim to verify: incremental
    cost tracks AFFECTED cells, not corpus size."""
    import shutil

    from vector_search_engine_spark.streaming.engine import VectorEngine

    rng = np.random.default_rng(7)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(V)}
        )
    ).cache()
    emb.count()
    root = tempfile.mkdtemp(prefix="vse_stress_sidecar_")
    eng_holder: dict = {}
    timed(
        results,
        "engine_build_100k",
        lambda: (
            eng_holder.setdefault(
                "eng", VectorEngine.create(emb, f"{root}/engine")
            ).index.stats().count()
        ),
    )
    eng = eng_holder["eng"]
    idx = eng.index
    n_cells = idx.meta["n_centroids"]
    snap0 = idx._read_manifest()
    timed(
        results,
        "graph_full_build_100k",
        lambda: (idx.ensure_graph(), 1)[1],
    )
    timed(results, "sq8_full_build_100k", lambda: (idx.ensure_sq8(), 1)[1])

    # steady-state ingest tick: 500 new vectors (~0.5% of corpus), then
    # one compaction — the cadence every generation bump comes from
    delta = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(
                    N_VECS, N_VECS + 500, dtype=np.int64
                ),
                "embedding": list(
                    (
                        lambda W: W / np.linalg.norm(W, axis=1, keepdims=True)
                    )(rng.normal(0, 1, (500, DIM)).astype(np.float32))
                ),
            }
        )
    )
    eng.insert(delta)
    timed(results, "compact_500_of_100k", eng.compact)
    snap1 = idx._read_manifest()
    affected = sorted(
        c
        for c in snap1["cells"]
        if dict(snap0["cells"]).get(c) != snap1["cells"][c]
    )
    results["cells"] = {
        "total": int(n_cells),
        "affected_by_compaction": len(affected),
    }
    print(f"  affected cells: {len(affected)}/{n_cells}", file=sys.stderr)

    # incremental path (carry-forward fires: donor = gen0 sidecars)
    timed(
        results,
        "graph_incremental_rebuild_scattered",
        lambda: (idx.ensure_graph(), 1)[1],
    )
    timed(
        results,
        "sq8_incremental_rebuild_scattered",
        lambda: (idx.ensure_sq8(), 1)[1],
    )

    # second tick, CLUSTERED delta: 500 near-duplicates of one existing
    # vector — the locality steady-state ingest actually has (one topic /
    # one tenant / one time bucket); they land in a handful of cells
    base_vec = V[0] + rng.normal(0, 0.01, (500, DIM)).astype(np.float32)
    base_vec /= np.linalg.norm(base_vec, axis=1, keepdims=True)
    delta2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(
                    N_VECS + 500, N_VECS + 1000, dtype=np.int64
                ),
                "embedding": list(base_vec),
            }
        )
    )
    eng.insert(delta2)
    snap1b = idx._read_manifest()
    timed(results, "compact_clustered_500", eng.compact)
    snap2 = idx._read_manifest()
    affected2 = sorted(
        c
        for c in snap2["cells"]
        if dict(snap1b["cells"]).get(c) != snap2["cells"][c]
    )
    results["cells"]["affected_by_clustered_compaction"] = len(affected2)
    print(
        f"  clustered affected cells: {len(affected2)}/{n_cells}",
        file=sys.stderr,
    )
    timed(
        results,
        "graph_incremental_rebuild_clustered",
        lambda: (idx.ensure_graph(), 1)[1],
    )
    timed(
        results,
        "sq8_incremental_rebuild_clustered",
        lambda: (idx.ensure_sq8(), 1)[1],
    )

    # counterfactual: the pre-r11 behavior — full rebuild of the SAME
    # new generation (carry-forward disabled, dirs removed first)
    g1 = idx.ensure_graph()
    s1 = idx.ensure_sq8()
    shutil.rmtree(g1)
    shutil.rmtree(s1)
    idx._sidecar_carry_forward = lambda *a, **k: (None, None)
    timed(
        results,
        "graph_scratch_rebuild",
        lambda: (idx.ensure_graph(), 1)[1],
    )
    timed(
        results,
        "sq8_scratch_rebuild",
        lambda: (idx.ensure_sq8(), 1)[1],
    )
    shutil.rmtree(root, ignore_errors=True)


def _eps_section(spark, results: dict) -> None:
    """r10 finding 19: the epsilon-graph family at 100k.

    Isotropic unit vectors in 64-d concentrate pairwise dist_sq around
    2.0 (std ~0.25), so EPS_SQ=1.05 sits ~3.8 sigma out — the epsilon
    graph keeps a few-per-ten-thousand fraction of the 5e9 pairs, the
    regime DBSCAN is for.  Pins: the quadratic radius self-join's wall
    and emitted-pair count, the full DBSCAN composition (its own pair
    build + degree gate + CC over core-core edges + border assignment)
    with the role split, and all-points k-distance outlier scoring
    through the block kNN join.  Blocks are 16x16 here: the kernel's
    GEMM tile is memory-bounded regardless (max_tile_cells), block
    count buys task parallelism."""
    from vector_search_engine_spark.operators.graph import dbscan

    rng = np.random.default_rng(7)
    V = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(V)}
        )
    ).cache()
    emb.count()
    eps_sq = 1.05

    timed(
        results,
        "radius_pairs_100k",
        lambda: knn_ops.radius_pairs_distributed(
            emb, eps_sq, q_blocks=16, v_blocks=16
        ).count(),
    )

    holder: dict = {}

    def _dbscan() -> int:
        out = dbscan(
            emb, eps_sq=eps_sq, min_pts=4, q_blocks=16, v_blocks=16
        ).cache()
        n = out.count()
        holder["roles"] = {
            r["role"]: r["c"]
            for r in out.groupBy("role").agg(F.count("*").alias("c")).collect()
        }
        out.unpersist()
        return n

    timed(results, "dbscan_100k", _dbscan)
    results["dbscan_100k"]["roles"] = holder["roles"]

    timed(
        results,
        "knn_outliers_100k",
        lambda: knn_ops.knn_outlier_scores(
            emb, k=5, top_n=100, q_blocks=16, v_blocks=16
        ).count(),
    )
    emb.unpersist()




def _exact_knn_graph_section(spark, results: dict) -> None:
    """Finding 30 (r14): EXACT kNN-graph edge build at 100k — block
    cogroup (geometry-independent N²/blocks GEMM) vs the bounded IVF
    tier (seed + triangle-verify through per-cell cogroups) on BOTH an
    isotropic corpus (the bound's worst case) and a 16-cluster corpus
    (its design case).  Full-probe ``search_distributed`` is EXCLUDED
    by design at |Q| = N: its join materializes |Q| x N candidate rows
    (10^10 here) — the reason the bounded tier scans through cogroups.

    Exactness gates: (a) external NumPy brute force on 100 sampled
    queries (k-th distance equality — the finding-28 discipline: an
    oracle OUTSIDE the engine); (b) block vs bounded edge-set identity
    on (qid, neighbor_id, round(dist, 6)).  Also reports the measured
    verify fan-out (cells/query, host-side replay on a 500-query
    sample) — the quantity that decides the crossover."""
    from vector_search_engine_spark.operators.ivf import IVFIndex

    K = 6
    rng = np.random.default_rng(29)
    iso = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    iso /= np.linalg.norm(iso, axis=1, keepdims=True)
    centers = rng.normal(0, 6.0, (16, DIM))
    clu = np.concatenate(
        [c + rng.normal(0, 0.25, (N_VECS // 16, DIM)) for c in centers]
    ).astype(np.float32)

    for geo, V in (("iso", iso), ("clustered", clu)):
        emb = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(len(V), dtype=np.int64),
                 "embedding": list(V)}
            )
        ).cache()
        emb.count()
        qall = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
        )
        holder: dict = {}

        def block():
            out = knn_ops.knn_exact_distributed(
                emb, qall, k=K, q_blocks=16, v_blocks=16, round_output=False
            )
            holder["block"] = out.localCheckpoint(eager=True)
            return holder["block"].count()

        timed(results, f"exactknn_block_{geo}", block)

        idx_dir = tempfile.mkdtemp(prefix=f"vse_exactknn_{geo}_")

        def build():
            holder["idx"] = IVFIndex.build(emb, f"{idx_dir}/index")
            return int(holder["idx"].meta["n_centroids"])

        timed(results, f"exactknn_ivf_build_{geo}", build)
        idx = holder["idx"]

        def bounded():
            out = idx.search_exact_bounded_distributed(
                qall, k=K, nprobe_seed=4, round_output=False
            )
            holder["bounded"] = out.localCheckpoint(eager=True)
            return holder["bounded"].count()

        timed(results, f"exactknn_bounded_{geo}", bounded)

        # gate (a): external NumPy k-th distance on 100 sampled queries
        sample = rng.choice(len(V), 100, replace=False)
        G = V.astype(np.float64)
        got_kth = {
            r["qid"]: r["dist_sq"]
            for r in holder["block"].filter(F.col("rank") == K)
            .filter(F.col("qid").isin([int(s) for s in sample]))
            .collect()
        }
        ok_numpy = True
        for s in sample:
            d = ((G - G[s]) ** 2).sum(axis=1)
            want = float(np.sort(d)[K - 1])  # self (d=0) occupies rank 1
            if abs(got_kth[int(s)] - want) > 1e-6:
                ok_numpy = False
                break
        # gate (b): block vs bounded edge-set identity
        def edge_view(df):
            return df.select(
                "qid", "neighbor_id", F.round("dist_sq", 6).alias("d")
            )
        a, b = edge_view(holder["block"]), edge_view(holder["bounded"])
        mism = a.exceptAll(b).count() + b.exceptAll(a).count()
        # verify fan-out, host-side replay on 500 queries: cells with
        # sqrt(d(q,c)) <= sqrt(true d_k) + R_c (the seed bound is >= the
        # true k-th, so this is a LOWER bound on the fan-out — reported
        # as the geometry's intrinsic prunability)
        cids, C = idx._centroids_for(idx._read_manifest())
        radii = {
            int(r["centroid_id"]): float(r["rr"])
            for r in idx.vectors().groupBy("centroid_id")
            .agg(F.max("dist_to_centroid").alias("rr")).collect()
        }
        Rc = np.sqrt(np.array([radii.get(int(c), 0.0) for c in cids]))
        fs = rng.choice(len(V), 500, replace=False)
        kth = {
            r["qid"]: r["dist_sq"]
            for r in holder["block"].filter(F.col("rank") == K)
            .filter(F.col("qid").isin([int(s) for s in fs])).collect()
        }
        fan = []
        for s in fs:
            dqc = np.sqrt(((C - G[s]) ** 2).sum(axis=1))
            fan.append(int((dqc <= np.sqrt(kth[int(s)]) + Rc).sum()))
        results[f"exactknn_gates_{geo}"] = {
            "numpy_kth_exact": ok_numpy,
            "block_vs_bounded_mismatches": int(mism),
            "n_cells": int(idx.meta["n_centroids"]),
            "fanout_cells_mean": round(float(np.mean(fan)), 1),
            "fanout_cells_p95": int(np.percentile(fan, 95)),
        }
        print(f"  exactknn_gates_{geo}: {results[f'exactknn_gates_{geo}']}",
              file=sys.stderr)
        emb.unpersist()


def _pipeline_scale_section(spark, results: dict) -> None:
    """Finding 42 (r15): the composed text-curation pipeline at 100k
    docs — the r14 verdict's done-criterion for the composition row.
    Same fanned corpus as findings 35/39 (sf0.1 × 20 near-identical
    variants, lang/source preserved — a worst-case dense-duplicate
    corpus: every base doc becomes a 20-variant near-dup cluster), so
    the dedup/keep-best stages do REAL work: ~95% of the corpus must
    collapse before the split/budget/curriculum stages run.

    Pins: end-to-end wall at 100k; stage accounting (survivor count ≈
    n_docs/20, emitted ⊆ train split, per-source budget ceiling) — the
    composition invariants from the pytest, re-checked at 200× fixture
    scale on driver-collected AGGREGATES only (counts and maxes, never
    rows)."""
    base = load_table(spark, SF_DIR, "documents")
    fan = 20
    docs = (
        base.crossJoin(spark.range(fan).select(F.col("id").alias("_v")))
        .select(
            (F.col("doc_id") * fan + F.col("_v")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" variant"), F.col("_v")).alias(
                "text"
            ),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="pipescale-")
    path = os.path.join(tmp, "documents.parquet")
    docs.coalesce(8).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path).cache()
    n_docs = big.count()
    results["corpus"] = {"n_docs": n_docs}

    out_holder: dict = {}

    def run():
        lazy = txt_ops.text_curation_pipeline(big)
        out_holder["lazy"] = lazy
        out = lazy.localCheckpoint(eager=True)
        out_holder["out"] = out
        return out.count()

    timed(results, "pipeline_100k", run)
    out = out_holder["out"]
    # r16 one-tokenization pin: downstream of the pinned (doc_id,
    # _toks) checkpoint NO stage may re-read the raw corpus — the
    # cached `big` (InMemoryRelation) must appear ZERO times in the
    # final plan (pre-pin it appeared once per re-tokenizing stage)
    plan = out_holder["lazy"]._jdf.queryExecution().optimizedPlan().toString()
    results["corpus_scans_after_tokenize"] = plan.count("InMemoryRelation")
    # stage accounting, aggregates only
    agg = out.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count("*").alias("n_rows"),
        F.max("cum_tokens").alias("max_cum"),
    ).collect()[0]
    budget_ok = int(agg["max_cum"]) <= txt_ops.TOKEN_BUDGET
    one_per_cluster = int(agg["n_clusters"]) == int(agg["n_rows"])
    # the 20-variant fan must collapse: survivors before split/budget
    from vector_search_engine_spark.operators import dedup as dedup_ops
    from vector_search_engine_spark.operators import graph as graph_ops

    clusters = graph_ops.dedup_clusters(
        big, dedup_ops.ngram_jaccard_pairs(big)
    )
    n_survivors = dedup_ops.keep_best(big, clusters).count()
    results["gates"] = {
        "emitted_rows": int(agg["n_rows"]),
        "one_per_cluster": bool(one_per_cluster),
        "budget_ceiling_ok": bool(budget_ok),
        "keepbest_survivors": int(n_survivors),
        "collapse_ratio": round(n_docs / max(1, n_survivors), 2),
    }
    print(f"  gates: {results['gates']}", file=sys.stderr)


def _pipeline_1m_section(spark, results: dict) -> None:
    """Finding 47 (r17, r16 verdict task 3): the FULL composed
    text-curation pipeline at 1M documents — finding 44 measured the
    dedup half (pairs → CC → keep-best → split); this rung carries the
    chain through quality / token-budget / curriculum WITH the
    one-tokenization pin, and prices the pin itself at this scale.

    Corpus: the finding-44 salted construction (10 pseudo-bases × 20
    near-identical variants per sf0.1 base doc — cross-base Jaccard
    exactly 0, within-base ≈ 0.99), so the dedup stages do real work
    (~95% of the corpus collapses) and ground truth stays structural.

    Pair tier: ``pair_tier='minhash'`` — the finding-44 dispatch now a
    composition-level switch (the exact postings tier is the
    disk-exhaustion class on this Σdf² shape, measured not assumed).

    Pin accounting (the r16 verdict's open question): the pinned
    ``(doc_id, source, n_chars, _toks)`` eager checkpoint materializes
    the full token corpus — this rung records (a) that checkpoint's
    wall, (b) the wall of ONE raw tokenize pass over the corpus (the
    scan each of the 4 downstream stage families would otherwise
    re-pay), so the trade is two measured numbers, not prose.

    Gates: the finding-42 composition invariants re-checked at 1M on
    driver-side AGGREGATES only — one survivor per cluster, emitted ⊆
    train split, per-source budget ceiling, contiguous curriculum
    ranks per (phase, source) — plus the plan-level zero-rescan gate
    (no corpus scan downstream of the pin in the composed operator's
    optimized plan)."""
    import shutil

    from vector_search_engine_spark.functions.text import tokens as _tokens
    from vector_search_engine_spark.operators import dedup as dedup_ops
    from vector_search_engine_spark.operators import graph as graph_ops

    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    fan_bases, fan_vars = 10, 20
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
    salt_tok = F.concat(F.lit("xbase"), F.col("base_id").cast("string"))
    salted = F.flatten(F.transform(toks, lambda x: F.array(x, salt_tok)))
    docs = (
        base.crossJoin(
            spark.range(fan_bases).select(F.col("id").alias("_m"))
        )
        .withColumn("base_id", F.col("doc_id") * fan_bases + F.col("_m"))
        .crossJoin(spark.range(fan_vars).select(F.col("id").alias("_v")))
        .select(
            (F.col("base_id") * 32 + F.col("_v")).alias("doc_id"),
            F.concat(
                F.concat_ws(" ", salted),
                F.lit(" variant"),
                F.col("_v"),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="pipe1m-")
    path = os.path.join(tmp, "documents.parquet")
    docs.repartition(32).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path)
    n_docs = big.count()
    results["corpus"] = {"n_docs": n_docs, "n_true_clusters": n_docs // fan_vars}
    budget = 2_000_000  # tokens/source — exercises the walk at depth

    # ---- pin accounting: checkpoint cost vs the scan it saves
    toked_holder: dict = {}

    def run_pin():
        t = big.select(
            "doc_id", "source", "n_chars",
            _tokens(F.col("text")).alias("_toks"),
        ).localCheckpoint(eager=True)
        toked_holder["t"] = t
        return t.count()

    timed(results, "tokenize_pin_checkpoint_1m", run_pin)
    toked = toked_holder["t"]

    def run_raw_scan():
        # ONE raw tokenize pass — what every non-pinned stage family
        # re-pays; aggregate only (no materialization)
        return big.select(
            F.sum(F.size(_tokens(F.col("text")))).alias("s")
        ).collect()[0]["s"]

    timed(results, "raw_tokenize_scan_1m", run_raw_scan)

    # ---- staged run over the pinned frame (walls per stage)
    h: dict = {}

    def run_pairs():
        p = dedup_ops.minhash_lsh_pairs(
            toked, tokens_col="_toks"
        ).localCheckpoint(eager=True)
        h["pairs"] = p
        return p.count()

    timed(results, "lsh_pairs_1m", run_pairs)

    def run_cc():
        c = graph_ops.dedup_clusters(toked, h["pairs"]).localCheckpoint(
            eager=True
        )
        h["cl"] = c
        return c.count()

    timed(results, "cc_clusters_1m", run_cc)

    def run_keepbest():
        s = dedup_ops.keep_best(
            toked,
            h["cl"],
            quality=txt_ops.quality_filter(
                toked, tokens_col="_toks"
            ).select("doc_id", "n_words", "keep"),
        ).localCheckpoint(eager=True)
        h["surv"] = s
        return s.count()

    timed(results, "quality_keepbest_1m", run_keepbest)

    def run_split():
        sp = txt_ops.leakage_safe_split(
            h["surv"].select("doc_id"), h["surv"]
        ).localCheckpoint(eager=True)
        h["split"] = sp
        return sp.count()

    timed(results, "leakage_split_1m", run_split)

    def run_budget():
        train_ids = h["split"].filter(F.col("split") == "train").select(
            "doc_id"
        )
        train_docs = toked.join(train_ids, "doc_id")
        b = txt_ops.token_budget_sample(
            train_docs, budget, tokens_col="_toks"
        ).localCheckpoint(eager=True)
        h["bud"] = b
        return b.count()

    timed(results, "token_budget_1m", run_budget)

    def run_curriculum():
        kept = toked.join(h["bud"].select("doc_id"), "doc_id")
        o = txt_ops.curriculum_order(
            kept, tokens_col="_toks"
        ).localCheckpoint(eager=True)
        h["order"] = o
        return o.count()

    timed(results, "curriculum_1m", run_curriculum)
    results["end_to_end_sec"] = round(
        sum(
            results[k]["sec"]
            for k in (
                "tokenize_pin_checkpoint_1m", "lsh_pairs_1m",
                "cc_clusters_1m", "quality_keepbest_1m",
                "leakage_split_1m", "token_budget_1m", "curriculum_1m",
            )
        ),
        2,
    )

    # ---- finding-42 invariants at 1M (aggregates only)
    out = h["order"].join(
        h["bud"].select("doc_id", "n_tokens", "cum_tokens"), "doc_id"
    ).join(
        h["surv"].select("doc_id", "cluster_id"), "doc_id"
    )
    agg = out.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.max("cum_tokens").alias("max_cum"),
    ).collect()[0]
    train_only = (
        out.join(h["split"], "doc_id")
        .filter(F.col("split") != "train")
        .count()
    )
    # contiguous ranks per (phase, source): in every group the rank
    # multiset must be exactly 1..n — max == count == distinct-count
    rank_bad = (
        h["order"]
        .groupBy("phase", "source")
        .agg(
            F.count("*").alias("n"),
            F.max("rank").alias("mx"),
            F.countDistinct("rank").alias("nd"),
        )
        .filter((F.col("mx") != F.col("n")) | (F.col("nd") != F.col("n")))
        .count()
    )
    results["gates"] = {
        "emitted_rows": int(agg["n_rows"]),
        "one_per_cluster": int(agg["n_clusters"]) == int(agg["n_rows"]),
        "budget_ceiling_ok": int(agg["max_cum"]) <= budget,
        "train_only_emission": int(train_only) == 0,
        "ranks_contiguous": int(rank_bad) == 0,
    }
    # ---- plan gate on the COMPOSED operator (no execution needed):
    # zero corpus re-reads downstream of the pin
    lazy = txt_ops.text_curation_pipeline(
        big.cache(), budget=budget, pair_tier="minhash"
    )
    plan = lazy._jdf.queryExecution().optimizedPlan().toString()
    results["gates"]["corpus_scans_after_tokenize"] = plan.count(
        "InMemoryRelation"
    )
    big.unpersist()
    results["gates"]["all_pass"] = (
        results["gates"]["one_per_cluster"]
        and results["gates"]["budget_ceiling_ok"]
        and results["gates"]["train_only_emission"]
        and results["gates"]["ranks_contiguous"]
        and results["gates"]["corpus_scans_after_tokenize"] == 0
    )
    print(f"  gates: {results['gates']}", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)


def _text_1m_section(spark, results: dict) -> None:
    """Finding 44 (r16, r15 verdict stretch task 8): the dedup →
    keep-best → split chain — the expensive half of finding 42 — at
    1M documents, with a KNOWN cluster structure so exactness gates are
    driver-collected aggregates, not faith.

    Corpus: each sf0.1 base doc spawns 10 PSEUDO-BASES (a per-base salt
    token interleaved after every word — every 3-gram shingle then
    contains a salt token, so cross-base Jaccard is EXACTLY 0 and no
    true edge crosses a pseudo-base) × 20 near-identical variants
    (" variant<k>" suffix — a handful of trailing shingles differ,
    within-cluster Jaccard ≈ 0.99 ≫ the 0.4 threshold).  Ground truth:
    clusters ARE the pseudo-bases (`doc_id // 32`), ~50k clusters × 20.

    Pair tier: banded MinHash-LSH (`minhash_lsh_pairs` — exact verify,
    so FALSE MERGES ARE IMPOSSIBLE; only recall can err).  The exact
    postings tier is excluded by the finding-38/39 Σdf² law, measured
    not assumed: every shingle inside a 20-variant cluster has df=20,
    so the postings intersection materializes Σ df² ≈ |shingles|·400 ≈
    10⁹·4 rows at this shape — the disk-exhaustion class.  LSH buckets
    are the 20-doc clusters (far under max_bucket=1024), so candidate
    volume is C(20,2)·50k ≈ 9.5M — linear in clusters, invariant to
    corpus scale at fixed fan.  This IS the LSH dispatch claim the
    rung exists to measure.

    Gates (all driver-side aggregates over id-keyed frames):
      * no_false_merges — max distinct pseudo-bases per CC cluster == 1
        (structural: exact verify + disjoint cross-base shingles);
      * recall — keep-best survivors == #pseudo-bases (every variant
        edge found: at J≈0.99 the 4×4 band curve is ~1);
      * split completeness + leakage — every survivor split, and the
        train fraction lands near 80 on ~50k cluster draws.
    """
    import shutil

    from vector_search_engine_spark.operators import dedup as dedup_ops
    from vector_search_engine_spark.operators import graph as graph_ops

    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    fan_bases, fan_vars = 10, 20
    toks = F.filter(F.split(F.trim(F.col("text")), " "), lambda x: x != "")
    # interleave the per-pseudo-base salt token after EVERY word: all
    # 3-gram shingles contain it, so pseudo-bases share zero shingles
    salt_tok = F.concat(F.lit("xbase"), F.col("base_id").cast("string"))
    salted = F.flatten(
        F.transform(toks, lambda x: F.array(x, salt_tok))
    )
    docs = (
        base.crossJoin(
            spark.range(fan_bases).select(F.col("id").alias("_m"))
        )
        .withColumn(
            "base_id", F.col("doc_id") * fan_bases + F.col("_m")
        )
        .crossJoin(spark.range(fan_vars).select(F.col("id").alias("_v")))
        .select(
            (F.col("base_id") * 32 + F.col("_v")).alias("doc_id"),
            F.concat(
                F.concat_ws(" ", salted),
                F.lit(" variant"),
                F.col("_v"),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="text1m-")
    path = os.path.join(tmp, "documents.parquet")
    docs.repartition(32).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path)
    n_docs = big.count()
    n_bases = n_docs // fan_vars
    results["corpus"] = {"n_docs": n_docs, "n_true_clusters": n_bases}

    pairs_holder: dict = {}

    def run_pairs():
        p = dedup_ops.minhash_lsh_pairs(big).localCheckpoint(eager=True)
        pairs_holder["pairs"] = p
        return p.count()

    timed(results, "lsh_pairs_1m", run_pairs)
    pairs = pairs_holder["pairs"]

    cl_holder: dict = {}

    def run_cc():
        c = graph_ops.dedup_clusters(big, pairs).localCheckpoint(eager=True)
        cl_holder["cl"] = c
        return c.count()

    timed(results, "cc_clusters_1m", run_cc)
    clusters = cl_holder["cl"]

    kb_holder: dict = {}

    def run_keepbest():
        s = dedup_ops.keep_best(big, clusters).localCheckpoint(eager=True)
        kb_holder["s"] = s
        return s.count()

    timed(results, "keep_best_1m", run_keepbest)
    survivors = kb_holder["s"]

    split_holder: dict = {}

    def run_split():
        sp = txt_ops.leakage_safe_split(
            survivors.select("doc_id"), survivors
        ).localCheckpoint(eager=True)
        split_holder["sp"] = sp
        return sp.count()

    timed(results, "leakage_split_1m", run_split)
    split = split_holder["sp"]

    # exactness gates — aggregates only
    merge_gate = (
        clusters.withColumn("base", F.col("doc_id") / 32)
        .withColumn("base", F.floor("base"))
        .groupBy("cluster_id")
        .agg(F.countDistinct("base").alias("nb"))
        .agg(F.max("nb").alias("max_bases_per_cluster"))
        .collect()[0]["max_bases_per_cluster"]
    )
    n_surv = survivors.count()
    split_counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    train_frac = split_counts.get("train", 0) / max(1, sum(split_counts.values()))
    # survivors > n_bases is NOT automatically an LSH recall miss: a
    # SHORT base doc's variants genuinely fall below the 0.4 threshold
    # (the trailing "variant<k>" shingle is a large fraction of a
    # 3-shingle doc), so the true pair graph itself splits those bases.
    # Adjudicate by replaying the EXACT postings tier on just the
    # disputed bases (tiny subset — this is where the Σdf² law allows
    # it): LSH-verified pairs ⊆ exact pairs (same exact-Jaccard verify,
    # no length block within a base), so the LSH partition REFINES the
    # exact one — equal cluster counts on the subset ⇒ identical
    # partitions ⇒ every extra survivor is threshold reality, zero LSH
    # misses.
    base_col = F.floor(F.col("doc_id") / 32)
    split_bases = (
        clusters.withColumn("base", base_col)
        .groupBy("base")
        .agg(F.countDistinct("cluster_id").alias("nc"))
        .filter(F.col("nc") > 1)
        .select("base")
        .localCheckpoint(eager=True)
    )
    n_split_bases = split_bases.count()
    disputed = big.join(
        split_bases.select(F.col("base").alias("b")),
        base_col == F.col("b"),
        "left_semi",
    ).localCheckpoint(eager=True)
    exact_cl_n = (
        graph_ops.dedup_clusters(
            disputed, dedup_ops.ngram_jaccard_pairs(disputed)
        )
        .select("cluster_id")
        .distinct()
        .count()
    )
    lsh_cl_n = (
        clusters.join(disputed.select("doc_id"), "doc_id")
        .select("cluster_id")
        .distinct()
        .count()
    )
    # decomposition: exact_cl_n − n_split_bases clusters are THRESHOLD
    # REALITY (the true pair graph splits those bases); lsh_cl_n −
    # exact_cl_n are LSH PROBABILITY MISSES (true J barely above 0.4,
    # where the 4×4 band curve's hit rate is low) — the documented
    # recall trade of the banded tier, now measured at 1M
    lsh_miss_excess = int(lsh_cl_n) - int(exact_cl_n)
    results["gates"] = {
        "no_false_merges": int(merge_gate) == 1,
        "keepbest_survivors": int(n_surv),
        "extra_survivors_vs_truth": int(n_surv) - int(n_bases),
        "n_split_bases": int(n_split_bases),
        "exact_clusters_on_disputed": int(exact_cl_n),
        "lsh_clusters_on_disputed": int(lsh_cl_n),
        "truth_split_excess": int(exact_cl_n) - int(n_split_bases),
        "lsh_miss_cluster_excess": lsh_miss_excess,
        "cluster_recall": round(1.0 - lsh_miss_excess / n_bases, 5),
        "cluster_recall_ge_998": lsh_miss_excess / n_bases <= 0.002,
        "split_total_matches_survivors": sum(split_counts.values()) == n_surv,
        "train_frac": round(train_frac, 4),
        "train_frac_near_80": abs(train_frac - 0.8) < 0.02,
    }
    print(f"  gates: {results['gates']}", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)


def _mixed_rw_sf1_section(spark, results: dict) -> None:
    """Finding 41 (r15, the r14 verdict's stretch task): the mixed
    read/write serving bench at sf1 — 20k vectors, 10x the ONLY scale
    the serving path has ever been measured at (bench sf0.1 = 2k).
    Reuses ``bench._bench_mixed_rw`` VERBATIM (same phase structure,
    same survivor-recall contract, same raw-lists export) on a
    synthesized 10x corpus, so every aggregate is column-for-column
    comparable with the committed BENCH_DETAILS.json history.  The
    quantities only this rung can see: compaction cadence under the
    auto hot-cell budget at 10x delta volume, sidecar (PQ/BQ/SQ8/graph)
    rebuild walls over 10x cells rows, and whether search p50 scales
    with corpus size (full-probe scan: expect ~10x) while insert
    throughput holds.  Reference anchor: client_bench.cpp:39-49 — the
    reference's only serving SLA shape."""
    import bench as bench_mod

    # r16: the rung is a first-class bench mode now (bench.py
    # --mixed-sf1); this section delegates so there is ONE definition
    # of the corpus geometry and phase structure.
    res = bench_mod._bench_mixed_rw_sf1(spark)
    results["mixed_rw_sf1"] = res
    results["total_wall_sec"] = res.get("total_wall_sec")
    results["n_vectors"] = res.get("n_vectors")


def _graph_edge_1m_section(spark, results: dict) -> None:
    """Finding 40 (r15): the graph-analytics EDGE BUILD at 1M — where
    finding 30's 100k crossover claim earns trust.  Same clustered
    geometry family as finding 30 (well-separated gaussian clusters,
    the real-embedding regime where the triangle bound prunes), scaled:
    64 clusters, 64 dims, corpus written as parquet chunks (the
    finding-31 generator discipline).

    Ladder:
      * 300k: block cogroup (32x32) vs bounded tier, full edge-set
        identity + external NumPy k-th-distance gate — the mid rung
        that measures how the 100k 5x win compounds;
      * 1M: bounded tier + NumPy gate on 100 sampled queries + an
        8-iteration PageRank over the built 6M-edge graph (the
        consumer the build exists for).  The 1M BLOCK build is
        excluded BY MEASUREMENT, not assumption: the per-tile lexsort
        + GEMM cost is N-squared (validated 100k -> 300k), putting the
        1M wall at ~3 h on this box — the finding-31 kill discipline
        (report the law and the measured points, don't burn the box
        proving the asymptote).
    """
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vector_search_engine_spark.operators import graph as graph_ops
    from vector_search_engine_spark.operators.ivf import IVFIndex

    K = 6
    DIMG = 64
    N_CLUSTERS = 64
    rng = np.random.default_rng(40)
    centers = rng.normal(0, 6.0, (N_CLUSTERS, DIMG))

    root = tempfile.mkdtemp(prefix="vse_graphedge1m_")

    def write_corpus(n: int, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        chunk = 100_000
        for i, lo in enumerate(range(0, n, chunk)):
            m = min(chunk, n - lo)
            idx = rng.integers(0, N_CLUSTERS, m)
            W = (centers[idx] + rng.normal(0, 0.25, (m, DIMG))).astype(
                np.float32
            )
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(
                            np.arange(lo, lo + m, dtype=np.int64)
                        ),
                        "embedding": pa.array(
                            list(W), type=pa.list_(pa.float32())
                        ),
                    }
                ),
                f"{path}/part-{i:03d}.parquet",
            )

    def numpy_gate(emb_df, got_block_or_bounded, n: int, n_sample: int = 100):
        """External k-th-distance gate: NumPy brute force over the FULL
        corpus (chunked) on sampled queries — the finding-28 discipline
        (an oracle outside the engine)."""
        sample = rng.choice(n, n_sample, replace=False).astype(np.int64)
        rows = emb_df.filter(
            F.col("vec_id").isin([int(s) for s in sample])
        ).collect()
        qv = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
              for r in rows}
        got_kth = {
            r["qid"]: r["dist_sq"]
            for r in got_block_or_bounded.filter(F.col("rank") == K)
            .filter(F.col("qid").isin([int(s) for s in sample]))
            .collect()
        }
        # chunked brute force: kth over the whole corpus per sample
        best = {int(s): np.full(K, np.inf) for s in sample}
        it = emb_df.select("vec_id", "embedding").toLocalIterator(True)
        buf_ids, buf_vecs = [], []

        def flush():
            if not buf_ids:
                return
            V = np.stack(buf_vecs).astype(np.float64)
            # self stays in: rank 1 is (d=0, self), as in finding 30
            for s, q in qv.items():
                d = ((V - q) ** 2).sum(axis=1)
                merged = np.sort(np.concatenate([best[int(s)], d]))[:K]
                best[int(s)] = merged
            buf_ids.clear()
            buf_vecs.clear()

        for r in it:
            buf_ids.append(r["vec_id"])
            buf_vecs.append(r["embedding"])
            if len(buf_ids) >= 100_000:
                flush()
        flush()
        return all(
            abs(got_kth[int(s)] - float(best[int(s)][K - 1])) <= 1e-6 * (1 + best[int(s)][K - 1])
            for s in sample
        )

    holder: dict = {}

    # --- 300k rung: block vs bounded, identity + gate ---
    # (VSE_GRAPHEDGE_NS="20000,50000" shrinks both rungs for smoke runs)
    ns_env = os.environ.get("VSE_GRAPHEDGE_NS")
    n3, n1m_override = (
        (int(ns_env.split(",")[0]), int(ns_env.split(",")[1]))
        if ns_env
        else (300_000, 1_000_000)
    )
    p3 = f"{root}/c300k.parquet"
    t0 = time.time()
    write_corpus(n3, p3)
    results["gen_300k_sec"] = round(time.time() - t0, 2)
    emb3 = spark.read.parquet(p3)
    q3 = emb3.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )

    def block3():
        out = knn_ops.knn_exact_distributed(
            emb3, q3, k=K, q_blocks=32, v_blocks=32, round_output=False
        )
        holder["block3"] = out.localCheckpoint(eager=True)
        return holder["block3"].count()

    timed(results, "graphedge_block_300k", block3)

    def build3():
        holder["idx3"] = IVFIndex.build(emb3, f"{root}/idx300k")
        return int(holder["idx3"].meta["n_centroids"])

    timed(results, "graphedge_ivf_build_300k", build3)

    def bounded3():
        out = holder["idx3"].search_exact_bounded_distributed(
            q3, k=K, nprobe_seed=4, round_output=False
        )
        holder["bounded3"] = out.localCheckpoint(eager=True)
        return holder["bounded3"].count()

    timed(results, "graphedge_bounded_300k", bounded3)

    def edge_view(df):
        return df.select(
            "qid", "neighbor_id", F.round("dist_sq", 6).alias("d")
        )

    a, b = edge_view(holder["block3"]), edge_view(holder["bounded3"])
    mism = a.exceptAll(b).count() + b.exceptAll(a).count()
    results["gates_300k"] = {
        "block_vs_bounded_mismatches": int(mism),
        "numpy_kth_exact": bool(numpy_gate(emb3, holder["bounded3"], n3)),
        "n_cells": int(holder["idx3"].meta["n_centroids"]),
    }
    print(f"  gates_300k: {results['gates_300k']}", file=sys.stderr)

    # --- 1M rung: bounded only (block excluded by the measured N² law) ---
    n1m = n1m_override
    p1m = f"{root}/c1m.parquet"
    t0 = time.time()
    write_corpus(n1m, p1m)
    results["gen_1m_sec"] = round(time.time() - t0, 2)
    emb1m = spark.read.parquet(p1m)
    q1m = emb1m.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    )

    def build1m():
        holder["idx1m"] = IVFIndex.build(emb1m, f"{root}/idx1m")
        return int(holder["idx1m"].meta["n_centroids"])

    timed(results, "graphedge_ivf_build_1m", build1m)

    def bounded1m():
        out = holder["idx1m"].search_exact_bounded_distributed(
            q1m, k=K, nprobe_seed=4, round_output=False
        )
        holder["bounded1m"] = out.localCheckpoint(eager=True)
        return holder["bounded1m"].count()

    timed(results, "graphedge_bounded_1m", bounded1m)
    results["gates_1m"] = {
        "numpy_kth_exact": bool(numpy_gate(emb1m, holder["bounded1m"], n1m)),
        "n_cells": int(holder["idx1m"].meta["n_centroids"]),
    }
    print(f"  gates_1m: {results['gates_1m']}", file=sys.stderr)

    # the consumer: 8-iteration PageRank over the 6M-edge mutual graph
    def pr1m():
        edges = holder["bounded1m"].select(
            F.col("qid").alias("src"), F.col("neighbor_id").alias("dst")
        )
        pr = graph_ops.pagerank(edges, iterations=8)
        return pr.count()

    timed(results, "graphedge_pagerank_1m", pr1m)
    shutil.rmtree(root, ignore_errors=True)


def _sift_merged_section(spark, results: dict) -> None:
    """Finding 31 (r14): the merged Q4 bulk contract at the reference's
    own scale — a SIFT1M-shape corpus (1M x 128 float32, cluster-
    structured like sift_scale.py's: 1024 seeded centers + sigma-75
    noise, clipped to 0..255) under LIVE state (40k new inserts + 10k
    upserts shadowing indexed ids + 10k tombstones).  Measures the
    engine float tier (the per-cell cogroup scan) at |Q| = 10k and
    100k, plus exactness: a 50-query full-probe sample vs brute-force
    kNN over the latest-wins union (the finding-28 discipline).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil

    from vector_search_engine_spark.streaming.engine import VectorEngine

    n, dim, n_centers = 1_000_000, 128, 1024
    rng = np.random.default_rng(7)
    centers = rng.uniform(0, 255, (n_centers, dim)).astype(np.float32)

    root = tempfile.mkdtemp(prefix="vse_sift_merged_")
    base_pq = f"{root}/base.parquet"
    os.makedirs(base_pq, exist_ok=True)

    def chunk_vecs(lo: int, hi: int) -> np.ndarray:
        idx = rng.integers(0, n_centers, hi - lo)
        x = centers[idx] + rng.normal(0, 75.0, (hi - lo, dim)).astype(
            np.float32
        )
        return np.clip(x, 0, 255).astype(np.float32)

    t0 = time.time()
    for i, lo in enumerate(range(0, n, 100_000)):
        W = chunk_vecs(lo, lo + 100_000)
        tbl = pa.table(
            {
                "vec_id": pa.array(
                    np.arange(lo, lo + 100_000, dtype=np.int64)
                ),
                "embedding": pa.array(
                    list(W), type=pa.list_(pa.float32())
                ),
            }
        )
        pq.write_table(tbl, f"{base_pq}/part-{i:03d}.parquet")
    results["gen_sec"] = round(time.time() - t0, 2)
    print(f"  corpus gen: {results['gen_sec']}s", file=sys.stderr)

    base = spark.read.parquet(base_pq)
    t0 = time.time()
    eng = VectorEngine.create(base, f"{root}/engine")
    results["engine_create_sec"] = round(time.time() - t0, 2)
    print(f"  engine create (1M, nc={eng.index.meta['n_centroids']}): "
          f"{results['engine_create_sec']}s", file=sys.stderr)

    def df_of(ids: np.ndarray, W: np.ndarray):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": list(W)})
        )

    eng.insert(df_of(n + np.arange(40_000, dtype=np.int64),
                     chunk_vecs(0, 40_000)))
    eng.insert(df_of(np.arange(10_000, dtype=np.int64),
                     chunk_vecs(0, 10_000)))  # upserts shadowing 0..9999
    eng.delete(list(range(20_000, 30_000)))
    t0 = time.time()
    eng.index.ensure_sq8()
    results["ensure_sq8_sec"] = round(time.time() - t0, 2)

    nprobe = 8
    for nq in (10_000, 100_000):
        Q = chunk_vecs(0, nq)
        qdf = spark.createDataFrame(
            pd.DataFrame(
                {"qid": np.arange(nq, dtype=np.int64), "query": list(Q)}
            )
        ).cache()
        qdf.count()
        t0 = time.time()
        cnt = eng.search_distributed(
            qdf, k=6, nprobe=nprobe, tier="float"
        ).count()
        key = f"q{nq}_float_cogroup"
        results[key] = {"sec": round(time.time() - t0, 2), "rows": cnt}
        print(f"  {key}: {results[key]}", file=sys.stderr)
        qdf.unpersist()

    # exactness: 50-query full-probe float + sq8 vs brute force over
    # the latest-wins union
    Q50 = chunk_vecs(0, 50)
    q50 = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(50, dtype=np.int64),
                      "query": list(Q50)})
    ).cache()
    q50.count()
    nc = len(eng.index.centroid_ids)
    got_cg = sorted(map(tuple, eng.search_distributed(
        q50, k=6, nprobe=nc, tier="float").collect()))
    got_sq8 = sorted(map(tuple, eng.search_distributed(
        q50, k=6, nprobe=nc, tier="sq8").collect()))
    delta_latest = eng.delta_latest()
    union = (
        eng.index.vectors()
        .select("vec_id", "embedding")
        .join(delta_latest.select("vec_id"), "vec_id", "left_anti")
        .unionByName(
            delta_latest.filter(F.col("embedding").isNotNull()).select(
                "vec_id", "embedding"
            )
        )
    )
    want = sorted(map(tuple, knn_ops.knn_exact(union, q50, k=6).collect()))
    results["exact_on_50q_full_probe"] = {
        "cogroup_float": bool(got_cg == want),
        "sq8": bool(got_sq8 == want),
    }
    print(f"  exactness: {results['exact_on_50q_full_probe']}",
          file=sys.stderr)
    shutil.rmtree(root, ignore_errors=True)


def _block_skew_section(spark, results: dict) -> None:
    """Finding 32 (r14): deliberate skew against the two bulk cogroup
    workhorses at 100k — the r13 verdict's stretch task.

    Corpus: 95k scattered cluster vectors + 5k EXACT DUPLICATES of one
    vector (a point mass — the worst data skew: no quantizer can split
    it, every pair is within any radius, all 5k land in one IVF cell).

    (a) block radius self-join (radius_pairs_distributed): the block
        keys are pmod(xxhash64(id)) — duplicate VECTORS still carry
        distinct ids, so the point mass spreads uniformly over the
        (qblock, vblock) grid BY CONSTRUCTION.  The rung measures wall
        vs the no-dup corpus and records the per-block-pair emitted
        counts (max/mean ~ 1 ⇒ no hot task; AQE has nothing to fix
        because the skew never reaches the partitioning).
    (b) cell-cogroup bounded kNN: the point mass IS one hot cogroup
        (one task owns the 5k-row cell and every query probing it) —
        measured wall vs uniform; the engine-side mitigation is the
        hot-cell budget split (finding 26), which bounds |cell| before
        this scan ever sees it.
    """
    K = 6
    n_dup, n_bg = 5_000, 95_000
    rng = np.random.default_rng(32)
    centers = rng.normal(0, 6.0, (16, DIM))
    bg = np.concatenate(
        [c + rng.normal(0, 0.25, (n_bg // 16 + 1, DIM)) for c in centers]
    )[:n_bg].astype(np.float32)
    dup = np.tile(rng.normal(0, 6.0, (1, DIM)).astype(np.float32),
                  (n_dup, 1))
    for tag, V in (
        ("uniform", np.concatenate([bg, bg[:n_dup] + 50.0]).astype(np.float32)),
        ("dupskew", np.concatenate([bg, dup])),
    ):
        emb = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(len(V), dtype=np.int64),
                 "embedding": list(V)}
            )
        ).cache()
        emb.count()
        eps = 0.01  # tiny: scattered rows pair rarely; the point mass fully
        timed(
            results,
            f"blockskew_radius_pairs_{tag}",
            lambda: knn_ops.radius_pairs_distributed(
                emb, eps, q_blocks=4, v_blocks=4
            ).count(),
        )
        # per-block-pair emitted-count balance (replay the block keys)
        from vector_search_engine_spark.operators.knn import (
            block_cogroup_keys,
        )
        q_own, _ = block_cogroup_keys("vec_id", 4, 1, "qblock", "_x")
        blocks = emb.select("vec_id", q_own)
        pairs = knn_ops.radius_pairs_distributed(emb, eps)
        per = (
            pairs.join(blocks.select(F.col("vec_id").alias("id_a"),
                                     F.col("qblock").alias("ba")), "id_a")
            .join(blocks.select(F.col("vec_id").alias("id_b"),
                                F.col("qblock").alias("bb")), "id_b")
            .groupBy("ba", "bb").count().collect()
        )
        counts = [r["count"] for r in per]
        if counts:
            results[f"blockskew_pairbalance_{tag}"] = {
                "max_over_mean": round(max(counts) / (sum(counts) / len(counts)), 2),
                "n_block_pairs": len(counts),
            }
            print(f"  blockskew_pairbalance_{tag}: "
                  f"{results[f'blockskew_pairbalance_{tag}']}", file=sys.stderr)
        idx_dir = tempfile.mkdtemp(prefix=f"vse_skew_{tag}_")
        idx = IVFIndex.build(emb, f"{idx_dir}/index")
        cell_sizes = [r["n_vectors"] for r in idx.stats().collect()]
        results[f"blockskew_cellmax_{tag}"] = int(max(cell_sizes))
        qall = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
        )
        timed(
            results,
            f"blockskew_bounded_knn_{tag}",
            lambda: idx.search_exact_bounded_distributed(
                qall, k=K, nprobe_seed=4
            ).count(),
        )
        emb.unpersist()


def _lsh_section(spark, results: dict) -> None:
    """Finding 33 (r14): portable multi-table hyperplane LSH at 100k —
    the no-training-pass ANN family measured against IVF on the same
    corpus, both geometries (isotropic = sign-LSH's adversarial case,
    16-cluster = everyone's easy case).  |Q| = 2000; the sizing law
    sets n_planes = ceil(log2(N)) - 5 = 12 (~24-row buckets/table),
    n_tables = 8.  Reports wall, recall@10 vs an external NumPy exact
    oracle on 200 sampled queries, and candidate fraction (DISTINCT
    candidate stubs / (|Q|*N)) — the quantity that decides LSH-vs-IVF.
    IVF rides the SAME 2000 queries through search_distributed at
    nprobe 1/2/4 for the recall-matched wall comparison."""
    from vector_search_engine_spark.operators import lsh as lsh_ops
    from vector_search_engine_spark.operators.ivf import IVFIndex

    K = 10
    NQ = 2000
    N_SAMPLE = 200
    n_planes = max(4, int(np.ceil(np.log2(N_VECS))) - 5)
    rng = np.random.default_rng(33)
    iso = rng.normal(0, 1, (N_VECS, DIM)).astype(np.float32)
    iso /= np.linalg.norm(iso, axis=1, keepdims=True)
    centers = rng.normal(0, 6.0, (16, DIM))
    clu = np.concatenate(
        [c + rng.normal(0, 0.25, (N_VECS // 16, DIM)) for c in centers]
    ).astype(np.float32)

    results["lsh_params"] = {"n_tables": 8, "n_planes": n_planes, "nq": NQ}
    for geo, V in (("iso", iso), ("clustered", clu)):
        emb = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(len(V), dtype=np.int64),
                 "embedding": list(V)}
            )
        ).cache()
        emb.count()
        qids = rng.choice(len(V), NQ, replace=False).astype(np.int64)
        qdf = emb.filter(
            F.col("vec_id").isin([int(q) for q in qids])
        ).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
        ).cache()
        qdf.count()
        # external exact oracle on a 200-query sample
        sample = qids[:N_SAMPLE]
        G = V.astype(np.float64)
        exact: dict[int, set] = {}
        for s in sample:
            d = ((G - G[s]) ** 2).sum(axis=1)
            order = np.lexsort((np.arange(len(G)), d))[:K]
            exact[int(s)] = set(int(i) for i in order)

        def recall_of(df) -> float:
            got: dict[int, set] = {}
            for r in df.filter(
                F.col("qid").isin([int(s) for s in sample])
            ).collect():
                got.setdefault(r["qid"], set()).add(r["neighbor_id"])
            return sum(
                len(exact[s] & got.get(s, set())) for s in exact
            ) / float(K * len(exact))

        holder: dict = {}

        def lsh_run():
            out = lsh_ops.knn_lsh_portable(
                emb, qdf, k=K, n_tables=8, n_planes=n_planes
            )
            holder["lsh"] = out.localCheckpoint(eager=True)
            return holder["lsh"].count()

        timed(results, f"lsh_search_{geo}", lsh_run)

        def cand_count():
            return lsh_ops.lsh_candidates(
                emb, qdf, n_tables=8, n_planes=n_planes
            ).count()

        timed(results, f"lsh_candidates_{geo}", cand_count)
        n_cand = results[f"lsh_candidates_{geo}"]["rows"]
        results[f"lsh_quality_{geo}"] = {
            "recall_at_10": round(recall_of(holder["lsh"]), 4),
            "cand_fraction": round(n_cand / (NQ * float(N_VECS)), 5),
        }
        print(f"  lsh_quality_{geo}: {results[f'lsh_quality_{geo}']}",
              file=sys.stderr)

        idx_dir = tempfile.mkdtemp(prefix=f"vse_lsh_ivf_{geo}_")

        def build():
            holder["idx"] = IVFIndex.build(emb, f"{idx_dir}/index")
            return int(holder["idx"].meta["n_centroids"])

        timed(results, f"lsh_ivf_build_{geo}", build)
        idx = holder["idx"]
        # nprobe 10 and 26 of ~316 cells match the LSH candidate
        # fractions measured on iso (~3.3%) and clustered (~8.4%) — the
        # equal-scan-budget comparison the finding is about
        for nprobe in (1, 4, 10, 26):
            def ivf_run(np_=nprobe):
                out = idx.search_distributed(qdf, k=K, nprobe=np_)
                holder["ivf"] = out.localCheckpoint(eager=True)
                return holder["ivf"].count()

            timed(results, f"lsh_ivf_search_{geo}_np{nprobe}", ivf_run)
            results[f"lsh_ivf_quality_{geo}_np{nprobe}"] = {
                "recall_at_10": round(recall_of(holder["ivf"]), 4),
            }
            print(
                f"  lsh_ivf_quality_{geo}_np{nprobe}: "
                f"{results[f'lsh_ivf_quality_{geo}_np{nprobe}']}",
                file=sys.stderr,
            )
        emb.unpersist()
        qdf.unpersist()


def _hardneg_section(spark, results: dict) -> None:
    """Finding 34 (r14): hard-negative mining at dataset scale — 100k x
    64d, 16 cluster labels (the contrastive-training shape: label =
    semantic cluster), EVERY vector an anchor.

    * cogroup tier (method='cogroup'): the only feasible geometry at
      dataset-|Q| — the broadcast GEMM path's per-batch distance tile is
      |batch| x 100k x 8 B ~ 8 GB (structurally excluded, like the join
      shapes in finding 31); the block cogroup GEMMs 16 tiles of
      (25k x 25k).
    * external NumPy gate on 100 sampled anchors: positive radius
      (3rd same-label distance), the negative set within margin x
      radius, ranks and distances replayed from scratch.
    """
    K_POS, MARGIN, K_NEG = 3, 4.0, 5
    rng = np.random.default_rng(34)
    centers = rng.normal(0, 1.5, (16, DIM))  # OVERLAPPING clusters:
    # sigma-6 centers put every cross-label vector outside margin x
    # radius (zero negatives corpus-wide - the first run's degenerate
    # config); sigma-1.5 keeps ~97% of anchors with a full negative set
    labels = rng.integers(0, 16, N_VECS)
    V = (centers[labels] + rng.normal(0, 1.0, (N_VECS, DIM))).astype(
        np.float32
    )
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(N_VECS, dtype=np.int64),
                "embedding": list(V),
                "label": labels.astype(np.int64),
            }
        )
    ).cache()
    emb.count()
    anchors = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    holder: dict = {}

    def run():
        out = knn_ops.hard_negatives(
            emb, anchors, k_pos=K_POS, margin=MARGIN, k_neg=K_NEG,
            method="cogroup",
        )
        holder["out"] = out.localCheckpoint(eager=True)
        return holder["out"].count()

    timed(results, "hardneg_cogroup_100k", run)

    # external NumPy gate on 100 sampled anchors
    sample = rng.choice(N_VECS, 100, replace=False)
    got: dict[int, list] = {}
    for r in holder["out"].filter(
        F.col("qid").isin([int(s) for s in sample])
    ).collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["neighbor_id"], round(r["dist_sq"], 4))
        )
    G = V.astype(np.float64)
    bad = 0
    for s in sample:
        d = ((G - G[s]) ** 2).sum(axis=1)
        pairs = sorted(
            (float(d[j]), int(j)) for j in range(N_VECS) if j != s
        )
        same = [(dd, j) for dd, j in pairs if labels[j] == labels[s]]
        pos_radius = same[K_POS - 1][0]
        want = [
            (rank + 1, j, round(dd, 4))
            for rank, (dd, j) in enumerate(
                [
                    (dd, j)
                    for dd, j in pairs
                    if labels[j] != labels[s] and dd <= MARGIN * pos_radius
                ][:K_NEG]
            )
        ]
        if sorted(got.get(int(s), [])) != want:
            bad += 1
    results["hardneg_exact_100_anchors"] = {"mismatches": int(bad)}
    print(f"  hardneg_exact_100_anchors: {results['hardneg_exact_100_anchors']}",
          file=sys.stderr)
    emb.unpersist()




def _dsir_section(spark, results: dict) -> None:
    """Finding 35 (r14): DSIR + containment at 100k documents.

    Corpus: the sf0.1 documents table fanned 20x (variant suffix keeps
    near-dup families), lang/source preserved — 100k docs, ~12M gram
    rows after the unigram+bigram explode.  Pins:

    * dsir_weights / dsir_sample wall at 100k (one pinned scan + B-row
      broadcast join — the wall should be explode-bound, NOT grow with
      the number of model branches);
    * the finding-28 discipline: EXACTNESS ABOVE FIXTURE SCALE — the
      full 100k weight table is replayed by the DuckDB oracle over the
      same parquet and compared row-exact (doc_id join, n_grams exact,
      log_ratio to 1e-9);
    * containment wall at 100k on the near-dup-family corpus plus a
      2k-doc slice replayed exactly in DuckDB (the O(N^2) SQL twin caps
      the oracle, not the operator)."""
    import duckdb

    base = load_table(spark, SF_DIR, "documents")
    fan = 20
    docs = (
        base.crossJoin(spark.range(fan).select(F.col("id").alias("_v")))
        .select(
            (F.col("doc_id") * fan + F.col("_v")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" variant"), F.col("_v")).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="dsir100k-")
    path = os.path.join(tmp, "documents.parquet")
    docs.coalesce(8).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path).cache()
    n = big.count()
    results["dsir_corpus"] = {"n_docs": n}

    # NOTE: dsir_weights pins its doc-bucket aggregate with an EAGER
    # localCheckpoint at plan-construction time, so construction happens
    # inside the timed lambda (constructing outside would silently move
    # the explode+agg cost out of the measurement)
    timed(
        results,
        "dsir_weights_100k",
        lambda: txt_ops.dsir_weights(big).count(),
    )
    timed(
        results,
        "dsir_sample_100k",
        lambda: txt_ops.dsir_sample(big).count(),
    )
    w_df = txt_ops.dsir_weights(big)

    # exactness gate at 100k: DuckDB replays the oracle over the same
    # parquet; every doc's n_grams must match exactly and log_ratio to
    # 1e-9 (the oracle rounds at 6; compare pre-round tolerance-free
    # semantics via the rounded values)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{path}/*.parquet')"
    )
    t0 = time.time()
    want = con.sql(txt_ops.DSIR_WEIGHTS_ORACLE).df()
    results["dsir_oracle_100k_sec"] = round(time.time() - t0, 2)
    got = w_df.toPandas()
    got_s = got.sort_values("doc_id").reset_index(drop=True)
    want_s = want.sort_values("doc_id").reset_index(drop=True)
    exact = bool(
        len(got_s) == len(want_s)
        and (got_s["doc_id"].values == want_s["doc_id"].values).all()
        and (got_s["n_grams"].values == want_s["n_grams"].values).all()
        and np.allclose(
            got_s["log_ratio"].values, want_s["log_ratio"].values, atol=1e-9
        )
    )
    results["dsir_exactness_100k"] = exact
    print(f"  dsir_exactness_100k: {exact}", file=sys.stderr)

    # containment: wall at 100k (near-dup families -> ~C(20,2) pairs per
    # family), exactness on a 2k slice vs the quadratic SQL twin
    timed(
        results,
        "containment_100k",
        lambda: dedup_ops.containment_pairs(big).count(),
    )
    timed(
        results,
        "containment_prefix_100k",
        lambda: dedup_ops.containment_pairs_prefix(big).count(),
    )
    sl = big.filter(F.col("doc_id") < 2000).cache()
    sl.count()
    got_sl = (
        dedup_ops.containment_pairs(sl)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    con2 = duckdb.connect()
    con2.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{path}/*.parquet') WHERE doc_id < 2000"
    )
    want_sl = (
        con2.sql(dedup_ops.CONTAINMENT_ORACLE)
        .df()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    cexact = bool(
        len(got_sl) == len(want_sl)
        and (got_sl[["doc_a", "doc_b"]].values == want_sl[["doc_a", "doc_b"]].values).all()
        and np.allclose(got_sl["cont_ab"], want_sl["cont_ab"], atol=1e-9)
        and np.allclose(got_sl["cont_ba"], want_sl["cont_ba"], atol=1e-9)
    )
    results["containment_slice_pairs"] = len(got_sl)
    results["containment_exactness_2k"] = cexact
    print(f"  containment_exactness_2k: {cexact} ({len(got_sl)} pairs)", file=sys.stderr)




def _rank_section(spark, results: dict) -> None:
    """Finding 36 (r14): the exact-covariance family at 1M vectors.

    Corpus: 1M x 64 anisotropic Gaussians with a PLANTED 1/k variance
    spectrum (per-dim scale 1/sqrt(k)) -> analytic participation ratio
    (sum 1/k)^2 / (sum 1/k^2) ~= 13.9 of 64.  Pins:

    * effective_rank wall at 1M (one mapInPandas Gram scan + d^2-row
      reduce -- should be scan-bound) and EXACTNESS vs a NumPy replay
      of the same vectors;
    * whiten wall at 1M (bounded d^2 collect + eigh + one broadcast-W
      GEMM scan) and the post-whitening PR ~= 64 contract at scale."""
    dim = 64
    n = 1_000_000
    scales = 1.0 / np.sqrt(np.arange(1, dim + 1, dtype=np.float64))

    def gen(batches):
        for pdf in batches:
            rng = np.random.default_rng(int(pdf["id"].iloc[0]) + 99)
            Z = rng.normal(0, 1, (len(pdf), dim)) * scales[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["id"].values,
                    "embedding": list(Z.astype(np.float32)),
                }
            )

    emb = (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<float>")
        .cache()
    )
    results["rank_corpus"] = {"n_vecs": emb.count(), "dim": dim}

    got = {}

    def run_rank():
        row = knn_ops.effective_rank(emb).collect()[0]
        got.update(row.asDict())
        return 1

    timed(results, "effective_rank_1m", run_rank)
    results["effective_rank_1m_value"] = got["effective_rank"]

    X = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    C = np.cov(X.T, bias=True)
    want = float(np.trace(C) ** 2 / (C * C).sum())
    results["effective_rank_1m_numpy"] = round(want, 6)
    results["rank_exactness_1m"] = bool(abs(got["effective_rank"] - want) < 1e-3)
    analytic = float(scales.sum() ** 2 / (scales**2).sum())  # scales = sqrt(var)
    results["rank_analytic_note"] = round(
        float((scales**2).sum() ** 2 / (scales**4).sum()), 3
    )
    del X, C

    wdf = knn_ops.whiten(emb)
    timed(results, "whiten_1m", lambda: wdf.count())
    pr_w = knn_ops.effective_rank(knn_ops.whiten(emb)).collect()[0].effective_rank
    results["whitened_rank_1m"] = pr_w
    results["whiten_contract_1m"] = bool(abs(pr_w - dim) < 1.0)
    print(
        f"  rank_1m: pr={got['effective_rank']} numpy={want:.4f} "
        f"whitened={pr_w}",
        file=sys.stderr,
    )




def _whiten_ivf_section(spark, results: dict) -> None:
    """Finding 37 (r14): does ZCA whitening change IVF serving recall?

    The pipeline decision this measures: whitening is attractive for
    threshold stability (dedup/cosine cuts stop depending on a few
    dominant directions), but serving happens AFTER the transform — so
    what does the whitened geometry cost/buy at matched nprobe?  Corpus:
    100k x 64 with the 1/k variance spectrum (PR ~= 13.8 of 64, finding
    36's shape).  Each space is scored against ITS OWN exact kNN truth
    (whitening changes the metric; the question is partitionability,
    not cross-space agreement): recall@10 over 200 sampled queries,
    nprobe 1/2/4/8, identical index params."""
    from vector_search_engine_spark.operators.ivf import IVFIndex

    K, NQ, N_SAMPLE = 10, 1000, 200
    dim = 64
    scales = 1.0 / np.sqrt(np.arange(1, dim + 1, dtype=np.float64))
    rng = np.random.default_rng(37)
    V = (rng.normal(0, 1, (N_VECS, dim)) * scales[None, :]).astype(np.float32)
    raw = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_VECS, dtype=np.int64), "embedding": list(V)}
        )
    ).cache()
    raw.count()
    wdf = knn_ops.whiten(raw).cache()
    wdf.count()
    qids = rng.choice(N_VECS, NQ, replace=False).astype(np.int64)
    sample = qids[:N_SAMPLE]

    for name, emb in (("raw", raw), ("whitened", wdf)):
        Vn = np.zeros((N_VECS, dim), dtype=np.float64)
        for r in emb.select("vec_id", "embedding").toLocalIterator():
            Vn[r.vec_id] = r.embedding
        exact = {}
        for qv in sample:
            dsq = ((Vn - Vn[qv]) ** 2).sum(axis=1)
            order = np.lexsort((np.arange(N_VECS), dsq))[:K]
            exact[int(qv)] = set(int(i) for i in order)
        qdf = (
            emb.filter(F.col("vec_id").isin([int(q) for q in qids]))
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("query"))
            .cache()
        )
        qdf.count()
        idx_dir = tempfile.mkdtemp(prefix=f"vse_whiten_{name}_")
        idx = IVFIndex.build(emb, f"{idx_dir}/index")
        results[f"whiten_ivf_cells_{name}"] = int(idx.meta["n_centroids"])
        for nprobe in (1, 2, 4, 8):
            t0 = time.time()
            out = idx.search_distributed(qdf, k=K, nprobe=nprobe)
            got = {}
            for r in out.filter(
                F.col("qid").isin([int(x) for x in sample])
            ).collect():
                got.setdefault(r["qid"], set()).add(r["neighbor_id"])
            rec = sum(
                len(exact[q] & got.get(q, set())) for q in exact
            ) / float(K * len(exact))
            results[f"whiten_ivf_{name}_np{nprobe}"] = {
                "sec": round(time.time() - t0, 2),
                "recall_at_10": round(rec, 4),
            }
            print(
                f"  whiten_ivf_{name}_np{nprobe}: "
                f"{results[f'whiten_ivf_{name}_np{nprobe}']}",
                file=sys.stderr,
            )




def _containment_skew_section(spark, results: dict) -> None:
    """Finding 38 (r14): the containment prefix tier on the corpus it
    exists for — BOILERPLATE-HOT shingles.

    Corpus: 20k docs, each 30 doc-unique tokens + the SAME 15-token
    license sentence (so ~13 shingles have df = 20k while content
    shingles have df = 1).  True answer: every pair overlaps ONLY on
    license shingles -> containment ~ 0.3 < 0.5 -> ZERO qualifying
    pairs.  The single-scan tier must group each hot shingle's 20k
    postings into ONE task and explode ~400M in-group pair rows to
    discover that; the prefix tier's df-ordered prefixes contain only
    the df=1 content shingles, so candidate generation collapses to
    nothing.  Both tiers run under the same wall; exactness asserted
    (both must emit 0 pairs)."""
    import random

    rng = random.Random(38)
    n_docs = 20_000
    license_txt = "this software is provided as is without warranty of any kind express or implied"
    rows = []
    for i in range(n_docs):
        uniq = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append((i, uniq + " " + license_txt))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": [t for _, t in rows],
            }
        )
    ).withColumn("n_chars", F.length("text").cast("long")).cache()
    docs.count()

    timed(
        results,
        "cont_prefix_boilerplate_20k",
        lambda: dedup_ops.containment_pairs_prefix(docs).count(),
    )
    timed(
        results,
        "cont_singlescan_boilerplate_20k",
        lambda: dedup_ops.containment_pairs(docs).count(),
    )
    results["cont_boilerplate_exact"] = bool(
        results["cont_prefix_boilerplate_20k"]["rows"] == 0
        and results["cont_singlescan_boilerplate_20k"]["rows"] == 0
    )




def _text_scale_section(spark, results: dict) -> None:
    """Finding 39 (r14): curriculum order + hashed TF-IDF kNN at 100k.

    Same fanned corpus as finding 35 (sf0.1 x 20 variants, lang/source
    preserved).  Pins:

    * curriculum_order wall at 100k + EXACTNESS: the full (phase, rank)
      assignment replayed by the DuckDB twin over the same parquet —
      the bigram-LM quality model, ntile tiling, salted shuffle and
      per-(phase,source) ranking all have to agree row-exact at 200x
      fixture scale;
    * doc_tfidf_knn at the DEMO bucket count (64) is the deliberate
      hot-bucket regime (every bucket df = 100k -> quadratic; NOT run);
      at the documented production sizing (n_buckets = 4096) the
      inverted-index join is df-bounded — wall measured at 100k and
      exactness on a 2k slice vs the quadratic SQL twin at the same
      bucket count."""
    import duckdb

    from vector_search_engine_spark.operators import retrieval

    base = load_table(spark, SF_DIR, "documents")
    fan = 20
    docs = (
        base.crossJoin(spark.range(fan).select(F.col("id").alias("_v")))
        .select(
            (F.col("doc_id") * fan + F.col("_v")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" variant"), F.col("_v")).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    tmp = tempfile.mkdtemp(prefix="textscale-")
    path = os.path.join(tmp, "documents.parquet")
    docs.coalesce(8).write.mode("overwrite").parquet(path)
    big = spark.read.parquet(path).cache()
    results["text_corpus"] = {"n_docs": big.count()}

    cur = txt_ops.curriculum_order(big)
    timed(results, "curriculum_100k", lambda: cur.count())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{path}/*.parquet')"
    )
    t0 = time.time()
    want = con.sql(txt_ops.CURRICULUM_ORDER_ORACLE).df()
    results["curriculum_oracle_100k_sec"] = round(time.time() - t0, 2)
    got = txt_ops.curriculum_order(big).toPandas()
    key = ["doc_id", "source", "phase", "rank"]
    a = got[key].sort_values(key).reset_index(drop=True)
    b = want[key].sort_values(key).reset_index(drop=True)
    results["curriculum_exactness_100k"] = bool(
        a.shape == b.shape and (a.values == b.values).all()
    )
    print(
        f"  curriculum_exactness_100k: {results['curriculum_exactness_100k']}",
        file=sys.stderr,
    )

    # the sparse bucket-join tier at 100k is the measured DISK-EXHAUSTION
    # regime (first run of this section: ~10^10 shuffle rows at
    # n_buckets=4096, java.io.IOException: No space left on device) —
    # all-pairs top-k rides the dense block-GEMM tier instead
    B = 256
    timed(
        results,
        "tfidf_knn_gemm_100k_b256",
        lambda: retrieval.doc_tfidf_knn_gemm(big, n_buckets=B).count(),
    )
    sl = big.filter(F.col("doc_id") < 2000).cache()
    sl.count()
    got_sl = (
        retrieval.doc_tfidf_knn(sl, n_buckets=B)
        .toPandas()
        .sort_values(["doc_id", "rank"])
        .reset_index(drop=True)
    )
    con2 = duckdb.connect()
    con2.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{path}/*.parquet') WHERE doc_id < 2000"
    )
    oracle_sl = retrieval.DOC_TFIDF_KNN_ORACLE.replace(
        f"% {retrieval.TFIDF_BUCKETS} AS bucket", f"% {B} AS bucket"
    )
    want_sl = (
        con2.sql(oracle_sl)
        .df()
        .sort_values(["doc_id", "rank"])
        .reset_index(drop=True)
    )
    cols = ["doc_id", "neighbor_id", "rank", "sim"]
    results["tfidf_knn_slice_rows"] = len(got_sl)
    results["tfidf_knn_exactness_2k"] = bool(
        got_sl.shape == want_sl.shape
        and (got_sl[cols].astype(str).values == want_sl[cols].astype(str).values).all()
    )
    print(
        f"  tfidf_knn_exactness_2k: {results['tfidf_knn_exactness_2k']} "
        f"({len(got_sl)} rows)",
        file=sys.stderr,
    )


# --only-<section> flag -> (run(spark, results), what its JSON line
# holds besides the results: "n_vecs", "results" alone, or None when the
# section prints its own line); the SCALING finding each one measures
_SECTIONS = {
    "--only-sidecar": (_sidecar_section, "n_vecs"),  # 21
    "--only-deltagraph": (lambda spark, r: _delta_graph_section(r), "results"),  # 22
    "--only-churn": (_churn_section, "n_vecs"),  # 23
    "--only-pca": (_pca_section, "n_vecs"),  # 24
    "--only-distq": (_distq_section, "n_vecs"),  # 25
    "--only-distq-merged": (_distq_merged_section, "n_vecs"),  # 28
    "--only-exactknn": (_exact_knn_graph_section, "n_vecs"),  # 30
    "--only-sift-merged": (_sift_merged_section, "results"),  # 31
    "--only-graphedge1m": (_graph_edge_1m_section, "results"),  # 40
    "--only-mixedsf1": (_mixed_rw_sf1_section, "results"),  # 41
    "--only-text1m": (_text_1m_section, "results"),  # 44
    "--only-pipeline1m": (_pipeline_1m_section, "results"),  # 47
    "--only-pipeline100k": (_pipeline_scale_section, "results"),  # 42
    "--only-blockskew": (_block_skew_section, "results"),  # 32
    "--only-hardneg": (_hardneg_section, "n_vecs"),  # 34
    "--only-lsh": (_lsh_section, "n_vecs"),  # 33
    "--only-dsir": (_dsir_section, "results"),  # 35
    "--only-rank": (_rank_section, "results"),  # 36
    "--only-whitenivf": (_whiten_ivf_section, "results"),  # 37
    "--only-contskew": (_containment_skew_section, "results"),  # 38
    "--only-textscale": (_text_scale_section, "results"),  # 39
    "--only-eps": (_eps_section, "n_vecs"),  # 19
    "--only-vecs": (lambda spark, r: _vector_section(spark, r, n_docs=0), None),
}
# sections over the document stress corpus (main builds it first):
# flag -> run(results, docs), or None for the whole document part
_DOC_SECTIONS = {
    "--only-docs": None,
    "--only-fn": _fngrams_section,  # 18
    "--only-overlap": _overlap_section,  # 27
}


if __name__ == "__main__":
    main()
