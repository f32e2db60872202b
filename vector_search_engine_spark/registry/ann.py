"""IVF index family (reference B2 bulk build + Q2/Q3 ANN search): serving tiers, metric matrix, tuning reports.

Registry family module - mechanically split from the monolithic
registry.py (r10 verdict item 4); registration order is preserved by
the import order in registry/__init__.py, so the grading window and
the sweep see an unchanged QUERIES/ORACLES surface."""

from __future__ import annotations

from vector_search_engine_spark.registry._base import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# IVF index (reference B2 bulk build + Q2/Q3 ANN search)
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_exact_when_full_probe",
    oracle=ORACLES["knn_exact_l2"],
)
def ann_ivf_exact_when_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with nprobe = n_centroids must equal exact search —
    the index's correctness contract (SURVEY.md §5)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = knn_ops.make_queries(emb)
    return index.search(q, k=10, nprobe=index.meta["n_centroids"])


@register("ann_ivf_probe")  # ANN: approximate by nature → rows-only check
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search at nprobe=4 (ef_search ↦ nprobe knob, ``hnsw_index.h:256``)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search(knn_ops.make_queries(emb), k=10, nprobe=4)


@register(
    "ann_ivf_filtered",
    oracle=ORACLES["knn_filtered"],
)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN search: metadata predicate (label < 5) inside the
    partition-pruned index scan, at full probe == the exact filtered
    oracle.  Capability the reference lacks entirely (SURVEY.md §2.7)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


_COLLAPSE_ORACLE = f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id, CAST(e.label AS BIGINT) AS parent,
         {_DD_L2SQ.format(a="e.embedding", b="q.query")} AS dist
  FROM embeddings e CROSS JOIN q
),
g AS (
  SELECT qid, neighbor_id, parent, dist,
         row_number() OVER (
           PARTITION BY qid, parent ORDER BY dist, neighbor_id
         ) AS gr
  FROM d
),
c AS (SELECT * FROM g WHERE gr <= 2),
r AS (
  SELECT qid, neighbor_id, parent, dist,
         row_number() OVER (
           PARTITION BY qid ORDER BY dist, neighbor_id
         ) AS "rank"
  FROM c
)
SELECT qid, neighbor_id, parent, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
"""


@register("knn_collapse_topk", oracle=_COLLAPSE_ORACLE)
def knn_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-collapsed exact top-k (Elasticsearch field collapsing):
    global (dist, id) ranking capped at 2 results per parent — exact
    two-phase plan, bounded per-partition emission, child vectors never
    shuffled."""
    from vector_search_engine_spark.operators import multivec

    emb = load_table(spark, sf_dir, "embeddings")
    return multivec.collapse_topk(
        emb, knn_ops.make_queries(emb), k=10, per_group=2
    )


# --- multi-vector (parent/child) retrieval -------------------------------
# Parents = the fixture's label groups (a "document" of ~N/10 child
# passages).  Both scoring contracts are algebraic aggregations, so the
# oracles are plain SQL over the same child table.

_PARENT_CLOSEST_ORACLE = f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, CAST(e.label AS BIGINT) AS parent,
         {_DD_L2SQ.format(a="e.embedding", b="q.query")} AS dist
  FROM embeddings e CROSS JOIN q
),
m AS (SELECT qid, parent, min(dist) AS dist FROM d GROUP BY qid, parent),
r AS (
  SELECT qid, parent, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, parent) AS "rank"
  FROM m
)
SELECT qid, parent, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 5
"""

ORACLES["knn_parent_closest"] = _PARENT_CLOSEST_ORACLE

_MAXSIM_ORACLE = f"""
WITH q AS (
  SELECT vec_id // 5 AS qid, vec_id AS qvec_id, embedding AS query
  FROM embeddings WHERE vec_id < 20
),
s AS (
  SELECT q.qid, q.qvec_id, CAST(e.label AS BIGINT) AS parent,
         {_DD_DOT.format(a="e.embedding", b="q.query")} AS sim
  FROM embeddings e CROSS JOIN q
),
mx AS (
  SELECT qid, qvec_id, parent, max(sim) AS sim
  FROM s GROUP BY qid, qvec_id, parent
),
sc AS (SELECT qid, parent, sum(sim) AS maxsim FROM mx GROUP BY qid, parent),
r AS (
  SELECT qid, parent, maxsim,
         row_number() OVER (PARTITION BY qid ORDER BY maxsim DESC, parent) AS "rank"
  FROM sc
)
SELECT qid, parent, "rank", round(maxsim, 4) AS maxsim
FROM r WHERE "rank" <= 5
"""


@register("knn_parent_closest", oracle=ORACLES["knn_parent_closest"])
def knn_parent_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-document retrieval, closest-child contract: top-k parents
    (label groups) by min child l2² — the grouped form the reference's
    per-row ranking cannot express (one scan, per-partition GEMM +
    parent-min partial aggregation)."""
    from vector_search_engine_spark.operators import multivec

    emb = load_table(spark, sf_dir, "embeddings")
    return multivec.parent_closest(emb, knn_ops.make_queries(emb), k=5)


@register("ann_ivf_parent_closest", oracle=ORACLES["knn_parent_closest"])
def ann_ivf_parent_closest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest-child parent search composed with the IVF index: probed
    partitions (pruning reaches the scan) → JVM-side l2² → one partial-
    aggregated groupBy.  Exact at full probe — same composed-tier
    contract as every sidecar."""
    from vector_search_engine_spark.operators import multivec

    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return multivec.ann_ivf_parent_closest(
        index,
        knn_ops.make_queries(emb),
        k=5,
        nprobe=index.meta["n_centroids"],
    )


@register("knn_maxsim", oracle=_MAXSIM_ORACLE)
def knn_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): multi-vector queries (5 subvectors per query), score =
    Σ_subvec max_child ⟨t, c⟩ — two algebraic shuffles, no pairwise
    materialization."""
    from vector_search_engine_spark.operators import multivec

    emb = load_table(spark, sf_dir, "embeddings")
    return multivec.maxsim_topk(
        emb, multivec.make_multivec_queries(emb), k=5
    )


@register("knn_opq_adc", oracle=ORACLES["knn_exact_l2"])
def knn_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ (CVPR'13): PQ with a jointly-trained orthogonal rotation —
    subspaces decorrelate, reconstruction error drops, the lossless
    bound cut prunes harder.  Rotation preserves every distance, so the
    same exact oracle gates it bit-for-bit."""
    from vector_search_engine_spark.operators.pq import knn_pq_adc as pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_search(emb, knn_ops.make_queries(emb), k=10, m=8, opq=True)


@register("ann_ivf_opq", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with an OPQ rotation learned over the cell residuals —
    the deepest configuration of the quantized tier (probed partitions,
    rotated byte codes, lossless bound cut, exact rescore).  Rotation
    preserves distances, so the exact oracle gates it at full probe."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_mod.build_or_load(spark, sf_dir)
    return idx.search_pq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=idx.meta["n_centroids"],
        opq=True,
    )


@register("ann_ivf_bq_filtered", oracle=ORACLES["knn_filtered"])
def ann_ivf_bq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered × BQ cell of the capability matrix: the metadata
    predicate applies BEFORE the sign-code cut (column-pruned semi-join,
    same discipline as the SQ8/PQ filtered tiers); graded at full probe
    with an unbounded cut, where output is hash-identical to the exact
    filtered oracle."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    index = ivf_mod.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_bq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        candidates_per_cell=10**9,
        predicate=F.col("label") < 5,
    )


@register("ann_ivf_prefix_filtered", oracle=ORACLES["knn_filtered"])
def ann_ivf_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered × prefix-bound cell: predicate before the lossless
    prefix cut; exact at full probe against the same filtered oracle —
    with zero sidecar storage (the cut is pure compute)."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    index = ivf_mod.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_prefix(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        prefix_dims=16,
        predicate=F.col("label") < 5,
    )


@register("ann_ivf_recall_curve")  # recall vs exact oracle — rows-only
def ann_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF at nprobe ∈ {1,2,4,8} vs the exact result — the
    reference's own correctness methodology (``recall_bench.cpp:80-101``).

    Fixture geometry note: the driver's embeddings are isotropic unit-norm
    Gaussians (measured within-label mean dist 1.995 vs cross-label 2.001
    at sf0.1) — no cluster structure for ANY coarse quantizer to exploit,
    so absolute recall at small nprobe is bounded by the curse of
    dimensionality (any partition-pruned or graph method degrades alike on
    random points; SIFT-like structured data probes far better).  The
    contract here is (a) recall increases monotonically in nprobe — the
    ``ef_search ↦ nprobe`` knob works — and (b) full probe is exact
    (``ann_ivf_exact_when_full_probe``, hash-gated)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = knn_ops.make_queries(emb)
    exact = knn_ops.knn_exact(emb, q, k=10)
    gt = (
        exact.orderBy("rank")
        .groupBy("qid")
        .agg(F.collect_list("neighbor_id").alias("neighbor_ids"))
    )
    parts = []
    for nprobe in (1, 2, 4, 8):
        res = index.search(q, k=10, nprobe=nprobe)
        parts.append(
            knn_ops.recall_at_k(res, gt, k=10).select(
                F.lit(nprobe).cast("long").alias("nprobe"), "recall_at_k", "n_queries"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("ivf_tune_nprobe_report")  # calibration ladder — rows-only
def ivf_tune_nprobe_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-knob calibration pass as a graded row: the doubling +
    binary-refinement ladder ``tune_nprobe`` runs (the reference's own
    ef_search methodology, ``recall_bench.cpp:67-106``), emitted as
    (nprobe, recall, chosen) rows.  Rows-only by nature — the ladder's
    recalls are probe-order facts, not SQL-expressible — but the knob's
    CONTRACT (minimality + target met + full-probe exactness) is
    pytest-gated (tests/test_ivf.py::test_tune_nprobe_*)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = index.tune_nprobe(
        knn_ops.make_queries(emb, n=10), target_recall=0.9, k=10
    )
    rows = [
        (int(e["nprobe"]), float(e["recall"]), e["nprobe"] == out["nprobe"])
        for e in out["ladder"]
    ]
    return spark.createDataFrame(
        rows, "nprobe long, recall_at_k double, chosen boolean"
    )


@register("ivf_tune_candidates_report")  # calibration ladder — rows-only
def ivf_tune_candidates_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C-knob sibling of ``ivf_tune_nprobe_report``: the smallest
    ``candidates_per_cell`` meeting the recall target through the lossy
    BQ tier at a fixed nprobe, as (candidates_per_cell, recall, chosen)
    rows.  Monotone in C (a larger cut keeps a candidate superset), so
    the doubling ladder terminates at or below the largest probed cell;
    an unreachable target reports the nprobe ceiling honestly
    (tests/test_ivf.py::test_tune_candidates_*)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = index.tune_candidates(
        knn_ops.make_queries(emb, n=10),
        target_recall=0.9,
        k=10,
        nprobe=max(2, index.meta["n_centroids"] // 2),
        tier="bq",
    )
    rows = [
        (
            int(e["candidates_per_cell"]),
            float(e["recall"]),
            e["candidates_per_cell"] == out["candidates_per_cell"],
        )
        for e in out["ladder"]
    ]
    return spark.createDataFrame(
        rows, "candidates_per_cell long, recall_at_k double, chosen boolean"
    )


@register("ivf_tune_ef_report")  # calibration ladder — rows-only
def ivf_tune_ef_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ef-knob calibration — the LITERAL reference tuning pass
    (``recall_bench.cpp:67-106`` sweeps ef_search on the same algorithm
    this graph tier runs): smallest beam width meeting the recall target
    at a fixed nprobe, as (ef, recall, chosen) rows.  The exhaustive
    ceiling (ef >= max cell) provably equals the float probe's recall at
    the same nprobe (tests/test_hnsw.py gates the bound)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = index.tune_ef(
        knn_ops.make_queries(emb, n=10),
        target_recall=0.9,
        k=10,
        nprobe=max(2, index.meta["n_centroids"] // 2),
    )
    rows = [
        (int(e["ef"]), float(e["recall"]), e["ef"] == out["ef"])
        for e in out["ladder"]
    ]
    return spark.createDataFrame(
        rows, "ef long, recall_at_k double, chosen boolean"
    )


@register("knn_sq8_rescore")  # candidate pruning is approximate → rows-only
def knn_sq8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SQ8 search: uint8-quantized candidate scan (4× fewer scan
    bytes) + exact float re-score; recall≈1 pytest-gated, distances exact."""
    from vector_search_engine_spark.operators import sq

    emb = load_table(spark, sf_dir, "embeddings")
    return sq.knn_sq8_rescore(emb, knn_ops.make_queries(emb), k=10)


@register("ann_ivf_cogroup_scan_distributed", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_cogroup_scan_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bulk path's per-cell COGROUP scan at full probe (r14): one
    chunked GEMM per probed cell, shuffle = probe stubs + each cell
    once, never the |Q|·fanout·|cell| candidate rows a probes⋈cells
    join streams through Arrow (SCALING finding 31).  It is the only
    shape of ``search_distributed``, so this is the same plan as
    ``ann_ivf_distributed``, kept under its own name as the oracle row
    of the cogroup scan.  Exact at full probe; identical to
    ``search()`` at any nprobe (pytest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf.build_or_load(spark, sf_dir)
    return idx.search_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=idx.meta["n_centroids"]
    )


@register("knn_exact_ivf_bounded", oracle=ORACLES["knn_exact_l2"])
def knn_exact_ivf_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT kNN at partial-probe cost (r14): seed top-k at nprobe_seed=2
    gives a per-query k-th-distance upper bound; the verify pass probes
    only cells the triangle inequality cannot exclude (sqrt(d(q,c)) <=
    sqrt(d_k) + R_c) and re-ranks globally.  Hash-identical to exact kNN
    at ANY seed width — the lossless bulk exact-kNN route for clustered
    corpora (IVFIndex.search_exact_bounded_distributed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf.build_or_load(spark, sf_dir)
    return idx.search_exact_bounded_distributed(
        knn_ops.make_queries(emb), k=10, nprobe_seed=2
    )


@register("knn_sq8_rescore_exhaustive", oracle=ORACLES["knn_exact_l2"])
def knn_sq8_rescore_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-C form of the two-stage SQ8 search (r14): with
    ``candidates_per_partition`` >= partition size the uint8 candidate
    stage keeps EVERY row, so the exact float re-score is exhaustive and
    the output is hash-identical to exact kNN — the lossless end of the
    C ladder, oracle-graded where the default-C serving shape stays
    rows-only (its pruning is approximate by design, recall pytest-gated)."""
    from vector_search_engine_spark.operators import sq

    emb = load_table(spark, sf_dir, "embeddings")
    return sq.knn_sq8_rescore(
        emb,
        knn_ops.make_queries(emb),
        k=10,
        candidates_per_partition=1 << 31,
    )


@register("knn_bq_rescore_exhaustive", oracle=ORACLES["knn_exact_l2"])
def knn_bq_rescore_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-C form of the two-stage BQ search (r14): with
    ``candidates_per_partition`` >= partition size the packed sign-bit
    candidate stage keeps EVERY row, so the exact float re-score is
    exhaustive and the output is hash-identical to exact kNN — the
    lossless end of the 1-bit C ladder, oracle-grading the BQ plumbing
    (bit packing, asymmetric scoring, rescore join) end to end where the
    default-C serving shape stays rows-only (1-bit recall is measured,
    not bounded; pytest-gated)."""
    from vector_search_engine_spark.operators import bq as bq_ops

    emb = load_table(spark, sf_dir, "embeddings")
    return bq_ops.knn_bq_rescore(
        emb,
        knn_ops.make_queries(emb),
        k=10,
        candidates_per_partition=1 << 31,
    )


@register("ann_ivf_sq8", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 composed WITHIN IVF cells: the probed partitions' int8 code
    sidecar feeds candidate generation (~4× fewer scan bytes — the true
    100 TB design), with a provably lossless error-bound cut + exact float
    re-score, so full probe is hash-identical to exact kNN."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_sq8(
        knn_ops.make_queries(emb), k=10, nprobe=index.meta["n_centroids"]
    )


_FILTERED_SELECTIVE_ORACLE = f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {_DD_L2SQ.format(a="e.embedding", b="q.query")} AS dist
  FROM embeddings e CROSS JOIN q
  WHERE e.label = 3 AND e.vec_id % 10 = 0
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
"""


@register("ann_ivf_filtered_auto", oracle=_FILTERED_SELECTIVE_ORACLE)
def ann_ivf_filtered_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre/post-filter PLANNER at a selective predicate (label = 3
    AND vec_id % 10 = 0, ~1% of rows) and partial nprobe: auto chooses
    the prefilter branch
    (survivor count ≤ probed fraction), which brute-forces only the
    survivors and is EXACT at any nprobe — graded against the exact
    filtered oracle at nprobe=2 to pin exactly that claim.  The inprobe
    branch is graded separately (ann_ivf_filtered at full probe)."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_filtered(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=2,
        predicate=(F.col("label") == 3) & (F.col("vec_id") % 10 == 0),
        strategy="auto",
    )


@register("ann_ivf_sq4", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_sq4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ4 (16-level, nibble-packed) composed within IVF cells — the 8×
    scan-byte rung between SQ8 (4×) and PQ/BQ (32×) on the compression
    ladder.  Same lossless bound cut with the wider per-element error
    (span/30), so full probe stays hash-identical to exact kNN."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_sq8(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        bits=4,
    )


@register("ann_ivf_cosine", oracle=ORACLES["knn_exact_cosine"])
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine ANN through an L2 index over NORMALIZED vectors (unit-
    vector L2² = 2 − 2·cos, monotone), with candidates re-scored by the
    exact cosine expression on the ORIGINAL vectors — at full probe
    hash-identical to the flat cosine oracle.  Metric coverage the
    L2-only reference lacks (``distance.cpp``)."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
    )


@register("ann_ivf_cosine_sq8", oracle=ORACLES["knn_exact_cosine"])
def ann_ivf_cosine_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine × quantized-tier cell of the capability matrix: candidate
    generation runs through the normalized index's SQ8 sidecar (4× fewer
    scan bytes; lossless bound cut, exact-equivalent at full probe) and
    the exact-cosine rescore on the original vectors is unchanged — the
    same flat cosine oracle gates it.  Production embedding workloads
    are cosine/IP; this row proves the byte-cut ladder serves them."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="sq8",
    )


@register("ann_ivf_cosine_graph", oracle=ORACLES["knn_exact_cosine"])
def ann_ivf_cosine_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine × graph-tier cell of the capability matrix: candidate
    generation walks the NORMALIZED index's per-cell HNSW sidecars (the
    reference's own beam, serving a metric its L2-only engine lacks) and
    the exact-cosine rescore on the original vectors is unchanged — at
    full probe with an unbounded beam the walk is exhaustive, so the
    same flat cosine oracle gates it."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="graph",
        candidates_per_cell=10**9,
    )


@register(
    "ann_ivf_cosine_filtered",
    oracle=f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         CASE WHEN sqrt({_DD_DOT.format(a="e.embedding", b="e.embedding")})
                   * sqrt({_DD_DOT.format(a="q.query", b="q.query")}) = 0 THEN 0.0
              ELSE {_DD_DOT.format(a="e.embedding", b="q.query")}
                   / (sqrt({_DD_DOT.format(a="e.embedding", b="e.embedding")})
                      * sqrt({_DD_DOT.format(a="q.query", b="q.query")}))
         END AS dist
  FROM embeddings e CROSS JOIN q
  WHERE e.label < 5
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist DESC, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS sim
FROM r WHERE "rank" <= 10
""",
)
def ann_ivf_cosine_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED cosine ANN (r7: the filtered × metric cell): the
    predicate rides the normalized index's pruned scan, candidates are
    re-scored with exact cosine on the original vectors — at full probe
    hash-identical to the filtered flat cosine oracle."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


@register(
    "ann_ivf_cosine_sq8_filtered",
    oracle=ORACLES["ann_ivf_cosine_filtered"],
)
def ann_ivf_cosine_sq8_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three-way composition cell — metric × quantized tier ×
    metadata predicate: cosine candidates from the normalized index's
    SQ8 sidecar with the predicate's pre-cut semi-join, exact-cosine
    rescore on the original vectors; same filtered flat cosine
    oracle."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
        tier="sq8",
    )


@register("ann_ivf_cosine_distributed", oracle=ORACLES["knn_exact_cosine"])
def ann_ivf_cosine_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-|Q| cosine tier: in-partition normalization + distributed
    probe assignment + shuffle-join rescore — no driver collect, no
    query broadcast; exact at full probe, same cosine oracle."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine_distributed(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
    )


@register("ann_ivf_ip", oracle=ORACLES["knn_exact_ip"])
def ann_ivf_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS ANN via the inner-product→L2 reduction: the index stores
    vectors augmented to constant norm M, queries pad a zero, and
    augmented L2 ranks exactly as the inner product; candidates re-score
    with the exact dot on the original vectors — full probe is
    hash-identical to the flat MIPS oracle."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
    )


@register("ann_ivf_ip_graph", oracle=ORACLES["knn_exact_ip"])
def ann_ivf_ip_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS × graph-tier cell, completing the metric × graph row: the
    per-cell HNSW walk runs over the MIPS-augmented index (the
    augmentation is pure geometry — the beam's L2 navigation ranks
    exactly as MIPS would), exact-dot rescore on the original vectors;
    same flat MIPS oracle, graded exhaustively (full probe + unbounded
    beam)."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="graph",
        candidates_per_cell=10**9,
    )


@register("ann_ivf_ip_cascade", oracle=ORACLES["knn_exact_ip"])
def ann_ivf_ip_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS × staged-cascade cell: candidates from the MIPS-augmented
    index's BQ→SQ8 ladder (the augmentation is pure geometry — the
    sign-code stage and the lossless SQ8 bound run over the augmented
    vectors unchanged; PQ is excluded here because augmentation makes
    dim 65, not divisible into subspaces), exact-dot rescore on the
    original vectors; same flat MIPS oracle, graded at full probe with
    an unbounded stage-1 cut."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="cascade",
        candidates_per_cell=10**9,
    )


@register(
    "ann_ivf_ip_filtered",
    oracle=f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {_DD_DOT.format(a="e.embedding", b="q.query")} AS dist
  FROM embeddings e CROSS JOIN q
  WHERE e.label < 5
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist DESC, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS sim
FROM r WHERE "rank" <= 10
""",
)
def ann_ivf_ip_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED MIPS ANN (r7): predicate + the inner-product→L2
    reduction; exact-dot rescore, full probe hash-identical to the
    label-filtered flat MIPS oracle.  With cosine and L2 this completes
    filtered search across the whole metric surface."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


COSINE_RADIUS_MIN_SIM = 0.3

_DD_COS = (
    "CASE WHEN sqrt({dee}) * sqrt({dqq}) = 0 THEN 0.0 "
    "ELSE {deq} / (sqrt({dee}) * sqrt({dqq})) END"
).format(
    dee=_DD_DOT.format(a="e.embedding", b="e.embedding"),
    dqq=_DD_DOT.format(a="q.query", b="q.query"),
    deq=_DD_DOT.format(a="e.embedding", b="q.query"),
)


@register(
    "ann_ivf_cosine_radius",
    oracle=f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id, {_DD_COS} AS sim
  FROM embeddings e CROSS JOIN q
)
SELECT qid, neighbor_id, round(sim, 4) AS sim
FROM d WHERE sim >= {COSINE_RADIUS_MIN_SIM}
""",
)
def ann_ivf_cosine_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine THRESHOLD search with index pruning: cos ≥ t maps to a
    unit-vector L2 radius, the triangle-inequality cell pruning applies
    losslessly, and the exact-cosine filter on original vectors keeps
    the result bit-identical to the brute-force form."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.cosine_radius_search(
        index, emb, knn_ops.make_queries(emb), min_sim=COSINE_RADIUS_MIN_SIM
    )


@register("knn_pq_adc", oracle=ORACLES["knn_exact_l2"])
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization flat search: m-byte ADC code scan (32× fewer
    scan bytes at dim 64) with a triangle-inequality bound cut that keeps
    a provable superset of the true top-k, then exact float re-score —
    hash-identical to exact kNN (operators/pq.py docstring)."""
    from vector_search_engine_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    return pq.knn_pq_adc(emb, knn_ops.make_queries(emb), k=10, m=8)


@register("ann_ivf_pq", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ composed WITHIN IVF cells (IVFADC: codes quantize the residual
    against the cell centroid) — the deepest compression tier rides the
    same partition pruning as the float scan; lossless bound cut + exact
    re-score keeps full probe hash-identical to exact kNN."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_pq(
        knn_ops.make_queries(emb), k=10, nprobe=index.meta["n_centroids"]
    )


@register("ann_ivf_sq8_filtered", oracle=ORACLES["knn_filtered"])
def ann_ivf_sq8_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search at the SQ8 tier (r7): same pre-cut metadata
    semi-join discipline as the PQ tier; full probe == the exact
    filtered oracle."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_sq8(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


@register("ann_ivf_pq_filtered", oracle=ORACLES["knn_filtered"])
def ann_ivf_pq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search at the PQ tier (r7: the filtered × quantized cell
    of the capability matrix): metadata predicate applied before the ADC
    bound cut via a column-pruned metadata semi-join — at full probe the
    output equals the exact filtered oracle, hash-gated."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_pq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


@register("ann_ivf_pq_serving")  # probed top-C ADC: approximate → rows-only
def ann_ivf_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ tier's SERVING shape (the M3 analog): probed cells, top-C
    ADC candidate cut, exact re-score.  Recall is pytest-gated
    (tests/test_pq.py); the hash-gated exactness contract lives in
    ``ann_ivf_pq`` at full probe."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_pq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=4,
        candidates_per_partition=160,
    )


@register("ann_ivf_ip_distributed", oracle=ORACLES["knn_exact_ip"])
def ann_ivf_ip_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-|Q| MIPS tier: in-partition zero-padding + distributed probe
    + shuffle-join dot rescore; exact at full probe, same MIPS oracle."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip_distributed(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"],
    )


@register("ann_ivf_distributed", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-|Q| tier: probe assignment inside the query table's
    partitions (no driver collect, no query broadcast), one per-cell
    cogroup on centroid_id — exact at full probe, same oracle."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=index.meta["n_centroids"]
    )


@register("ann_ivf_distributed_filtered", oracle=ORACLES["knn_filtered"])
def ann_ivf_distributed_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED search through the large-|Q| distributed tier (r7): the
    predicate filters the index side before the per-cell cogroup (pushed
    to the scan); full probe == the exact filtered oracle."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_distributed(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


@register("ann_ivf_sq8_distributed", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_sq8_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized ladder on the bulk-query path (r12 — the r11
    verdict's top item): probe assignment inside the query table's
    partitions, a per-cell cogroup with the partition-pruned int8 SQ8
    sidecar (4× fewer scan bytes than the float cells), the provably
    lossless bound cut per (query, cell), exact float rescore of
    survivors only — hash-identical to the exact flat oracle at full
    probe, same oracle as ann_ivf_distributed."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_sq8_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=index.meta["n_centroids"]
    )


@register("ann_ivf_cascade_distributed", oracle=ORACLES["knn_exact_l2"])
def ann_ivf_cascade_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged BQ→SQ8→float cascade on the bulk-query path (r12):
    1-bit candidate generation (32× scan cut) → lossless SQ8 bound cut
    → exact float rescore, all under the no-driver-collect contract
    (stage-2 candidates shuffle-join the code sidecar — never a
    broadcast, the list scales with |Q|).  Graded exactly: full probe +
    unbounded stage-1 cut is hash-identical to the exact flat oracle."""
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return index.search_cascade_distributed(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        candidates_per_cell=10**9,
    )


@register("ivf_pca_energy_report")  # calibration diagnostic — rows-only
def ivf_pca_energy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-rotation staleness monitor (r12 — the r11 verdict's item 3):
    per prefix length, the trained vs current cumulative prefix energy
    of the pcarot sidecar's rotation and their ratio — the quantity
    whose silent decay under corpus drift erodes the prefix_pca tier's
    pruning power toward the plain-prefix degenerate regime.  Running
    the report also enforces the retrain policy: a sidecar whose ratio
    at the monitored dp fell below the documented threshold is rebuilt
    from scratch before being reported on."""
    index = ivf.build_or_load(spark, sf_dir)
    return index.pca_energy_report()


@register("ann_lsh_search")  # approximate by nature → rows-only
def ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second ANN family: BucketedRandomProjectionLSH bucket join + exact
    re-score (recall ≥ 0.9 pytest-gated vs exact; ~0.985 on fixture)."""
    from vector_search_engine_spark.operators import lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh.knn_lsh(emb, knn_ops.make_queries(emb), k=10)


@register(
    "jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-corpus interchange: write documents as gzip JSONL shards,
    schema-enforced scan back (PERMISSIVE + corrupt-record quarantine) —
    byte-identical to the parquet table."""
    import tempfile

    from vector_search_engine_spark.sources import jsonl

    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="vse_jsonl_")
    jsonl.write_jsonl(docs, out, num_shards=4)
    back = jsonl.scan_jsonl(spark, out)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


@register(
    "ivf_rebalance_stats",
    oracle="""
SELECT count(*)::BIGINT AS n_vectors,
       TRUE AS rows_preserved,
       TRUE AS max_cell_not_increased
FROM embeddings
""",
)
def ivf_rebalance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell split (skew management under churn): build a coarse
    4-cell index, split every cell above 1.2× mean occupancy, and grade
    the split's CONTRACT (r16 conversion from rows-only — the per-cell
    occupancy numbers are KMeans-dependent, but the invariants are not):
    the post-split cells must partition exactly the same rows
    (``rows_preserved`` — sum of post-split footer counts == table
    count) and no cell may GROW (``max_cell_not_increased`` — children
    partition their parent, untouched cells are carried).  The oracle
    emits the expected literals + the SQL-computable total, so a split
    that loses/duplicates rows or inflates a cell hash-mismatches.
    Per-cell detail stays available via ``IVFIndex.stats()``; full-probe
    exactness invariance is pinned in tests/test_ivf.py."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf.IVFIndex.build(
        emb, tempfile.mkdtemp(prefix="vse_rebal_") + "/index", n_centroids=4
    )
    pre = [r["n_vectors"] for r in idx.stats().collect()]
    idx.rebalance(max_cell_rows=max(1, int(1.2 * sum(pre) / len(pre))))
    post = [r["n_vectors"] for r in idx.stats().collect()]
    return spark.createDataFrame(
        [(sum(post), sum(post) == emb.count(), max(post) <= max(pre))],
        "n_vectors long, rows_preserved boolean, "
        "max_cell_not_increased boolean",
    )


@register(
    "ivf_index_stats",
    oracle="""
SELECT count(*)::BIGINT AS n_vectors, TRUE AS footer_matches_scan
FROM embeddings
""",
)
def ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-occupancy accounting, oracle-graded (r16 conversion from
    rows-only): the per-centroid counts are KMeans-dependent, but their
    SUM must equal the table count and the metadata-only footer path
    (``stats()`` — parquet num_rows, no scan) must agree cell-for-cell
    with an actual data scan (``vectors().groupBy``).  The oracle emits
    the SQL-computable total + the expected literal, so a stale
    manifest, a footer/scan divergence, or a dropped cell
    hash-mismatches.  Per-cell detail (the cell-balance health check —
    skew here is shuffle skew at scale) stays available via
    ``IVFIndex.stats()``."""
    idx = ivf.build_or_load(spark, sf_dir)
    footer = {
        int(r["centroid_id"]): int(r["n_vectors"])
        for r in idx.stats().collect()
    }
    scan = {
        int(r["centroid_id"]): int(r["n"])
        for r in idx.vectors()
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return spark.createDataFrame(
        [(sum(footer.values()), footer == scan)],
        "n_vectors long, footer_matches_scan boolean",
    )




@register(
    "ann_ivf_cosine_sq8_distributed", oracle=ORACLES["knn_exact_cosine"]
)
def ann_ivf_cosine_sq8_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metric × quantized × bulk cell (r13): the large-|Q| cosine tier
    with the int8 sidecar as the candidate stage — the lossless SQ
    bound cut holds on the normalized geometry (it IS an L2 index), so
    the candidate set and the exact-cosine rescore are identical to the
    float stage; candidates come from 4× fewer scan bytes.  Same cosine
    oracle, exact at full probe."""
    index = ivf.build_or_load(spark, sf_dir, geometry="cosine")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_cosine_distributed(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="sq8",
    )


@register("ann_ivf_ip_sq8_distributed", oracle=ORACLES["knn_exact_ip"])
def ann_ivf_ip_sq8_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIPS × quantized × bulk cell (r13): the augmented-geometry
    distributed probe with int8 candidates + exact-dot rescore — the
    augmentation is an L2 geometry, so the bound cut stays lossless.
    Same flat MIPS oracle, exact at full probe."""
    index = ivf.build_or_load(spark, sf_dir, geometry="mips")
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf.search_ip_distributed(
        index, emb, knn_ops.make_queries(emb), k=10,
        nprobe=index.meta["n_centroids"], tier="sq8",
    )


def _lsh_portable_oracle() -> str:
    from vector_search_engine_spark.operators.lsh import (
        PORTABLE_DOT_DECIMALS,
        PORTABLE_LSH_PLANES,
        PORTABLE_LSH_SALT,
        PORTABLE_LSH_TABLES,
    )

    np_ = PORTABLE_LSH_PLANES
    nt = PORTABLE_LSH_TABLES
    return f"""
WITH dims AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
planes AS (
  SELECT g0.t, g1.p, j.j,
         CASE WHEN CAST(('0x' || substr(
                md5('{PORTABLE_LSH_SALT}' || g0.t || ':' || g1.p || ':' || j.j),
                1, 1)) AS INT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM generate_series(0, {nt - 1}) g0(t)
  CROSS JOIN generate_series(0, {np_ - 1}) g1(p)
  CROSS JOIN (SELECT unnest(generate_series(1, (SELECT d FROM dims))) AS j) j
),
dots AS (
  SELECT e.vec_id, pl.t, pl.p,
         round(sum(pl.s * CAST(e.embedding[pl.j] AS DOUBLE)),
               {PORTABLE_DOT_DECIMALS}) AS dot
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.t, pl.p
),
sigs AS (
  SELECT vec_id, t,
         sum(CASE WHEN dot >= 0
                  THEN (1::BIGINT << ({np_ - 1} - p)) ELSE 0 END)::BIGINT AS sig
  FROM dots GROUP BY vec_id, t
),
probes AS (
  SELECT s.vec_id AS qid, s.t,
         CASE WHEN g.b = {np_} THEN s.sig
              ELSE xor(s.sig, (1::BIGINT << g.b)) END AS sig
  FROM sigs s CROSS JOIN generate_series(0, {np_}) g(b)
  WHERE s.vec_id < 20
),
cand AS (
  SELECT DISTINCT p.qid, s.vec_id AS neighbor_id
  FROM probes p JOIN sigs s ON s.t = p.t AND s.sig = p.sig
),
dd AS (
  SELECT c.qid, c.neighbor_id,
         {{l2}} AS dist
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.qid
  JOIN embeddings b ON b.vec_id = c.neighbor_id
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id)
           AS "rank"
  FROM dd
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
""".format(l2=_DD_L2SQ.format(a="a.embedding", b="b.embedding"))


@register("ann_lsh_portable", oracle=_lsh_portable_oracle())
def ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH ANN with Hamming-1 multi-probe,
    PORTABLE form (r14): every random choice is an md5 parity and every
    float boundary is rounded, so the DuckDB oracle replays plane
    derivation → signatures → bucketing → probe expansion → candidate
    union → exact re-score EXACTLY — the minhash-portable discipline
    applied to the second ANN family, which until now was rows-only
    (MLlib BRP seeds are not replayable).  Approximate at finite probes,
    yet hash-graded, because the oracle runs the same approximation;
    recall and candidate-fraction vs exact are pytest-gated and the
    honest fixture-regime numbers live in the operator docstring."""
    from vector_search_engine_spark.operators import lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh.knn_lsh_portable(emb, knn_ops.make_queries(emb), k=10)
