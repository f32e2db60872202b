"""Multi-vector (parent/child) retrieval: closest-child parent search and
ColBERT-style late-interaction MaxSim.

The reference engine ranks individual vectors (``hnsw_index.h:223-262`` —
one row per id).  Production corpora are usually *grouped*: a document is
chunked into passage embeddings and retrieval wants the top-k *parents*
(documents), not the top-k children (passages).  Two standard scoring
contracts, both reduced to Spark aggregations:

* **closest-child** (``parent_closest``) — ``score(parent) = min_child
  l2²(q, child)``: the parent of the nearest passage wins.  This is the
  "parent-document retriever" shape (LangChain/Vespa ``closest()``).
* **MaxSim late interaction** (``maxsim_topk``) — queries are themselves
  multi-vector (one embedding per query token, ColBERT; Khattab &
  Zaharia, SIGIR 2020): ``score(parent) = Σ_{t ∈ q} max_{child ∈ parent}
  ⟨t, child⟩``.  The sum-of-max couples every query subvector with every
  parent, but max and sum are both algebraic aggregates, so the whole
  contract is two map-side-partial shuffles — no pairwise materialization.

Scale posture (100 TB): both operators scan the child table once.  The
per-partition GEMM reduces each partition to at most ``|parents-in-
partition| × |Q|`` rows (closest-child) or ``… × |subvectors|`` rows
(MaxSim) BEFORE any shuffle — the same bounded-emission contract as
``knn.py``'s per-task top-k.  Parent cardinality (documents) is far
below child cardinality (passages), so the shuffles move a small fraction
of the scan.  The IVF-composed form (``ann_ivf_parent_closest``) probes
cells first — partition pruning reaches the parquet scan exactly as in
``IVFIndex.search`` — and is exact at full probe by the same argument as
every other composed tier.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.vector import (
    ip_matrix,
    l2_sq,
    l2_sq_matrix,
)

DIST_DECIMALS = 4


def make_multivec_queries(
    embeddings: DataFrame,
    n: int = 20,
    group: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic multi-vector query fixture: the first ``n``
    vectors by id, grouped ``group`` consecutive ids per query —
    ``(qid, qvec_id, query)`` with ``qid = vec_id // group``."""
    return embeddings.filter(F.col(id_col) < n).select(
        (F.col(id_col) / group).cast("long").alias("qid"),
        F.col(id_col).alias("qvec_id"),
        F.col(vec_col).alias("query"),
    )


def _collect_queries(queries: DataFrame, cols: tuple[str, ...]):
    rows = queries.select(*cols).collect()
    return rows


def parent_closest(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    parent_col: str = "label",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "query",
) -> DataFrame:
    """Exact top-k *parents* per query under the closest-child contract:
    ``dist(parent) = min over children of l2²(query, child)``.

    Returns ``(qid, parent, rank, dist_sq)``, rank ascending by
    ``(dist, parent)``.  One scan; per-partition GEMM + per-parent
    column-min keeps the shuffle at ``|parents| × |Q|`` rows.
    """
    spark = vectors.sparkSession
    qrows = _collect_queries(queries, (qid_col, qvec_col))
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, parent long, rank long, dist_sq double"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r[1], dtype=np.float32) for r in qrows])
    bc = spark.sparkContext.broadcast((qids, Q))

    def local_min(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Q_ = bc.value
        best: dict[int, np.ndarray] = {}  # parent -> (|Q|,) running min
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            D = l2_sq_matrix(V, Q_)  # (n, |Q|)
            parents = pdf[parent_col].to_numpy(dtype=np.int64)
            for p in np.unique(parents):
                m = D[parents == p].min(axis=0)
                prev = best.get(int(p))
                best[int(p)] = m if prev is None else np.minimum(prev, m)
        for p, m in best.items():
            yield pd.DataFrame(
                {"qid": qids_, "parent": np.int64(p), "dist": m}
            )

    partial = vectors.select(parent_col, vec_col).mapInPandas(
        local_min, schema="qid long, parent long, dist double"
    )
    merged = partial.groupBy("qid", "parent").agg(F.min("dist").alias("dist"))
    win = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("parent").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "parent",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("dist"), DIST_DECIMALS).alias("dist_sq"),
        )
    )


def ann_ivf_parent_closest(
    index,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    parent_col: str = "label",
    qid_col: str = "qid",
    qvec_col: str = "query",
) -> DataFrame:
    """Closest-child parent search through the IVF index: probe ``nprobe``
    cells per query (partition pruning reaches the parquet scan), then the
    same min-per-parent aggregation over the probed candidates only.
    Exact at ``nprobe = n_centroids`` — the composed-tier contract every
    sidecar in ``ivf.py`` satisfies.

    The candidate frame already pairs (qid, row) via the probe join, so
    the distance is the JVM-side ``l2_sq`` column expression and the
    reduction is one Catalyst partial-aggregated ``groupBy`` — no Python
    in the hot path beyond the probe assignment itself.
    """
    from vector_search_engine_spark.operators.knn import _query_arrays

    spark = index.spark
    qids, Q = _query_arrays(queries, qid_col, qvec_col)
    if len(qids) == 0:
        return spark.createDataFrame(
            [], "qid long, parent long, rank long, dist_sq double"
        )
    snap = index._read_manifest()
    pairs = index.probe_pairs(
        qids, Q, nprobe, centroid_set=index._centroids_for(snap)
    )
    pairs_df = spark.createDataFrame(
        pd.DataFrame(pairs, columns=["qid", "centroid_id"]).astype(
            {"qid": "int64", "centroid_id": "int32"}
        )
    )
    needed = sorted({c for _, c in pairs})
    qdf = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("query")
    )
    vec_col = index.meta["vec_col"]
    cand = (
        index.vectors(snapshot=snap)
        .filter(F.col("centroid_id").isin(needed))
        .join(F.broadcast(pairs_df), "centroid_id")
        .join(F.broadcast(qdf), "qid")
    )
    merged = (
        cand.select(
            "qid",
            F.col(parent_col).alias("parent"),
            l2_sq(F.col(vec_col), F.col("query")).alias("dist"),
        )
        .groupBy("qid", "parent")
        .agg(F.min("dist").alias("dist"))
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("parent").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "parent",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("dist"), DIST_DECIMALS).alias("dist_sq"),
        )
    )


def maxsim_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    parent_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction top-k parents:
    ``maxsim(q, parent) = Σ over query subvectors t of max over children
    c of ⟨t, c⟩`` (Khattab & Zaharia, SIGIR 2020).

    ``queries``: a ``(qid, qvec_id, query)`` multi-vector frame (see
    ``make_multivec_queries``).  Returns ``(qid, parent, rank, maxsim)``,
    rank by (maxsim DESC, parent ASC).

    Two algebraic shuffles: per-partition GEMM + per-parent column-max →
    global ``max`` per (parent, subvector) → ``sum`` per (qid, parent).
    The first shuffle carries ``|parents| × |subvectors|`` rows; the
    second collapses subvectors into queries (rows shrink ``group``-fold).
    """
    spark = vectors.sparkSession
    qrows = _collect_queries(queries, ("qid", "qvec_id", "query"))
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, parent long, rank long, maxsim double"
        )
    qvec_ids = np.array([r[1] for r in qrows], dtype=np.int64)
    qid_of = {int(r[1]): int(r[0]) for r in qrows}
    Q = np.array([np.asarray(r[2], dtype=np.float32) for r in qrows])
    bc = spark.sparkContext.broadcast((qvec_ids, Q))

    def local_max(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qvec_ids_, Q_ = bc.value
        best: dict[int, np.ndarray] = {}  # parent -> (|subvecs|,) running max
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            S = ip_matrix(V, Q_)  # (n, |subvecs|)
            parents = pdf[parent_col].to_numpy(dtype=np.int64)
            for p in np.unique(parents):
                m = S[parents == p].max(axis=0)
                prev = best.get(int(p))
                best[int(p)] = m if prev is None else np.maximum(prev, m)
        for p, m in best.items():
            yield pd.DataFrame(
                {"qvec_id": qvec_ids_, "parent": np.int64(p), "sim": m}
            )

    partial = vectors.select(parent_col, vec_col).mapInPandas(
        local_max, schema="qvec_id long, parent long, sim double"
    )
    qmap = spark.createDataFrame(
        pd.DataFrame(
            {
                "qvec_id": qvec_ids.astype("int64"),
                "qid": np.array(
                    [qid_of[int(v)] for v in qvec_ids], dtype=np.int64
                ),
            }
        )
    )
    scored = (
        partial.groupBy("qvec_id", "parent")
        .agg(F.max("sim").alias("sim"))
        .join(F.broadcast(qmap), "qvec_id")
        .groupBy("qid", "parent")
        .agg(F.sum("sim").alias("maxsim"))
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("maxsim").desc(), F.col("parent").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "parent",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("maxsim"), DIST_DECIMALS).alias("maxsim"),
        )
    )


def collapse_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    per_group: int = 2,
    parent_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "query",
) -> DataFrame:
    """Field-collapsed exact top-k: the global (dist, id) ranking with at
    most ``per_group`` results per parent — Elasticsearch's "field
    collapsing" / Vespa grouping, the serving-diversity contract (don't
    fill the page with passages of one document).

    Exact two-phase plan: the per-partition GEMM emits each partition's
    top-``per_group`` children per (query, parent) — bounded emission,
    ``per_group × |parents-in-partition| × |Q|`` rows — then one window
    keeps the true per-(query, parent) top-``per_group`` and a second
    ranks the survivors globally.  Both windows run on the reduced frame;
    the child vectors never shuffle.

    Returns ``(qid, neighbor_id, parent, rank, dist_sq)``, rank by
    (dist, id) over the collapsed candidate set.
    """
    spark = vectors.sparkSession
    qrows = _collect_queries(queries, (qid_col, qvec_col))
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, neighbor_id long, parent long, rank long, dist_sq double"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r[1], dtype=np.float32) for r in qrows])
    bc = spark.sparkContext.broadcast((qids, Q))
    m = per_group

    def local_topm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, Q_ = bc.value
        nq = len(qids_)
        out_q, out_i, out_p, out_d = [], [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy())
            D = l2_sq_matrix(V, Q_)  # (n, |Q|)
            parents = pdf[parent_col].to_numpy(dtype=np.int64)
            for p in np.unique(parents):
                sel = parents == p
                pids = ids[sel]
                Dp = D[sel]
                for j in range(nq):
                    order = np.lexsort((pids, Dp[:, j]))[:m]
                    out_q.append(np.full(len(order), qids_[j], dtype=np.int64))
                    out_i.append(pids[order])
                    out_p.append(np.full(len(order), p, dtype=np.int64))
                    out_d.append(Dp[order, j])
        if out_q:
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_i),
                    "parent": np.concatenate(out_p),
                    "dist": np.concatenate(out_d),
                }
            )

    partial = vectors.select(id_col, parent_col, vec_col).mapInPandas(
        local_topm,
        schema="qid long, neighbor_id long, parent long, dist double",
    )
    gwin = Window.partitionBy("qid", "parent").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    collapsed = (
        partial.withColumn("_gr", F.row_number().over(gwin))
        .filter(F.col("_gr") <= m)
        .drop("_gr")
    )
    win = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        collapsed.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "neighbor_id",
            "parent",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("dist"), DIST_DECIMALS).alias("dist_sq"),
        )
    )
