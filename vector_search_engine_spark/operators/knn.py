"""Bulk exact k-NN search — the reference's entire query surface, distributed.

Reference mapping (SURVEY.md §2.3/§2.4):
  * ``write_buffer.h:54-70``  brute-force scan + bounded max-heap   → per-task
    NumPy top-k inside ``mapInPandas`` (the heap, vectorized) — the same
    per-cell kernel as the IVF index search (``ivf.py``, Q3), the flat scan
    being one cell every query probes, as the reference runs both through
    one distance kernel (``distance.cpp``);
  * ``engine.h:128-143``      merge of per-source heaps, ascending  → global
    window ``row_number() <= k`` over the per-partition candidates;
  * ``hnsw_index.h:228-231``  empty index → empty result            → holds trivially;
  * tie-breaking: reference leaves heap ties unspecified; we pin ascending
    ``(dist, id)`` everywhere (oracle uses the identical convention).

Scale posture (100 TB): queries are broadcast (bulk-search contract — the
query set is small; the reference holds it in RAM too, ``recall_bench.cpp:67``),
vectors are never collected; each scan partition emits at most k rows per
query, so the final shuffle moves ``num_partitions * k * |Q|`` rows, not
``N * |Q|``.  The distance kernel is a single BLAS GEMM per Arrow batch,
tiled over query columns at ``_TILE_CELLS``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.vector import (
    cosine_sim,
    cosine_sim_matrix,
    dot,
    ip_matrix,
    l2_sq,
    l2_sq_matrix,
    norm,
)

DIST_DECIMALS = 4  # outputs pin distances at 1e-4 for oracle hash-parity


def make_queries(
    embeddings: DataFrame,
    n: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Derive the deterministic query set used by tests/oracles:
    the first ``n`` vectors by id (FIXTURES.md `queries` fixture)."""
    return embeddings.filter(F.col(id_col) < n).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("query")
    )


def _query_arrays(
    queries, qid_col: str = "qid", qvec_col: str = "query"
) -> tuple[np.ndarray, np.ndarray]:
    """Normalize a query set to driver arrays ``(qids int64, Q float32)``.

    Accepts a ``(qid, query)`` DataFrame (collected here — the bulk-search
    contract says the query set is small) or a pre-collected
    ``(qids, matrix)`` tuple, the serving shape: a caller issuing many
    searches against the same query set (the reference holds its queries
    in client RAM, ``recall_bench.cpp:67``) collects ONCE instead of
    paying one collect job per search."""
    if isinstance(queries, tuple):
        qids, Q = queries
        return (
            np.asarray(qids, dtype=np.int64),
            np.asarray(Q, dtype=np.float32),
        )
    qrows = queries.select(qid_col, qvec_col).collect()
    if not qrows:
        return np.empty(0, dtype=np.int64), np.empty((0, 0), dtype=np.float32)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r[1], dtype=np.float32) for r in qrows])
    return qids, Q


def _queries_df(
    spark,
    queries,
    qids: np.ndarray,
    Q: np.ndarray,
    qid_col: str = "qid",
    qvec_col: str = "query",
) -> DataFrame:
    """The (qid, query) DataFrame for rescore joins: pass-through for a
    DataFrame input, rebuilt from the already-normalized driver arrays for
    the pre-collected serving shape (bounded by the bulk-search contract —
    the same rows a DataFrame input would have collected)."""
    if not isinstance(queries, tuple):
        return queries.select(qid_col, qvec_col)
    pdf = pd.DataFrame(
        {qid_col: qids.astype("int64"), qvec_col: [q.tolist() for q in Q]}
    )
    return spark.createDataFrame(pdf, schema=f"{qid_col} long, {qvec_col} array<float>")


def _rank_window(metric: str) -> Window:
    if metric == "l2_sq":
        return Window.partitionBy("qid").orderBy(
            F.col("dist").asc(), F.col("neighbor_id").asc()
        )
    return Window.partitionBy("qid").orderBy(
        F.col("dist").desc(), F.col("neighbor_id").asc()
    )


def _finalize_topk(
    candidates: DataFrame, k: int, metric: str, round_output: bool = True
) -> DataFrame:
    """Global merge: rank per query, keep k, round the distance for output.

    ``round_output=False`` keeps the raw float64 distance — for INTERNAL
    composition only (e.g. the merged search unions per-source top-k
    lists and re-ranks globally: ranking on rounded values would let a
    4-decimal tie between sources be broken by id instead of by the true
    distance, diverging from the exact oracle).  Every user-facing
    result rounds exactly once, at the final finalize."""
    out_name = "dist_sq" if metric == "l2_sq" else "sim"
    out = (
        F.round(F.col("dist"), DIST_DECIMALS)
        if round_output
        else F.col("dist").cast("double")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(_rank_window(metric)))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            out.alias(out_name),
        )
    )


def _empty_topk(spark, dist: str = "dist_sq", rank: str = "long") -> DataFrame:
    """An empty top-k result ``(qid, neighbor_id, rank, <dist>)``: one
    placeholder row cut by ``limit(0)``, which the optimizer folds into
    an empty local relation, so collecting it runs no Spark job (an
    empty ``createDataFrame`` runs one).  ``rank="long not null"`` types
    it as a ``row_number`` rank."""
    return spark.createDataFrame(
        [(0, 0, 1, 0.0)], f"qid long, neighbor_id long, rank {rank}, {dist} double"
    ).limit(0)


def _exact_rescore(
    cand: DataFrame, base: DataFrame, k: int, id_col: str, vec_col: str,
    round_output: bool = True, qdf: DataFrame | None = None,
    qvec_col: str = "query",
) -> DataFrame:
    """The final stage of every quantized tier, flat and probed: the
    ``(qid, neighbor_id)`` survivors ``cand`` rejoin the float vectors of
    ``base`` for the exact distance, then the standard ``(dist, id)``
    top-k — so every returned row carries the true distance.  A serving
    tier passes its bounded query set ``qdf`` (``_queries_df``), which
    joins as a broadcast on qid; without it the query vector rides the
    survivor rows as ``qvec_col`` (the bulk tiers' cut kernels emit it),
    so no join against the query table is needed."""
    rows = cand.join(
        base.select(F.col(id_col).alias("neighbor_id"), vec_col), "neighbor_id"
    )
    if qdf is not None:
        rows = rows.join(F.broadcast(qdf), "qid")
    rescored = rows.select(
        "qid", "neighbor_id", l2_sq(F.col(vec_col), F.col(qvec_col)).alias("dist")
    )
    return _finalize_topk(rescored, k, "l2_sq", round_output)


# ---------------------------------------------------------------------------
# The per-cell kernel frame.  Every exact scan, flat or probed, is a set of
# cells and, per cell, the queries probing it; a flat scan is one cell
# (``centroid_id`` 0) that every query probes (``_flat_scan``).  A kernel
# is ``kernel(cid, Q, cell)``: ``cid`` the cell, ``Q`` the (m, dim)
# float64 rows of the queries probing it, ``cell`` the cell's columns as
# NumPy arrays (``ids`` int64, ``vec`` and any other stacked column as
# (n, dim) float64, the rest raw).  It yields, for each query row j in
# order, ``(kept ids, their distances)`` — ``None`` distances for a cut
# kernel.  A kernel never knows which runner calls it:
#   * ``_serve_cells`` (cell slices of Arrow batches): the IVF serving
#     tiers, and the flat ``knn_exact``, ``knn_prefix_rescore``,
#     ``radius_search`` and ``knn_bq_rescore`` stage 1;
#   * ``IVFIndex._cell_cogroup`` (bulk, whole cells);
#   * ``IVFIndex._driver_topk`` (small float serving searches, whole
#     cells read on the driver);
#   * ``knn_exact_distributed`` (one (qblock, vblock) tile).
# ---------------------------------------------------------------------------

# float64 cells per GEMM tile in the kernels: one hot cell (or one flat
# batch) can be scanned by ALL of a dataset-sized query table, so the
# per-call distance matrix is tiled over query columns to stay near 128 MB
_TILE_CELLS = 16_000_000

# The top-k selection rule (``_topk_rows``): a cell of at most this many
# rows per k takes the full ``(dist, id)`` lexsort per query; a larger one
# an argpartition pre-cut first.  Measured crossover (128-d, k=10, NumPy):
# 78 rows x 8 queries sort 0.07 ms / cut 0.15 ms, 400 x 8 sort 0.32 / cut
# 0.25, 10k x 16 sort 21 / cut 10.
_SORT_ROWS_PER_K = 32

# The runners' output schemas: scored rows (top-k and radius kernels) and
# bare survivor pairs (cut kernels)
_SCORED = "qid long, neighbor_id long, dist double"
_PAIRS = "qid long, neighbor_id long"


def _topk_rows(key: np.ndarray, ids: np.ndarray, k: int):
    """Yield each column j's exact ``(key, id)`` top-k row positions of
    the (n, m) ``key`` (smaller is better).  Up to ``_SORT_ROWS_PER_K *
    k`` rows: one full lexsort per column.  Above: one vectorized
    argpartition to each column's k-th key, then the lexsort of every
    row at or below it — widening to the whole boundary tie group, so a
    distance-only cut that splits mass-duplicate rows cannot lose the
    smaller ids."""
    kk = min(k, len(ids))
    if kk < 1 or len(ids) <= _SORT_ROWS_PER_K * k:  # k = 0 keeps no row
        for j in range(key.shape[1]):
            yield np.lexsort((ids, key[:, j]))[:kk]
        return
    part = np.argpartition(key, kk - 1, axis=0)[:kk]
    bound = np.take_along_axis(key, part, axis=0).max(axis=0)
    for j in range(key.shape[1]):
        rows = np.flatnonzero(key[:, j] <= bound[j])
        yield rows[np.lexsort((ids[rows], key[rows, j]))[:kk]]


def _topk_kernel(k: int, metric: str = "l2_sq"):
    """The float ``(dist, id)`` top-k: one GEMM of the cell against its
    probing queries — squared L2 (``l2_sq_matrix``, ascending), cosine
    or inner product (descending) — tiled over query columns at
    ``_TILE_CELLS``, and each query's exact top-k of the cell
    (``_topk_rows``).

    Tiling caveat: a tile changes the GEMM's shape, and a narrower one
    may round a distance's last ulp differently (2.4737742365361033
    untiled vs ...037 with one query per tile), so a hot cell that tiles
    on one runner and not on another can order exact ties differently
    where ``round_output=False`` merges raw distances; rounded outputs
    hide it."""
    dist = (l2_sq_matrix if metric == "l2_sq" else ip_matrix if metric == "ip"
            else cosine_sim_matrix)

    def cell_topk(cid, Q, cell):
        V, ids = cell["vec"], cell["ids"]
        step = max(1, _TILE_CELLS // max(len(ids), 1))
        for c0 in range(0, len(Q), step):
            D = dist(V, Q[c0 : c0 + step])  # (n, tile)
            key = D if metric == "l2_sq" else -D
            for j, rows in enumerate(_topk_rows(key, ids, k)):
                yield ids[rows], D[rows, j]

    return cell_topk


def _prefix_kernel(k: int, dp: int):
    """The lossless prefix-dimension cut (``knn_prefix_rescore``,
    ``IVFIndex.search_prefix``): per query, the squared L2 over the
    first ``dp`` coordinates lower-bounds the full one, so rows whose
    prefix distance exceeds the worst full distance of the k best rows
    by prefix cannot place; only the survivors are rescored over all
    dims, then the exact ``(dist, id)`` top-k."""
    def prefix_topk(cid, Q, cell):
        V, ids = cell["vec"], cell["ids"]
        n = len(ids)
        Vp = V[:, :dp]
        VVp = (Vp * Vp).sum(axis=1)
        kk = min(k, n)
        for q in Q:
            qp = q[:dp]
            dpd = VVp - 2.0 * (Vp @ qp) + float(qp @ qp)
            np.maximum(dpd, 0.0, out=dpd)
            seed = np.argpartition(dpd, kk - 1)[:kk] if n > kk else np.arange(n)
            diff = V[seed] - q
            T = (diff * diff).sum(axis=1).max()
            # the expanded-form bound carries ~1e-13 relative fp error and
            # may slightly EXCEED the true one (a duplicate row's true 0
            # computed as +1e-13 > T = 0); widen the cut by a slack far
            # above that error and far below any real gap — extra
            # survivors are merely rescored
            surv = np.flatnonzero(dpd <= T + 1e-9 * (1.0 + T))
            diff = V[surv] - q
            full = (diff * diff).sum(axis=1)
            order = np.lexsort((ids[surv], full))[:kk]
            yield ids[surv][order], full[order]

    return prefix_topk


def _radius_kernel(radius_sq: float):
    """Radius hits: every cell row within ``radius_sq`` of each query,
    in the per-query matrix-vector form — these distances ARE the
    output values (rounded at 4 decimals), and each row's dot product
    is row-independent, so every runner emits the same bytes."""
    def in_radius(cid, Q, cell):
        V, ids = cell["vec"], cell["ids"]
        VV = (V * V).sum(axis=1)
        for q in Q:
            d = VV - 2.0 * (V @ q) + float(q @ q)
            np.maximum(d, 0.0, out=d)
            hit = d <= radius_sq
            yield ids[hit], d[hit]

    return in_radius


def _cell_columns(pdf: pd.DataFrame, names: dict, stack) -> dict:
    """A runner's decode of its kernel input: every column of ``pdf``
    but ``centroid_id`` as a NumPy array, renamed through ``names``
    (the id column to ``ids``, as int64; the float vector to ``vec``),
    the ``stack`` columns it holds (kernel names) stacked ONCE into
    (n, dim) float64 matrices and every other column raw."""
    cols = {
        names.get(c, c): pdf[c].to_numpy()
        for c in pdf.columns
        if c != "centroid_id"
    }
    cols["ids"] = cols["ids"].astype(np.int64, copy=False)
    for c in stack:
        if c in cols:
            cols[c] = np.stack(cols[c]).astype(np.float64)
    return cols


def _merge_topk(piles: dict, k: int, metric: str = "l2_sq"):
    """The runners' final ``(dist, id)`` merge: ``piles`` maps a query
    position to the ``(ids, dists)`` its kernels kept in every cell or
    slice; yields ``(position, ids, dists)`` with at most ``k`` rows in
    rank order (descending distance for cosine and inner product)."""
    for qi, parts in piles.items():
        ids = np.concatenate([p[0] for p in parts])
        d = np.concatenate([p[1] for p in parts])
        order = np.lexsort((ids, d if metric == "l2_sq" else -d))[:k]
        yield qi, ids[order], d[order]


def _cell_slices(pdf: pd.DataFrame, cell_qidx: dict):
    """The serving runner's cell loop over one Arrow batch: yields
    ``(cell, qidx, rows)`` for every cell slice some query probes —
    ``rows`` the slice's positions in ``pdf`` and ``qidx`` the probing
    queries' positions (``IVFIndex._cell_map``).  A stable argsort on
    ``centroid_id`` gives the same groups, in the same in-group row
    order, as a pandas groupby on the cell, without its per-group frame
    copies."""
    if len(pdf) == 0:
        return
    cids = pdf["centroid_id"].to_numpy()
    order = np.argsort(cids, kind="stable")
    cs = cids[order]
    cuts = np.flatnonzero(cs[1:] != cs[:-1]) + 1
    starts = np.concatenate(([0], cuts))
    for s, e in zip(starts, np.concatenate((cuts, [len(cs)]))):
        qidx = cell_qidx.get(int(cs[s]))
        if qidx:
            yield int(cs[s]), qidx, order[s:e]


class _Rows:
    """One task's output of a runner, emitted as ONE pandas frame (r18,
    guide §4: one Arrow batch per task, not one per cell).  The output
    ``schema`` names the columns: ``add(qid, ids, x)`` appends a
    query's neighbor ids with their distances (``x``, when the schema
    has ``dist``) or the query vector ``x`` riding every row (when it
    has ``query``); otherwise bare pairs."""

    def __init__(self, schema: str):
        self.fields = [f.split()[:2] for f in schema.split(",")]
        names = [n for n, _ in self.fields]
        self.extra = next((c for c in ("dist", "query") if c in names), None)
        self.q: list = []
        self.i: list = []
        self.x: list = []

    def add(self, qid, ids: np.ndarray, x=None) -> None:
        self.q.append(np.full(len(ids), qid, dtype=np.int64))
        self.i.append(ids)
        if self.extra == "dist":
            self.x.append(x)
        elif self.extra == "query":
            self.x.extend([x] * len(ids))

    def frame(self) -> pd.DataFrame:
        """The rows as a frame; with none, an empty frame typed as
        ``schema``."""
        if not self.q:
            dtypes = {"long": "int64", "double": "float64"}
            return pd.DataFrame(
                {n: pd.Series(dtype=dtypes.get(t, object)) for n, t in self.fields}
            )
        cols = {"qid": np.concatenate(self.q)}
        if self.extra == "query":
            cols["query"] = self.x
        cols["neighbor_id"] = np.concatenate(self.i)
        if self.extra == "dist":
            cols["dist"] = np.concatenate(self.x)
        return pd.DataFrame(cols)

    def emit(self) -> Iterator[pd.DataFrame]:
        if self.q:
            yield self.frame()


def _query_broadcast(spark, qids: np.ndarray, Q: np.ndarray, cell_qidx):
    """The serving runner's payload: ``(qids, float64 queries, cell ->
    probing-query positions)``."""
    return spark.sparkContext.broadcast(
        (qids.astype(np.int64), Q.astype(np.float64), cell_qidx)
    )


def _serve_cells(
    cand: DataFrame, bc, kernel, schema: str, names: dict, stack=("vec",),
    k: int | None = None, metric: str = "l2_sq",
) -> DataFrame:
    """The serving runner: ONE ``mapInPandas`` over the scanned rows
    ``cand`` (``centroid_id``, the id, and the kernel's columns; renamed
    for the kernel through ``names``) with the query set in ``bc``
    (``_query_broadcast``).  Per Arrow batch it decodes once
    (``_cell_columns``: ONE object-array stack of each ``stack`` column
    per batch — the r18 rule, guide §4.2; a per-cell stack was the
    dominant Python cost), then walks the contiguous cell slices
    (``_cell_slices``) and runs ``kernel(cid, Q, cell)`` on each slice
    with the slice's probing queries.  Columns it does not stack reach
    the kernel raw, so a kernel can materialize them for a few rows
    only.

    Output is ONE ``schema`` frame per task (``_Rows``).  With ``k``
    (the top-k kernels) each query's kept rows from every slice of the
    task merge by the exact ``(dist, id)`` order of ``metric``
    (``_merge_topk``) and at most k per query leave the task; without it
    (cuts, radius hits) every kept row leaves."""
    def serve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, Q, cq = bc.value
        out = _Rows(schema)
        piles: dict[int, list] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = _cell_columns(pdf, names, stack)
            for cid, qidx, rows in _cell_slices(pdf, cq):
                # a batch of one cell is its own slice, in order
                cell = cols if len(rows) == len(pdf) else {
                    c: v[rows] for c, v in cols.items()
                }
                for qi, (ids, d) in zip(qidx, kernel(cid, Q[qidx], cell)):
                    if k is None:
                        out.add(qids[qi], ids, d)
                    else:
                        piles.setdefault(qi, []).append((ids, d))
        for qi, ids, d in _merge_topk(piles, k, metric):
            out.add(qids[qi], ids, d)
        yield from out.emit()

    serve.__name__ = kernel.__name__  # plans name the tier kernel
    return cand.mapInPandas(serve, schema=schema)


def _flat_scan(
    rows: DataFrame, qids: np.ndarray, Q: np.ndarray, kernel, schema: str,
    id_col: str, vec_col: str, k: int | None = None, metric: str = "l2_sq",
) -> DataFrame:
    """A flat scan as a probed scan of ONE cell that every query probes:
    ``rows`` gain a constant ``centroid_id`` and ``kernel`` runs on the
    serving runner (``_serve_cells``), so the flat operators share the
    IVF tiers' kernels, per-task merge and ``_TILE_CELLS`` memory
    bound."""
    bc = _query_broadcast(
        rows.sparkSession, qids, Q, {0: list(range(len(qids)))}
    )
    return _serve_cells(
        rows.select(F.lit(0).alias("centroid_id"), *rows.columns), bc, kernel,
        schema, {id_col: "ids", vec_col: "vec"}, k=k, metric=metric,
    )


def knn_exact(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2_sq",
    method: str = "pandas",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_output: bool = True,
) -> DataFrame:
    """Exact top-k neighbors for every query.

    Returns ``(qid, neighbor_id, rank, dist_sq|sim)``; rank ascending by
    (dist, id) for L2, (−sim, id) for cosine and inner product ('ip' —
    the MIPS ranking).  ``method='pandas'`` is the GEMM fast path: a
    probed scan of one cell that every query probes (``_flat_scan``),
    so it runs the IVF float kernel ``_topk_kernel`` on the serving
    runner — one GEMM per Arrow batch, tiled over query columns at
    ``_TILE_CELLS`` (the same memory bound as the probed tiers), at most
    k rows per query leaving each task.  ``method='sql'`` is the
    pure-Catalyst plan (same results — used for plan audits and as the
    oracle twin).
    """
    if metric not in ("l2_sq", "cosine", "ip"):
        raise ValueError(f"unknown metric {metric!r}")
    if method == "sql":
        if isinstance(queries, tuple):
            raise ValueError(
                "method='sql' needs a queries DataFrame; the pre-collected "
                "tuple form is only for the pandas path"
            )
        dist_expr: Column = (
            l2_sq(F.col(vec_col), F.col("query"))
            if metric == "l2_sq"
            else dot(F.col(vec_col), F.col("query"))
            if metric == "ip"
            else cosine_sim(F.col(vec_col), F.col("query"))
        )
        cand = vectors.join(F.broadcast(queries)).select(
            "qid", F.col(id_col).alias("neighbor_id"), dist_expr.alias("dist")
        )
        return _finalize_topk(cand, k, metric, round_output)

    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return _empty_topk(
            vectors.sparkSession, "dist_sq" if metric == "l2_sq" else "sim"
        )
    cand = _flat_scan(
        vectors.select(F.col(id_col), F.col(vec_col)), qids, Q,
        _topk_kernel(k, metric), _SCORED, id_col, vec_col, k=k, metric=metric,
    )
    return _finalize_topk(cand, k, metric, round_output)


def block_cogroup_keys(
    id_col: Column | str, own_blocks: int, other_blocks: int,
    own_name: str, other_name: str,
) -> tuple[Column, Column]:
    """Grouping-key column pair for ONE side of a block nested-loop
    cogroup: ``(own_block, replicated_other_block)``.

    Both columns are INT **by construction** — this helper exists so the
    finding-28 bug class (SCALING round 13) cannot be reintroduced by a
    new call site.  ``pmod(xxhash64(...))`` natively yields BIGINT while
    ``explode(sequence(...))`` yields INT; Spark hash-partitions each
    cogroup side by ITS OWN key types, and Murmur3 hashes ``int x`` and
    ``long x`` differently, so mixed-type sides can send matching
    logical keys to different shuffle partitions — whole (qblock,
    vblock) cogroups then pair a non-empty side with an empty one and
    silently emit nothing.  Invisible at fixture scale where the
    partitionings coincide; at 100k rows the epsilon graph kept 2% of
    its true edges.  Every block-cogroup operator
    (``knn_exact_distributed``, ``radius_pairs_distributed``, future
    authors) MUST build both sides' keys through this helper;
    ``_assert_block_key_types`` pins the invariant on the built frames.
    """
    own = (
        F.pmod(F.xxhash64(F.col(id_col) if isinstance(id_col, str) else id_col),
               F.lit(int(own_blocks)))
        .cast("int")
        .alias(own_name)
    )
    other = F.explode(
        F.sequence(F.lit(0), F.lit(int(other_blocks) - 1))
    ).alias(other_name)
    return own, other


def _assert_block_key_types(qb: DataFrame, vb: DataFrame) -> None:
    """Plan-time contract: both cogroup inputs hash-partition on key
    columns of IDENTICAL Spark types (schema check only — no job runs).
    A mismatch here is exactly the silent-row-loss class of finding 28."""
    for key in ("qblock", "vblock"):
        qt, vt = qb.schema[key].dataType, vb.schema[key].dataType
        if qt != vt:  # pragma: no cover - structural guard
            raise AssertionError(
                f"block cogroup key {key!r} type mismatch: query side {qt} "
                f"vs vector side {vt} — mixed-type keys hash-partition "
                "differently (finding 28); build keys via block_cogroup_keys"
            )


def knn_exact_distributed(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2_sq",
    q_blocks: int = 4,
    v_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_output: bool = True,
) -> DataFrame:
    """Exact top-k when the QUERY SET is itself a dataset — the tier for
    which ``knn_exact``'s collect-and-broadcast contract (bulk-search,
    ``recall_bench.cpp:67``) breaks.  Block nested-loop kNN join:

    * queries hash into ``q_blocks`` groups and replicate across the
      ``v_blocks`` vector groups (vectors replicate symmetrically), so
      shuffle volume is ``|Q|*v_blocks + N*q_blocks`` — tunable against
      ``q_blocks*v_blocks`` task parallelism, never ``|Q|*N``;
    * each (qblock, vblock) cogroup runs the float kernel
      ``_topk_kernel`` once on its tile — a GEMM tiled over query
      columns at ``_TILE_CELLS``, so a large block holds a bounded
      distance matrix — and emits ≤ k rows per query (the exact
      ``(dist, id)`` selection of ``_topk_rows``);
    * the usual global window merge keeps the true top-k: every query's
      true neighbors all live in SOME vblock, so the union of per-block
      top-ks contains them.

    Identical results to ``knn_exact`` at the same (k, metric); neither
    side ever visits the driver."""
    if metric not in ("l2_sq", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")

    # Grouping keys for BOTH sides come from block_cogroup_keys — one
    # type (int) by construction; see its docstring for the finding-28
    # silent-row-loss class this structurally prevents.
    q_own, q_rep = block_cogroup_keys("qid", q_blocks, v_blocks, "qblock", "vblock")
    v_own, v_rep = block_cogroup_keys(id_col, v_blocks, q_blocks, "vblock", "qblock")
    qb = queries.select("qid", "query", q_own, q_rep)
    vb = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        v_own,
        v_rep,
    )
    _assert_block_key_types(qb, vb)

    kernel = _topk_kernel(k, metric)

    def block_topk(qpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        out = _Rows(_SCORED)
        if len(qpdf) and len(vpdf):
            q = _cell_columns(qpdf, {"qid": "ids", "query": "vec"}, ("vec",))
            cell = _cell_columns(vpdf, {"nid": "ids", "nvec": "vec"}, ("vec",))
            for qid, (ids, d) in zip(q["ids"], kernel(None, q["vec"], cell)):
                out.add(qid, ids, d)
        return out.frame()

    cand = (
        qb.groupby("qblock", "vblock")
        .cogroup(vb.groupby("qblock", "vblock"))
        .applyInPandas(block_topk, schema=_SCORED)
    )
    return _finalize_topk(cand, k, metric, round_output)


def knn_prefix_rescore(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefix_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k under squared L2 via a prefix-dimension bound cut —
    Matryoshka-style progressive filtering (Kusupati et al., NeurIPS 2022:
    truncated-dim representations rank well enough to shortlist; here the
    shortlist is made *provably lossless*).

    The squared L2 over the first ``prefix_dims`` coordinates is a LOWER
    BOUND of the full distance (remaining terms are non-negative), so per
    Arrow batch and query (``_prefix_kernel`` on a flat scan — the kernel
    ``IVFIndex.search_prefix`` runs inside probed cells):

    1. compute prefix distances for every row (a (n × prefix_dims)
       matrix-vector product — the scan's FLOPs drop by
       ``d / prefix_dims``);
    2. seed a threshold T = worst full distance among the k best rows *by
       prefix* (k full-distance evaluations);
    3. drop rows with ``prefix_dist > T`` — their full distance is > T ≥
       the partition's k-th best, so they cannot place (a row tied at
       exactly the k-th distance always survives: its prefix ≤ its full
       = T);
    4. rescore only the survivors over all dims; per-task (dist, id)
       top-k, then the usual global window merge.

    Exactness never depends on the embedding's spectrum — only the
    pruning RATE does (worst case rescores everything and equals
    ``knn_exact`` output exactly).  Measured regime boundary, the same
    shape as the PQ tier's (SCALING.md finding 8): on a decaying
    spectrum (trained embeddings; e.g. eigenvalue decay exp(−i/6)) a
    16-of-64 prefix leaves ~0.06% survivors (≈1600× rescore cut); on the
    deliberately isotropic synthetic fixture distances concentrate and
    ~100% survive — exact either way, fast where real data lives.  This
    is the compute-side sibling of the SQ8/PQ tiers: they cut scan
    *bytes* with a quantization bound, this cuts scan *FLOPs* with a
    dimensional bound, and both fall back to exact work only for
    candidates that survive.  At 100 TB with d = 1024 and a 64-dim
    prefix the bulk of the corpus is touched at 1/16th the arithmetic.
    Reference anchor: brute-force scan semantics of
    ``write_buffer.h:54-70`` (Q1), unchanged results."""
    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return _empty_topk(vectors.sparkSession)
    dp = max(1, min(int(prefix_dims), Q.shape[1]))
    cand = _flat_scan(
        vectors.select(F.col(id_col), F.col(vec_col)), qids, Q,
        _prefix_kernel(k, dp), _SCORED, id_col, vec_col, k=k,
    )
    return _finalize_topk(cand, k, "l2_sq")


def radius_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius_sq: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_output: bool = True,
) -> DataFrame:
    """Exact range search: every (query, vector) pair with squared L2
    <= radius_sq — the threshold-membership sibling of top-k (the
    reference's surface is top-k only; range search is the standard
    missing member of the family).  A flat scan (``_flat_scan``) of
    the IVF radius kernel ``_radius_kernel`` — the per-query
    matrix-vector distances ``IVFIndex.radius_search`` emits, so both
    return the same bytes; output size is data-dependent (no per-task
    cut), so each task emits exactly its hits and nothing shuffles but
    results."""
    qids, Q = _query_arrays(queries)
    if len(qids) == 0:
        return vectors.sparkSession.createDataFrame(
            [], "qid long, neighbor_id long, dist_sq double"
        )
    out = _flat_scan(
        vectors.select(F.col(id_col), F.col(vec_col)), qids, Q,
        _radius_kernel(radius_sq), _SCORED, id_col, vec_col,
    )
    d = F.round("dist", 4) if round_output else F.col("dist").cast("double")
    return out.select("qid", "neighbor_id", d.alias("dist_sq"))


def radius_pairs_distributed(
    vectors: DataFrame,
    radius_sq: float,
    q_blocks: int = 4,
    v_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_tile_cells: int = 16_000_000,
) -> DataFrame:
    """Every unordered pair of table rows within squared-L2 ``radius_sq``
    — the symmetric self-join sibling of ``radius_search`` for when the
    "query set" is the whole table (epsilon-graph construction: DBSCAN,
    mutual-reachability graphs, near-dup edges over embeddings).

    Same block nested-loop shape as ``knn_exact_distributed``: rows hash
    into ``q_blocks``/``v_blocks`` groups, each side replicates across
    the other's axis, so every ordered (query, vector) pair meets in
    EXACTLY one cogroup — the ``id < id`` cut inside the kernel therefore
    emits each unordered pair once with no distinct pass.  Shuffle volume
    is ``N * (q_blocks + v_blocks)`` rows, never ``N^2``; compute is the
    unavoidable exact N^2/blocks GEMM, one BLAS call per cogroup.  At
    index-serving scale the bulk-query form routes through
    ``IVFIndex.radius_search`` (triangle-inequality cell pruning); this
    is the exact whole-table baseline that gates it.
    """
    # One-type grouping keys via block_cogroup_keys (the structural
    # finding-28 guard — see its docstring in this module).
    q_own, q_rep = block_cogroup_keys(id_col, q_blocks, v_blocks, "qblock", "vblock")
    v_own, v_rep = block_cogroup_keys(id_col, v_blocks, q_blocks, "vblock", "qblock")
    qb = vectors.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("query"),
        q_own,
        q_rep,
    )
    vb = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        v_own,
        v_rep,
    )
    _assert_block_key_types(qb, vb)

    # bound the per-task GEMM tile at ~128 MB float64 regardless of how
    # the caller sized the blocks: a (N/vb, N/qb) cogroup's full distance
    # matrix is quadratic in the block size (4x4 blocks at 100k rows
    # would be a 5 GB tile) — the kernel chunks the query axis instead,
    # so block count tunes SHUFFLE/parallelism and memory stays flat
    max_tile = max_tile_cells  # float64 cells per GEMM tile

    def block_pairs(qpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "dist": pd.Series(dtype="float64"),
            }
        )
        if len(qpdf) == 0 or len(vpdf) == 0:
            return empty
        qids = qpdf["qid"].to_numpy(dtype=np.int64)
        Q = np.stack(qpdf["query"].to_numpy())
        ids = vpdf["nid"].to_numpy(dtype=np.int64)
        V = np.stack(vpdf["nvec"].to_numpy())
        step = max(1, max_tile // max(len(ids), 1))
        outs = []
        for c0 in range(0, len(qids), step):
            qs, Qc = qids[c0 : c0 + step], Q[c0 : c0 + step]
            D = l2_sq_matrix(V, Qc)  # (n, m_chunk)
            rows, cols = np.nonzero(
                (D <= radius_sq) & (ids[:, None] > qs[None, :])
            )
            if len(rows):
                outs.append(
                    pd.DataFrame(
                        {"id_a": qs[cols], "id_b": ids[rows],
                         "dist": D[rows, cols]}
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    pairs = (
        qb.groupby("qblock", "vblock")
        .cogroup(vb.groupby("qblock", "vblock"))
        .applyInPandas(block_pairs, schema="id_a long, id_b long, dist double")
    )
    return pairs.select(
        "id_a", "id_b", F.round("dist", DIST_DECIMALS).alias("dist_sq")
    )


def knn_classify(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """k-NN majority-vote classification: predicted label per query =
    the most frequent label among its k nearest labeled vectors
    (squared L2), ties broken toward the SMALLER label — deterministic,
    and the convention the oracle pins.

    ``exclude_self`` drops a neighbor whose id equals the qid (the
    leave-one-out shape for queries drawn from the labeled table
    itself); the k-th place freed up is refilled, so every query still
    votes over exactly k non-self neighbors — implemented as a k+1 cut
    followed by a re-rank, the same pattern the kNN-graph builders use.

    Plan shape: the neighbor search is ``knn_exact`` — the float kernel
    on a flat scan, at most k+1 rows per query leaving each task
    (|Q|*(k+1) candidate rows per task); labels attach via a
    broadcast hash join of the TINY neighbor list against the labeled
    table — the big side streams, nothing wide shuffles; the vote is a
    (qid, label) partial-aggregated count topped by one row_number over
    |Q| groups.
    """
    kk = k + 1 if exclude_self else k
    nbrs = knn_exact(
        vectors, queries, k=kk, metric="l2_sq",
        id_col=id_col, vec_col=vec_col, round_output=False,
    )
    if exclude_self:
        w = Window.partitionBy("qid").orderBy("dist_sq", "neighbor_id")
        nbrs = (
            nbrs.filter(F.col("qid") != F.col("neighbor_id"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
        )
    return majority_vote(nbrs, vectors, label_col=label_col, id_col=id_col)


def majority_vote(
    neighbors: DataFrame,
    vectors: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """The vote step shared by every classification serving path (exact
    kNN, IVF-probed): attach labels to a TINY ``(qid, neighbor_id)``
    list via broadcast hash join (the big labeled table streams), count
    per (qid, label) with map-side partials, argmax with ties pinned to
    the smaller label."""
    labels = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        F.broadcast(neighbors.select("qid", "neighbor_id"))
        .join(labels, "neighbor_id")
        .groupBy("qid", "_nl")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("_nl").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.col("_nl").cast("long").alias("predicted_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


def knn_kth_distances(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_blocks: int = 4,
    v_blocks: int = 4,
) -> DataFrame:
    """Every point's RAW squared distance to its k-th nearest OTHER
    point — ``(id, kdist)`` — the shared input of k-distance outlier
    scoring and the DBSCAN eps elbow (sorted k-distance curve, Ester et
    al. 1996 §4.2).  All points query through the block nested-loop
    kNN join; the k-th cut is the non-self re-rank on raw float64."""
    q = vectors.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("query")
    )
    nbrs = knn_exact_distributed(
        vectors, q, k=k + 1, metric="l2_sq", q_blocks=q_blocks,
        v_blocks=v_blocks, id_col=id_col, vec_col=vec_col,
        round_output=False,
    )
    w = Window.partitionBy("qid").orderBy("dist_sq", "neighbor_id")
    return (
        nbrs.filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == k)
        .select(
            F.col("qid").alias(id_col),
            F.col("dist_sq").alias("kdist"),
        )
    )


def knn_outlier_scores(
    vectors: DataFrame,
    k: int = 5,
    top_n: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_blocks: int = 4,
    v_blocks: int = 4,
) -> DataFrame:
    """k-distance outlier scoring (Ramaswamy et al. SIGMOD'00): each
    point's score is the distance to its k-th nearest OTHER point; the
    ``top_n`` highest scores are the outliers — the standard
    embedding-space cleaning pass an LLM data pipeline runs before
    training (drop encoder failures / off-manifold junk).

    Every point is a query, so the search routes through
    ``knn_exact_distributed`` (block nested-loop kNN join — the query
    set never visits the driver); the k-th-neighbor cut reuses the
    non-self re-rank, and the global top-n is one
    TakeOrderedAndProject over N (point, score) rows — no full sort.
    Ties at the cut break toward the smaller vec_id (pinned, as
    everywhere)."""
    kdist = knn_kth_distances(
        vectors, k, id_col=id_col, vec_col=vec_col,
        q_blocks=q_blocks, v_blocks=v_blocks,
    )
    return (
        kdist.orderBy(F.col("kdist").desc(), F.col(id_col).asc())
        .limit(top_n)
        .select(
            id_col,
            F.round("kdist", DIST_DECIMALS).alias("kdist_sq"),
        )
    )


def knn_lof_scores(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_blocks: int = 4,
    v_blocks: int = 4,
) -> DataFrame:
    """Local Outlier Factor (Breunig et al. SIGMOD'00) over an embedding
    column: density-RELATIVE outlier scores — a point in a sparse region
    next to a dense cluster scores high even when its absolute k-distance
    is unremarkable (the case plain k-distance scoring misses).

    One deviation, pinned on both sides: the neighborhood is EXACTLY the
    k nearest non-self points under the global ``(dist, id)`` tie order —
    classic LOF includes every point at distance == k-distance (a
    measure-zero difference on float data, but unpinnable across
    engines).  With that, the textbook definitions apply verbatim:

    * ``kdist(p)``       = distance to p's k-th neighbor,
    * ``reach(p←o)``     = max(dist(p,o), kdist(o)),
    * ``lrd(p)``         = k / Σ_o∈N(p) reach(p←o),
    * ``LOF(p)``         = (Σ_o∈N(p) lrd(o)) / (k · lrd(p)).

    Distances are squared L2 (the repo-wide convention; LOF is
    rank-equivalent under any monotone transform of the metric).

    Plan shape: one kNN-graph build through the block nested-loop join
    (all points are queries — never the driver), then three key-
    partitioned hash joins / partial aggs over the |V|·k edge list:
    kdist attach on neighbor, reach-sum agg per point, lrd attach on
    neighbor + final agg.  Nothing quadratic past the kNN join; every
    agg is map-side partial.
    """
    q = vectors.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("query")
    )
    raw = knn_exact_distributed(
        vectors, q, k=k + 1, metric="l2_sq", q_blocks=q_blocks,
        v_blocks=v_blocks, id_col=id_col, vec_col=vec_col,
        round_output=False,
    )
    w = Window.partitionBy("qid").orderBy("dist_sq", "neighbor_id")
    nbrs = (
        raw.filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "neighbor_id", F.col("dist_sq").alias("dist"))
        .localCheckpoint(eager=True)  # 3 consumers; the kNN join is the
        # expensive input — pin it down before fanning derivations out
        # (the PageRank lesson, SCALING.md finding 18)
    )
    kdist = nbrs.groupBy("qid").agg(F.max("dist").alias("kdist"))
    reach = nbrs.join(
        kdist.select(F.col("qid").alias("neighbor_id"),
                     F.col("kdist").alias("nbr_kdist")),
        "neighbor_id",
    ).select(
        "qid", "neighbor_id",
        F.greatest("dist", "nbr_kdist").alias("reach"),
    )
    lrd = reach.groupBy("qid").agg(
        (F.lit(float(k)) / F.sum("reach")).alias("lrd")
    )
    lof = (
        nbrs.join(
            lrd.select(F.col("qid").alias("neighbor_id"),
                       F.col("lrd").alias("nbr_lrd")),
            "neighbor_id",
        )
        .groupBy("qid")
        .agg(F.sum("nbr_lrd").alias("sum_nbr_lrd"))
        .join(lrd, "qid")
        .select(
            F.col("qid").alias(id_col),
            F.round(
                F.col("sum_nbr_lrd") / (F.lit(float(k)) * F.col("lrd")), 4
            ).alias("lof"),
        )
    )
    return lof


def knn_filtered(
    vectors: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 10,
    metric: str = "l2_sq",
    **kw,
) -> DataFrame:
    """Filtered vector search: metadata predicate + kNN (a capability the
    reference lacks — SURVEY.md §2.7).  The filter is applied *before* the
    scan so Catalyst pushes it into the parquet read (pre-filtering, not
    post-filtering — result is the true top-k of the filtered set)."""
    return knn_exact(vectors.filter(predicate), queries, k=k, metric=metric, **kw)


def knn_grouped(
    vectors: DataFrame,
    queries: DataFrame,
    group_col: str,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Group-wise exact search: top-k per (query, group) — e.g. the
    nearest exemplars of EVERY label per query (diversity-style retrieval;
    no reference analog).  One window over (qid, group)."""
    dist = l2_sq(F.col(vec_col), F.col("query"))
    cand = vectors.join(F.broadcast(queries)).select(
        "qid",
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("neighbor_id"),
        dist.alias("dist"),
    )
    w = Window.partitionBy("qid", "grp").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            F.col("grp").alias(group_col),
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("dist"), DIST_DECIMALS).alias("dist_sq"),
        )
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k_pos: int = 3,
    margin: float = 4.0,
    k_neg: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "pandas",
    q_blocks: int = 16,
    v_blocks: int = 16,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training data
    (no reference analog — the reference serves queries, it does not
    curate training pairs): for each anchor, the top-``k_neg``
    DIFFERENT-label neighbors whose distance is at most ``margin`` ×
    the anchor's ``k_pos``-th same-label (positive) squared distance —
    negatives close enough to be informative, anchored to each point's
    own positive scale rather than one global radius.

    ``queries`` must carry the anchor's own label: ``(qid, query,
    qlabel)``; anchors are excluded from their own positive ranking
    (``neighbor_id != qid``).  Anchors with fewer than ``k_pos``
    same-label peers have no positive radius and emit nothing (both
    sides agree).  ``margin`` multiplies the SQUARED positive radius
    (margin 4.0 ≡ 2× in true L2).

    ``method='pandas'`` (default) is the GEMM candidate pass — the
    ``knn_exact`` discipline at dataset-sized anchor sets: anchors
    (ids, matrix, labels) broadcast once, each scan partition runs ONE
    label-masked BLAS product and emits only its local top-``k_pos``
    same-label + top-``k_neg`` different-label rows per anchor, so the
    shuffle moves ``partitions × (k_pos + k_neg) × |Q|`` rows, never
    ``N × |Q|``.  ``method='sql'`` is the pure-Catalyst twin (identical
    results; the oracle's shape).  ``method='cogroup'`` is the
    dataset-|Q| scale tier (the ``knn_exact_distributed`` block shape):
    neither side broadcasts or visits the driver — anchors hash into
    ``q_blocks`` groups, vectors into ``v_blocks`` (keys via
    ``block_cogroup_keys``, the finding-28 discipline), each cogroup
    GEMMs one (qblock, vblock) tile and emits its local per-anchor
    top-``k_pos``/top-``k_neg`` per label side; the broadcast form's
    per-batch distance tile is |batch|·|Q| floats and is structurally
    excluded once |Q| is the dataset.

    Finishing algebra (shared): two windows on one (qid)-hash shuffle —
    ``row_number`` over (qid, is_same_label) ranks positives and
    negatives in the same pass, a (qid)-partition ``max(CASE
    rank=k_pos)`` turns the positive ranking into a per-anchor radius
    column, and the radius filter keeps a PREFIX of the negative
    ranking (the filter is on the ordering key), so the negative rank
    needs no re-numbering."""
    if method == "sql":
        dist = l2_sq(F.col(vec_col), F.col("query"))
        cand = (
            vectors.join(F.broadcast(queries))
            .filter(F.col(id_col) != F.col("qid"))
            .select(
                "qid",
                "qlabel",
                F.col(label_col).alias("neighbor_label"),
                F.col(id_col).alias("neighbor_id"),
                dist.alias("dist"),
            )
        )
        cand = cand.withColumn(
            "is_same", (F.col("neighbor_label") == F.col("qlabel")).cast("int")
        )
    elif method == "cogroup":
        kp, kn = int(k_pos), int(k_neg)
        # default 16x16: 256 tiles keep every core busy and each tile's
        # distance matrix at (N/16)^2 doubles — the finding-30 sizing
        # (4x4 at 100k leaves half of local[32] idle under 5 GB tiles)
        q_own, q_rep = block_cogroup_keys(
            "qid", q_blocks, v_blocks, "qblock", "vblock"
        )
        v_own, v_rep = block_cogroup_keys(
            id_col, v_blocks, q_blocks, "vblock", "qblock"
        )
        qb = queries.select("qid", "query", "qlabel", q_own, q_rep)
        vb = vectors.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nvec"),
            F.col(label_col).alias("nlabel"),
            v_own,
            v_rep,
        )
        _assert_block_key_types(qb, vb)

        def block_cands(qpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "qid": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "neighbor_label": pd.Series(dtype="int64"),
                    "is_same": pd.Series(dtype="int32"),
                    "dist": pd.Series(dtype="float64"),
                }
            )
            if len(qpdf) == 0 or len(vpdf) == 0:
                return empty
            qids_ = qpdf["qid"].to_numpy(dtype=np.int64)
            qlab_ = qpdf["qlabel"].to_numpy(dtype=np.int64)
            Q_ = np.stack(qpdf["query"].to_numpy())
            ids = vpdf["nid"].to_numpy(dtype=np.int64)
            labs = vpdf["nlabel"].to_numpy(dtype=np.int64)
            V = np.stack(vpdf["nvec"].to_numpy())
            D = l2_sq_matrix(V, Q_)
            m = len(ids)
            out_q, out_id, out_lab, out_same, out_d = [], [], [], [], []
            # column chunks bound the masked-copy memory to rows×CH
            # doubles; per chunk one VECTORIZED argpartition replaces the
            # per-column lexsort-over-all-rows (the naive form cost 10×
            # the GEMM at 25k×25k tiles), with exact (dist, id) ordering
            # + boundary-tie widening on the tiny survivor sets only.
            CH = 1024
            for c0 in range(0, len(qids_), CH):
                c1 = min(c0 + CH, len(qids_))
                Dc = D[:, c0:c1]
                same_c = labs[:, None] == qlab_[None, c0:c1]
                self_c = ids[:, None] == qids_[None, c0:c1]
                for flag, mask, kk in (
                    (1, same_c & ~self_c, kp),
                    (0, ~same_c & ~self_c, kn),
                ):
                    Dm = np.where(mask, Dc, np.inf)
                    kkc = min(kk, m)
                    if kkc < m:
                        part = np.argpartition(Dm, kkc - 1, axis=0)[:kkc]
                    else:
                        part = np.tile(
                            np.arange(m)[:, None], (1, c1 - c0)
                        )
                    for j in range(c1 - c0):
                        rows = part[:, j]
                        dvals = Dm[rows, j]
                        fin = dvals < np.inf
                        if not fin.any():
                            continue
                        rows = rows[fin]
                        b = Dm[rows, j].max()
                        tied = np.flatnonzero(Dm[:, j] <= b)
                        if len(tied) > len(rows):
                            rows = tied
                        order = np.lexsort((ids[rows], Dm[rows, j]))[:kk]
                        sel = rows[order]
                        out_q.append(
                            np.full(len(sel), qids_[c0 + j], np.int64)
                        )
                        out_id.append(ids[sel])
                        out_lab.append(labs[sel])
                        out_same.append(np.full(len(sel), flag, np.int32))
                        out_d.append(D[sel, c0 + j])
            if not out_q:
                return empty
            return pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_id),
                    "neighbor_label": np.concatenate(out_lab),
                    "is_same": np.concatenate(out_same),
                    "dist": np.concatenate(out_d),
                }
            )

        cand = (
            qb.groupby("qblock", "vblock")
            .cogroup(vb.groupby("qblock", "vblock"))
            .applyInPandas(
                block_cands,
                schema="qid long, neighbor_id long, neighbor_label long,"
                " is_same int, dist double",
            )
        )
    else:
        spark = vectors.sparkSession
        qrows = queries.select("qid", "query", "qlabel").collect()
        if not qrows:
            lab_t = vectors.schema[label_col].dataType.simpleString()
            return spark.createDataFrame(
                [],
                f"qid long, neighbor_id long, neighbor_label {lab_t},"
                " rank long, dist_sq double, pos_radius_sq double",
            )
        qids = np.array([r[0] for r in qrows], dtype=np.int64)
        Q = np.array([np.asarray(r[1], dtype=np.float32) for r in qrows])
        qlabels = np.array([r[2] for r in qrows], dtype=np.int64)
        bc = spark.sparkContext.broadcast((qids, Q, qlabels))
        kp, kn = int(k_pos), int(k_neg)

        def local_cands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, qlab_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                labs = pdf[label_col].to_numpy(dtype=np.int64)
                V = np.stack(pdf[vec_col].to_numpy())
                D = l2_sq_matrix(V, Q_)  # rows × anchors, float64
                same = labs[:, None] == qlab_[None, :]
                selfmask = ids[:, None] == qids_[None, :]
                out_q, out_id, out_lab, out_same, out_d = [], [], [], [], []
                for j in range(len(qids_)):
                    dj = D[:, j]
                    for flag, mask, kk in (
                        (1, same[:, j] & ~selfmask[:, j], kp),
                        (0, ~same[:, j] & ~selfmask[:, j], kn),
                    ):
                        rows = np.flatnonzero(mask)
                        if len(rows) == 0:
                            continue
                        order = np.lexsort((ids[rows], dj[rows]))[:kk]
                        sel = rows[order]
                        out_q.append(np.full(len(sel), qids_[j], np.int64))
                        out_id.append(ids[sel])
                        out_lab.append(labs[sel])
                        out_same.append(np.full(len(sel), flag, np.int32))
                        out_d.append(dj[sel])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "neighbor_id": np.concatenate(out_id),
                            "neighbor_label": np.concatenate(out_lab),
                            "is_same": np.concatenate(out_same),
                            "dist": np.concatenate(out_d),
                        }
                    )

        cand = vectors.select(id_col, label_col, vec_col).mapInPandas(
            local_cands,
            schema="qid long, neighbor_id long, neighbor_label long,"
            " is_same int, dist double",
        )
    w_grp = Window.partitionBy("qid", "is_same").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    w_q = Window.partitionBy("qid")
    # one explicit hash(qid) shuffle serves BOTH windows: hash(qid)
    # satisfies the (qid, is_same) clustering requirement (same qid ⇒
    # same partition), so neither Window inserts its own Exchange —
    # without this the (qid, is_same) window shuffles first and the
    # (qid) radius window re-shuffles everything a second time.
    ranked = cand.repartition("qid").withColumn(
        "grp_rank", F.row_number().over(w_grp)
    ).withColumn(
        "pos_radius",
        F.max(
            F.when(
                (F.col("is_same") == 1) & (F.col("grp_rank") == k_pos),
                F.col("dist"),
            )
        ).over(w_q),
    )
    return (
        ranked.filter(
            (F.col("is_same") == 0)
            & (F.col("dist") <= F.lit(float(margin)) * F.col("pos_radius"))
            & (F.col("grp_rank") <= k_neg)
        )
        .select(
            "qid",
            "neighbor_id",
            # pin the label dtype to the source column's (the GEMM path
            # stages labels as int64; the oracle sees the table's type)
            F.col("neighbor_label")
            .cast(vectors.schema[label_col].dataType)
            .alias("neighbor_label"),
            F.col("grp_rank").cast("long").alias("rank"),
            F.round(F.col("dist"), DIST_DECIMALS).alias("dist_sq"),
            F.round(F.col("pos_radius"), DIST_DECIMALS).alias("pos_radius_sq"),
        )
    )


def anisotropy_stats(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding-space anisotropy / geometry diagnostic (one row): the
    EXACT mean pairwise cosine similarity over all N(N−1) ordered pairs
    without materializing any pair, via the resultant-vector identity

        Σ_{i≠j} û_i·û_j = ‖Σ_i û_i‖² − N      (û = v/‖v‖),

    plus the norm distribution (mean/std) and the mean resultant length
    R̄ = ‖Σû‖/N (≈0 for isotropic clouds, →1 as directions collapse —
    the standard anisotropy score of embedding-quality audits).

    Plan shape: one ``posexplode`` scan partial-aggregated to d per-dim
    component sums (d rows total, never N²), one tiny final agg; the
    norm stats ride the same scan.  Everything is exact float64
    arithmetic — a 100 TB corpus costs one pass."""
    nrm = norm(F.col(vec_col))
    ex = vectors.select(
        nrm.alias("nrm"), F.posexplode(vec_col).alias("dim_idx", "x")
    )
    per_dim = ex.groupBy("dim_idx").agg(
        (F.sum(F.col("x").cast("double") / F.col("nrm"))).alias("s")
    )
    geom = per_dim.agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
    nstats = vectors.select(nrm.alias("nrm")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.avg("nrm").alias("mean_norm"),
        F.stddev_pop("nrm").alias("std_norm"),
    )
    n = F.col("n_vectors").cast("double")
    return nstats.crossJoin(geom).select(
        "n_vectors",
        F.round("mean_norm", 6).alias("mean_norm"),
        F.round("std_norm", 6).alias("std_norm"),
        F.round((F.col("s2") - n) / (n * (n - F.lit(1.0))), 6).alias(
            "mean_pairwise_cosine"
        ),
        F.round(F.sqrt("s2") / n, 6).alias("resultant_len"),
    )


def class_scatter(
    vectors: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-class scatter decomposition of a labeled embedding space —
    the Fisher-style separability report of embedding-quality audits:
    for every label, the EXACT mean squared distance to the class
    centroid (within-class scatter), the squared distance of the class
    centroid to the global centroid (between-class scatter), and their
    ratio (higher = the class is tighter than it is displaced — easy
    for a classifier; ≤~1 = the class dissolves into the blend).

    Everything reduces to per-(label, dim) moment sums via the
    variance identity  E‖v−μ_ℓ‖² = E‖v‖² − ‖μ_ℓ‖², so the plan is ONE
    posexplode scan partial-aggregated to |labels|·d rows (sum x,
    sum x²), then label-count-sized joins — no pair, no second scan,
    no driver math; a 100 TB corpus costs one pass."""
    ex = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim_idx", "x"),
    ).select("label", "dim_idx", F.col("x").cast("double").alias("x"))
    per_ld = ex.groupBy("label", "dim_idx").agg(
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
        F.count("*").cast("long").alias("n"),
    )
    per_d = per_ld.groupBy("dim_idx").agg(
        (F.sum("s") / F.sum("n")).alias("gmu")
    )
    per_l = (
        per_ld.join(per_d, "dim_idx")
        .groupBy("label")
        .agg(
            F.first("n").alias("n_vectors"),
            F.sum("ss").alias("sumsq"),
            F.sum(
                (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
            ).alias("mu_sq"),
            F.sum(
                (F.col("s") / F.col("n") - F.col("gmu"))
                * (F.col("s") / F.col("n") - F.col("gmu"))
            ).alias("between_sq"),
        )
    )
    within = F.col("sumsq") / F.col("n_vectors") - F.col("mu_sq")
    return per_l.select(
        "label",
        F.col("n_vectors"),
        F.round(within, 6).alias("within_ms"),
        F.round("between_sq", 6).alias("between_sq"),
        F.round(F.col("between_sq") / within, 6).alias("fisher_ratio"),
    )


def cluster_quality(
    vectors: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Davies–Bouldin cluster-quality report (Davies & Bouldin, TPAMI
    1979) over a labeled embedding space — the standard partition-quality
    audit (lower = tighter, better-separated clusters): per label ℓ,

        s_ℓ  = mean ‖x − μ_ℓ‖  over members (EUCLIDEAN, not squared —
               the index's definition),
        DB_ℓ = max_{j≠ℓ} (s_ℓ + s_j) / ‖μ_ℓ − μ_j‖,

    with the attaining j reported (the cluster's worst-separated
    neighbor — the merge candidate).  The global index is avg(DB_ℓ).
    Complements ``class_scatter``: Fisher ratios use second moments
    only (one scan, no per-point distance); DB's mean-Euclidean scatter
    is not a moment identity, so this op pays one broadcast join of the
    |labels|·d centroid table back onto the exploded points.

    Plan shape at 100 TB: one posexplode scan partial-aggregated to
    |labels|·d centroid rows; centroids broadcast back onto a second
    posexplode scan (per-point squared-diff partial agg, keyed by id —
    map-side combine collapses the d rows per point); one per-label avg;
    then |labels|² driver-free pair math.  No pair of POINTS ever
    materializes — only label pairs."""
    ex = vectors.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim_idx", "x"),
    ).select("id", "label", "dim_idx", F.col("x").cast("double").alias("x"))
    cent = ex.groupBy("label", "dim_idx").agg(
        (F.sum("x") / F.count("*")).alias("mu")
    )
    per_point = (
        ex.join(F.broadcast(cent), ["label", "dim_idx"])
        .groupBy("id", "label")
        .agg(
            F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias("dsq")
        )
    )
    per_l = per_point.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.avg(F.sqrt("dsq")).alias("s"),
    )
    ca = cent.select(
        F.col("label").alias("la"), "dim_idx", F.col("mu").alias("ma")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "dim_idx", F.col("mu").alias("mb")
    )
    cd = (
        ca.join(cb, "dim_idx")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))
            ).alias("cdist")
        )
    )
    sa = per_l.select(F.col("label").alias("la"), F.col("s").alias("sa"),
                      "n_vectors")
    sb = per_l.select(F.col("label").alias("lb"), F.col("s").alias("sb"))
    ratios = (
        cd.join(sa, "la")
        .join(sb, "lb")
        .withColumn("ratio", (F.col("sa") + F.col("sb")) / F.col("cdist"))
    )
    # Rank on the ROUNDED ratio: Spark and DuckDB sum per-point
    # distances in different orders, so two label-pair ratios within
    # float noise could otherwise flip worst_neighbor between engines.
    # Same cross-engine tie discipline as doc_tfidf_knn's round(sim, 6).
    w = Window.partitionBy("la").orderBy(
        F.round("ratio", 6).desc(), F.col("lb").asc()
    )
    return (
        ratios.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("la").alias("label"),
            "n_vectors",
            F.round("sa", 6).alias("scatter"),
            F.col("lb").alias("worst_neighbor"),
            F.round("ratio", 6).alias("db_component"),
        )
    )


CLUSTER_QUALITY_ORACLE = """
WITH u AS (
  SELECT vec_id AS id, label,
         generate_subscripts(embedding, 1) AS dim_idx,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label, dim_idx, sum(x) / count(*) AS mu
  FROM u GROUP BY label, dim_idx
),
pp AS (
  SELECT u.id, u.label, sum((u.x - c.mu) * (u.x - c.mu)) AS dsq
  FROM u JOIN cent c USING (label, dim_idx)
  GROUP BY u.id, u.label
),
per_l AS (
  SELECT label, count(*)::BIGINT AS n_vectors, avg(sqrt(dsq)) AS s
  FROM pp GROUP BY label
),
cd AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(sum((a.mu - b.mu) * (a.mu - b.mu))) AS cdist
  FROM cent a JOIN cent b USING (dim_idx)
  WHERE a.label != b.label
  GROUP BY a.label, b.label
),
ratios AS (
  SELECT cd.la, cd.lb, sa.n_vectors, sa.s AS sa, sb.s AS sb,
         (sa.s + sb.s) / cd.cdist AS ratio
  FROM cd JOIN per_l sa ON cd.la = sa.label
          JOIN per_l sb ON cd.lb = sb.label
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY la ORDER BY round(ratio, 6) DESC, lb ASC) AS rn
  FROM ratios
)
SELECT la AS label, n_vectors, round(sa, 6) AS scatter,
       lb AS worst_neighbor, round(ratio, 6) AS db_component
FROM r WHERE rn = 1
"""


def effective_rank(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Effective rank of the embedding space via the participation
    ratio — the dimensional-collapse diagnostic of representation
    learning (Roy & Vetterli 2007's effective rank family; the quantity
    RankMe-style monitors track): for the population covariance C,

        PR = tr(C)² / tr(C²),    1 ≤ PR ≤ d,

    computed WITHOUT any eigendecomposition — tr(C) is the total
    variance and tr(C²) = ‖C‖_F² is a pure sum of squared covariance
    entries, so the whole diagnostic reduces to the exact corpus Gram
    matrix.  PR ≈ d means isotropic use of all dimensions; PR ≪ d
    means the space has collapsed onto a few directions (the failure
    mode `anisotropy_stats` sees via mean cosine, here resolved into an
    actual dimension count).

    Plan shape at 100 TB: one `mapInPandas` scan emitting ONE partial
    row per Arrow batch — (n, Σx, X^T X flattened), a d²-float GEMM per
    batch — then an element-wise reduce over d² indices (posexplode →
    partial-agg; d² rows total, never N·d²), a broadcast join of the
    d-row mean sums, and one final aggregate.  Nothing driver-side,
    nothing proportional to N after the scan."""
    cells = _cov_cells(vectors, vec_col)
    agg = cells.agg(
        F.first("_n").cast("long").alias("n_vectors"),
        F.first("d").cast("long").alias("dim"),
        F.sum(F.when(F.col("_i") == F.col("_j"), F.col("c")).otherwise(0.0)).alias(
            "_tr"
        ),
        F.sum(F.col("c") * F.col("c")).alias("_frob"),
    )
    return agg.select(
        "n_vectors",
        "dim",
        F.round("_tr", 6).alias("total_var"),
        F.round("_frob", 6).alias("frob_sq"),
        F.round(F.col("_tr") * F.col("_tr") / F.col("_frob"), 6).alias(
            "effective_rank"
        ),
    )


def _cov_cells(
    vectors: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Exact population-covariance entries as a (groups·d²)-row
    DataFrame ``(_grp, _i, _j, c, _n, d, _si, _sj, g)`` — the
    distributed Gram reduce shared by ``effective_rank`` /
    ``effective_rank_by`` (pure aggregate consumers) and ``whiten``
    (bounded d² driver collect for the eigh).  One ``mapInPandas``
    scan, one GEMM partial per (Arrow batch × group slice); everything
    after is (groups·d²)-row-sized.  ``group_col=None`` runs the whole
    corpus as one group (``_grp`` = 0)."""
    vec = vec_col

    def gram_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {"_grp": [], "n": [], "s": [], "g": []}
            for key, sub in pdf.groupby("_grp", sort=False, dropna=False):
                X = np.array(sub[vec].to_list(), dtype=np.float64)
                out["_grp"].append(key)
                out["n"].append(np.int64(len(X)))
                out["s"].append(X.sum(axis=0))
                out["g"].append((X.T @ X).ravel())
            yield pd.DataFrame(out)

    gtype = dict(vectors.dtypes)[group_col] if group_col else "int"
    gexpr = F.col(group_col) if group_col else F.lit(0)
    parts = vectors.select(gexpr.alias("_grp"), vec).mapInPandas(
        gram_batches,
        schema=f"_grp {gtype}, n long, s array<double>, g array<double>",
    )
    # Catalyst does not dedupe the consumers of `parts` — pin the tiny
    # partial table (≤ groups rows per Arrow batch) so the corpus GEMM
    # scan runs once
    parts = parts.localCheckpoint(eager=True)
    meta = parts.groupBy("_grp").agg(
        F.sum("n").cast("double").alias("_n"),
        F.min(F.size("s")).alias("d"),
    )
    s_sum = (
        parts.select("_grp", F.posexplode("s").alias("i", "v"))
        .groupBy("_grp", "i")
        .agg(F.sum("v").alias("s"))
    )
    g_sum = (
        parts.select("_grp", F.posexplode("g").alias("ij", "v"))
        .groupBy("_grp", "ij")
        .agg(F.sum("v").alias("g"))
    )
    si = s_sum.select(
        "_grp", F.col("i").alias("_i"), F.col("s").alias("_si")
    )
    sj = s_sum.select(
        "_grp", F.col("i").alias("_j"), F.col("s").alias("_sj")
    )
    cells = (
        g_sum.join(F.broadcast(meta), "_grp")
        .withColumn("_i", (F.col("ij") / F.col("d")).cast("long"))
        .withColumn("_j", F.pmod("ij", F.col("d")).cast("long"))
        .join(F.broadcast(si), ["_grp", "_i"])
        .join(F.broadcast(sj), ["_grp", "_j"])
        .withColumn(
            "c",
            F.col("g") / F.col("_n")
            - (F.col("_si") / F.col("_n")) * (F.col("_sj") / F.col("_n")),
        )
    )
    return cells


def effective_rank_by(
    vectors: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group participation-ratio effective rank — ``effective_rank``
    sliced by a group column (label, source, language …): each slice's
    own covariance answers WHICH subpopulation collapsed, the per-slice
    refinement of the corpus-level diagnostic (a healthy global PR can
    hide one collapsed source behind a diverse blend).  Same plan
    shape, one extra group key through the Gram reduce: partials are
    per (Arrow batch × slice), the reduce is (groups·d²) rows."""
    cells = _cov_cells(vectors, vec_col, group_col=group_col)
    agg = cells.groupBy("_grp").agg(
        F.first("_n").cast("long").alias("n_vectors"),
        F.first("d").cast("long").alias("dim"),
        F.sum(F.when(F.col("_i") == F.col("_j"), F.col("c")).otherwise(0.0)).alias(
            "_tr"
        ),
        F.sum(F.col("c") * F.col("c")).alias("_frob"),
    )
    return agg.select(
        F.col("_grp").alias(group_col),
        "n_vectors",
        "dim",
        F.round("_tr", 6).alias("total_var"),
        F.round(F.col("_tr") * F.col("_tr") / F.col("_frob"), 6).alias(
            "effective_rank"
        ),
    )


EFFECTIVE_RANK_BY_LABEL_ORACLE = """
WITH u AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
n AS (SELECT label, count(DISTINCT vec_id)::DOUBLE AS n,
             max(i)::BIGINT AS d FROM u GROUP BY label),
s AS (SELECT label, i, sum(x) AS s FROM u GROUP BY label, i),
g AS (
  SELECT a.label, a.i AS i, b.i AS j, sum(a.x * b.x) AS g
  FROM u a JOIN u b USING (label, vec_id)
  GROUP BY a.label, a.i, b.i
),
c AS (
  SELECT g.label, g.i, g.j,
         g.g / n.n - (si.s / n.n) * (sj.s / n.n) AS c
  FROM g
  JOIN n USING (label)
  JOIN s si ON si.label = g.label AND si.i = g.i
  JOIN s sj ON sj.label = g.label AND sj.i = g.j
),
agg AS (
  SELECT c.label, max(n.n)::BIGINT AS n_vectors, max(n.d) AS dim,
         sum(CASE WHEN c.i = c.j THEN c.c ELSE 0.0 END) AS tr,
         sum(c.c * c.c) AS frob
  FROM c JOIN n USING (label)
  GROUP BY c.label
)
SELECT label, n_vectors, dim,
       round(tr, 6) AS total_var,
       round(tr * tr / frob, 6) AS effective_rank
FROM agg
"""


def whiten(
    vectors: DataFrame,
    eps: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ZCA whitening of the embedding column — the standard
    post-processing that undoes anisotropic collapse (x ← W(x − μ),
    W = V(Λ+ε)^(−1/2)Vᵀ from the EXACT population covariance):
    post-whitening covariance is the identity, so cosine/L2 geometry
    stops being dominated by a few high-variance directions — the fix
    for the failure modes `anisotropy_stats` and `effective_rank`
    diagnose.  ZCA (not PCA) keeps the result maximally close to the
    input in least-squares sense, preserving interpretability of dims.

    Scale shape: covariance via the shared `_cov_cells` Gram reduce
    (one mapInPandas scan, d²-row frame); the d×d eigh happens on the
    DRIVER over the collected d² cells (bounded — 64×64 here, never
    corpus-sized; same contract as the IVF centroid collect), then W
    and μ broadcast back into one mapInPandas GEMM over the corpus.
    W is sign-stable by construction (V D Vᵀ is invariant to
    eigenvector sign flips), so rebuilds are byte-identical.
    Rows-only by nature (eigendecomposition has no SQL twin); pytest
    pins post-whitening covariance ≈ I and determinism.

    SERVING IMPACT (SCALING finding 37, measured at 100k): whitening
    raises the intrinsic dimension an ANN index must cover (PR → d by
    construction), so IVF recall at matched nprobe DROPS on low-PR
    corpora (0.72 → 0.33 @ nprobe 8 on a PR≈14 corpus).  Whiten for
    threshold stability; serve from raw space or re-tune nprobe/cells
    after the transform — `effective_rank` predicts the cost up front."""
    cells = _cov_cells(vectors, vec_col)
    rows = cells.select("_i", "_j", "c", "_n", "d", "_si").collect()
    if not rows:
        raise ValueError("whiten: no rows — cannot train a whitening matrix")
    d = int(rows[0]["d"])
    n = float(rows[0]["_n"])
    C = np.zeros((d, d), dtype=np.float64)
    mu = np.zeros(d, dtype=np.float64)
    for r in rows:
        C[int(r["_i"]), int(r["_j"])] = r["c"]
        mu[int(r["_i"])] = r["_si"] / n
    w, V = np.linalg.eigh((C + C.T) / 2.0)
    W = (V * (1.0 / np.sqrt(np.maximum(w, 0.0) + eps))) @ V.T
    vec = vec_col
    idc = id_col

    def apply_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec].to_list(), dtype=np.float64)
            Z = (X - mu) @ W.T
            yield pd.DataFrame(
                {idc: pdf[idc].values, vec: list(Z.astype(np.float32))}
            )

    return vectors.select(idc, vec).mapInPandas(
        apply_batches, schema=f"{idc} long, {vec} array<float>"
    )


EFFECTIVE_RANK_ORACLE = """
WITH u AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
n AS (SELECT count(DISTINCT vec_id)::DOUBLE AS n,
             max(i)::BIGINT AS d FROM u),
s AS (SELECT i, sum(x) AS s FROM u GROUP BY i),
g AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS g
  FROM u a JOIN u b USING (vec_id)
  GROUP BY a.i, b.i
),
c AS (
  SELECT g.i, g.j,
         g.g / n.n - (si.s / n.n) * (sj.s / n.n) AS c
  FROM g, n
  JOIN s si ON si.i = g.i
  JOIN s sj ON sj.i = g.j
),
agg AS (
  SELECT max(n.n)::BIGINT AS n_vectors, max(n.d) AS dim,
         sum(CASE WHEN c.i = c.j THEN c.c ELSE 0.0 END) AS tr,
         sum(c.c * c.c) AS frob
  FROM c, n
)
SELECT n_vectors, dim,
       round(tr, 6) AS total_var,
       round(frob, 6) AS frob_sq,
       round(tr * tr / frob, 6) AS effective_rank
FROM agg
"""


def recall_at_k(results: DataFrame, ground_truth: DataFrame, k: int) -> DataFrame:
    """Recall@k per query + macro average (reference ``recall_bench.cpp:80-101``).

    ``results``: (qid, neighbor_id, rank, …); ``ground_truth``:
    (qid, neighbor_ids array<long>, ascending by (dist, id), len >= k).
    """
    got = results.filter(F.col("rank") <= k).groupBy("qid").agg(
        F.collect_list("neighbor_id").alias("got_ids")
    )
    per_q = got.join(ground_truth, "qid").select(
        "qid",
        (
            F.size(
                F.array_intersect(
                    F.col("got_ids"), F.slice(F.col("neighbor_ids"), 1, k)
                )
            )
            / F.lit(k)
        ).alias("recall"),
    )
    return per_q.agg(
        F.round(F.avg("recall"), 6).alias("recall_at_k"),
        F.count("*").cast("long").alias("n_queries"),
    )


# N·d float64 elements at or below this collect to the driver and run
# the greedy loop in NumPy (finding 45's job-count lesson: each Spark
# round is a full scan + TakeOrderedAndProject job, so at small N the
# k−1 rounds are pure scheduling overhead).  2^22 elements = 32 MB.
KCENTER_DRIVER_ELEMS = 1 << 22
# row ceiling for the tier probe (limit(bound+1) — one job both decides
# the tier and delivers the matrix); with the element bound above this
# caps the probe at ≤32 MB even for very wide vectors
KCENTER_DRIVER_ROWS = 32_768


def _seq_fold_l2_sq(a, b) -> float:
    """Exact left-to-right float64 squared-L2 fold — bit-identical to
    the ``l2_sq`` higher-order aggregate (and DuckDB's ``list_sum``),
    which both accumulate in dim order.  The driver tier uses it to
    confirm winners so tier choice can never flip a near-tie."""
    s = 0.0
    for x, y in zip(a, b):
        t = float(x) - float(y)
        s = s + t * t
    return s


def _kcenter_driver(
    pdf, k: int, id_col: str, vec_col: str
) -> list[tuple[int, int, float]]:
    """Driver-side greedy k-center over an already-collected pandas
    frame: vectorized min-distance maintenance + exact-fold
    confirmation of the argmax (and of every candidate within a safety
    margin of it, where pairwise-summed NumPy could disagree with the
    sequential fold).  Returns [(rank, vec_id, dist_sq)] with dist_sq
    from the exact fold."""
    import numpy as np

    ids = pdf[id_col].to_numpy(dtype=np.int64)
    M = np.array(
        [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
        dtype=np.float64,
    )
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    n = len(ids)
    sel_rows: list[tuple[int, int, float]] = [(1, int(ids[0]), 0.0)]
    sel_idx = [0]
    taken = np.zeros(n, dtype=bool)
    taken[0] = True
    mind = np.full(n, np.inf)
    while len(sel_rows) < min(int(k), n):
        c = M[sel_idx[-1]]
        diff = M - c
        mind = np.minimum(mind, np.einsum("ij,ij->i", diff, diff))
        avail = np.where(~taken)[0]
        vals = mind[avail]
        v1 = float(vals.max())
        # candidates whose EXACT fold could still win: vectorized vs
        # sequential summation differ by O(d·ulp) relative — 1e-9 is
        # orders of magnitude of headroom
        margin = 1e-9 * (1.0 + abs(v1))
        near = avail[vals >= v1 - margin]
        if len(near) > 64:
            # mass-tie regime (r16 advisor: duplicate-heavy corpora put
            # nearly every remaining row inside the margin, making the
            # per-candidate interpreted fold O(|near|·|sel|·d) Python —
            # minutes at the 32k tier bound).  Vectorize the SAME
            # left-to-right dim-order float64 summation over all
            # candidates at once: one accumulator updated one dim at a
            # time preserves the scalar fold's addition order for every
            # row simultaneously, so the result is bit-identical to
            # _seq_fold_l2_sq and tier choice still can't flip a tie.
            Nm = M[near]
            exact_min = np.full(len(near), np.inf)
            for s in sel_idx:
                dv = Nm - M[s]
                acc = np.zeros(len(near))
                for j in range(dv.shape[1]):
                    t = dv[:, j]
                    acc = acc + t * t
                np.minimum(exact_min, acc, out=exact_min)
            best_val = float(exact_min.max())
            tied = near[exact_min == best_val]
            best_i = int(tied[np.argmin(ids[tied])])
            best_id = int(ids[best_i])
        else:
            best_id, best_val = None, -1.0
            for idx in near:
                exact = min(
                    _seq_fold_l2_sq(M[idx], M[s]) for s in sel_idx
                )
                if exact > best_val or (
                    exact == best_val and int(ids[idx]) < best_id
                ):
                    best_val, best_id, best_i = (
                        exact, int(ids[idx]), int(idx)
                    )
        sel_rows.append((len(sel_rows) + 1, best_id, float(best_val)))
        sel_idx.append(best_i)
        taken[best_i] = True
    return sel_rows


def kcenter_select(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_driver_elems: int = KCENTER_DRIVER_ELEMS,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 — the classic
    2-approximation for the k-center objective): start from the
    smallest id (a deterministic anchor), then ``k-1`` times add the
    point with the MAXIMUM min-squared-L2 distance to the already
    selected set, ties broken by smallest id.  The diversity-sampling
    primitive of training-data curation: pick maximally-spread
    exemplars under a labeling/inspection budget, seed clustering, or
    build a coverage probe set — the complement of the density family
    (outliers score isolation; k-center GUARANTEES spread: every point
    is within 2× the optimal k-center radius of a selected exemplar).

    Scale shape: the selected set is k rows — it lives on the driver
    (bounded scalar collect, k·d floats) and enters each round as a
    PURE COLUMN EXPRESSION (``F.least`` over the k ``l2_sq`` columns —
    JVM codegen, no UDF, no broadcast join); each round is one scan +
    ``TakeOrderedAndProject(1)``.  Exactly ``k-1`` scans total —
    iterative by nature (each selection depends on the last), like the
    reference's sequential seeding loops, but each step is one
    distributed pass with only 1 row ever returning to the driver.

    Returns ``(rank, vec_id, dist_sq)`` where ``dist_sq`` is the min
    squared distance to the PREVIOUSLY selected exemplars (0.0 for the
    anchor) — i.e. the k-center radius ladder; ``dist_sq`` of the last
    row upper-bounds twice the optimal k-center radius.  Float64
    sequential-fold arithmetic identical to the DuckDB oracle's
    ``list_sum`` (dim order), so selection and distances hash-match.

    Practical (k, d) bound: round r embeds r·d literals into the plan
    (``F.least`` over r ``l2_sq`` column expressions), so total codegen
    size grows O(k²·d) across the run.  Fine for the curation regime
    this targets (k ≤ ~64 exemplars, d ≤ ~1024: the k=64, d=1024 plan
    is ~65k literals in its last round — well inside Catalyst's 64KB
    per-method codegen splitter).  For k·d beyond ~10⁶ switch the
    per-round scorer to a broadcast-NumPy ``mapInPandas`` (the
    selected-set matrix as one broadcast array instead of literals);
    selection semantics and output are unchanged.

    Fewer than ``k`` input rows → returns the available exemplars
    (every input row once, in selection order) rather than erroring;
    an empty input raises ``ValueError``.

    Small-input tier (r16, finding 45): when ``N·d`` float64 elements
    fit ``max_driver_elems`` the whole matrix collects once (Arrow) and
    the greedy loop runs in NumPy — zero per-round Spark jobs, output
    IDENTICAL by construction: candidates are scored vectorized, then
    the winner (and any candidate within a safety margin of it, where
    vectorized pairwise summation could disagree with the distributed
    tier's sequential fold) is re-confirmed with the EXACT left-to-right
    float64 fold ``l2_sq`` uses, ties by smallest id — so selection AND
    the reported ``dist_sq`` hash-match the oracle at either tier
    (tier-identity pytest-pinned)."""
    from vector_search_engine_spark.functions.vector import l2_sq

    spark = vectors.sparkSession
    # Tier probe is sized by the ELEMENT bound, not a fixed row count
    # (r16 advisor): a one-row peek learns the vector dim first, so a
    # wide-vector corpus never over-collects — at d=4096 a fixed
    # 32,769-row probe would pull ~1 GB to the driver only to be
    # discarded by the element check.  max_driver_elems <= 0 skips the
    # probe entirely (pure distributed tier).
    if int(max_driver_elems) > 0:
        head = vectors.select(id_col, vec_col).limit(1).toPandas()
        if len(head) == 0:
            raise ValueError("kcenter_select: input has no rows")
        dim = max(1, len(head[vec_col].iloc[0]))
        bound = min(KCENTER_DRIVER_ROWS, int(max_driver_elems) // dim)
        if bound > 0:
            # ONE bounded probe job decides the tier AND, when small,
            # IS the whole input: limit(bound+1) overflowing by one row
            # means "too big, fall through" without counting the table
            probe = (
                vectors.select(id_col, vec_col)
                .limit(bound + 1)
                .toPandas()
            )
            if len(probe) <= bound:
                rows = _kcenter_driver(probe, k, id_col, vec_col)
                return spark.createDataFrame(
                    rows, schema="rank long, vec_id long, dist_sq double"
                ).withColumn("dist_sq", F.round("dist_sq", DIST_DECIMALS))
    anchor_rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(1)
        .collect()
    )
    if not anchor_rows:
        raise ValueError("kcenter_select: input has no rows")
    first = anchor_rows[0]
    sel: list[tuple[int, list, float]] = [
        (int(first[0]), [float(x) for x in first[1]], 0.0)
    ]
    for _ in range(int(k) - 1):
        exprs = [
            l2_sq(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in v]),
            )
            for _, v, _ in sel
        ]
        mind = exprs[0] if len(exprs) == 1 else F.least(*exprs)
        chosen_rows = (
            vectors.filter(
                ~F.col(id_col).isin([i for i, _, _ in sel])
            )
            .select(
                F.col(id_col), F.col(vec_col), mind.alias("_md")
            )
            .orderBy(F.col("_md").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not chosen_rows:  # fewer than k input rows: all selected
            break
        chosen = chosen_rows[0]
        sel.append(
            (
                int(chosen[0]),
                [float(x) for x in chosen[1]],
                float(chosen[2]),
            )
        )
    spark = vectors.sparkSession
    # rounding via F.round (HALF_UP) — the codebase's single rounding
    # discipline; Python round() is banker's and diverges from the SQL
    # oracle on exact 4th-decimal ties
    return spark.createDataFrame(
        [(r + 1, i, d) for r, (i, _, d) in enumerate(sel)],
        schema="rank long, vec_id long, dist_sq double",
    ).withColumn("dist_sq", F.round("dist_sq", DIST_DECIMALS))


def intrinsic_dim_twonn(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_blocks: int = 4,
    v_blocks: int = 4,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al., Scientific
    Reports 2017) — the standard embedding-space quality metric: for
    each point, the ratio ``mu = d2/d1`` of its second- to first-nearest
    neighbor DISTANCE follows ``P(mu > x) = x^-d`` with ``d`` the
    manifold's intrinsic dimension, independent of the ambient dim, so
    the MLE is ``d_hat = n_used / sum(ln mu)``.  A corpus whose
    embeddings claim 64 dims but concentrate on a ~10-dim manifold
    tells a curation pipeline its index/quantizer budgets are paying
    for noise dims.

    Points whose nearest neighbor is at distance 0 (duplicate vectors)
    are EXCLUDED from the sum (``mu`` undefined — the standard TwoNN
    treatment; run dedup first) and reported in ``n_dup_dropped``.
    "Zero" is judged on the 4-decimal rounded distance — the engine's
    GEMM expansion leaves ~1e-9 residue on bit-identical vectors where
    the oracle's term-by-term subtraction gives exactly 0, so the
    rounded value is the only cross-engine-stable boundary (the repo's
    single rounding discipline); the log-ratio uses the same rounded
    d1/d2 so both engines sum identical terms.

    Output: one row ``(n_points, n_used, n_dup_dropped, intrinsic_dim)``
    with the estimate rounded to 4 decimals.  Distances here are the
    engine's squared L2, so ``ln mu = 0.5 * ln(d2_sq/d1_sq)``.

    Plan: the exact 2-NN rides the block-cogroup kNN join (the
    dataset-sized-|Q| tier — every point is a query), then ONE
    map-side-combined aggregation of ``ln mu``; no driver structures at
    any scale."""
    q = vectors.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("query")
    )
    nbrs = knn_exact_distributed(
        vectors, q, k=3, q_blocks=q_blocks, v_blocks=v_blocks,
        id_col=id_col, vec_col=vec_col, round_output=False,
    )
    # ranks over non-self neighbors (self sits at rank 1 with dist 0)
    w = Window.partitionBy("qid").orderBy("dist_sq", "neighbor_id")
    two = (
        nbrs.filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("qid")
        .agg(
            F.min(
                F.when(F.col("rn") == 1, F.round("dist_sq", DIST_DECIMALS))
            ).alias("d1"),
            F.min(
                F.when(F.col("rn") == 2, F.round("dist_sq", DIST_DECIMALS))
            ).alias("d2"),
        )
    )
    return two.agg(
        F.count("*").cast("long").alias("n_points"),
        F.count(F.when(F.col("d1") > 0, 1)).cast("long").alias("n_used"),
        F.count(F.when(F.col("d1") <= 0, 1)).cast("long").alias("n_dup_dropped"),
        F.round(
            F.count(F.when(F.col("d1") > 0, 1)).cast("double")
            / F.sum(
                F.when(
                    F.col("d1") > 0,
                    0.5 * (F.log(F.col("d2")) - F.log(F.col("d1"))),
                )
            ),
            DIST_DECIMALS,
        ).alias("intrinsic_dim"),
    )
