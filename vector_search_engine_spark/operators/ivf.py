"""IVF (inverted-file) vector index — the Spark-native analog of the
reference's HNSW graph (SURVEY.md §1.3, §2.5 B2, §2.3 Q2/Q3).

The reference gets sublinear search from a navigable graph built by
sequential, lock-heavy inserts (``hnsw_index.h:135-218``) — an anti-pattern
on Spark.  The idiomatic replacement keeps the *roles*:

  * upper graph layers (greedy descent to a region) → **KMeans coarse
    quantizer**: nearest ``nprobe`` centroids per query;
  * level-0 beam search within the region → **partition-pruned brute-force
    scan**: the vector table is written ``partitionBy("centroid_id")`` so
    probing touches only ``nprobe / n_centroids`` of the files (Catalyst
    partition pruning does the work);
  * ``ef_search`` recall/latency knob (``hnsw_index.h:256``) → ``nprobe``.

Index layout on disk (plain parquet + a generation manifest — snapshot
isolation via immutable files and an atomic manifest swap, the
lakehouse-commit analog of the reference's EBR/RCU machinery):

    index_dir/vectors/gen=G/centroid_id=*/...    partitioned vector cells
    index_dir/vectors_manifest.json              cell -> generation map
    index_dir/centroids.parquet                  (centroid_id, centroid)
    index_dir/meta.json                          dim, n_centroids, columns

Compaction never mutates files in place: it writes affected cells under a
NEW generation dir, swaps the manifest (os.rename is atomic), and deletes
a generation's dirs only one full commit cycle after they stop being
referenced — in-flight readers that listed the old files keep reading
them (grace period = one compaction cycle).

Scale posture: KMeans fits on a sample (MLlib distributes its own
iterations); assignment is one map over the data; the partitioned write is
one shuffle.  Search broadcasts only (query, centroid) pairs — never
vectors — and each probed partition emits ≤ k rows per query.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_engine_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_sq,
    l2_sq_matrix,
    normalize,
)
from vector_search_engine_spark.operators.knn import (
    _finalize_topk,
    _queries_df,
    _query_arrays as knn_query_arrays,
)

# Serializes derived-sidecar builds (IVFIndex._sidecar, behind every
# ensure_*) and their GC (invalidate_sidecars): two concurrent callers
# missing a ready dir must not interleave state/parquet writes into the
# same generation dir, and GC must not remove a build's in-flight tmp.
# Same single-process scope as _INSTANCE_LOCK.
_SIDECAR_LOCK = threading.Lock()

# Dir-name prefixes of the derived sidecars.  invalidate_sidecars GCs
# exactly these, and IVFIndex._sidecar refuses a tag outside them, so a
# new sidecar cannot escape GC.
_SIDECAR_PREFIXES = ("sq8", "sq4", "pq_m", "bq_gen", "graph_m", "pcarot")

# Guards the dict operations of IVFIndex._memo (check-then-act on the
# per-instance memos that concurrent searches share).
_MEMO_LOCK = threading.Lock()

# cascade stage-2 candidate lists above this estimated row count take a
# shuffle join instead of a driver broadcast (simjoin's max_broadcast_rows
# discipline — the exactness configuration runs unbounded C at full probe,
# where cand1 is |Q|·N rows and MUST NOT be collected to the driver)
_CASCADE_BROADCAST_ROWS = 5_000_000

# ceiling on the AUTO-derived per-cell sign-tier stage-1 budget (finding
# 41): the default budget is each probed cell's own population, which
# bounds the exact-rescore set by the cell size; above this cap the
# derivation keeps the cap and warns instead, so one pathological hot
# cell can't turn the default into a full-probe rescore of 10^8 rows.
# Explicit candidates_per_cell overrides both the derivation and the cap.
AUTO_SIGN_BUDGET_CAP = 65_536

# float64 cells per GEMM tile in the cogroup kernels: one hot cell can be
# probed by ALL of a dataset-sized query table, so the per-call distance
# matrix is tiled over query columns to stay near 128 MB
_TILE_CELLS = 16_000_000


def _merge_built_partitions(tmp: str | None, out_dir: str) -> None:
    """Finish a sidecar build (``IVFIndex._sidecar``): move the freshly
    built ``centroid_id=*`` partition dirs from ``tmp`` (a Spark
    overwrite target; None when no cell was left to build) into
    ``out_dir`` (already holding the carried-forward partitions), then
    publish with the _SUCCESS marker — the same commit point a plain
    ``df.write.parquet`` uses, so the double-checked ``ensure_*`` fast
    path can't observe a half-merged dir.

    Publishing is gated on ``tmp``'s own Spark-written _SUCCESS marker:
    if anything removed or truncated the tmp dir between the Spark write
    and this merge (e.g. a GC racing the build — the failure mode
    ``invalidate_sidecars``'s lock now prevents), we must fail loudly
    rather than publish a sidecar silently missing the rebuilt cells'
    partitions (searches at that snapshot would drop those cells'
    candidates).  A missing partition dir for an EMPTY build cell is
    legitimate (Spark writes no dir for zero rows), so the guard checks
    the job-level marker, not per-cell dirs."""
    if tmp is not None:
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(
                f"incremental sidecar build lost its tmp output {tmp!r} "
                "before merge (no _SUCCESS marker); refusing to publish "
                f"{out_dir!r} — rerun ensure_* to rebuild"
            )
        for d in glob.glob(os.path.join(tmp, "centroid_id=*")):
            os.rename(d, os.path.join(out_dir, os.path.basename(d)))
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass


def _sidecar_ready(root: str, state_files, subdir: str | None = None) -> bool:
    """A sidecar dir is ready when its rows dir (``subdir`` of ``root``,
    or ``root`` itself) holds ``_SUCCESS`` and ``root`` holds every one
    of its tier's ``state_files`` (see ``IVFIndex._sidecar``)."""
    rows = os.path.join(root, subdir) if subdir else root
    return os.path.exists(os.path.join(rows, "_SUCCESS")) and all(
        os.path.exists(os.path.join(root, f)) for f in state_files
    )


def _write_state(path: str, value) -> None:
    """Write one sidecar state file atomically (tmp + rename): an
    ndarray as ``.npy``, anything else as JSON."""
    tmp = path + ".tmp"
    if isinstance(value, np.ndarray):
        with open(tmp, "wb") as f:
            np.save(f, value)
    else:
        with open(tmp, "w") as f:
            json.dump(value, f)
    os.rename(tmp, path)


def _sq_bound_mask(
    codes, lo: np.ndarray, hi: np.ndarray, q: np.ndarray, dim: int,
    bits: int, k: int,
) -> np.ndarray:
    """Keep-mask of the PROVABLY lossless SQ bound cut over one candidate
    group (shared by ``search_sq8``, ``search_cascade`` stage 2, and the
    distributed forms — identical arithmetic everywhere so the tiers stay
    bit-equivalent): with per-vector dequantization error
    ``e = sqrt(dim)·span/(2·levels)`` (+ float32 slop), every row whose
    lower bound ``sqrt(d̂)−e`` ≤ the k-th smallest upper bound survives —
    a superset of the group's true top-k.  The argument composes: a
    group is any subset of a query's candidates (Arrow batch, partition,
    shuffle-join slice), and a global top-k member beats all but < k
    candidates in EVERY subset containing it, so it always survives the
    subset's cut (ties covered by the non-strict ≤ plus the error
    slack)."""
    from vector_search_engine_spark.operators.sq import sq_codes_matrix

    levels = float((1 << bits) - 1)
    M = sq_codes_matrix(codes, len(lo), bits, dim)
    span = hi - lo
    span[span <= 0] = 1.0
    V = lo[:, None] + M * (span[:, None] / levels)
    d = (V * V).sum(axis=1) - 2.0 * (V @ q) + float(q @ q)
    np.maximum(d, 0.0, out=d)
    sd = np.sqrt(d)
    e = np.sqrt(dim) * (span / (2.0 * levels)) * (1 + 1e-5) + 1e-6
    ub = sd + e
    kth = np.partition(ub, min(k, len(ub)) - 1)[min(k, len(ub)) - 1]
    return (sd - e) <= kth


def _sq_bound_mask_multi(
    codes, lo: np.ndarray, hi: np.ndarray, Qm: np.ndarray, dim: int,
    bits: int, k: int,
) -> np.ndarray:
    """Multi-query form of ``_sq_bound_mask`` (r17): decode the group's
    codes ONCE and evaluate the same lossless bound against every probing
    query via one GEMM — returns an (n_rows, n_queries) keep mask, column
    j being the cut for query j.  The bound argument is per (group,
    query) and does not care how d̂ is computed (any faithful float64
    evaluation yields a superset of the true top-k; the exact rescore
    stage makes the final results identical), so the GEMM expansion is
    safe here even though its last-ulp rounding can differ from the
    matrix-vector form."""
    from vector_search_engine_spark.operators.sq import sq_codes_matrix

    levels = float((1 << bits) - 1)
    M = sq_codes_matrix(codes, len(lo), bits, dim)
    span = hi - lo
    span[span <= 0] = 1.0
    V = lo[:, None] + M * (span[:, None] / levels)
    e = (np.sqrt(dim) * (span / (2.0 * levels)) * (1 + 1e-5) + 1e-6)[:, None]
    kk = min(k, len(lo)) - 1
    n = len(lo)
    # query-column tiling (r18): the cogroup scan can hand one hot cell
    # ALL of a dataset-sized query table's probes — cap the per-call
    # distance matrix at _TILE_CELLS.  Each query's mask depends only on
    # its own column, so tiling changes nothing.
    step = max(1, _TILE_CELLS // max(n, 1))
    outs = []
    for c0 in range(0, Qm.shape[0], step):
        D = l2_sq_matrix(V, Qm[c0 : c0 + step])  # (n, tile), clamped >= 0
        SD = np.sqrt(D)
        UB = SD + e
        kth = np.partition(UB, kk, axis=0)[kk]
        outs.append((SD - e) <= kth[None, :])
    return outs[0] if len(outs) == 1 else np.concatenate(outs, axis=1)


def _sign_cut(codes, d: int, Qc: np.ndarray, keep: int) -> list[np.ndarray]:
    """The BQ stage-1 cut of one cell group, shared by every sign tier:
    the group's packed sign codes unpack ONCE, one GEMM of the ±1 block
    scores every probing query at once — the asymmetric score
    ``(q − t) · sign(v − t)`` against the centered queries ``Qc`` (bits
    encode ``sign(v − t)``) — and each query keeps its top ``keep``
    rows.  Returns one row-position array per row of ``Qc`` (every row
    when the group holds at most ``keep``)."""
    n = len(codes)
    if n <= keep:
        return [np.arange(n)] * len(Qc)
    raw = np.frombuffer(b"".join(codes), dtype=np.uint8)
    bits = np.unpackbits(raw.reshape(n, -1), axis=1)[:, :d]
    S = (2.0 * bits - 1.0) @ Qc.T  # (n, |probing queries|)
    return [np.argpartition(-S[:, j], keep - 1)[:keep] for j in range(len(Qc))]


def _cell_slices(pdf: pd.DataFrame, cell_qidx: dict):
    """The serving kernels' cell loop over one Arrow batch: yields
    ``(cell, qidx, rows)`` for every cell slice some query probes —
    ``rows`` the slice's positions in ``pdf`` and ``qidx`` the probing
    queries' positions (``_cell_map``).  A stable argsort on
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
    """One task's output of a cut or top-k kernel, emitted as ONE pandas
    frame (r18, guide §4: one Arrow batch per task, not one per cut
    group).  ``add(qid, ids, x)`` appends a query's neighbor ids with,
    per ``extra``, their distances (``"dist"``) or the query vector
    riding every row (``"query"``); ``None`` emits bare pairs.  Columns
    come out in the tier schemas' order."""

    def __init__(self, extra: str | None = None):
        self.extra = extra
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

    def frame(self) -> pd.DataFrame | None:
        if not self.q:
            return None
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


def _emit_topk_once(best: dict, k: int) -> Iterator[pd.DataFrame]:
    """Final per-task emit of the probed-search kernels: merge each
    query's accumulated ``(ids, dist)`` piles with the exact (dist, id)
    lexsort cut and emit ONE (qid, neighbor_id, dist) frame."""
    out = _Rows("dist")
    for qid, parts in best.items():
        ids = np.concatenate([p[0] for p in parts])
        d = np.concatenate([p[1] for p in parts])
        order = np.lexsort((ids, d))[:k]
        out.add(qid, ids[order], d[order])
    return out.emit()


def _train_quantizer(
    S: np.ndarray, k: int, seed: int = 42, max_iter: int = 10
) -> np.ndarray:
    """Seeded Lloyd's k-means on the (driver-side, bounded) training sample.

    Plain Lloyd with random-row init: for an IVF *coarse quantizer* the
    extra init quality of k-means++/|| buys nothing the recall harness can
    measure (cells only need to be balanced-ish, not optimal), and the
    assignment step is one GEMM via ``l2_sq_matrix``.  Deterministic for a
    fixed (sample, k, seed).  Empty cells are re-seeded from the points
    currently worst-served (largest distance to their centroid), so the
    returned matrix always has k non-degenerate rows.
    """
    rng = np.random.RandomState(seed)
    k = min(k, len(S))
    C = S[rng.choice(len(S), size=k, replace=False)].copy()
    for _ in range(max_iter):
        D = l2_sq_matrix(S, C)  # (n, k)
        a = D.argmin(axis=1)
        counts = np.bincount(a, minlength=k)
        newC = np.zeros_like(C)
        np.add.at(newC, a, S)
        nonempty = counts > 0
        newC[nonempty] /= counts[nonempty, None]
        if not nonempty.all():
            # farthest-point re-seed for empty cells, worst-served first
            worst = np.argsort(D[np.arange(len(S)), a])[::-1]
            for slot, pt in zip(np.flatnonzero(~nonempty), worst):
                newC[slot] = S[pt]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def _write_centroids_parquet(path: str, C, centroid_ids=None) -> None:
    """Driver-side Arrow write of the (tiny — n_centroids ≤ 4096) centroid
    table: one parquet file, no Spark job.  The index's metadata artifacts
    are local-FS driver writes already (manifest/meta.json via
    ``open()`` + ``os.rename``), and launching a 1-task Spark write for a
    few-KB table costs ~150 ms of pure scheduling per build/rebalance.
    Schema matches the previous Spark write exactly:
    ``(centroid_id int, centroid array<double>)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = (
        np.arange(len(C), dtype=np.int32)
        if centroid_ids is None
        else np.asarray(centroid_ids, dtype=np.int32)
    )
    tbl = pa.table(
        {
            "centroid_id": pa.array(ids, type=pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in c] for c in C], type=pa.list_(pa.float64())
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))


class IVFIndex:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self._load_centroids()

    def _load_centroids(self) -> None:
        self.centroid_ids, self.centroids = self._centroids_for(
            self._read_manifest()
        )

    def _centroids_for(
        self, manifest: dict | None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(centroid_ids, centroids) for the centroids file a manifest
        snapshot references — memoized per file, so a search that pinned a
        manifest keeps probing against the MATCHING centroid set even if a
        concurrent rebalance publishes a new one (centroids files are
        versioned and never deleted; see ``rebalance``)."""
        # `or` (not a .get default): history entries committed before any
        # rebalance carry an explicit centroids_file=None
        cfile = (manifest or {}).get("centroids_file") or "centroids.parquet"
        cache = getattr(self, "_cent_cache", None)
        if cache is None:
            cache = self._cent_cache = {}
        got = cache.get(cfile)
        if got is None:
            # driver-side Arrow read: the centroid table is a few KB and
            # lives beside the other driver-written metadata artifacts —
            # a Spark job to collect it is ~200 ms of pure scheduling
            import glob as _glob

            import pyarrow.parquet as pq

            tbls = [
                pq.read_table(f)
                for f in sorted(
                    _glob.glob(
                        os.path.join(self.index_dir, cfile, "*.parquet")
                    )
                )
            ]
            import pyarrow as pa

            tbl = pa.concat_tables(tbls)
            cids = tbl.column("centroid_id").to_numpy().astype(np.int64)
            cents = np.array(
                [np.asarray(c, dtype=np.float64) for c in
                 tbl.column("centroid").to_pylist()]
            )
            order = np.argsort(cids, kind="stable")
            got = (cids[order], cents[order])
            cache[cfile] = got
        return got

    # -- build ---------------------------------------------------------------

    @staticmethod
    def build(
        vectors: DataFrame,
        index_dir: str,
        n_centroids: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        max_iter: int = 10,
        extra_cols: tuple[str, ...] = (),
        train_cap: int = 65536,
        centroids: "np.ndarray | None" = None,
    ) -> "IVFIndex":
        """Batch index build (reference bulk-load path ``server.cpp:72-112``):
        train the coarse quantizer, assign ``centroid_id``, write the table
        partitioned by it.

        ``centroids`` (optional): a pretrained coarse quantizer — the
        FAISS train()/add() separation.  Skips sampling + Lloyd entirely
        and assigns against the given (k, dim) float matrix; the use
        cases are a quantizer trained on a REFERENCE corpus slice (so
        cell ids stay comparable across index builds), layout-controlled
        experiments (scripts/sign_cap_heal.py), and re-sharding a corpus
        under an existing quantizer.  ``n_centroids`` is ignored when
        given.

        Quantizer training is FAISS-style **sample-train**: pull at most
        ``train_cap`` vectors to the driver (one Arrow job) and run seeded
        Lloyd iterations in NumPy (GEMM assignment step).  A distributed
        KMeans fit is the wrong tool here at BOTH ends of the scale axis —
        at 100 TB it re-scans the full table every iteration when a bounded
        sample trains an equally good coarse quantizer (recall is gated in
        tests/test_ivf.py either way), and at bench scale its per-iteration
        job scheduling dominates (replacing MLlib cut ivf_build ~2×).
        Assignment is then ONE Arrow map over the table with the centroid
        matrix shipped in the UDF closure (a few MB even at 4096 cells)."""
        spark = vectors.sparkSession
        n = vectors.count()
        if n == 0:
            raise ValueError("cannot build an IVF index over an empty table")
        if centroids is not None:
            C = np.asarray(centroids, dtype=np.float64)
            if C.ndim != 2 or len(C) == 0:
                raise ValueError(
                    "centroids must be a non-empty (k, dim) matrix"
                )
            dim = C.shape[1]
        else:
            if n_centroids is None:
                # sqrt(N) cells keeps probe cost ~ O(sqrt(N)) per query at
                # fixed nprobe — standard IVF sizing; floor keeps tiny
                # tables useful
                n_centroids = max(4, min(int(np.sqrt(n)), 4096))

            frac = min(1.0, train_cap / n)
            sample_df = vectors.select(vec_col)
            if frac < 1.0:
                sample_df = sample_df.sample(fraction=frac, seed=seed)
            S = np.stack(
                sample_df.toPandas()[vec_col].to_numpy()
            ).astype(np.float64)
            dim = S.shape[1]
            C = _train_quantizer(S, n_centroids, seed=seed, max_iter=max_iter)
        n_centroids = len(C)

        @F.pandas_udf("centroid_id int, dist_to_centroid double")
        def _assign(embs: pd.Series) -> pd.DataFrame:
            V = np.stack(embs.to_numpy())
            D = l2_sq_matrix(V, C)
            a = D.argmin(axis=1)
            return pd.DataFrame(
                {
                    "centroid_id": a.astype(np.int32),
                    "dist_to_centroid": D[np.arange(len(a)), a],
                }
            )

        # dist_to_centroid rides along into the index files: per-cell radii
        # (max over the cell) make radius_search's triangle-inequality
        # pruning exact, and sorting each cell by it gives monotone parquet
        # row-group stats — both for free, since the assignment GEMM
        # already computed the distances
        assigned = vectors.withColumn("_a", _assign(F.col(vec_col))).select(
            "*", F.col("_a.centroid_id"), F.col("_a.dist_to_centroid")
        ).drop("_a")

        tmp = index_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        cols = [id_col, vec_col, *extra_cols, "dist_to_centroid", "centroid_id"]
        # repartition on the partition column first: exactly one file per
        # centroid cell instead of (tasks × centroids) — the direct write's
        # small-file pressure gets worse, not better, at cluster scale.
        # sortWithinPartitions: rows inside each cell file ordered by
        # distance-to-centroid (monotone row-group min/max stats)
        assigned.select(*cols).repartition("centroid_id").sortWithinPartitions(
            "centroid_id", "dist_to_centroid"
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(tmp, "vectors", "gen=0")
        )
        cells = sorted(
            int(os.path.basename(p).split("=")[1])
            for p in glob.glob(
                os.path.join(tmp, "vectors", "gen=0", "centroid_id=*")
            )
        )
        with open(os.path.join(tmp, "vectors_manifest.json"), "w") as f:
            json.dump(
                {
                    "latest_gen": 0,
                    "cells": {str(c): 0 for c in cells},
                    "prev_cells": {},
                },
                f,
            )
        _write_centroids_parquet(os.path.join(tmp, "centroids.parquet"), C)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(
                {
                    "dim": dim,
                    "n_centroids": n_centroids,
                    "id_col": id_col,
                    "vec_col": vec_col,
                    "extra_cols": list(extra_cols),
                    "n_vectors": n,
                    "seed": seed,
                    "format": 2,  # v2: dist_to_centroid column, cell-sorted
                },
                f,
            )
        shutil.rmtree(index_dir, ignore_errors=True)
        os.rename(tmp, index_dir)
        return IVFIndex(spark, index_dir)

    # -- manifest (generation snapshots) -------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.index_dir, "vectors_manifest.json")

    def _read_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit_cells(
        self,
        gen: int,
        cells: list[int],
        remove_cells: list[int] | None = None,
        centroids_file: str | None = None,
        retain: int | None = None,
    ) -> None:
        """Atomically publish generation ``gen`` for ``cells`` (dropping
        ``remove_cells`` — e.g. a split cell superseded by its children)
        and GC cell dirs referenced by no RETAINED snapshot.

        Retention generalizes the one-cycle EBR grace to N-generation
        time travel: the manifest keeps a ``history`` list of the last
        ``retain``+1 committed snapshots (each pinning its cell map AND
        the centroids file that was current at that commit, so as-of
        probes use matching geometry).  ``retain`` persists in the
        manifest once set (default 1 — exactly the old prev-cells grace).
        Files referenced by any retained snapshot are never deleted;
        shrinking ``retain`` GCs the over-retained tail on the next
        commit."""
        m = self._read_manifest() or {"latest_gen": -1, "cells": {}, "prev_cells": {}}
        if retain is not None:
            if retain < 1:
                raise ValueError("retain must be >= 1")
            m["retain"] = int(retain)
        n_retain = int(m.get("retain", 1))
        prev = dict(m["cells"])
        cur = dict(prev)
        cur.update({str(c): gen for c in cells})
        for c in remove_cells or []:
            cur.pop(str(c), None)
        out = dict(m)  # preserve auxiliary keys (e.g. centroids_file)
        out.update({"latest_gen": gen, "cells": cur, "prev_cells": prev})
        if centroids_file is not None:
            out["centroids_file"] = centroids_file
        # history: migrate pre-history manifests by seeding the pre-commit
        # state as one entry, then append this commit's snapshot
        hist = list(m.get("history") or [])
        if not hist and prev:
            hist = [
                {
                    "snapshot_id": int(m["latest_gen"]),
                    "cells": prev,
                    "centroids_file": m.get("centroids_file"),
                }
            ]
        hist.append(
            {
                "snapshot_id": int(gen),
                "cells": cur,
                "centroids_file": out.get("centroids_file"),
            }
        )
        out["history"] = hist[-(n_retain + 1) :]
        keep = {
            (int(g), int(c))
            for entry in out["history"]
            for c, g in entry["cells"].items()
        } | {(int(g), int(c)) for c, g in prev.items()}
        root = os.path.join(self.index_dir, "vectors")
        for d in glob.glob(os.path.join(root, "gen=*", "centroid_id=*")):
            g = int(os.path.basename(os.path.dirname(d)).split("=")[1])
            c = int(os.path.basename(d).split("=")[1])
            if (g, c) not in keep:
                shutil.rmtree(d, ignore_errors=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.rename(tmp, self._manifest_path())
        # invalidate the per-snapshot read memos: superseded generations
        # may be GC'd above, and an in-place rebuild changing the column
        # set must re-infer the schema (the memos are metadata caches,
        # never result caches — see vectors())
        self._vectors_df_cache = OrderedDict()
        self._vec_schema = None

    def next_gen(self) -> int:
        m = self._read_manifest()
        return (int(m["latest_gen"]) + 1) if m else 1

    def snapshots(self) -> list[dict]:
        """Retained snapshot metadata, oldest first — the index's
        DESCRIBE HISTORY: ``[{snapshot_id, n_cells, centroids_file}]``."""
        m = self._read_manifest() or {}
        hist = m.get("history")
        if not hist:  # pre-history manifest: current (+ prev grace) only
            hist = []
            if m.get("prev_cells"):
                hist.append({"snapshot_id": None, "cells": m["prev_cells"],
                             "centroids_file": m.get("centroids_file")})
            if m.get("cells"):
                hist.append({"snapshot_id": int(m["latest_gen"]),
                             "cells": m["cells"],
                             "centroids_file": m.get("centroids_file")})
        return [
            {
                "snapshot_id": e["snapshot_id"],
                "n_cells": len(e["cells"]),
                "centroids_file": e.get("centroids_file"),
            }
            for e in hist
        ]

    def manifest_at(self, snapshot: int | str) -> dict:
        """A pinned manifest view for one retained snapshot, usable
        anywhere a manifest dict is (``vectors()``, ``search()``).

        ``snapshot``: a ``snapshot_id`` from ``snapshots()``, a negative
        offset (``-1`` = one commit back), or ``"prev"``/``"current"``."""
        m = self._read_manifest()
        if m is None:
            raise ValueError("index has no manifest (nothing committed yet)")
        hist = m.get("history") or []
        if snapshot == "current":
            entry = {
                "cells": m["cells"],
                "centroids_file": m.get("centroids_file"),
                "snapshot_id": m.get("latest_gen"),
            }
        elif snapshot == "prev":
            if len(hist) >= 2:
                entry = hist[-2]
            elif m.get("prev_cells"):
                entry = {"cells": m["prev_cells"],
                         "centroids_file": m.get("centroids_file")}
            else:
                raise ValueError("no previous snapshot (nothing committed yet)")
        elif isinstance(snapshot, int) and snapshot < 0:
            if len(hist) >= 1 - snapshot:
                entry = hist[snapshot - 1]
            elif snapshot == -1 and m.get("prev_cells"):
                # pre-history manifest: offset -1 ≡ "prev" — fall back to
                # the one-cycle prev_cells grace entry, same as the "prev"
                # branch above (offset/-alias parity)
                entry = {"cells": m["prev_cells"],
                         "centroids_file": m.get("centroids_file")}
            else:
                raise ValueError(
                    f"snapshot offset {snapshot} out of retained history "
                    f"({len(hist)} snapshots; raise retain= on commit)"
                )
        elif isinstance(snapshot, int):
            by_id = {e["snapshot_id"]: e for e in hist}
            if snapshot not in by_id:
                raise ValueError(
                    f"snapshot_id {snapshot} not retained "
                    f"(have {sorted(k for k in by_id if k is not None)})"
                )
            entry = by_id[snapshot]
        else:
            raise ValueError(f"unknown snapshot {snapshot!r}")
        # latest_gen: the snapshot's own id — lets _sidecar_gen key a
        # derived-code sidecar to the HISTORICAL snapshot (as-of search
        # through the quantized tiers), not alias it to a raw tag
        return {"cells": entry["cells"],
                "centroids_file": entry.get("centroids_file"),
                "latest_gen": entry.get("snapshot_id")}

    # -- read ----------------------------------------------------------------

    def vectors(self, snapshot: str | int | dict | None = "current") -> DataFrame:
        """The indexed table at a manifest snapshot.  ``snapshot="prev"``,
        a ``snapshot_id`` from ``snapshots()``, or a negative offset
        (``-2`` = two commits back) is N-generation time travel: retained
        snapshots' files stay on disk (``commit_cells(retain=N)``), so any
        retained as-of state is readable — the same EBR mechanism that
        protects in-flight readers serves as-of reads.

        ``snapshot`` may also be a manifest dict captured earlier with
        ``_read_manifest()`` / ``manifest_at()`` — a search pins ONE
        (centroids, cells) view per call this way, so a concurrent
        compaction/rebalance commit can't make its probe assignments
        dangle (cells it probed dropped from a newer manifest)."""
        root = os.path.join(self.index_dir, "vectors")
        m = self._read_manifest() if isinstance(snapshot, str) else snapshot
        if snapshot is None or (m is None and isinstance(snapshot, str)):
            # pre-manifest layout (vectors/centroid_id=*), or explicit raw read
            return self.spark.read.parquet(root)
        if isinstance(snapshot, dict) or snapshot == "current":
            cells = m["cells"]
        elif isinstance(snapshot, (int, str)):
            cells = self.manifest_at(snapshot)["cells"]
        else:
            raise ValueError(f"unknown snapshot {snapshot!r}")
        dirs = [
            os.path.join(root, f"gen={g}", f"centroid_id={c}")
            for c, g in sorted(cells.items(), key=lambda kv: int(kv[0]))
        ]
        if not dirs:
            id_col, vec_col = self.meta["id_col"], self.meta["vec_col"]
            return self.spark.createDataFrame(
                [],
                f"{id_col} long, {vec_col} array<float>, "
                "dist_to_centroid double, centroid_id int",
            )
        # explicit leaf dirs + basePath: the manifest IS the snapshot —
        # partition columns (gen, centroid_id) still infer, centroid_id
        # pruning still applies, superseded generations are never listed.
        # r18: the WHOLE lazy DataFrame is memoized per cell-map signature
        # — creating it costs a per-call file-listing pass over every cell
        # dir (O(n_cells) driver+FS work on every search), while the plan
        # itself is pure metadata: every execution still scans parquet, so
        # this caches no results.  Cell files are immutable between
        # commits and both memos are invalidated by ``commit_cells`` (the
        # single commit bottleneck), so a rebuild that changes the column
        # set re-infers instead of being silently masked (r17 kept the
        # schema memo for the instance lifetime).  Least-recently-used
        # eviction: as-of reads of older snapshots never push out the hot
        # current one.
        sig = tuple(sorted((int(c), int(g)) for c, g in cells.items()))

        def read() -> DataFrame:
            st = getattr(self, "_vec_schema", None)
            reader = self.spark.read.option("basePath", root)
            if st is not None:
                reader = reader.schema(st)
            df = reader.parquet(*dirs)
            if st is None:
                self._vec_schema = df.schema
            return df.drop("gen")

        return self._memo("_vectors_df_cache", sig, read, 9)

    def stats(self) -> DataFrame:
        """Per-centroid occupancy — the index's health check.

        Counts come from parquet FOOTER metadata (``num_rows``) of exactly
        the manifest's live cell files: no data page is read, nothing is
        scanned or shuffled, so occupancy stays a metadata-only operation
        at any index size (footers are KBs regardless of cell size — the
        same trick table formats use for ``COUNT(*)``).  Falls back to the
        full scan+groupBy only for a pre-manifest raw layout."""
        m = self._read_manifest()
        if m is None:
            return (
                self.vectors()
                .groupBy("centroid_id")
                .agg(F.count("*").cast("long").alias("n_vectors"))
                .orderBy("centroid_id")
            )
        # footer counts come from the shared per-snapshot helper (memoized
        # per generation).  Zero-row / missing-dir cells are omitted there
        # to stay branch-interchangeable with the scan fallback (a groupBy
        # never emits a group for rows that don't exist); the schema (int
        # centroid_id — partition-column inference type — long n_vectors,
        # ascending centroid_id) is pinned by
        # tests/test_ivf.py::test_stats_branches_interchangeable
        counts = sorted(self._snapshot_counts(m).items())
        pdf = pd.DataFrame(
            {
                "centroid_id": np.array([c for c, _ in counts], dtype=np.int32),
                "n_vectors": np.array([n for _, n in counts], dtype=np.int64),
            }
        )
        return self.spark.createDataFrame(pdf).orderBy("centroid_id")

    def _snapshot_counts(self, snap: dict | None) -> dict[int, int]:
        """Per-cell row counts for a PINNED manifest snapshot, from parquet
        footer metadata only (the ``stats()`` num_rows trick, parameterized
        by snapshot) — so a cost model that pinned ``snap`` observes totals
        from the SAME snapshot as its survivor counts, not from whatever
        the index has grown to since.  Memoized per generation (a
        generation's cells are immutable, and hot serving paths — the
        cascade's broadcast guard, the filtered planner — would otherwise
        pay O(n_cells) driver footer reads per call).  Empty dict for a
        pre-manifest raw layout."""
        import pyarrow.parquet as pq

        if not snap or "cells" not in snap:
            return {}
        root = os.path.join(self.index_dir, "vectors")

        def count() -> dict[int, int]:
            counts: dict[int, int] = {}
            for c, g in snap["cells"].items():
                d = os.path.join(root, f"gen={g}", f"centroid_id={c}")
                n = sum(
                    pq.ParquetFile(fp).metadata.num_rows
                    for fp in glob.glob(os.path.join(d, "*.parquet"))
                )
                if n > 0:
                    counts[int(c)] = n
            return counts

        gen = snap.get("latest_gen")
        return count() if gen is None else self._memo(
            "_cell_counts_cache", gen, count, 17
        )

    def _memo(self, name: str, key, make, bound: int, release=None):
        """The per-instance memo rule: ``self.<name>`` is an
        ``OrderedDict`` of at most ``bound`` entries, ``make()`` fills a
        miss, and a full memo evicts only its least-recently-used entry
        (``release`` runs on it) — so as-of traffic never pushes out the
        hot current entry, and no memo clears itself or grows without
        limit.  Memos hold metadata, plans and broadcasts, never
        results.  Dict operations hold ``_MEMO_LOCK``; ``make()`` runs
        outside it (it may run a Spark job), so two racing misses may
        both fill — the later fill wins, both values are valid."""
        with _MEMO_LOCK:
            cache = self.__dict__.get(name)
            if not isinstance(cache, OrderedDict):
                cache = self.__dict__[name] = OrderedDict(cache or {})
            if key in cache:
                cache.move_to_end(key)
                return cache[key]
        value = make()
        with _MEMO_LOCK:
            cache[key] = value
            old = cache.popitem(last=False)[1] if len(cache) > bound else None
        if old is not None and release is not None:
            release(old)
        return value

    # -- search --------------------------------------------------------------

    def probe_pairs(
        self,
        qids: np.ndarray,
        Q: np.ndarray,
        nprobe: int,
        centroid_set: tuple[np.ndarray, np.ndarray] | None = None,
    ):
        """(qid, centroid_id) pairs for the nprobe nearest centroids of each
        query — the coarse 'upper layers' lookup.  Tiny: |Q| x nprobe rows.
        ``centroid_set`` pins an explicit (ids, matrix) snapshot (searches
        pass the set matching their pinned manifest)."""
        cids, C = (
            centroid_set
            if centroid_set is not None
            else (self.centroid_ids, self.centroids)
        )
        D = l2_sq_matrix(Q.astype(np.float64), C)  # (|Q|, C)
        nprobe = min(nprobe, len(cids))
        order = np.argsort(D, axis=1, kind="stable")[:, :nprobe]
        pairs = [
            (int(q), int(cids[c]))
            for qi, q in enumerate(qids)
            for c in order[qi]
        ]
        return pairs

    def _pin(self, snapshot: int | str | dict | None) -> dict | None:
        """The one snapshot rule of every search: pin ONE (manifest,
        centroids) view for the whole call, so a concurrent
        compaction/rebalance commit can't make its probe assignments
        dangle (the pinned view stays readable for the EBR grace).  A
        manifest dict (from ``manifest_at`` / ``_read_manifest``) is used
        as-is — a caller such as ``search_filtered``'s cost model can
        make its strategy choice and its scan observe ONE snapshot; an
        int or str is an as-of view through ``manifest_at``; ``None``
        reads the live manifest."""
        if isinstance(snapshot, dict):
            return snapshot
        if snapshot is None:
            return self._read_manifest()
        return self.manifest_at(snapshot)

    @staticmethod
    def _cell_map(qids: np.ndarray, pairs) -> dict[int, list[int]]:
        """cell -> positions (into ``qids``) of the queries probing it.

        The probe assignment rides the query broadcast as this map, not
        as a pairs DataFrame joined onto the scan: the join would
        duplicate every candidate row once per probing query before the
        Python boundary (nprobe·|Q| fan-out), while with the map each
        cell's rows cross ONCE and the per-cell kernel serves all of the
        cell's probing queries."""
        qpos = {int(q): i for i, q in enumerate(qids)}
        cell_qidx: dict[int, list[int]] = {}
        for qid, c in pairs:
            cell_qidx.setdefault(int(c), []).append(qpos[int(qid)])
        return cell_qidx

    def _probe_plan(self, queries, nprobe: int, snapshot, qid_col: str,
                    qvec_col: str):
        """Shared prologue of the per-query serving tiers: collect the
        (bounded) query set, pin the snapshot (``_pin``), assign each
        query its ``nprobe`` nearest centroids of THAT snapshot's
        geometry.  Returns ``(qids, Q, snap, needed, cell_qidx)`` —
        ``needed`` the sorted probed cells, ``cell_qidx`` the
        ``_cell_map`` — or ``None`` for an empty query set (the caller
        returns its own empty schema)."""
        qids, Q = knn_query_arrays(queries, qid_col, qvec_col)
        if len(qids) == 0:
            return None
        snap = self._pin(snapshot)
        pairs = self.probe_pairs(
            qids, Q, nprobe, centroid_set=self._centroids_for(snap)
        )
        needed = sorted({c for _, c in pairs})
        return qids, Q, snap, needed, self._cell_map(qids, pairs)

    def _empty_topk(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], "qid long, neighbor_id long, rank long, dist_sq double"
        )

    def _query_broadcast(self, qids: np.ndarray, Q: np.ndarray, cell_qidx):
        """The serving kernels' payload: ``(qids, float64 queries,
        cell -> probing-query positions)``."""
        return self.spark.sparkContext.broadcast(
            (qids.astype(np.int64), Q.astype(np.float64), cell_qidx)
        )

    def _float_cells(self, snap, cells, exclude_ids, predicate) -> DataFrame:
        """``(centroid_id, id, vector)`` rows of the pinned snapshot's
        probed float cells — the candidate source of ``search``,
        ``search_prefix`` and both radius searches.  ``isin`` on the
        partition column prunes the parquet scan; shadowed ids
        (``exclude_ids``: a list, or a one-column DataFrame anti-joined
        because the set can be arbitrarily large under sustained
        streaming — never driver-collected) and the metadata
        ``predicate`` leave before ranking, so the top-k stays exact over
        the filtered set."""
        id_col = self.meta["id_col"]
        base = self.vectors(snapshot=snap).filter(
            F.col("centroid_id").isin(cells)
        )
        if exclude_ids is not None:
            if isinstance(exclude_ids, DataFrame):
                base = base.join(
                    exclude_ids.select(F.col(exclude_ids.columns[0]).alias(id_col)),
                    on=id_col,
                    how="left_anti",
                )
            elif exclude_ids:
                base = base.filter(~F.col(id_col).isin(list(exclude_ids)))
        if predicate is not None:
            base = base.filter(predicate)
        return base.select(
            F.col("centroid_id"), F.col(id_col), F.col(self.meta["vec_col"])
        )

    def _sidecar_cells(
        self, sidecar_dir: str, snap, cells, exclude_ids, predicate,
        cols: tuple[str, ...],
    ) -> DataFrame:
        """Probed-cell rows of a derived sidecar (codes / rotated
        copies), pre-cut: shadowed ids anti-join out and the metadata
        ``predicate`` applies as a ``left_semi`` join against a
        column-pruned read of the SAME pruned float cells (predicate
        columns live in the float table; column pruning drops the vector
        bytes).  Both must apply BEFORE a bound cut: a disqualified
        vector's small upper bound would otherwise tighten the k-th
        bound and evict a legitimate survivor.  ``cols``: the sidecar
        columns the cut kernel reads besides ``centroid_id`` and the
        id."""
        id_col = self.meta["id_col"]
        rows = (
            self.spark.read.parquet(sidecar_dir)
            .filter(F.col("centroid_id").isin(cells))
            .select("centroid_id", id_col, *cols)
        )
        if exclude_ids is not None:
            rows = rows.join(
                exclude_ids.select(F.col(exclude_ids.columns[0]).alias(id_col)),
                id_col,
                "left_anti",
            )
        if predicate is not None:
            keep_ids = (
                self.vectors(snapshot=snap)
                .filter(F.col("centroid_id").isin(cells))
                .filter(predicate)
                .select(id_col)
            )
            rows = rows.join(keep_ids, id_col, "left_semi")
        return rows

    def _exact_rescore(
        self, cand: DataFrame, snap, cells, k: int, round_output: bool,
        queries=None, qids=None, Q=None, qid_col: str = "qid",
        qvec_col: str = "query",
    ) -> DataFrame:
        """Final stage of the quantized tiers: the survivors rejoin the
        float vectors (same pruned partitions) for the exact float
        distance, then the standard ``(dist, id)`` top-k — so every
        returned row carries the true distance.  Serving tiers pass their
        bounded query set (``queries``/``qids``/``Q``), which joins as a
        broadcast on qid; for the bulk tiers (``queries=None``) the query
        vector rides the survivor rows as ``query`` — emitted by the cut
        kernel — so no join against the query table is needed."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        base = self.vectors(snapshot=snap).filter(
            F.col("centroid_id").isin(cells)
        )
        rows = cand.join(
            base.select(F.col(id_col).alias("neighbor_id"), vec_col),
            "neighbor_id",
        )
        if queries is not None:
            qdf = _queries_df(self.spark, queries, qids, Q, qid_col, qvec_col)
            rows = rows.join(F.broadcast(qdf), "qid")
        rescored = rows.select(
            "qid",
            "neighbor_id",
            l2_sq(F.col(vec_col), F.col(qvec_col)).alias("dist"),
        )
        return _finalize_topk(rescored, k, "l2_sq", round_output)

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "query",
        exclude_ids: list[int] | None = None,
        predicate=None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """ANN top-k: probe nprobe partitions per query, exact scan within
        (reference Q3: greedy descent + level-0 beam, ``hnsw_index.h:223-262``).
        ``nprobe = n_centroids`` degenerates to exact search.

        ``exclude_ids``: ids shadowed by newer delta versions (VectorEngine
        upsert semantics) — filtered before the scan so top-k stays exact.

        ``predicate``: optional metadata Column over the index's
        ``extra_cols`` (filtered ANN search) — applied BEFORE ranking, so
        results are the true top-k of the filtered set; composes with the
        partition pruning (both filters reach the same parquet scan).

        ``snapshot``: as-of search — a retained ``snapshot_id``, negative
        offset, or ``"prev"`` (see ``manifest_at``); probes use the
        centroid geometry that was current AT that snapshot.
        """
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        bc = self._query_broadcast(qids, Q, cell_qidx)
        cand = self._float_cells(snap, needed, exclude_ids, predicate)

        def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # r18 kernel shape (guide §4.2): ONE object-array stack per
            # Arrow batch (the per-cell np.stack was the dominant Python
            # cost), contiguous cell slices (``_cell_slices``), a
            # vectorized tie-inclusive cut per cell (argpartition over the
            # full D matrix — keeps every candidate at or below the k-th
            # smallest distance, a provable superset of the exact (dist,
            # id) top-k, so the exact merge below is unchanged), and ONE
            # frame per task.  Per-cell GEMM is the same l2_sq_matrix call
            # as before — merged searches still rank indexed and delta
            # candidates with bitwise-identical arithmetic.
            qids_, Q_, cq = bc.value
            best: dict[int, list] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                V_all = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                for _, qidx, rows in _cell_slices(pdf, cq):
                    ids = ids_all[rows]
                    D = l2_sq_matrix(V_all[rows], Q_[qidx])
                    if len(ids) > k:
                        part = np.argpartition(D, k - 1, axis=0)[:k]
                        t = np.take_along_axis(D, part, 0).max(axis=0)
                        for j, qi in enumerate(qidx):
                            keep = D[:, j] <= t[j]
                            best.setdefault(int(qids_[qi]), []).append(
                                (ids[keep], D[keep, j])
                            )
                    else:
                        for j, qi in enumerate(qidx):
                            best.setdefault(int(qids_[qi]), []).append(
                                (ids, D[:, j])
                            )
            yield from _emit_topk_once(best, k)

        cand_topk = cand.mapInPandas(
            local_topk, schema="qid long, neighbor_id long, dist double"
        )
        return _finalize_topk(cand_topk, k, "l2_sq", round_output)

    def search_filtered(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        predicate=None,
        strategy: str = "auto",
        snapshot: int | str | dict | None = None,
        qid_col: str = "qid",
        qvec_col: str = "query",
        exclude_ids: DataFrame | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """Filtered ANN with a selectivity-aware physical-strategy choice
        — the pre- vs post-filter planner every production vector store
        grows (Milvus/Vespa "filtered search strategies"):

        * ``prefilter`` — scan ONLY the predicate survivors, exact flat
          kNN over them (``knn.knn_exact``'s per-partition GEMM heap).
          Exact at ANY nprobe; cost ∝ |survivors|.
        * ``inprobe`` — the existing probed search with the predicate
          applied inside the pruned scan (``search(predicate=...)``).
          Cost ∝ probed fraction of the table; exact at full probe.
        * ``auto`` — picks whichever scans fewer rows: survivors are
          counted with a column-pruned predicate scan (vector bytes are
          never read — at 100 TB this reads one metadata column), the
          table total comes from parquet footer metadata (``stats()``),
          and prefilter wins when
          ``|survivors| ≤ total · nprobe/n_centroids`` — i.e. when
          brute-forcing the filtered set is cheaper than probing cells.
          Highly selective predicates therefore get EXACT results faster
          than the probe could deliver approximate ones.
        """
        if predicate is None:
            raise ValueError("search_filtered requires a predicate")
        if strategy not in ("auto", "prefilter", "inprobe"):
            raise ValueError(f"unknown strategy {strategy!r}")
        snap = self._pin(snapshot)
        if strategy == "auto":
            # Survivor counts are memoized per (predicate, snapshot
            # generation): at high query rates the planner would otherwise
            # pay a count() job per call even when nothing changed.  The
            # predicate's unresolved-expression string is a stable
            # fingerprint for Column trees built the same way; a new
            # commit bumps latest_gen and naturally invalidates.
            # Least-recently-used eviction past 256 entries (``_memo``).
            def count() -> tuple[int, int]:
                matches = self.vectors(snapshot=snap).filter(predicate).count()
                total = self.meta.get("n_vectors") or 0
                try:
                    # totals from the SAME pinned snapshot as the survivor
                    # count (footer metadata only): pairing a pinned
                    # ``matches`` with a live total would understate
                    # selectivity on a since-grown index, mis-route to
                    # inprobe, and memoize the skewed ratio for the
                    # generation
                    total = sum(self._snapshot_counts(snap).values()) or total
                except Exception:
                    pass  # cost model only — build-time count is fine
                return matches, total

            matches, total = self._memo(
                "_survivor_cache",
                (str(predicate), (snap or {}).get("latest_gen")),
                count,
                256,
            )
            probed_frac = min(
                1.0, nprobe / max(1, self.meta["n_centroids"])
            )
            strategy = (
                "prefilter" if matches <= total * probed_frac else "inprobe"
            )
        if strategy == "prefilter":
            from vector_search_engine_spark.operators import knn as knn_ops

            base = self.vectors(snapshot=snap).filter(predicate)
            if exclude_ids is not None:
                # shadowed ids (streaming merged contract) leave the
                # brute-force base the same way they leave the probed scan
                base = base.join(
                    exclude_ids.select(
                        F.col(exclude_ids.columns[0]).alias(
                            self.meta["id_col"]
                        )
                    ),
                    self.meta["id_col"],
                    "left_anti",
                )
            return knn_ops.knn_exact(
                base,
                queries.select(
                    F.col(qid_col).alias("qid"),
                    F.col(qvec_col).alias("query"),
                )
                if not isinstance(queries, tuple)
                else queries,
                k=k,
                id_col=self.meta["id_col"],
                vec_col=self.meta["vec_col"],
                round_output=round_output,
            )
        # Thread the already-pinned manifest: the cost decision and the
        # probed scan must observe the SAME snapshot even if a commit
        # lands between them.
        return self.search(
            queries,
            k=k,
            nprobe=nprobe,
            predicate=predicate,
            snapshot=snap,
            qid_col=qid_col,
            qvec_col=qvec_col,
            exclude_ids=exclude_ids,
            round_output=round_output,
        )

    def _run_tune_ladder(
        self,
        queries: DataFrame,
        k: int,
        knob: str,
        start: int,
        cap: int,
        target_recall: float,
        search_at,
        report_ceiling: bool,
    ) -> dict:
        """Shared harness for the serving-knob calibrators (`tune_nprobe`
        / `tune_candidates` / `tune_ef` — all three run the reference's
        recall-sweep methodology, ``recall_bench.cpp:67-106``): build the
        exact-kNN ground truth once (cached, released in a finally so a
        failed search job can't leak it), then a doubling ladder from
        ``start`` capped at ``cap`` followed by one binary refinement
        between the last miss and the first hit.  ``search_at(value)``
        runs the knob-parameterized search; ``report_ceiling`` adds
        ``nprobe_ceiling`` when even ``cap`` misses the target (the
        honest signal that nprobe, not this knob, binds) and skips the
        refinement in that case.  Returns
        ``{knob: chosen, "recall": its measured recall, "ladder": [...]}``."""
        from vector_search_engine_spark.operators.knn import (
            knn_exact,
            recall_at_k,
        )

        gt = (
            knn_exact(
                self.vectors(),
                queries,
                k=k,
                id_col=self.meta["id_col"],
                vec_col=self.meta["vec_col"],
            )
            .orderBy("rank")
            .groupBy("qid")
            .agg(F.collect_list("neighbor_id").alias("neighbor_ids"))
            .cache()
        )
        gt.count()

        def recall_at(v: int) -> float:
            res = search_at(v)
            return float(recall_at_k(res, gt, k).collect()[0]["recall_at_k"])

        ceiling = None
        ladder: list[dict] = []
        try:
            lo, hi = 0, None
            v = start
            while True:
                vv = min(v, cap)
                r = recall_at(vv)
                ladder.append({knob: vv, "recall": r})
                if r >= target_recall or vv >= cap:
                    hi = vv
                    if r < target_recall and report_ceiling:
                        ceiling = r  # cap reached: nprobe is binding
                    break
                lo = vv
                v *= 2
            while hi - lo > 1 and ceiling is None:
                mid = (lo + hi) // 2
                r = recall_at(mid)
                ladder.append({knob: mid, "recall": r})
                if r >= target_recall:
                    hi = mid
                else:
                    lo = mid
        finally:
            # a failed search job must not leak the cached ground truth
            gt.unpersist()
        final = next(e["recall"] for e in ladder if e[knob] == hi)
        out = {knob: hi, "recall": final, "ladder": ladder}
        if ceiling is not None:
            out["nprobe_ceiling"] = ceiling
        return out

    def _max_cell(self) -> int:
        """Largest cell occupancy (footer metadata via stats())."""
        return max(
            (int(r.n_vectors) for r in self.stats().collect()), default=1
        )

    def tune_nprobe(
        self,
        queries: DataFrame,
        target_recall: float = 0.95,
        k: int = 10,
    ) -> dict:
        """Calibrate the serving knob: the smallest ``nprobe`` whose
        recall@k on the given (bounded, bulk-search-contract) query set
        meets ``target_recall`` — the tuning pass every deployment runs,
        and the reference's own methodology for ef_search
        (``recall_bench.cpp:67-106`` sweeps and picks by recall).

        Doubling ladder 1, 2, 4, … then one binary refinement; recall is
        monotone in nprobe (probing strictly more cells only adds
        candidates) so this finds the minimum in O(log n_centroids)
        searches.  Full probe is exact by construction, so the loop
        always terminates at or below ``n_centroids``.  Returns
        ``{"nprobe", "recall", "ladder"}`` (driver-side calibration
        report, not a DataFrame op)."""
        return self._run_tune_ladder(
            queries,
            k,
            knob="nprobe",
            start=1,
            cap=int(self.meta["n_centroids"]),
            target_recall=target_recall,
            search_at=lambda n: self.search(queries, k=k, nprobe=n),
            report_ceiling=False,
        )

    def tune_candidates(
        self,
        queries: DataFrame,
        target_recall: float = 0.95,
        k: int = 10,
        nprobe: int = 8,
        tier: str = "bq",
    ) -> dict:
        """Calibrate the lossy tiers' candidate budget: the smallest
        ``candidates_per_cell`` whose recall@k (vs exact kNN on the same
        bounded query set) meets ``target_recall`` at the given nprobe —
        the C-knob sibling of ``tune_nprobe`` (the reference sweeps
        ef_search the same way, ``recall_bench.cpp:67-106``; here the
        lossy knob is the BQ/cascade stage-1 top-C).

        Doubling ladder 2k, 4k, 8k, … then one binary refinement; recall
        is monotone in C (a larger per-cell cut keeps a superset of
        candidates, and the downstream stages are exact), so the minimum
        is found in O(log(max cell size)) searches and the loop
        terminates once C covers the largest probed cell (the cut is
        then a no-op and recall equals the float probe's at this
        nprobe).  Returns ``{"candidates_per_cell", "recall", "ladder"}``
        — a driver-side calibration report, not a DataFrame op."""
        if tier not in ("bq", "cascade"):
            raise ValueError("tune_candidates targets the lossy tiers (bq/cascade)")
        search = getattr(self, _SERVING_TIERS[tier][0])
        return self._run_tune_ladder(
            queries,
            k,
            knob="candidates_per_cell",
            start=2 * k,
            cap=self._max_cell(),
            target_recall=target_recall,
            search_at=lambda c: search(
                queries, k=k, nprobe=nprobe, candidates_per_cell=c
            ),
            report_ceiling=True,
        )

    def tune_ef(
        self,
        queries: DataFrame,
        target_recall: float = 0.95,
        k: int = 10,
        nprobe: int = 8,
    ) -> dict:
        """Calibrate the graph tier's beam width: the smallest ``ef``
        whose recall@k (vs exact kNN on the bounded query set) meets
        ``target_recall`` at the given nprobe — the LITERAL twin of the
        reference's own tuning pass (``recall_bench.cpp:67-106`` sweeps
        ef_search and picks by recall; this is the same knob on the same
        algorithm).

        Doubling ladder k, 2k, 4k, … then one binary refinement.  Beam
        recall is monotone in ``ef`` in practice (a wider beam delays
        the early-termination check and explores a superset of the
        frontier) though not provably per-query — so unlike
        ``tune_nprobe`` the ladder's floor is empirical; its CEILING is
        provable: ``ef >= max cell size`` makes every cell walk
        exhaustive, where recall equals the float probe's at this
        nprobe exactly.  Returns ``{"ef", "recall", "ladder"}`` and, if
        even the exhaustive beam misses the target, ``nprobe_ceiling``
        — the honest signal that nprobe (not ef) is the binding knob."""
        return self._run_tune_ladder(
            queries,
            k,
            knob="ef",
            start=k,
            cap=self._max_cell(),
            target_recall=target_recall,
            search_at=lambda ef: self.search_graph(
                queries, k=k, nprobe=nprobe, ef=ef
            ),
            report_ceiling=True,
        )

    def search_prefix(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        prefix_dims: int = 16,
        qid_col: str = "qid",
        qvec_col: str = "query",
        exclude_ids=None,
        predicate=None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """Probed search through the prefix-dimension lossless bound cut
        (``knn.knn_prefix_rescore``'s kernel inside the probed cells):
        prefix L2 lower-bounds full L2, so rows whose prefix distance
        exceeds the per-group seed threshold are dropped without touching
        their remaining dims — FLOPs fall by ~d/d′ on the pruned share,
        bytes and results are identical to ``search()`` at every nprobe
        (exact at full probe; no sidecar, the cut is pure compute).
        Composes with partition pruning, ``predicate`` (applied before
        the cut — harmless here since the cut is lossless, kept for plan
        parity with the quantized tiers), ``exclude_ids`` and as-of
        ``snapshot`` exactly as ``search()`` does."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        dp = max(1, min(int(prefix_dims), Q.shape[1]))
        bc = self._query_broadcast(qids, Q, cell_qidx)
        cand = self._float_cells(snap, needed, exclude_ids, predicate)

        def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, cq = bc.value
            best: dict[int, list] = {}
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                vecs = pdf[vec_col].to_numpy()
                for _, qidx, rows in _cell_slices(pdf, cq):
                    ids = ids_all[rows]
                    V = np.stack(vecs[rows]).astype(np.float64)
                    n = len(ids)
                    Vp = V[:, :dp]
                    VVp = (Vp * Vp).sum(axis=1)
                    kk = min(k, n)
                    for qi in qidx:
                        q = Q_[qi]
                        qp = q[:dp]
                        dpd = VVp - 2.0 * (Vp @ qp) + float(qp @ qp)
                        np.maximum(dpd, 0.0, out=dpd)
                        seed = (
                            np.argpartition(dpd, kk - 1)[:kk]
                            if n > kk
                            else np.arange(n)
                        )
                        diff = V[seed] - q
                        T = (diff * diff).sum(axis=1).max()
                        # same fp-slack guard as knn_prefix_rescore: the
                        # GEMM bound may exceed the true one by ~1e-13
                        surv = np.flatnonzero(dpd <= T + 1e-9 * (1.0 + T))
                        diff = V[surv] - q
                        full = (diff * diff).sum(axis=1)
                        order = np.lexsort((ids[surv], full))[:kk]
                        best.setdefault(int(qids_[qi]), []).append(
                            (ids[surv][order], full[order])
                        )
            yield from _emit_topk_once(best, k)

        cand_topk = cand.mapInPandas(
            local_topk, schema="qid long, neighbor_id long, dist double"
        )
        return _finalize_topk(cand_topk, k, "l2_sq", round_output)

    # staleness ratio below which a carried-forward PCA rotation is
    # considered stale and ensure_pca_rot retrains from scratch: the
    # current corpus's prefix energy at _PCA_STALENESS_DP (the serving
    # default) must hold at least this fraction of the energy the
    # rotation achieved on its own training sample.  Purely a pruning-
    # power knob — exactness never depends on R (any orthogonal basis
    # keeps the prefix bound lossless).
    _PCA_MIN_ENERGY_RATIO = 0.5
    _PCA_STALENESS_DP = 16
    _PCA_STALENESS_SAMPLE = 4096

    def ensure_pca_rot(
        self,
        snapshot: dict | None = None,
        min_energy_ratio: float | None = _PCA_MIN_ENERGY_RATIO,
    ) -> str:
        """Write (once) the PCA-rotated float sidecar: per-vector rotated
        float32 coordinates + the exact float64 norm, partitioned by
        ``centroid_id`` like the float cells.  The rotation concentrates
        the corpus's energy into the LEADING dims, which is what makes
        the prefix-dimension lossless cut actually prune on correlated
        data (operators/pca.py — SCALING finding 11's degenerate regime,
        fixed).  Dir-global state is ``rotation.npy``; incremental
        carry-forward reuses the donor's rotation exactly like BQ
        thresholds / PQ codebooks, so unchanged cells' partitions are
        byte-identical file copies.

        **Rotation staleness is monitored, and bounded (r12 — the r11
        verdict's item 3):** the build-time cumulative prefix-energy
        curve of the training sample persists in the sidecar
        (``energy.json``); every carry-forward recomputes the curve on a
        bounded layout-independent sample (``_PCA_STALENESS_SAMPLE``
        rows — one small collect per generation, the price of the
        diagnostic) of the CURRENT snapshot under the donor rotation.
        When the energy ratio at ``_PCA_STALENESS_DP`` decays below
        ``min_energy_ratio``, the donor is declared stale and the build
        falls back to a from-scratch retrain (correctness is unaffected
        either way — drift only erodes PRUNING power toward the
        plain-prefix degenerate regime; the ratio is surfaced by
        ``pca_energy_report`` regardless).  ``min_energy_ratio=None``
        monitors without ever retraining."""
        from vector_search_engine_spark.operators.pca import (
            collect_pca_sample,
            energy_curve,
            rotation_from_sample,
        )

        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        dp = self._PCA_STALENESS_DP

        def prepare(base: DataFrame, donor: str | None):
            if donor:
                R = np.load(os.path.join(donor, "rotation.npy"))
                # staleness check: current corpus's energy under the
                # donor rotation vs the energy it was trained at
                cur = energy_curve(
                    collect_pca_sample(base, vec_col, self._PCA_STALENESS_SAMPLE),
                    R,
                )
                with open(os.path.join(donor, "energy.json")) as f:
                    trained = np.asarray(
                        json.load(f)["trained_cum_energy"], dtype=np.float64
                    )
                di = min(dp, len(cur)) - 1
                ratio = float(cur[di] / max(float(trained[di]), 1e-300))
                if min_energy_ratio is not None and ratio < float(
                    min_energy_ratio
                ):
                    return None  # stale: discard donor, retrain
            else:
                X = collect_pca_sample(base, vec_col)
                R = rotation_from_sample(X)
                trained = cur = energy_curve(X, R)
                ratio = 1.0
            bc_R = self.spark.sparkContext.broadcast(R)

            def rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                R_loc = bc_R.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                    Z = V @ R_loc
                    # self-contained like the graph sidecar: the ORIGINAL
                    # float vector rides along, so the serving kernel
                    # finishes exactly in ONE pass (bound cut on the
                    # rotated prefix, exact full distance from the
                    # original floats for survivors) — no second rescore
                    # join
                    yield pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            vec_col: pdf[vec_col].to_numpy(),
                            "rotvec": list(Z.astype(np.float32)),
                            "vnorm": np.sqrt((V * V).sum(axis=1)),
                            "centroid_id": pdf["centroid_id"].to_numpy(),
                        }
                    )

            def encode(src: DataFrame) -> DataFrame:
                return (
                    src.select(id_col, vec_col, "centroid_id")
                    .mapInPandas(
                        rot,
                        schema=(
                            f"{id_col} long, {vec_col} array<float>, "
                            "rotvec array<float>, vnorm double, "
                            "centroid_id int"
                        ),
                    )
                    .repartition("centroid_id")
                )

            energy = {
                "trained_cum_energy": [float(x) for x in trained],
                "current_cum_energy": [float(x) for x in cur],
                "energy_ratio": ratio,
                "staleness_dp": dp,
            }
            return {"rotation.npy": R, "energy.json": energy}, encode

        # v2: self-contained layout (original floats ride along); the
        # versioned tag keeps any v1 dir from aliasing the new schema
        return self._sidecar(
            "pcarot_v2", snapshot, ("rotation.npy", "energy.json"), prepare
        )

    def pca_energy_report(
        self,
        dps: tuple[int, ...] = (4, 8, 16, 32),
        snapshot: dict | None = None,
        min_energy_ratio: float | None = _PCA_MIN_ENERGY_RATIO,
    ) -> DataFrame:
        """Rotation-staleness diagnostic as a graded row (r12): per
        prefix length, the cumulative energy the current sidecar's
        rotation achieved on its TRAINING sample vs what it carries on
        the CURRENT corpus sample, their ratio, and whether the ratio at
        the monitored dp sits below the retrain threshold.  Reads the
        ``energy.json`` ``ensure_pca_rot`` maintains — so running the
        report also enforces the retrain policy (a stale sidecar is
        rebuilt before being reported on)."""
        rot_dir = self.ensure_pca_rot(
            snapshot=snapshot, min_energy_ratio=min_energy_ratio
        )
        with open(os.path.join(rot_dir, "energy.json")) as f:
            e = json.load(f)
        trained = e["trained_cum_energy"]
        cur = e["current_cum_energy"]
        # the flag always reports against the DOCUMENTED threshold, even
        # in monitor-only mode (min_energy_ratio=None skips the retrain,
        # not the diagnosis)
        thr = self._PCA_MIN_ENERGY_RATIO
        rows = []
        for dp in dps:
            di = min(int(dp), len(cur)) - 1
            t, c = float(trained[di]), float(cur[di])
            ratio = c / max(t, 1e-300)
            rows.append(
                (
                    int(dp),
                    round(t, 6),
                    round(c, 6),
                    round(ratio, 6),
                    bool(
                        int(dp) == int(e.get("staleness_dp", -1))
                        and ratio < thr
                    ),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "prefix_dims int, trained_energy double, current_energy double,"
            " energy_ratio double, stale boolean",
        ).orderBy("prefix_dims")

    def search_prefix_pca(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        prefix_dims: int = 16,
        qid_col: str = "qid",
        qvec_col: str = "query",
        exclude_ids: DataFrame | None = None,
        predicate=None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """Prefix-bound cut in the PCA-ROTATED basis — the fix for the
        plain prefix tier's degenerate regime (SCALING finding 11: on
        spectrally flat data the first d′ raw dims carry d′/d of the
        energy and the cut keeps everything).  Rotation preserves L2
        (``‖xR − qR‖ = ‖x − q‖``), so the rotated-prefix distance is a
        TRUE lower bound of the original distance and the cut stays
        provably lossless — identical results to ``search()`` at the
        same nprobe, exact at full probe, the same hash-gated oracle.

        float32 storage is accounted for, not assumed away: the sidecar
        stores each row's EXACT float64 norm, and the kernel widens both
        bound sides by ``e_v = 2⁻²³·‖v‖ + slack`` (per-element rounding
        of the stored rotated coordinates is ≤ ulp ≤ |value|·2⁻²⁴; the
        L2 error across dims is ≤ 2⁻²⁴·‖v‖, doubled for margin) — the
        same per-row-bounded-error discipline as ``search_sq8``'s
        lossless cut.  The sidecar is SELF-CONTAINED (the original float
        vector rides beside the rotated copy, the graph sidecar's
        trick): survivors get the exact original-float distance inside
        the same kernel pass — one scan, no rescore join, and returned
        distances carry no rotation or storage rounding at all.

        ``predicate`` / ``exclude_ids`` apply before the cut (pre-cut
        semi-join/anti-join — the quantized tiers' losslessness
        argument); ``snapshot`` pins codes and rescore base to one
        manifest generation like every sidecar tier.

        **When to pick this tier (measured, SCALING findings 24 + 24
        extension):** the cut's pruning is real (≥97% of full-vector
        distance evaluations skipped at 1M×128d) but the SELF-CONTAINED
        sidecar stores rotated + original coordinates, so the scan reads
        ~2× the bytes of the float tier — at 64–128 dims the float scan
        is already memory-bound and ``search()`` / ``search_sq8()`` win
        on wall clock (10.9 s vs 8.5 s at 100k×64d; parity-at-best at
        1M×128d).  This tier is NOT a default: reach for it when (a)
        dimensionality is high enough that the GEMM, not the scan, is
        the bound (≥~512 dims), or (b) compute per byte is expensive
        (CPU-constrained executors), or (c) you need a lossless cut on a
        spectrally-concentrated corpus where SQ8's 4× byte win is
        unavailable (e.g. pre-quantized storage is prohibited).
        Otherwise prefer ``search_sq8`` (byte cut AND wall win)."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        rot_dir = self.ensure_pca_rot(snapshot=snap)
        R = np.load(os.path.join(rot_dir, "rotation.npy"))
        dp = max(1, min(int(prefix_dims), Q.shape[1]))
        Q64 = Q.astype(np.float64)
        bc = self.spark.sparkContext.broadcast(
            (qids.astype(np.int64), Q64, Q64 @ R, cell_qidx)
        )
        cand_rows = self._sidecar_cells(
            rot_dir, snap, needed, exclude_ids, predicate,
            cols=(vec_col, "rotvec", "vnorm"),
        )

        def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, QR_, cq = bc.value
            best: dict[int, list] = {}
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                rot_all = pdf["rotvec"].to_numpy()
                vn_all = pdf["vnorm"].to_numpy(dtype=np.float64)
                vecs = pdf[vec_col].to_numpy()
                for _, qidx, rows in _cell_slices(pdf, cq):
                    ids = ids_all[rows]
                    Zp = np.stack([z[:dp] for z in rot_all[rows]]).astype(
                        np.float64
                    )
                    ZZp = (Zp * Zp).sum(axis=1)
                    n = len(ids)
                    # float32-storage error budget (see docstring)
                    e_v = (2.0 ** -23) * vn_all[rows] + 1e-9
                    kk = min(k, n)
                    vec_arr = vecs[rows]
                    for qi in qidx:
                        q = Q_[qi]
                        qp = QR_[qi][:dp]
                        dpd = ZZp - 2.0 * (Zp @ qp) + float(qp @ qp)
                        np.maximum(dpd, 0.0, out=dpd)
                        lb = np.sqrt(dpd) - e_v
                        seed = (
                            np.argpartition(lb, kk - 1)[:kk]
                            if n > kk
                            else np.arange(n)
                        )
                        # original floats materialize ONLY for seed +
                        # survivors — the FLOPs (and copy) saving the cut
                        # exists to deliver
                        diff = np.stack(vec_arr[seed]).astype(np.float64) - q
                        # threshold from EXACT original-float distances —
                        # the seed's true distances upper-bound the k-th
                        # best
                        T = np.sqrt((diff * diff).sum(axis=1).max())
                        surv = np.flatnonzero(lb <= T * (1 + 1e-9) + 1e-9)
                        diff = np.stack(vec_arr[surv]).astype(np.float64) - q
                        full = (diff * diff).sum(axis=1)
                        order = np.lexsort((ids[surv], full))[:kk]
                        best.setdefault(int(qids_[qi]), []).append(
                            (ids[surv][order], full[order])
                        )
            yield from _emit_topk_once(best, k)

        cand_topk = cand_rows.mapInPandas(
            local_topk, schema="qid long, neighbor_id long, dist double"
        )
        return _finalize_topk(cand_topk, k, "l2_sq", round_output)

    def search_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "query",
        snapshot: int | str | dict | None = None,
        predicate=None,
        exclude_ids: DataFrame | None = None,
        round_output: bool = True,
        scan: str = "join",
    ) -> DataFrame:
        """ANN top-k for a LARGE query table — the tier for when ``|Q|``
        itself is a dataset (bulk re-embedding joins, all-corpus retrieval
        passes) and ``search()``'s collect-and-broadcast contract breaks:

        * probe assignment runs INSIDE the query table's partitions
          (centroid matrix in the UDF closure — a few MB even at 4096
          cells); queries never visit the driver;
        * candidates come from a shuffle join with the index table on
          ``centroid_id`` (AQE skew-join splits hot cells probed by many
          queries);
        * each joined partition emits ≤ k rows per query (GEMM per
          (batch, qid) group), then the usual global window top-k.

        Identical results to ``search()`` at the same nprobe (same stable
        centroid ordering; pinned in tests).  ``predicate``: optional
        metadata Column over the index side, applied before the shuffle
        join (pushed to the scan) — the large-|Q| filtered tier.
        ``exclude_ids``: one-column DataFrame of ids to drop PRE-JOIN
        (anti-join on the index side — the merged engine contract's
        shadowed-id exclusion; ids never visit the driver).

        ``scan`` (r14) picks the physical scan shape, identical output:

        * ``"join"`` (default) — probes shuffle-join the cells and the
          |Q|·nprobe·|cell| candidate rows stream through Arrow into
          the per-batch kernel.  Right for SERVING-sized query tables:
          at 10k queries × 100k×64d the volume is ~14 GB (finding 25);
          at 1M×128d the same shape is ~250 GB of Arrow traffic — the
          wall the cogroup shape removes.
        * ``"cogroup"`` — per-cell cogroup (``_cell_cogroup_topk``):
          one chunked GEMM per probed cell, shuffle volume = probe
          stubs + each cell once, never materialized candidate pairs.
          Right for DATASET-SIZED |Q| (kNN-graph builds, all-corpus
          retrieval passes); SCALING finding 31 measures the crossover
          at SIFT1M."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        # same snapshot discipline as search(): centroids and cells from
        # ONE manifest view (historical when an as-of snapshot is given)
        snap = self._pin(snapshot)
        probes, _, _ = self._assign_probes_distributed(
            queries, qid_col, qvec_col, snap, nprobe
        )
        base = self.vectors(snapshot=snap)
        if predicate is not None:
            base = base.filter(predicate)
        if exclude_ids is not None:
            base = base.join(
                exclude_ids.toDF(id_col), id_col, "left_anti"
            )
        if scan == "cogroup":
            cand_topk = self._cell_cogroup_topk(probes, base, k)
        elif scan == "join":
            cand = probes.join(base, "centroid_id").select(
                "qid", "query", F.col(id_col), F.col(vec_col)
            )
            cand_topk = cand.mapInPandas(
                self._bulk_l2_topk_kernel(k),
                schema="qid long, neighbor_id long, dist double",
            )
        else:
            raise ValueError(f"unknown scan shape {scan!r}")
        return _finalize_topk(cand_topk, k, "l2_sq", round_output)

    def _bulk_l2_topk_kernel(self, k: int):
        """Per-batch kernel shared by the bulk-|Q| tiers
        (``search_distributed``, ``search_exact_bounded_distributed``):
        one exact float64 L2 evaluation + local (dist, id) top-k per
        (qid, candidate-group); the global window merge keeps the true
        top-k over all of a query's batches."""
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]

        def batch_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            out = _Rows("dist")
            for pdf in batches:
                for qid, grp in pdf.groupby("qid"):
                    q = np.asarray(
                        grp["query"].iloc[0], dtype=np.float32
                    ).astype(np.float64)
                    ids = grp[id_col].to_numpy(dtype=np.int64)
                    V = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                    d = (V * V).sum(axis=1) - 2.0 * (V @ q) + float(q @ q)
                    np.maximum(d, 0.0, out=d)
                    order = np.lexsort((ids, d))[:k]
                    out.add(int(qid), ids[order], d[order])
            yield from out.emit()

        return batch_topk

    def search_exact_bounded_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe_seed: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "query",
        round_output: bool = True,
    ) -> DataFrame:
        """EXACT top-k for DATASET-SIZED query tables at PARTIAL-probe
        cost — the lossless IVF route for bulk exact-kNN builds (kNN
        graphs feeding PageRank/LPA/triangles, kNN classify, coresets)
        on corpora with cluster structure.  Two passes, queries never
        visiting the driver in either:

          1. **seed** — ``search_distributed`` over ``nprobe_seed``
             cells; its k-th distance ``d_k`` is an UPPER bound on the
             true k-th distance (a top-k over a subset can only be
             farther);
          2. **verify** — probe exactly the cells the bound cannot
             exclude: cell c scans iff ``sqrt(d(q, centroid_c)) <=
             sqrt(d_k) + R_c`` (triangle inequality — the zero-loss
             prune of ``radius_search_distributed`` with a per-QUERY
             radius), then one global (dist, id) top-k.

        Every true neighbor lies within ``sqrt(d_k)`` of q, and every
        point within ``sqrt(d_k)`` of q lives in a cell passing the
        test, so the output is hash-identical to ``knn_exact`` at ANY
        ``nprobe_seed`` (oracle-graded: registry ``knn_exact_ivf_bounded``).
        A query whose seed returns fewer than k rows (nearly-empty
        probed cells) has no valid bound and probes ALL cells — the
        honest fallback, never a silent recall loss.

        Scale posture: BOTH passes scan through a per-cell COGROUP, not
        a row-materializing join — a (cell, its queries, its vectors)
        group runs ONE chunked GEMM and emits ≤ k rows per query, so
        shuffle volume is ``|Q|·fanout + N`` rows (probe stubs + each
        cell once), never the ``|Q|·fanout·|cell|`` candidate rows the
        ``search_distributed`` join shape would materialize at
        dataset-sized |Q|.  The verify fan-out is data-adaptive: on
        clustered corpora d_k is small, most cells fail the triangle
        test, and the probed fraction is ~the query's own cluster; on
        isotropic high-dim data d_k concentrates at the bulk distance
        and the bound excludes little, degenerating toward the full
        grid — prefer ``knn_exact_distributed`` (block GEMM) there.
        SCALING r14 (finding 30) records the measured crossover at 100k
        rows on both geometries.  Reference anchor: ``hnsw_index.h``'s
        ef-bounded beam plays the same per-query "scan less than
        everything" role; this is the set-oriented, provably exact
        analog."""
        snap = self._read_manifest()

        # ---- pass 1: seed top-k over nprobe_seed cells (cogroup scan)
        probes_seed, _, _ = self._assign_probes_distributed(
            queries, qid_col, qvec_col, snap, nprobe_seed
        )
        seed_cand = self._cell_cogroup_topk(
            probes_seed, self.vectors(snapshot=snap), k
        )
        seed = _finalize_topk(seed_cand, k, "l2_sq", round_output=False)
        bound = seed.groupBy("qid").agg(
            F.max("dist_sq").alias("_dk"), F.count("*").alias("_nseed")
        )

        # ---- pass 2: per-query-radius triangle prune, cogroup verify
        qb = (
            queries.select(
                F.col(qid_col).alias("qid"), F.col(qvec_col).alias("query")
            )
            .join(bound, "qid", "left")
            .select(
                "qid",
                "query",
                # no full-k seed → no valid bound → probe everything
                F.when(F.col("_nseed") >= k, F.sqrt(F.col("_dk")))
                .otherwise(F.lit(float("inf")))
                .alias("_r"),
            )
        )
        cand_topk = self._cell_cogroup_topk(
            self._triangle_probes(qb, snap), self.vectors(snapshot=snap), k
        )
        return _finalize_topk(cand_topk, k, "l2_sq", round_output)

    def _cell_radii(self, snap: dict | None):
        """``(cids, centroids, R)`` of a pinned snapshot, ``R[i]`` the
        radius of cell ``cids[i]``: the square root of the cell's max
        ``dist_to_centroid`` (stored squared at build; 0 for an empty
        cell).  One column-pruned aggregation over the index's stats
        column, memoized per generation (cells are immutable per
        generation), so repeated triangle-inequality prunes against one
        snapshot pay the scan once."""
        def aggregate() -> dict[int, float]:
            return {
                int(r["centroid_id"]): float(r["r_sq"])
                for r in self.vectors(snapshot=snap)
                .groupBy("centroid_id")
                .agg(F.max("dist_to_centroid").alias("r_sq"))
                .collect()
            }

        radii = self._memo(
            "_radii_cache", self._sidecar_gen(snap), aggregate, 17
        )
        cids, C = self._centroids_for(snap)
        R = np.array([radii.get(int(c), 0.0) for c in cids], dtype=np.float64)
        return cids, C, np.sqrt(R)

    def _triangle_probes(
        self, qb: DataFrame, snap: dict | None, qid_col: str = "qid",
        qvec_col: str = "query",
    ) -> DataFrame:
        """``(qid, query, centroid_id)`` probe stubs for every cell the
        triangle inequality cannot exclude: query q probes cell c iff
        ``sqrt(d(q, c)) <= r_q + R_c`` (``R_c`` from ``_cell_radii``,
        ``r_q`` from ``qb``'s ``_r`` column) — a zero-loss prune, since
        ``d(q, v) >= d(q, c) - R_c`` for every v in c.  Runs inside the
        query table's partitions (centroids and radii ride a broadcast,
        O(cells)); shared by ``radius_search_distributed`` and the
        verify pass of ``search_exact_bounded_distributed``."""
        cids, C, R = self._cell_radii(snap)
        bc = self.spark.sparkContext.broadcast((cids, C, R))

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cids_, C_, Rc_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf[qvec_col].to_numpy()).astype(np.float64)
                D = l2_sq_matrix(Q, C_)
                r_q = pdf["_r"].to_numpy(dtype=np.float64)
                hit = np.sqrt(D) <= (r_q[:, None] + Rc_[None, :])
                qi, ci = np.nonzero(hit)
                if len(qi) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "qid": pdf[qid_col].to_numpy(dtype=np.int64)[qi],
                        "query": pdf[qvec_col].to_numpy()[qi],
                        "centroid_id": cids_[ci].astype(np.int32),
                    }
                )

        return qb.mapInPandas(
            probe, schema="qid long, query array<float>, centroid_id int"
        )

    def _cell_cogroup(
        self, probes: DataFrame, side: DataFrame, cols, kernel, schema: str
    ) -> DataFrame:
        """The per-cell cogroup of the bulk-|Q| tiers: the ``(qid,
        query, centroid_id)`` probe stubs meet the cell rows of ``side``
        (``centroid_id``, the id as ``nid``, plus ``cols``) on
        ``centroid_id``, and ``kernel(cell, qpdf, vpdf)`` runs once per
        cell that both sides populate, returning a ``schema`` frame (or
        None for no rows).  Shuffle volume is probe stubs + each cell
        once — never the ``|Q|·fanout·|cell|`` candidate rows a
        probes⋈cells join materializes through Arrow (SCALING findings
        25/30/48).

        Both sides' key is cast to ONE type (int) and checked — the
        finding-28 discipline (see ``knn.block_cogroup_keys``): mixed
        int/bigint keys hash-partition differently and silently drop
        whole cells.

        Memory bound, for every cogroup kernel: one task holds one cell
        as a pandas frame, every query probing it, and all the pairs it
        emits — O(|cell| + probing queries + emitted pairs) rows, where
        the streamed join shape held one Arrow batch.  GEMM kernels tile
        only their distance matrix (``_TILE_CELLS``).  ``rebalance``
        bounds |cell| but not the probing queries, so a hot cell under a
        full-probe, dataset-sized query table (worst: a radius search
        with many hits) is the memory peak; the 100k×100k rung that
        priced this shape (SCALING finding 48) ran with it."""
        qside = probes.select(
            F.col("centroid_id").cast("int").alias("centroid_id"),
            "qid",
            "query",
        )
        vside = side.select(
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.col(self.meta["id_col"]).alias("nid"),
            *cols,
        )
        if qside.schema["centroid_id"].dataType != vside.schema[
            "centroid_id"
        ].dataType:  # pragma: no cover - structural guard (finding 28)
            raise AssertionError("cell cogroup key type mismatch")
        dtypes = {"long": "int64", "double": "float64"}
        fields = [f.split() for f in schema.split(",")]

        def cell_kernel(key, qpdf: pd.DataFrame, vpdf: pd.DataFrame):
            out = None
            if len(qpdf) and len(vpdf):
                out = kernel(int(key[0]), qpdf, vpdf)
            if out is None:
                out = pd.DataFrame(
                    {n: pd.Series(dtype=dtypes.get(t, object))
                     for n, t in fields}
                )
            return out

        cell_kernel.__name__ = kernel.__name__  # plans name the tier kernel
        return (
            qside.groupBy("centroid_id")
            .cogroup(vside.groupBy("centroid_id"))
            .applyInPandas(cell_kernel, schema=schema)
        )

    def _cell_cogroup_topk(
        self, probes: DataFrame, base: DataFrame, k: int
    ) -> DataFrame:
        """Shared scan kernel of the bulk-|Q| exact tiers: per probed
        cell (``_cell_cogroup``), ONE chunked GEMM of the cell's vectors
        against its probing queries and the local (dist, id) top-k per
        query — the cell-blocked twin of ``knn_exact_distributed``'s
        kernel.  ``base`` is the caller-prepared index side (snapshot
        pinned, predicate/exclude_ids already applied) with
        ``(centroid_id, id_col, vec_col)`` columns."""
        def cell_topk(cid, qpdf: pd.DataFrame, vpdf: pd.DataFrame):
            qids = qpdf["qid"].to_numpy(dtype=np.int64)
            Q = np.stack(qpdf["query"].to_numpy())
            ids = vpdf["nid"].to_numpy(dtype=np.int64)
            V = np.stack(vpdf["nvec"].to_numpy())
            kk = min(k, len(ids))
            step = max(1, _TILE_CELLS // max(len(ids), 1))
            out = _Rows("dist")
            for c0 in range(0, len(qids), step):
                D = l2_sq_matrix(V, Q[c0 : c0 + step])  # (n, m_chunk)
                for j, qid in enumerate(qids[c0 : c0 + step]):
                    order = np.lexsort((ids, D[:, j]))[:kk]
                    out.add(qid, ids[order], D[order, j])
            return out.frame()

        return self._cell_cogroup(
            probes, base, (F.col(self.meta["vec_col"]).alias("nvec"),),
            cell_topk, "qid long, neighbor_id long, dist double",
        )

    def _assign_probes_distributed(
        self,
        queries: DataFrame,
        qid_col: str,
        qvec_col: str,
        snap: dict | None,
        nprobe: int,
    ) -> tuple[DataFrame, int, int]:
        """Probe assignment for the bulk-query tiers: ranks the pinned
        snapshot's centroids INSIDE the query table's partitions (the
        centroid matrix ships in the UDF closure — a few MB even at
        4096 cells; queries never visit the driver) and emits one
        ``(qid, query, centroid_id)`` row per probe.  Shared by
        ``search_distributed`` and the quantized distributed tiers.
        Returns ``(probes_df, n_cells, clamped_nprobe)``."""
        cids, C = self._centroids_for(snap)
        nprobe = min(nprobe, len(cids))
        bc = self.spark.sparkContext.broadcast((cids, C, nprobe))

        def assign_probes(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            cids_, C_, np_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.stack(pdf[qvec_col].to_numpy()).astype(np.float64)
                D = l2_sq_matrix(Q, C_)
                order = np.argsort(D, axis=1, kind="stable")[:, :np_]
                n, m = order.shape
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(
                            pdf[qid_col].to_numpy(dtype=np.int64), m
                        ),
                        "query": [
                            v
                            for v in pdf[qvec_col].to_numpy()
                            for _ in range(m)
                        ],
                        "centroid_id": cids_[order].astype(np.int32).ravel(),
                    }
                )

        probes = queries.select(qid_col, qvec_col).mapInPandas(
            assign_probes,
            schema="qid long, query array<float>, centroid_id int",
        )
        return probes, len(cids), nprobe

    def _probed_cells_distributed(
        self,
        probes: DataFrame,
        nprobe: int,
        n_cells: int,
        snap: dict | None,
    ) -> list[int]:
        """The distinct probed-cell set, for partition-pruning a sidecar
        scan in the bulk-query tiers.  At full probe (the graded
        exactness configuration) every cell is probed by construction —
        return the snapshot's cell list with no job.  At partial nprobe
        this pays ONE extra map-only pass over the query table whose
        output is ≤ n_cells ints (partial-aggregated distinct; a
        bounded-scalar collect, same class as the footer-count reads) —
        worth it exactly when the workload is localized enough that the
        pruned parquet scan skips real bytes."""
        if nprobe >= n_cells:
            if snap and snap.get("cells"):
                return sorted(int(c) for c in snap["cells"])
            return sorted(int(c) for c in self.centroid_ids)
        return sorted(
            int(r[0])
            for r in probes.select("centroid_id").distinct().collect()
        )

    def search_sq8_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "query",
        snapshot: int | str | dict | None = None,
        predicate=None,
        bits: int = 8,
        round_output: bool = True,
        exclude_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The quantized ladder on the BULK-QUERY path: ``search_sq8``'s
        two-stage shape (int8 candidate scan + lossless bound cut +
        exact float rescore) composed with ``search_distributed``'s
        no-driver-collect contract — the 100 TB workhorse for
        dataset-sized query tables (bulk re-embedding joins, all-corpus
        retrieval), which previously could only scan full floats
        (r11 verdict, What's missing #1).

        Plan shape (every stage streams; nothing per-query visits the
        driver):

        1. probe assignment inside the query table's partitions
           (``_assign_probes_distributed``);
        2. shuffle join of the probes with the generation-keyed SQ8/SQ4
           code sidecar on ``centroid_id`` (AQE skew-join splits hot
           cells) — the scan reads 4× (SQ8) / 8× (SQ4) fewer bytes than
           the float cells, and is partition-pruned to the probed cells
           (``_probed_cells_distributed``);
        3. the PROVABLY lossless bound cut per (query, Arrow batch)
           group (``_sq_bound_mask`` — the subset-composability argument
           in its docstring is what makes the per-slice cut sound after
           a shuffle join scatters a query's candidates);
        4. survivors rejoin the float cells (same pruned partitions) on
           id for the exact rescore — the query vector RIDES the
           survivor rows (emitted by the cut kernel), so no extra join
           against the query table is needed;
        5. global exact ``(dist, id)`` top-k.

        Identical results to ``search()``/``search_sq8`` at the same
        nprobe, hash-identical to exact kNN at full probe — gated by the
        same oracle as ``ann_ivf_distributed`` (``knn_exact_l2``).

        ``predicate``: metadata Column applied BEFORE the bound cut via
        a column-pruned semi-join (same losslessness discipline as
        ``search_sq8``).  Reference anchor: the merged serve loop
        ``engine.h:100-144`` is the per-query analog; this is its bulk
        twin through the byte-cut tier."""
        dim = self.meta["dim"]
        snap = self._pin(snapshot)
        sq_dir = self.ensure_sq8(snapshot=snap, bits=bits)
        probes, n_cells, nprobe = self._assign_probes_distributed(
            queries, qid_col, qvec_col, snap, nprobe
        )
        cells = self._probed_cells_distributed(probes, nprobe, n_cells, snap)
        # shadowed ids leave PRE-CUT on the code side (merged engine
        # contract): an excluded id can then never survive into the
        # rescore, so the float join needs no second guard
        codes = self._sidecar_cells(
            sq_dir, snap, cells, exclude_ids, predicate,
            cols=("code", "lo", "hi"),
        )
        # r18 (verdict task 3): the cut stage is a per-cell COGROUP
        # (``_cell_cogroup``) instead of a probes⋈codes join that
        # duplicated every code row once per probing query: each cell's
        # codes decode once, and one GEMM evaluates the SAME lossless
        # bound for all of the cell's probing queries
        # (_sq_bound_mask_multi — its docstring carries the
        # subset-composability argument).  Survivors carry their query
        # vector, so the rescore needs no query join.
        def cell_cut(cid, qpdf: pd.DataFrame, vpdf: pd.DataFrame):
            qv = qpdf["query"].to_numpy()
            ids = vpdf["nid"].to_numpy(dtype=np.int64)
            KEEP = _sq_bound_mask_multi(
                vpdf["code"],
                vpdf["lo"].to_numpy(dtype=np.float64),
                vpdf["hi"].to_numpy(dtype=np.float64),
                np.stack(qv).astype(np.float64), dim, bits, k,
            )
            out = _Rows("query")
            for j, qid in enumerate(qpdf["qid"].to_numpy(dtype=np.int64)):
                out.add(qid, ids[KEEP[:, j]], qv[j])
            return out.frame()

        cand = self._cell_cogroup(
            probes, codes, ("code", "lo", "hi"), cell_cut,
            "qid long, query array<float>, neighbor_id long",
        )
        return self._exact_rescore(cand, snap, cells, k, round_output)

    def search_cascade_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        candidates_per_cell: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "query",
        snapshot: int | str | dict | None = None,
        predicate=None,
        round_output: bool = True,
        exclude_ids: DataFrame | None = None,
    ) -> DataFrame:
        """The staged BQ → SQ8 → float cascade on the BULK-QUERY path —
        ``search_cascade``'s three stages re-expressed under
        ``search_distributed``'s no-driver-collect contract:

        1. probes (in-partition assignment) shuffle-join the 1-bit BQ
           sidecar on ``centroid_id`` (32× scan-byte cut, pruned to the
           probed cells); the asymmetric sign score keeps the top
           ``candidates_per_cell`` per (query, WHOLE cell) — the only
           lossy stage, with the same finding-41 per-cell auto-derived
           default as the per-query cascade when unset.  Since r18's
           per-cell cogroup a finite C keeps exactly min(C, cell size)
           survivors per (query, cell); r17 kept C per (query,
           Arrow-batch slice of a cell), so a finite-C caller can now
           see fewer stage-1 candidates than before (the unbounded-C
           exactness configuration is unaffected);
        2. stage-1 survivors shuffle-join the int8 SQ8 sidecar on id —
           a SHUFFLE join by design, never the per-query form's
           broadcast: the candidate list scales with |Q| here, so
           broadcasting it is exactly the collect-contract violation
           this tier exists to avoid — then the lossless bound cut
           (``_sq_bound_mask``) per (query, batch) slice;
        3. exact float rescore (survivors rejoin the pruned float
           cells; the query vector rides the survivor rows), global
           ``(dist, id)`` top-k.

        Exact at full probe with an unbounded stage-1 cut BY
        CONSTRUCTION (stage 1 keeps everything, stage 2 is lossless) —
        the graded configuration, same oracle as ``ann_ivf_distributed``.
        BQ thresholds load from the sidecar's dir-local state (a
        dim-length json — driver-side scalar, broadcast to the kernel),
        exactly as the per-query cascade does."""
        id_col = self.meta["id_col"]
        dim = self.meta["dim"]
        spark = self.spark
        C = int(candidates_per_cell) if candidates_per_cell else 8 * k
        snap = self._pin(snapshot)
        bq_dir = self.ensure_bq(snapshot=snap)
        sq_dir = self.ensure_sq8(snapshot=snap, bits=8)
        bc_thr = self._bq_thr_broadcast(bq_dir)
        probes, n_cells, nprobe = self._assign_probes_distributed(
            queries, qid_col, qvec_col, snap, nprobe
        )
        cells = self._probed_cells_distributed(probes, nprobe, n_cells, snap)
        # broadcast, not closure-capture: the bulk path probes up to ALL
        # cells, so the per-cell budget dict scales with n_cells and a
        # closure would re-ship it with every task.  Memoized per
        # (generation, k) — r16 advisor: a fresh broadcast per search
        # accumulates driver+executor blocks across a long-lived serving
        # session; the budget derives only from footer counts + k, so
        # one broadcast serves every search against the same generation.
        bc_budget = (
            self._sign_budget_broadcast(
                k, snap, cells, "search_cascade_distributed"
            )
            if candidates_per_cell is None
            else None
        )

        # ---- stage 1: BQ asymmetric top-C over the probed 1-bit codes;
        # shadowed ids leave before its cut, so they can never survive
        # into stages 2-3 (merged engine contract)
        bq_codes = self._sidecar_cells(
            bq_dir, snap, cells, exclude_ids, predicate, cols=("code", "dim")
        )

        # r18 (verdict task 3): stage 1 is a per-cell COGROUP, not a
        # probes⋈codes fan-out join — codes shuffle once + probe stubs,
        # and each cell's bits unpack ONCE for all of its probing
        # queries (``_sign_cut``).  The top-C budget is per (query, WHOLE
        # cell); at the graded unbounded-C configuration it keeps
        # everything (results identical, oracle-gated).
        def bq_cell_cut(cid, qpdf: pd.DataFrame, vpdf: pd.DataFrame):
            bm = bc_budget.value if bc_budget is not None else None
            qv = qpdf["query"].to_numpy()
            Qc = np.stack(qv).astype(np.float64) - bc_thr.value[None, :]
            ids = vpdf["nid"].to_numpy(dtype=np.int64)
            sels = _sign_cut(
                vpdf["code"], int(vpdf["dim"].iloc[0]), Qc,
                C if bm is None else bm.get(cid, C),
            )
            out = _Rows("query")
            for j, qid in enumerate(qpdf["qid"].to_numpy(dtype=np.int64)):
                out.add(qid, ids[sels[j]], qv[j])
            return out.frame()

        cand1 = self._cell_cogroup(
            probes, bq_codes, ("code", "dim"), bq_cell_cut,
            "qid long, query array<float>, neighbor_id long",
        )

        # ---- stage 2: lossless SQ8 bound cut over stage-1 survivors
        sq_side = (
            spark.read.parquet(sq_dir)
            .filter(F.col("centroid_id").isin(cells))
            .select(F.col(id_col).alias("neighbor_id"), "code", "lo", "hi")
        )
        cand2_codes = cand1.join(sq_side, "neighbor_id")

        def sq_cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            out = _Rows("query")
            for pdf in batches:
                for qid, grp in pdf.groupby("qid"):
                    qv = grp["query"].iloc[0]
                    keep = _sq_bound_mask(
                        grp["code"],
                        grp["lo"].to_numpy(dtype=np.float64),
                        grp["hi"].to_numpy(dtype=np.float64),
                        np.asarray(qv, dtype=np.float32).astype(np.float64),
                        dim, 8, k,
                    )
                    ids = grp["neighbor_id"].to_numpy(dtype=np.int64)
                    out.add(int(qid), ids[keep], qv)
            yield from out.emit()

        cand2 = cand2_codes.mapInPandas(
            sq_cut, schema="qid long, query array<float>, neighbor_id long"
        )
        # ---- stage 3: exact float rescore of the remnant
        return self._exact_rescore(cand2, snap, cells, k, round_output)

    def rebalance(
        self,
        max_cell_rows: int,
        sub_k: int = 4,
        train_cap: int = 65536,
        seed: int = 7,
    ) -> dict[int, list[int]]:
        """Split every cell exceeding ``max_cell_rows`` into ``sub_k``
        children — the skew-management path for an index under sustained
        ingest (compaction keeps pouring rows into the same coarse cells;
        a hot cell is a hot partition is a straggler task at 100 TB).

        Per oversized cell: bounded sample → seeded sub-quantizer → one
        Arrow reassignment pass over ONLY that cell's rows; children land
        in a new generation dir, the parent is dropped from the manifest
        in the same atomic commit (readers keep their snapshot), and a new
        versioned centroids file is published alongside.  Full-probe
        exactness is invariant — the cells partition the same rows, just
        finer.  Returns {parent_cell: [child_cells]}."""
        occupancy = {
            int(r["centroid_id"]): int(r["n_vectors"])
            for r in self.stats().collect()
        }
        oversized = sorted(c for c, n in occupancy.items() if n > max_cell_rows)
        if not oversized:
            return {}
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        extra = tuple(self.meta.get("extra_cols", []))
        gen = self.next_gen()
        next_id = int(self.centroid_ids.max()) + 1
        mapping: dict[int, list[int]] = {}
        sub_centroids: list[tuple[int, np.ndarray]] = []

        def make_reassign(ids_arr: np.ndarray, C_loc: np.ndarray):
            bc = self.spark.sparkContext.broadcast((ids_arr, C_loc))

            def reassign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                ids_, C_ = bc.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                    D = l2_sq_matrix(V, C_)
                    a = D.argmin(axis=1)
                    pdf = pdf.copy()
                    pdf["centroid_id"] = ids_[a].astype("int32")
                    pdf["dist_to_centroid"] = D[np.arange(len(a)), a]
                    yield pdf

            return reassign

        parts = []
        for c in oversized:
            cell = self.vectors().filter(F.col("centroid_id") == c)
            sample = cell.select(vec_col)
            frac = min(1.0, train_cap / occupancy[c])
            if frac < 1.0:
                sample = sample.sample(fraction=frac, seed=seed)
            S = np.stack(sample.toPandas()[vec_col].to_numpy()).astype(np.float64)
            C = _train_quantizer(S, min(sub_k, len(S)), seed=seed)
            ids = np.arange(next_id, next_id + len(C), dtype=np.int64)
            next_id += len(C)
            mapping[c] = [int(i) for i in ids]
            sub_centroids += [(int(i), C[j]) for j, i in enumerate(ids)]
            src = cell.select(id_col, vec_col, *extra)
            schema = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
            )
            schema += ", centroid_id int, dist_to_centroid double"
            parts.append(src.mapInPandas(make_reassign(ids, C), schema=schema))

        allnew = parts[0]
        for p in parts[1:]:
            allnew = allnew.unionByName(p)
        ordered = [id_col, vec_col, *extra, "dist_to_centroid", "centroid_id"]
        allnew.select(*ordered).repartition("centroid_id").sortWithinPartitions(
            "centroid_id", "dist_to_centroid"
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(self.index_dir, "vectors", f"gen={gen}")
        )

        survivors = [
            (int(cid), [float(x) for x in vec])
            for cid, vec in zip(self.centroid_ids, self.centroids)
            if int(cid) not in set(oversized)
        ]
        allc = survivors + [
            (cid, [float(x) for x in vec]) for cid, vec in sub_centroids
        ]
        cfile = f"centroids_gen{gen}.parquet"
        _write_centroids_parquet(
            os.path.join(self.index_dir, cfile),
            [v for _, v in allc],
            centroid_ids=[c for c, _ in allc],
        )
        self.commit_cells(
            gen,
            [i for ids in mapping.values() for i in ids],
            remove_cells=oversized,
            centroids_file=cfile,
        )
        self.meta["n_centroids"] = len(allc)
        tmp = os.path.join(self.index_dir, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.meta, f)
        os.rename(tmp, os.path.join(self.index_dir, "meta.json"))
        self.invalidate_sidecars()
        self._load_centroids()
        return mapping

    def ensure_sq8(self, snapshot: dict | None = None, bits: int = 8) -> str:
        """Write (once) the SQ8 code sidecar: per-vector uint8 codes
        partitioned by ``centroid_id`` exactly like the float vectors, so
        probing prunes the SAME partitions but scans ~4× fewer bytes —
        the true 100 TB layout (candidate generation reads int8 codes;
        only survivors touch the float table).

        The dir is keyed by the pinned snapshot's generation and the
        build follows the one sidecar lifecycle (``_sidecar``) every
        ``ensure_*`` shares.  Builds are INCREMENTAL across generations: cells
        unchanged since a retained donor snapshot carry their code
        partitions forward as file copies (exact — SQ codes are a pure
        per-row function, no global state) and only affected cells are
        re-encoded (``_sidecar_carry_forward``).

        ``bits=4`` writes the nibble-packed SQ4 sidecar instead (8× scan
        cut, coarser levels — see ``sq.sq8_encode``); dirs are keyed by
        bit width so the tiers never alias."""
        from vector_search_engine_spark.operators.sq import sq8_encode

        def encode(src: DataFrame) -> DataFrame:
            return sq8_encode(
                src,
                id_col=self.meta["id_col"],
                vec_col=self.meta["vec_col"],
                keep_cols=("centroid_id",),
                bits=bits,
            ).repartition("centroid_id")

        return self._sidecar(
            f"sq{bits}", snapshot, (), lambda base, donor: ({}, encode)
        )

    def search_sq8(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids: DataFrame | None = None,
        snapshot: int | str | dict | None = None,
        bits: int = 8,
        round_output: bool = True,
    ) -> DataFrame:
        """Two-stage probed search: quantized scan of the probed cells'
        int8 sidecar + exact float re-score of the survivors — composes the
        SQ8 scan-byte cut (operators/sq.py) with IVF partition pruning.

        ``bits=4`` serves through the nibble-packed SQ4 sidecar instead:
        8× scan cut, per-element error span/30 instead of span/510 — the
        identical lossless bound argument holds with the wider ``e``, the
        cut just keeps more candidates (compute traded for bytes).

        The candidate cut is PROVABLY lossless, not a top-C margin: with
        per-vector dequantization error ``e_v = sqrt(dim)·span_v/510``, the
        true distance satisfies ``sqrt(d̂)−e ≤ sqrt(d) ≤ sqrt(d̂)+e``, so
        keeping every vector whose lower bound ≤ the k-th smallest upper
        bound retains a superset of the true top-k (per Arrow batch, hence
        per partition, hence globally).  Output is therefore identical to
        ``search()`` at the same nprobe, and identical to exact kNN at
        full probe — the same hash-gated oracle applies.

        ``predicate``: optional metadata Column (filtered × SQ8 cell of
        the capability matrix), applied BEFORE the bound cut via a
        column-pruned metadata semi-join — same discipline and reasoning
        as ``search_pq``.  ``exclude_ids``: optional one-column DataFrame
        of shadowed ids (the streaming engine's tier="sq8"), anti-joined
        before the cut for the same losslessness reason.

        ``snapshot``: a retained snapshot id / ``"prev"`` / negative
        offset (as in ``search``) — AS-OF search through the quantized
        tier.  Generation-keyed sidecars make this sound: codes for the
        historical snapshot are built from (and GC-protected with) that
        snapshot's own files."""
        id_col = self.meta["id_col"]
        dim = self.meta["dim"]
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        # each cell slice decodes once with the bound evaluated for all
        # its probing queries in one GEMM (_sq_bound_mask_multi).  The cut
        # group is (cell slice of an Arrow batch, query) — a still
        # lossless superset, so the exact rescore yields identical
        # results.  The sidecar is keyed by and built from the pinned
        # snapshot, so codes and the float rescore base always agree.
        bc = self._query_broadcast(qids, Q, cell_qidx)
        sq_dir = self.ensure_sq8(snapshot=snap, bits=bits)
        cand_codes = self._sidecar_cells(
            sq_dir, snap, needed, exclude_ids, predicate,
            cols=("code", "lo", "hi"),
        )

        def approx_cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, cq = bc.value
            out = _Rows()
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                codes = pdf["code"].to_numpy()
                lo = pdf["lo"].to_numpy(dtype=np.float64)
                hi = pdf["hi"].to_numpy(dtype=np.float64)
                for _, qidx, rows in _cell_slices(pdf, cq):
                    KEEP = _sq_bound_mask_multi(
                        codes[rows], lo[rows], hi[rows], Q_[qidx], dim, bits, k
                    )
                    for j, qi in enumerate(qidx):
                        out.add(qids_[qi], ids_all[rows][KEEP[:, j]])
            yield from out.emit()

        cand = cand_codes.mapInPandas(
            approx_cut, schema="qid long, neighbor_id long"
        )
        return self._exact_rescore(
            cand, snap, needed, k, round_output, queries, qids, Q, qid_col,
            qvec_col,
        )

    def ensure_bq(self, snapshot: dict | None = None) -> str:
        """Write (once) the binary-quantization sidecar: packed sign-bit
        codes (1 bit/dim — 32× fewer scan bytes than float32) partitioned
        by ``centroid_id`` like the float vectors.  Same generation-keyed
        dir + lock-serialized build discipline as ``ensure_sq8``, and the
        same incremental carry-forward across generations — with one
        extra rule for the dir-global state: when a donor snapshot's
        sidecar exists, its ``thresholds.json`` is carried forward too
        and affected cells are encoded against THOSE thresholds, so
        every code in the dir binarizes against the same values the
        search paths read back (scan/code agreement is within-dir).
        Thresholds therefore refresh only on from-scratch builds — a
        recall-neutral policy (they are per-dim means; BQ recall is a
        measured property with no exactness bound to preserve), and the
        explicit codebook-carry option r10's verdict asked for."""
        from vector_search_engine_spark.operators.bq import (
            bq_encode,
            dim_thresholds,
        )

        def prepare(base: DataFrame, donor: str | None):
            if donor:
                with open(os.path.join(donor, "thresholds.json")) as f:
                    t = np.array(json.load(f)["thresholds"], dtype=np.float64)
            else:
                # mean-centered bits: sign-at-zero stores nothing for
                # non-negative embedding families (e.g. SIFT-like
                # features); thresholds are computed from — and stored
                # beside — this snapshot's codes so scan and codes agree
                t = dim_thresholds(
                    base, vec_col=self.meta["vec_col"], dim=self.meta["dim"]
                )

            def encode(src: DataFrame) -> DataFrame:
                return bq_encode(
                    src,
                    id_col=self.meta["id_col"],
                    vec_col=self.meta["vec_col"],
                    keep_cols=("centroid_id",),
                    thresholds=t,
                ).repartition("centroid_id")

            state = {"thresholds": [float(x) for x in t]}
            return {"thresholds.json": state}, encode

        return self._sidecar("bq", snapshot, ("thresholds.json",), prepare)

    def _auto_sign_budget(
        self, k: int, snap: dict | None, cells, tier: str
    ) -> dict[int, int]:
        """Finding 41 default (r16): derive the stage-1 sign-code budget
        PER PROBED CELL from that cell's ACTUAL population — not the 8·k
        constant (measured recall collapse to 0.33 on a 16-cluster 20k
        corpus) and not the average cell size (a skewed layout hides hot
        cells far above the average).  Within a tight cluster 1-bit sign
        codes stop ordering candidates, so the only budget that provably
        keeps the true top-k in the survivor set is the cell's own row
        count — and finding 41 measured that full-cell budget CHEAPER
        than the broken default (6.7 s vs 11.6 s at 20k), so correctness
        here costs nothing.  Populations come from the PINNED snapshot's
        parquet-footer counts (``_snapshot_counts`` — zero Spark jobs,
        memoized per generation), so the derivation is driver-side
        metadata only.

        Cells above ``AUTO_SIGN_BUDGET_CAP`` keep the cap (bounding the
        exact-rescore set) with a RuntimeWarning; a pre-manifest raw
        layout (no footer table) falls back to 8·k with the original
        finding-41 warning.  Explicit ``candidates_per_cell`` bypasses
        the derivation entirely — the perf knob for callers who know
        their geometry (reference anchor: ``ef_search``,
        ``hnsw_index.h:256`` — the recall knob must have a sane
        default)."""
        import warnings

        floor = 8 * k
        counts = self._snapshot_counts(snap)
        if not counts:
            warnings.warn(
                f"{tier}: no per-cell population table (pre-manifest raw "
                f"layout) — falling back to the fixed stage-1 budget "
                f"(8*k={floor}); on clustered corpora 1-bit sign codes "
                "cannot order within-cluster candidates and recall may "
                "collapse (SCALING.md finding 41). Pass "
                "candidates_per_cell >= the expected cell population, "
                "or use the sq8/pq tiers.",
                RuntimeWarning,
                stacklevel=3,
            )
            return {int(c): floor for c in cells}
        budgets: dict[int, int] = {}
        capped: list[int] = []
        for c in cells:
            n = counts.get(int(c), floor)
            if n > AUTO_SIGN_BUDGET_CAP:
                capped.append(int(c))
                n = AUTO_SIGN_BUDGET_CAP
            budgets[int(c)] = max(floor, int(n))
        if capped:
            worst = max(counts.get(c, 0) for c in capped)
            sub_k = max(2, -(-worst // AUTO_SIGN_BUDGET_CAP) + 1)
            warnings.warn(
                f"{tier}: auto-derived stage-1 budget capped at "
                f"{AUTO_SIGN_BUDGET_CAP} for {len(capped)} probed "
                f"cell(s) (e.g. {capped[:4]}) whose population exceeds "
                "the cap. Measured consequence (SCALING.md finding 46): "
                "recall is UNAFFECTED at default Arrow batching (the "
                "stage-1 cut unit is min(budget, batch slice), so the "
                "cap never engages below ~65k-row batches) — the real "
                "cost is the hot cell itself: one straggler task and an "
                "unbounded exact-rescore set (~2-3x sign-tier wall). "
                "Heal with index.heal_sign_budget_cap() — equivalently "
                f"index.rebalance(max_cell_rows={AUTO_SIGN_BUDGET_CAP}, "
                f"sub_k={sub_k}) — which splits the hot cell(s); recall "
                "could only degrade under enlarged "
                "spark.sql.execution.arrow.maxRecordsPerBatch, where "
                "finding 41's clustered-corpus geometry applies.",
                RuntimeWarning,
                stacklevel=3,
            )
        return budgets

    def heal_sign_budget_cap(
        self, max_rounds: int = 4, sub_k: int | None = None
    ) -> dict[int, list[int]]:
        """Restore the sign-tier default's full-population budgets by
        SPLITTING every cell whose population exceeds
        ``AUTO_SIGN_BUDGET_CAP`` (r16 verdict task 1 — the last place a
        sign-tier default could silently under-recall was a capped hot
        cell that only warned).  This is the warning's named remedy made
        one call: iterated ``rebalance(max_cell_rows=cap)`` with
        ``sub_k`` derived from the WORST offender's overage
        (``ceil(worst/cap)+1`` — the +1 absorbs k-means child-size
        imbalance), repeated up to ``max_rounds`` because one k-means
        split of a pathological cell can leave a child still above the
        cap.  Full-probe exactness is invariant round-to-round (the
        children partition the parent's rows).  What the heal buys is
        MEASURED in SCALING finding 46 (`scripts/sign_cap_heal.py`):
        not recall — the per-batch cut unit keeps the capped state
        recall-exact at default Arrow batching — but the hot cell's
        straggler wall (capped BQ 44.6 s vs healed 13.3 s on a 90k-row
        cell at 48 queries) and the unbounded rescore set, plus recall
        insurance under enlarged Arrow batches where finding 41's
        geometry would re-apply.

        Returns the union of per-round ``{parent: [children]}`` split
        mappings ({} when no cell is above the cap — the common case at
        sane layouts: SIFT1M at C=1000 averages ~1k rows/cell).  Warns
        (without looping further) if offenders remain after
        ``max_rounds`` — an effectively-indivisible cell of >65k
        IDENTICAL vectors would need dedup, not rebalance."""
        import math
        import warnings

        merged: dict[int, list[int]] = {}
        for _ in range(int(max_rounds)):
            counts = self._snapshot_counts(self._read_manifest())
            over = {
                c: n for c, n in counts.items() if n > AUTO_SIGN_BUDGET_CAP
            }
            if not over:
                return merged
            k_round = (
                int(sub_k)
                if sub_k is not None
                else max(
                    2,
                    math.ceil(max(over.values()) / AUTO_SIGN_BUDGET_CAP) + 1,
                )
            )
            mapping = self.rebalance(
                max_cell_rows=AUTO_SIGN_BUDGET_CAP, sub_k=k_round
            )
            if not mapping:
                break
            merged.update(mapping)
        counts = self._snapshot_counts(self._read_manifest())
        still = sorted(
            c for c, n in counts.items() if n > AUTO_SIGN_BUDGET_CAP
        )
        if still:
            warnings.warn(
                f"heal_sign_budget_cap: {len(still)} cell(s) (e.g. "
                f"{still[:4]}) remain above AUTO_SIGN_BUDGET_CAP="
                f"{AUTO_SIGN_BUDGET_CAP} after {max_rounds} rebalance "
                "round(s) — the cell does not separate under k-means "
                "(e.g. >cap identical vectors). Deduplicate the corpus "
                "or pass candidates_per_cell explicitly for these "
                "cells' queries.",
                RuntimeWarning,
                stacklevel=2,
            )
        return merged

    def _sign_budget_broadcast(
        self, k: int, snap: dict | None, cells, tier: str
    ):
        """Broadcast of the auto-derived stage-1 sign budgets for EVERY
        cell of the pinned generation, memoized per ``(generation, k)``
        (r16 advisor): the distributed cascade used to create a fresh
        O(n_cells) broadcast per search and never release it, so a
        long-lived serving session accumulated driver+executor broadcast
        blocks without bound.  The budget map is a pure function of the
        generation's footer counts and ``k`` (``max(8k, min(pop, cap))``
        — same formula as ``_auto_sign_budget``), so one broadcast
        serves every search against that generation.  Past 17 retained
        keys (``_memo``, same bound as ``_cell_counts_cache``) the
        least-recently-used broadcast is evicted and UNPERSISTED, never
        destroyed: a search DataFrame built earlier but not yet run may
        still reference it, and an unpersisted broadcast re-ships on
        use, while a destroyed one fails the job.  Probed-cell WARNING
        semantics are unchanged: ``_auto_sign_budget`` still runs per
        call on the probed set (memoized counts — no extra footer reads)
        purely for its capped-cell / pre-manifest diagnostics.  A
        pre-manifest raw layout broadcasts ``None`` — the kernel then
        falls back to its closure floor, matching the per-query
        fallback."""
        gen = (snap or {}).get("latest_gen")

        def make():
            floor = 8 * int(k)
            budgets = {
                int(c): max(floor, min(int(n), AUTO_SIGN_BUDGET_CAP))
                for c, n in self._snapshot_counts(snap).items()
            } or None
            return self.spark.sparkContext.broadcast(budgets)

        bc = make() if gen is None else self._memo(
            "_sign_budget_bc_cache", (gen, int(k)), make, 17,
            release=Broadcast.unpersist,
        )
        # per-call diagnostics on the PROBED cells (warnings only; the
        # returned driver-side dict is discarded)
        self._auto_sign_budget(k, snap, cells, tier)
        return bc

    def _bq_thr_broadcast(self, bq_dir: str):
        """Memoized broadcast of a BQ sidecar's threshold vector — the one
        place a search reads ``thresholds.json`` — keyed by sidecar dir
        (generation-specific path, so a regenerated sidecar gets a fresh
        broadcast).  Same leak and eviction discipline as
        ``_sign_budget_broadcast`` — the dim-length array is small, but
        per-search broadcasts still accumulate in a serving loop."""
        def make():
            with open(os.path.join(bq_dir, "thresholds.json")) as f:
                thr = np.array(json.load(f)["thresholds"], dtype=np.float64)
            return self.spark.sparkContext.broadcast(thr)

        return self._memo(
            "_bq_thr_bc_cache", bq_dir, make, 17, release=Broadcast.unpersist
        )

    def _bq_stage(
        self, plan, k: int, candidates_per_cell: int | None, exclude_ids,
        predicate, tier: str,
    ) -> tuple[DataFrame, dict[int, int] | None]:
        """The BQ stage of the serving sign tiers — all of ``search_bq``
        before its rescore, and stage 1 of ``search_cascade``: the probed
        cells' packed sign codes (pre-cut exclude/predicate,
        ``_sidecar_cells``) cross Arrow once, each cell slice scores all
        of its probing queries in one GEMM (``_sign_cut``; the queries
        are centered by the sidecar's thresholds, the exact rescore uses
        the UNcentered ones), and each (cell slice of an Arrow batch,
        query) keeps its top C.  C is the caller's uniform
        ``candidates_per_cell``, else the per-cell auto budget
        (``_auto_sign_budget``, finding 41; ``tier`` names the caller in
        its warnings).  ``plan`` is the ``_probe_plan`` tuple.  Returns
        the ``(qid, neighbor_id)`` survivors and the auto budget map
        (None for an explicit C)."""
        id_col = self.meta["id_col"]
        qids, Q, snap, needed, cell_qidx = plan
        C = int(candidates_per_cell) if candidates_per_cell else 8 * k
        budget_map = (
            self._auto_sign_budget(k, snap, needed, tier)
            if candidates_per_cell is None
            else None
        )
        bq_dir = self.ensure_bq(snapshot=snap)
        bc_thr = self._bq_thr_broadcast(bq_dir)
        bc = self._query_broadcast(qids, Q, cell_qidx)
        cand_codes = self._sidecar_cells(
            bq_dir, snap, needed, exclude_ids, predicate, cols=("code", "dim")
        )

        def bq_cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, cq = bc.value
            Qc_ = Q_ - bc_thr.value[None, :]
            out = _Rows()
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                codes = pdf["code"].to_numpy()
                dims = pdf["dim"].to_numpy()
                for cid, qidx, rows in _cell_slices(pdf, cq):
                    sels = _sign_cut(
                        codes[rows], int(dims[rows[0]]), Qc_[qidx],
                        C if budget_map is None else budget_map.get(cid, C),
                    )
                    for qi, sel in zip(qidx, sels):
                        out.add(qids_[qi], ids_all[rows][sel])
            yield from out.emit()

        cand = cand_codes.mapInPandas(
            bq_cut, schema="qid long, neighbor_id long"
        )
        return cand, budget_map

    def search_bq(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        candidates_per_cell: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids: DataFrame | None = None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """Probed search through the 1-bit sidecar: the extreme point of
        the quantization ladder (float → SQ8 4× → PQ ~m/4d → BQ 32×).

        Candidates rank by the ASYMMETRIC score ``q · sign(v)`` (one GEMM
        of the unpacked ±1 block per Arrow batch; the query keeps its
        magnitudes) and the top ``candidates_per_cell`` per (query, cell
        batch) survive to an exact float rescore, so every returned row
        carries the true distance.  Unlike SQ8/PQ there is NO lossless
        bound — sign codes discard magnitude, recall is a measured
        property (tests/test_bq.py, SCALING.md) and the tier is the
        right choice only when scan bytes dominate and a small recall
        slack is acceptable.  When ``candidates_per_cell`` is None the
        budget AUTO-DERIVES per probed cell from that cell's actual
        population (``_auto_sign_budget`` — finding 41: a fixed 8·k
        default collapses recall to 0.33 on clustered corpora), capped
        at ``AUTO_SIGN_BUDGET_CAP``; an explicit value is a uniform
        per-cell budget.  ``predicate`` / ``exclude_ids`` /
        ``snapshot`` compose exactly as in ``search_sq8`` (pre-cut
        metadata semi-join / anti-join; generation-keyed sidecar)."""
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        cand, _ = self._bq_stage(
            plan, k, candidates_per_cell, exclude_ids, predicate, "search_bq"
        )
        qids, Q, snap, needed, _ = plan
        return self._exact_rescore(
            cand, snap, needed, k, round_output, queries, qids, Q, qid_col,
            qvec_col,
        )

    def search_cascade(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        candidates_per_cell: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids: DataFrame | None = None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """Staged serving through the whole compression ladder — the
        standard two-refinement ANN serving shape (coarse bits → finer
        bits → exact floats), composed from this index's existing
        sidecars:

        1. **BQ stage** (1 bit/dim, 32× scan-byte cut) — exactly
           ``search_bq``'s stage (``_bq_stage``): probed cells' packed
           sign codes ranked by the asymmetric score; top
           ``candidates_per_cell`` per (query, cell slice of an Arrow
           batch) survive — note the PER-BATCH semantics: a cell split
           across Arrow batches can keep more than C per (query, cell),
           so C is a per-batch budget, not a hard per-cell cap.  When
           ``candidates_per_cell`` is None the budget auto-derives per
           probed cell from its actual population
           (``_auto_sign_budget``, finding 41).  This is the only
           lossy stage.
        2. **SQ8 stage** (8 bits/dim, 4× cut): ONLY stage-1 survivors'
           int8 codes are read (broadcast candidate semi-join — no code
           shuffle), and the lossless span/510 bound cut keeps every
           candidate whose lower bound ≤ the k-th smallest upper bound —
           a provable superset of the candidate set's true top-k.
        3. **Float rescore**: stage-2 survivors rejoin the float table
           (same pruned partitions) for exact distances; global
           ``(dist, id)`` top-k.

        Cost accounting (honest): scan bytes are probed/32 (BQ) +
        probed/4 (the int8 scan — the broadcast candidate join prunes
        the KERNEL input, not the parquet scan) + |survivors|·4·dim
        floats.  So vs single-tier SQ8 the cascade trades +probed/32
        scan bytes for candidate-only dequantization (FLOPs ∝ |cand|,
        not probed) and a smaller float-rescore set (BQ-topC ∩
        SQ8-bound); vs single-tier BQ it adds the lossless middle
        refinement that slashes exact-rescore reads.  At 100 TB the
        float table is only read for the final handful of rows per
        query.  Exact at full probe with an unbounded stage-1 cut BY
        CONSTRUCTION: stage 1 then keeps everything and stage 2's cut
        is lossless, so the output is hash-identical to ``search()``
        (the graded configuration); the finite-C serving shape's recall
        is measured on SIFT1M (scripts/sift_scale.py ``cascade`` rung).

        ``predicate`` / ``exclude_ids`` / ``snapshot`` compose exactly
        as in ``search_sq8`` (pre-cut metadata semi-join / anti-join;
        generation-keyed sidecars pinned to ONE snapshot).

        Reference parity: the reference serves one float-only HNSW path
        (``hnsw_index.h:223-262``); this tier is the scale path its
        single-node design never needed."""
        id_col = self.meta["id_col"]
        dim = self.meta["dim"]
        spark = self.spark
        C = int(candidates_per_cell) if candidates_per_cell else 8 * k
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan

        # ---- stage 1: search_bq's BQ stage over the probed 1-bit codes
        cand1, budget_map = self._bq_stage(
            plan, k, candidates_per_cell, exclude_ids, predicate,
            "search_cascade",
        )

        # ---- stage 2: lossless SQ8 bound cut over stage-1 survivors only.
        # In the common serving shape the candidate list is ~|Q|·nprobe·C
        # rows (bulk-search contract bounds |Q|), so it broadcasts and the
        # probed-partition-pruned int8 sidecar never shuffles.  But the
        # broadcast is GUARDED, not assumed (simjoin's max_broadcast_rows
        # discipline): stage 1's top-C is per (query, Arrow batch) — a
        # cell split across b batches can keep up to b·C per (query,
        # cell) — and an unbounded C (the exactness configuration) makes
        # cand1 |Q|·probed-rows.  The driver-side estimate below is a
        # TRUE upper bound per (query, cell) where footer counts exist:
        # min(cell_rows, C · ceil(cell_rows / arrow_batch)) — honoring
        # the per-batch semantics, and a cell never yields more survivors
        # than rows.  Counts are memoized per generation
        # (_snapshot_counts), so the guard costs one footer pass per
        # commit, not per search.  Above the threshold the join falls
        # back to a shuffle instead of OOMing the driver.
        sq_dir = self.ensure_sq8(snapshot=snap, bits=8)
        sq_codes = spark.read.parquet(sq_dir).filter(
            F.col("centroid_id").isin(needed)
        )
        cell_counts = self._snapshot_counts(snap)
        arrow_batch = int(
            spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
            )
            or "10000"
        )

        def _pair_bound(c: int) -> int:
            C_c = (
                C if budget_map is None else budget_map.get(int(c), C)
            )  # the auto-derived budget is per cell (finding 41)
            n_c = cell_counts.get(c)
            if n_c is None:
                return C_c  # pre-manifest raw layout: best-effort estimate
            if arrow_batch <= 0:  # 0 = unlimited → one batch per partition
                return min(n_c, C_c)
            return min(n_c, C_c * -(-n_c // arrow_batch))

        est_cand1 = sum(
            _pair_bound(c) * len(ix) for c, ix in cell_qidx.items()
        )
        sq_side = sq_codes.select(
            F.col(id_col).alias("neighbor_id"), "code", "lo", "hi"
        )
        cand2_codes = sq_side.join(
            F.broadcast(cand1)
            if est_cand1 <= _CASCADE_BROADCAST_ROWS
            else cand1,
            "neighbor_id",
        )

        qmap = {int(q): Q[i].astype(np.float64) for i, q in enumerate(qids)}
        bc_q = spark.sparkContext.broadcast(qmap)

        def sq_cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qm = bc_q.value
            out = _Rows()
            for pdf in batches:
                for qid, grp in pdf.groupby("qid"):
                    keep = _sq_bound_mask(
                        grp["code"],
                        grp["lo"].to_numpy(dtype=np.float64),
                        grp["hi"].to_numpy(dtype=np.float64),
                        qm[int(qid)], dim, 8, k,
                    )
                    ids = grp["neighbor_id"].to_numpy(dtype=np.int64)
                    out.add(int(qid), ids[keep])
            yield from out.emit()

        cand2 = cand2_codes.mapInPandas(
            sq_cut, schema="qid long, neighbor_id long"
        )

        # ---- stage 3: exact float rescore of the remaining handful
        return self._exact_rescore(
            cand2, snap, needed, k, round_output, queries, qids, Q, qid_col,
            qvec_col,
        )

    def ensure_graph(
        self,
        snapshot: dict | None = None,
        m: int | None = None,
        ef_construction: int | None = None,
    ) -> str:
        """Write (once) the per-cell HNSW graph sidecar — the reference's
        ACTUAL search structure (``hnsw_index.h``), distributed: one
        independent in-cell graph per IVF partition, built by
        ``operators.hnsw.build_cell_graph`` inside ``applyInPandas`` (each
        cell is one group — the whole build fans out across executors,
        no cell ever visits the driver).

        Node rows are self-contained like the reference's index (the
        float vector lives in the graph node): searches read ONE sidecar
        instead of joining adjacency back to the base table per cell.
        Costs one float copy per generation; the base float table remains
        the source of truth for rescore/compaction.

        The dir is keyed by (m, ef_construction, snapshot generation) —
        same file-granularity EBR discipline as the SQ/PQ/BQ sidecars
        (``_sidecar_gen``), and parameter sets never alias.  Deterministic
        by construction (md5-derived levels, id-ascending inserts), so a
        rebuild of the same snapshot is byte-identical — which is exactly
        what makes the incremental build EXACT: cells unchanged since a
        retained donor snapshot carry their graph partitions forward as
        file copies (each cell's graph is a pure function of its own
        immutable rows and (m, efc)) and only affected cells pay the
        per-cell insert loop (``_sidecar_carry_forward``).  At 100 TB
        under continuous ingest this turns per-compaction graph
        maintenance from O(corpus) (78 s/1M rows, SCALING finding 17)
        into O(affected cells)."""
        from vector_search_engine_spark.operators import hnsw

        m = int(m or hnsw.DEFAULT_M)
        efc = int(ef_construction or hnsw.DEFAULT_EF_CONSTRUCTION)
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]

        def build_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy())
            levels, layers = hnsw.build_cell_graph(
                ids, V, m=m, ef_construction=efc
            )
            rows = hnsw.graph_rows(
                int(pdf["centroid_id"].iloc[0]), ids, levels, layers
            )
            out = pd.DataFrame(
                rows, columns=["centroid_id", id_col, "level", "nbrs"]
            )
            out[vec_col] = list(pdf[vec_col])
            return out

        def encode(src: DataFrame) -> DataFrame:
            return (
                src.select("centroid_id", id_col, vec_col)
                .groupBy("centroid_id")
                .applyInPandas(
                    build_cell,
                    schema=(
                        f"centroid_id int, {id_col} long, level int, "
                        f"nbrs array<array<long>>, {vec_col} array<float>"
                    ),
                )
            )

        return self._sidecar(
            f"graph_m{m}_efc{efc}", snapshot, (),
            lambda base, donor: ({}, encode),
        )

    def search_graph(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        ef: int = 64,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids: DataFrame | None = None,
        snapshot: int | str | dict | None = None,
        round_output: bool = True,
        m: int | None = None,
        ef_construction: int | None = None,
    ) -> DataFrame:
        """Graph-accelerated probed search — the reference's own Q2/Q3
        algorithm (greedy upper-layer descent + level-0 beam,
        ``hnsw_index.h:223-262``) run inside each probed cell: candidate
        generation walks the cell's HNSW sidecar in O(ef·M·log n)
        distance evaluations instead of scanning the whole cell, then the
        beam's candidates get the exact GEMM-form rescore and the global
        ``(dist, id)`` top-k.

        EXACTNESS BOUND (the oracle's gate): every cell graph is connected
        by construction (operators/hnsw.py module docstring), so
        ``ef >= |cell|`` makes the beam provably exhaustive — full probe +
        unbounded ``ef`` is hash-identical to ``search()`` / exact kNN.
        Finite ``ef`` is the recall/latency knob, the direct twin of the
        reference's ``ef_search`` (recall pytest-gated like nprobe).

        Physical shape: the sidecar read prunes to the probed cells
        (partition filter on ``centroid_id``); the per-cell walk is an
        ``applyInPandas`` group — the one shuffle moves only the probed
        cells' graph rows, keyed exactly like the storage layout.  The
        walk is stateful-by-nature (a beam chases edges), which is
        precisely why it lives in a per-group pandas kernel rather than a
        row-expression: the reference's global graph does not distribute,
        per-cell graphs do.

        ``predicate`` / ``exclude_ids`` apply AFTER the walk (removing
        nodes before it would disconnect the graph): with an exhaustive
        beam the post-filter is exact; with finite ``ef`` it reduces
        effective candidates — the standard post-filter recall trade."""
        from vector_search_engine_spark.operators import hnsw

        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        spark = self.spark
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        cell_qids = {
            c: [int(qids[i]) for i in ix] for c, ix in cell_qidx.items()
        }
        qmap = {int(q): Q[i].astype(np.float64) for i, q in enumerate(qids)}
        bc_q = spark.sparkContext.broadcast(qmap)
        bc_cq = spark.sparkContext.broadcast(cell_qids)
        ef = max(int(ef), 1)

        graph_dir = self.ensure_graph(
            snapshot=snap, m=m, ef_construction=ef_construction
        )
        g = spark.read.parquet(graph_dir).filter(
            F.col("centroid_id").isin(needed)
        )

        def walk(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "qid": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "dist": pd.Series(dtype="float64"),
                }
            )
            if len(pdf) == 0:
                return empty
            cell = int(pdf["centroid_id"].iloc[0])
            probing = bc_cq.value.get(cell, [])
            if not probing:
                return empty
            pdf = pdf.sort_values(id_col, kind="stable").reset_index(drop=True)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            levels = pdf["level"].to_numpy(dtype=np.int64)
            layers = hnsw.layers_from_rows(ids, levels, pdf["nbrs"])
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            frames = []
            for qid in probing:
                qv = bc_q.value[int(qid)]
                beam = hnsw.search_cell_graph(ids, V, levels, layers, qv, ef)
                idx = np.fromiter(
                    (i for _, i in beam), dtype=np.int64, count=len(beam)
                )
                Vc = V[idx]
                # GEMM-form rescore for bit-parity with the flat tier's
                # local_topk (the beam's diff² navigation values can
                # differ in the last ulp)
                d = (Vc * Vc).sum(axis=1) - 2.0 * (Vc @ qv) + float(qv @ qv)
                np.maximum(d, 0.0, out=d)
                frames.append(
                    pd.DataFrame(
                        {"qid": int(qid), "neighbor_id": ids[idx], "dist": d}
                    )
                )
            return pd.concat(frames, ignore_index=True)

        cand = g.groupBy("centroid_id").applyInPandas(
            walk, schema="qid long, neighbor_id long, dist double"
        )
        if exclude_ids is not None:
            cand = cand.join(
                exclude_ids.select(
                    F.col(exclude_ids.columns[0]).alias("neighbor_id")
                ),
                "neighbor_id",
                "left_anti",
            )
        if predicate is not None:
            keep_ids = (
                self.vectors(snapshot=snap)
                .filter(F.col("centroid_id").isin(needed))
                .filter(predicate)
                .select(F.col(id_col).alias("neighbor_id"))
            )
            cand = cand.join(keep_ids, "neighbor_id", "left_semi")
        return _finalize_topk(cand, k, "l2_sq", round_output)

    def _sidecar_gen(self, snapshot: dict | None) -> str:
        """Generation tag for a derived-code sidecar dir.

        Sidecars are derived from exactly one manifest snapshot; keying
        the dir by that snapshot's id (``sq8_gen{N}``, ``pq_m{m}_r{r}_gen{N}``)
        gives them the same file-granularity EBR discipline as the base
        cells: a compaction commit never deletes a generation a pinned
        in-flight reader may still be scanning — ``invalidate_sidecars``
        GCs only generations no RETAINED snapshot references.  Pre-manifest
        raw layouts get a fixed tag."""
        if snapshot is None:
            snapshot = self._read_manifest()
        sid = (snapshot or {}).get("latest_gen")
        return "raw" if sid is None else str(int(sid))

    def _sidecar(
        self,
        tag: str,
        snapshot: dict | None,
        state_files: tuple[str, ...],
        prepare,
        subdir: str | None = None,
    ) -> str:
        """Build (once) the derived sidecar ``<tag>_gen{N}`` of the pinned
        snapshot and return its dir — the one lifecycle every ``ensure_*``
        tier shares.  A tier supplies only its ``tag``, the names of its
        dir-global ``state_files`` and ``prepare(base, donor)``, which
        loads the donor's state (``donor`` is a donor sidecar dir) or
        trains new state (``donor=None``) over the snapshot's float rows
        ``base`` and returns ``(state, encode)``: ``state`` maps each
        state file to its ndarray (``.npy``) or JSON value, ``encode``
        turns float rows into sidecar rows ready for the partitioned
        write.  ``prepare`` may reject the donor by returning None (the
        pcarot staleness rule); the build then runs in full.

        Commit protocol:

        * **Ready.** A dir is ready when its rows dir (``subdir`` of the
          dir, or the dir itself) holds ``_SUCCESS`` and the dir holds
          every state file (``_sidecar_ready``).  The lock-free fast
          path, the double check under ``_SIDECAR_LOCK`` and the donor
          search all use this one test.
        * **Write order.** Every build, full or incremental, starts from
          an empty dir, copies the carried partitions, writes the state
          files (tmp + rename), writes the rows of the cells left to
          build to ``<rows dir>.build`` and moves them in with
          ``_merge_built_partitions``, which writes ``_SUCCESS`` last.
          ``_SUCCESS`` is the only commit point: a build cut short at any
          step leaves a dir that is not ready, and the next call
          rebuilds it from empty.
        * **Donors.** ``_sidecar_carry_forward`` takes the newest ready
          dir of a retained snapshot with the same ``tag`` and carries
          the partitions of the cells unchanged since then; a donor
          missing a state file is not ready, so it never donates."""
        if not f"{tag}_gen".startswith(_SIDECAR_PREFIXES):
            raise ValueError(
                f"sidecar tag {tag!r} matches no _SIDECAR_PREFIXES entry; "
                "invalidate_sidecars would never GC it"
            )
        if snapshot is None:
            snapshot = self._read_manifest()
        root = os.path.join(
            self.index_dir, f"{tag}_gen{self._sidecar_gen(snapshot)}"
        )
        if _sidecar_ready(root, state_files, subdir):
            return root
        with _SIDECAR_LOCK:
            if _sidecar_ready(root, state_files, subdir):
                return root
            build, donor = self._sidecar_carry_forward(
                tag, snapshot, state_files, subdir
            )
            base = self.vectors(snapshot=snapshot)
            prepared = prepare(base, donor) if build is not None else None
            if prepared is None:
                build, prepared = None, prepare(base, None)
            state, encode = prepared
            rows_dir = os.path.join(root, subdir) if subdir else root
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(rows_dir)
            if build is not None:
                donor_rows = os.path.join(donor, subdir) if subdir else donor
                for c in snapshot["cells"]:
                    if int(c) not in build:
                        shutil.copytree(
                            os.path.join(donor_rows, f"centroid_id={c}"),
                            os.path.join(rows_dir, f"centroid_id={c}"),
                        )
                base = base.filter(F.col("centroid_id").isin(build))
            for name, value in state.items():
                _write_state(os.path.join(root, name), value)
            built = None
            if build != []:  # [] = every cell carried: no Spark write
                built = rows_dir + ".build"
                encode(base).write.mode("overwrite").partitionBy(
                    "centroid_id"
                ).parquet(built)
            _merge_built_partitions(built, rows_dir)
        return root

    def _sidecar_carry_forward(
        self,
        tag: str,
        snap: dict | None,
        state_files: tuple[str, ...] = (),
        subdir: str | None = None,
    ) -> tuple[list[int] | None, str | None]:
        """Per-cell sidecar reuse across manifest generations.

        A compaction/rebalance commit bumps the SNAPSHOT id, but the
        manifest maps every cell to its own per-cell generation
        (``cells: {cell: gen}``) and a cell's ``gen=g/centroid_id=c``
        data dir is immutable — so any cell whose (cell → gen) entry is
        unchanged between two retained snapshots has byte-identical
        source rows, and every sidecar encoding is a pure function of
        those rows given the dir-local global state (SQ: none — per-row
        lo/hi; graph: none — md5 levels + id-ascending inserts,
        ``hnsw.py``; BQ: ``thresholds.json``; PQ: ``codebooks.npy`` /
        ``rotation.npy``; pcarot: ``rotation.npy`` — which ``prepare``
        loads from the same donor).  Unchanged cells' sidecar partitions
        are therefore carried forward as file copies and only affected
        cells are rebuilt: steady-state ingest maintenance is O(affected
        cells), not O(corpus) — the scale fix r10's verdict named
        (previously every commit invalidated ALL cells' sidecars).

        Looks for a donor among RETAINED snapshots (manifest ``history``,
        newest first, skipping ``snap`` itself) whose sidecar with the
        same parameter ``tag`` is ready (``_sidecar_ready``: ``_SUCCESS``
        and every state file).  EBR makes the donor safe to read:
        retained snapshots' sidecars are exactly the dirs
        ``invalidate_sidecars`` keeps.

        Returns ``(cells_to_build, donor_dir)``: ``(None, None)`` when
        there is no donor or nothing carries over (the caller does a full
        build); otherwise every cell of ``snap`` outside
        ``cells_to_build`` (possibly empty) has a partition in the donor
        to copy."""
        sid = (snap or {}).get("latest_gen")
        if sid is None or not snap or not snap.get("cells"):
            return None, None
        for entry in reversed((self._read_manifest() or {}).get("history") or []):
            esid = entry.get("snapshot_id")
            if esid is None or int(esid) == int(sid):
                continue
            donor = os.path.join(self.index_dir, f"{tag}_gen{int(esid)}")
            if _sidecar_ready(donor, state_files, subdir):
                break
        else:
            return None, None
        rows = os.path.join(donor, subdir) if subdir else donor
        donor_cells = {str(c): int(g) for c, g in entry["cells"].items()}
        build = sorted(
            int(c)
            for c, g in snap["cells"].items()
            if donor_cells.get(str(c)) != int(g)
            or not os.path.isdir(os.path.join(rows, f"centroid_id={c}"))
        )
        if len(build) == len(snap["cells"]):
            return None, None
        return build, donor

    def invalidate_sidecars(self) -> None:
        """GC derived sidecars (every ``_SIDECAR_PREFIXES`` dir: sq8_gen* /
        sq4_gen* / pq_*_gen* / bq_gen* / graph_m*_gen* / pcarot*_gen*)
        whose snapshot is no longer retained by the manifest.

        Must run after ANY commit that changes cell contents — rebalance
        does it internally; external compactors (the streaming engine's
        fold-delta) call it after ``commit_cells``.  Sidecars are keyed by
        the snapshot they encode, so this never deletes codes an in-flight
        pinned search may still be scanning: the just-superseded snapshot
        stays in the manifest ``history`` for the retention grace window
        (exactly the base cells' EBR rule), and only sidecars of evicted
        snapshots — plus legacy unversioned dirs — are removed.

        Runs under ``_SIDECAR_LOCK``: an ``ensure_*`` build in progress
        holds that lock while its transient ``<tag>_gen{N}.build`` tmp
        dir exists, so a compaction committing on another thread can no
        longer GC the in-flight tmp between the Spark write and
        ``_merge_built_partitions`` (the merge would otherwise move
        nothing and still publish _SUCCESS — a sidecar silently missing
        the rebuilt cells).  Belt-and-braces, ``.build`` suffixes are
        also stripped before the retention check, so an in-flight build
        for a RETAINED generation is never GC'd even by a caller that
        bypasses the lock."""
        m = self._read_manifest() or {}
        retained = {
            str(int(e["snapshot_id"]))
            for e in (m.get("history") or [])
            if e.get("snapshot_id") is not None
        }
        if m.get("latest_gen") is not None:
            retained.add(str(int(m["latest_gen"])))
        with _SIDECAR_LOCK:
            for prefix in _SIDECAR_PREFIXES:
                for d in glob.glob(os.path.join(self.index_dir, prefix + "*")):
                    tag = os.path.basename(d).rsplit("_gen", 1)
                    gen = tag[1] if len(tag) == 2 else ""
                    if gen.endswith(".build"):
                        gen = gen[: -len(".build")]
                    if len(tag) == 2 and gen in retained:
                        continue  # still referenced by a retained snapshot
                    shutil.rmtree(d, ignore_errors=True)

    def center_map(self, manifest: dict | None = None) -> dict[int, np.ndarray]:
        """centroid_id → float64 centroid vector (broadcastable; a few MB
        even at thousands of cells).  Pass a pinned manifest to get the
        centroid geometry THAT snapshot's codes were trained against."""
        if manifest is not None:
            cids, cents = self._centroids_for(manifest)
            return {int(c): cents[i].astype(np.float64) for i, c in enumerate(cids)}
        return {
            int(cid): self.centroids[i].astype(np.float64)
            for i, cid in enumerate(self.centroid_ids)
        }

    def ensure_pq(
        self,
        m: int = 8,
        residual: bool = True,
        snapshot: dict | None = None,
        opq: bool = False,
    ) -> tuple[str, np.ndarray]:
        """Write (once) the PQ sidecar: m-byte codes + residual norms,
        partitioned by ``centroid_id`` like the float vectors, so probing
        prunes the SAME partitions while scanning ~dim·4/m× fewer bytes
        (32× at dim 64, m 8 — the deepest compression tier; see
        operators/pq.py).  Codebooks land as an .npy beside the
        ``codes/`` dir, written BEFORE the parquet so a crash can't leave
        codes whose codebooks were lost (``codes/_SUCCESS`` is the commit
        point — ``_sidecar``; the rebalance path removes the whole dir).

        ``residual=True`` (default) is IVFADC: codes quantize
        x − centroid(x), whose norms shrink with coarse-quantizer quality
        — measured as the difference between a no-op bound cut and a
        working one (SCALING.md finding 8).  The sidecar dir is keyed by
        (m, residual, snapshot generation) so modes never alias each
        other's codes AND a compaction commit can never invalidate codes
        an in-flight pinned search still scans (``_sidecar_gen``).

        ``snapshot``: the pinned manifest dict the caller's search uses —
        codes, residual geometry, and the float re-score base then all
        come from the SAME snapshot.  Builds are serialized behind a
        module lock (double-checked readiness, ``_sidecar``) so
        concurrent callers can't interleave partial writes into one
        dir.

        Incremental across generations like the other sidecars
        (``_sidecar_carry_forward``): when a retained donor snapshot has
        this parameter set built, its ``codebooks.npy`` (and OPQ
        ``rotation.npy``) are carried forward EXPLICITLY and only
        affected cells are re-encoded against them — unchanged cells'
        code partitions are file copies, so scan and codebooks agree
        within-dir by construction.  Codebooks retrain only on
        from-scratch builds; the triangle-inequality bound cut is valid
        for ANY codebook (the bound uses the code's actual
        reconstruction error), so exactness-gated configurations are
        unaffected by codebook age."""
        from vector_search_engine_spark.operators.pq import (
            _rotated_view,
            opq_train,
            pq_encode,
            pq_train,
        )

        if snapshot is None:
            snapshot = self._read_manifest()
        vec_col = self.meta["vec_col"]

        def prepare(base: DataFrame, donor: str | None):
            cm = self.center_map(snapshot) if residual else None
            R = None
            if donor:
                books = np.load(os.path.join(donor, "codebooks.npy"))
                if opq:
                    R = np.load(os.path.join(donor, "rotation.npy"))
            elif opq:
                # IVFADC-OPQ: the rotation is learned over residuals;
                # (x − c)·R ≡ x·R − c·R, so encoding reads a rotated
                # vector view against a rotated center map and the code
                # kernel itself is unchanged
                R, books = opq_train(base, m=m, vec_col=vec_col, center_map=cm)
            else:
                books = pq_train(base, m=m, vec_col=vec_col, center_map=cm)

            def encode(src: DataFrame) -> DataFrame:
                enc_in, enc_cm = src, cm
                if opq:
                    enc_in = _rotated_view(
                        src, R, self.meta["id_col"], vec_col,
                        keep_cols=("centroid_id",),
                    )
                    enc_cm = {cid: c @ R for cid, c in cm.items()} if cm else None
                return pq_encode(
                    enc_in,
                    books,
                    id_col=self.meta["id_col"],
                    vec_col=vec_col,
                    keep_cols=("centroid_id",),
                    center_map=enc_cm,
                ).repartition("centroid_id")

            state = {"codebooks.npy": books}
            if opq:
                state["rotation.npy"] = R
            return state, encode

        pq_dir = self._sidecar(
            f"pq_m{m}_r{int(residual)}{'_opq' if opq else ''}",
            snapshot,
            ("codebooks.npy",) + (("rotation.npy",) if opq else ()),
            prepare,
            subdir="codes",
        )
        return (
            os.path.join(pq_dir, "codes"),
            np.load(os.path.join(pq_dir, "codebooks.npy")),
        )

    def search_pq(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        m: int = 8,
        qid_col: str = "qid",
        qvec_col: str = "query",
        candidates_per_partition: int | None = None,
        residual: bool = True,
        exclude_ids: DataFrame | None = None,
        predicate=None,
        snapshot: int | str | dict | None = None,
        opq: bool = False,
        round_output: bool = True,
    ) -> DataFrame:
        """Probed search over the PQ sidecar: ADC byte-code scan of the
        probed cells with the triangle-inequality bound cut (provably a
        superset of the true top-k — operators/pq.py docstring), then an
        exact float re-score of the survivors.  Identical to ``search()``
        at the same nprobe and to exact kNN at full probe — the same
        hash-gated oracle applies.  The code sidecar is keyed by (and
        built from) the pinned snapshot, so a concurrent compaction can
        neither skew nor delete it mid-search (``_sidecar_gen``); the
        same keying makes ``snapshot`` (retained id / ``"prev"`` /
        negative offset) an AS-OF search through the quantized tier.

        ``residual=True`` (IVFADC, the default) quantizes against the
        cell centroid — tighter residuals, working bound cut; the ADC
        lookup table becomes per (query, probed cell), still tiny.

        ``candidates_per_partition`` switches the cut to the classic
        top-C ADC mode (approximate recall, exact distances) — the scale
        path when residuals are too large to prune losslessly; see
        ``pq_bound_cut``.

        ``predicate``: optional metadata Column over the index's extra
        columns (filtered search at the PQ tier — the filtered × quantized
        cell of the capability matrix).  Like ``exclude_ids``, it must
        apply BEFORE the bound cut: a disqualified vector's small upper
        bound would otherwise tighten the k-th ub and evict a legitimate
        survivor.  Predicate columns live in the float table, not the
        codes sidecar, so qualifying ids come from a column-pruned
        metadata read of the probed cells (id + predicate columns only —
        no vector bytes) semi-joined against the codes; the PQ tier's
        scan-byte win is untouched."""
        from vector_search_engine_spark.operators.pq import (
            _adc_lut,
            bound_cut_mask,
        )

        id_col = self.meta["id_col"]
        spark = self.spark
        plan = self._probe_plan(queries, nprobe, snapshot, qid_col, qvec_col)
        if plan is None:
            return self._empty_topk()
        qids, Q, snap, needed, cell_qidx = plan
        codes_dir, books = self.ensure_pq(
            m=m, residual=residual, snapshot=snap, opq=opq
        )
        # OPQ (opq=True): codes live in rotated space; rotating BOTH the
        # query map and the center map keeps the per-(query, cell) LUT
        # math identical ((q − c)·R = q·R − c·R) with zero kernel changes.
        # The rescore below uses the UNrotated base — distances are
        # rotation-invariant, so results match the plain tier exactly.
        R = (
            np.load(os.path.join(os.path.dirname(codes_dir), "rotation.npy"))
            if opq
            else None
        )
        # codes cross the Python boundary once and decode once per cell
        # slice (see search()); the ADC LUT is per (query, cell) pair.
        # Cut group is (cell slice of an Arrow batch, query) — for the
        # lossless bound a still-lossless superset (exact rescore
        # unchanged); for top-C mode a per-cell-slice C.
        q_bc = self._query_broadcast(
            qids, Q if R is None else Q.astype(np.float64) @ R, cell_qidx
        )
        books_bc = spark.sparkContext.broadcast(books)
        cm = self.center_map(snap) if residual else None
        if cm is not None and R is not None:
            cm = {cid: c @ R for cid, c in cm.items()}
        cm_bc = spark.sparkContext.broadcast(cm) if residual else None
        cand_codes = self._sidecar_cells(
            codes_dir, snap, needed, exclude_ids, predicate,
            cols=("code", "resid"),
        )

        def adc_cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # r18: candidate (qid, id) pairs accumulate across the task and
            # cross Arrow ONCE per task — the r17 shape yielded one tiny
            # DataFrame per (cell, query) pair (|Q|·nprobe Arrow batches per
            # task).  The cut math per (cell slice, query) is UNCHANGED:
            # same LUT, same d_adc, same argpartition / bound mask — the
            # candidate SET is identical, only its framing is batched.
            B = books_bc.value
            m_, _, _ = B.shape
            qids_, Qs_, cq = q_bc.value
            CM = cm_bc.value if cm_bc is not None else None
            out = _Rows()
            cols = np.arange(m_)[None, :]
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                codes = pdf["code"].to_numpy()
                resid_all = pdf["resid"].to_numpy(dtype=np.float64)
                for cid, qidx, rows in _cell_slices(pdf, cq):
                    ids = ids_all[rows]
                    raw = np.frombuffer(b"".join(codes[rows]), dtype=np.uint8)
                    Cc = raw.reshape(len(ids), m_)
                    resid = resid_all[rows]
                    for qi in qidx:
                        q = Qs_[qi]
                        if CM is not None:
                            q = q - CM[cid]
                        lut = _adc_lut(q, B)
                        # ADC: d̂ = Σ_j lut[j, code_j] — m lookups/vector
                        d_adc = lut[cols, Cc].sum(axis=1)
                        np.maximum(d_adc, 0.0, out=d_adc)
                        if candidates_per_partition is not None:
                            keep_n = min(
                                max(candidates_per_partition, k), len(ids)
                            )
                            part = np.argpartition(d_adc, keep_n - 1)[:keep_n]
                            kept = ids[part]
                        else:
                            kept = ids[bound_cut_mask(d_adc, resid, k)]
                        out.add(qids_[qi], kept)
            yield from out.emit()

        cand = cand_codes.mapInPandas(
            adc_cut, schema="qid long, neighbor_id long"
        )
        return self._exact_rescore(
            cand, snap, needed, k, round_output, queries, qids, Q, qid_col,
            qvec_col,
        )

    def radius_search(
        self,
        queries: DataFrame,
        radius_sq: float,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids=None,
        round_output: bool = True,
    ) -> DataFrame:
        """EXACT range search with index pruning: all (query, vector) pairs
        with squared L2 <= radius_sq, scanning only cells that can contain
        a hit.  Triangle inequality on the coarse quantizer: for v in cell
        c, d(q,v) >= d(q,centroid_c) - R_c where R_c is the cell's max
        member distance (stored squared at build; compared via sqrt), so a
        cell is probed iff sqrt(d(q,c)) <= r + R_c.  Unlike top-k probing
        this prunes with zero recall loss — results are bit-identical to
        the brute-force scan (the same oracle SQL gates both).

        ``predicate``: optional metadata Column — pre-filtering is
        trivially lossless here (the radius is absolute; no k-th-bound
        interplay), so it simply narrows the scan.
        """
        spark = self.spark
        id_col = self.meta["id_col"]
        vec_col = self.meta["vec_col"]
        qids, Q = knn_query_arrays(queries, qid_col, qvec_col)
        if len(qids) == 0:
            return spark.createDataFrame([], "qid long, neighbor_id long, dist_sq double")

        # pin one (manifest, centroids) view for radii, probes, and scan
        snap = self._pin(None)
        cids, C, R = self._cell_radii(snap)
        Dqc = l2_sq_matrix(Q.astype(np.float64), C)  # (|Q|, C)
        r = float(np.sqrt(radius_sq))
        qi, ci = np.nonzero(np.sqrt(Dqc) <= r + R[None, :])
        pairs = [(int(qids[a]), int(cids[b])) for a, b in zip(qi, ci)]
        if not pairs:
            return spark.createDataFrame([], "qid long, neighbor_id long, dist_sq double")
        needed = sorted({c for _, c in pairs})
        # the kernel keeps the per-query matrix-vector distance form:
        # these distances ARE the output values
        bc = self._query_broadcast(qids, Q, self._cell_map(qids, pairs))
        cand = self._float_cells(snap, needed, exclude_ids, predicate)

        def in_radius(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qids_, Q_, cq = bc.value
            out = _Rows("dist")
            for pdf in batches:
                ids_all = pdf[id_col].to_numpy(dtype=np.int64)
                vecs = pdf[vec_col].to_numpy()
                for _, qidx, rows in _cell_slices(pdf, cq):
                    ids = ids_all[rows]
                    V = np.stack(vecs[rows]).astype(np.float64)
                    VV = (V * V).sum(axis=1)
                    for qi in qidx:
                        q = Q_[qi]
                        d = VV - 2.0 * (V @ q) + float(q @ q)
                        np.maximum(d, 0.0, out=d)
                        hit = d <= radius_sq
                        out.add(qids_[qi], ids[hit], d[hit])
            yield from out.emit()

        out = cand.mapInPandas(
            in_radius, schema="qid long, neighbor_id long, dist double"
        )
        d = (
            F.round("dist", 4) if round_output else F.col("dist").cast("double")
        )
        return out.select("qid", "neighbor_id", d.alias("dist_sq"))

    def radius_search_distributed(
        self,
        queries: DataFrame,
        radius_sq: float,
        qid_col: str = "qid",
        qvec_col: str = "query",
        predicate=None,
        exclude_ids: DataFrame | None = None,
        round_output: bool = True,
    ) -> DataFrame:
        """EXACT range search for DATASET-SIZED query tables — the RANGE
        sibling of ``search_distributed`` (r13), completing the bulk
        path's coverage of the serving surface.  Same zero-recall-loss
        triangle-inequality cell prune as ``radius_search`` (cell probed
        iff sqrt(d(q,c)) <= r + R_c), but the prune runs INSIDE the
        query table's partitions (``_triangle_probes``: the centroid
        matrix AND the per-cell radii ride a broadcast, both O(cells) —
        a few MB at 4096 cells), so queries never visit the driver.
        Probe hits meet the float cells in a per-cell cogroup (scan
        pruned to the probed-cell set — one bounded distinct-collect,
        ≤ n_cells ints, same class as ``_probed_cells_distributed``),
        and the per-cell kernel emits exactly the within-radius pairs.
        Bit-identical to ``radius_search`` / the brute-force oracle.

        ``exclude_ids`` anti-joins the index side pre-scan (merged
        engine contract); ``predicate`` narrows the scan losslessly
        (the radius is absolute — no k-th-bound interplay)."""
        snap = self._read_manifest()
        probes = self._triangle_probes(
            queries.select(
                qid_col, qvec_col, F.lit(float(np.sqrt(radius_sq))).alias("_r")
            ),
            snap, qid_col, qvec_col,
        )
        needed = sorted(
            int(x[0])
            for x in probes.select("centroid_id").distinct().collect()
        )
        if not needed:
            return self.spark.createDataFrame(
                [], "qid long, neighbor_id long, dist_sq double"
            )
        base = self._float_cells(snap, needed, exclude_ids, predicate)
        # r18 (finding 48's shape applied to the radius sibling): the scan
        # is a per-cell COGROUP (``_cell_cogroup``) — cells shuffle once
        # + probe stubs, one stack per cell.  The distance arithmetic
        # stays the PER-QUERY matrix-vector expression (these distances
        # ARE the output values, rounded at 4 decimals — the GEMM form
        # could differ in the last ulp), and each row's dot product is
        # row-independent, so the emitted values are byte-identical to
        # the join shape.
        def cell_radius(cid, qpdf: pd.DataFrame, vpdf: pd.DataFrame):
            qv = qpdf["query"].to_numpy()
            ids = vpdf["nid"].to_numpy(dtype=np.int64)
            V = np.stack(vpdf["nvec"].to_numpy()).astype(np.float64)
            VV = (V * V).sum(axis=1)
            out = _Rows("dist")
            for j, qid in enumerate(qpdf["qid"].to_numpy(dtype=np.int64)):
                q = np.asarray(qv[j], dtype=np.float32).astype(np.float64)
                d = VV - 2.0 * (V @ q) + float(q @ q)
                np.maximum(d, 0.0, out=d)
                hit = d <= radius_sq
                out.add(qid, ids[hit], d[hit])
            return out.frame()

        out = self._cell_cogroup(
            probes, base, (F.col(self.meta["vec_col"]).alias("nvec"),),
            cell_radius, "qid long, neighbor_id long, dist double",
        )
        d = (
            F.round("dist", 4) if round_output else F.col("dist").cast("double")
        )
        return out.select("qid", "neighbor_id", d.alias("dist_sq"))


# ---------------------------------------------------------------------------
# Cached build for the query registry (the driver re-invokes callables in
# fresh sessions; rebuilding KMeans per call would dominate runtimes)
# ---------------------------------------------------------------------------

_CACHE_ROOT = os.environ.get("VSE_INDEX_CACHE", "/tmp/vse_index_cache")


def _data_fingerprint(path: str) -> str:
    """Cheap content fingerprint (size + mtime of the source parquet) —
    regenerated fixtures at the same path must not hit a stale index."""
    import hashlib

    files = (
        sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if os.path.isdir(path)
        else [path]
    )
    h = hashlib.md5()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:10]


# Guards the get/prune/set below; entries from stopped sessions are pruned
# on every call (one live application per process in practice), so the
# cache can't retain dead SparkSession/centroid references for the
# process lifetime.  _KEY_LOCKS serializes the build-or-construct section
# per index_dir (held OUTSIDE _INSTANCE_LOCK, which stays dict-ops-only):
# concurrent callers racing on the same key get exactly one disk build and
# one IVFIndex instance instead of redundant double work.
_INSTANCE_LOCK = threading.Lock()
_INSTANCE_CACHE: dict[tuple[str, str], "IVFIndex"] = {}
_KEY_LOCKS: dict[str, threading.Lock] = {}


def build_or_load(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int | None = None,
    table: str = "embeddings",
    extra_cols: tuple[str, ...] = ("label",),
    normalized: bool = False,
    geometry: str | None = None,
) -> IVFIndex:
    """``geometry`` selects the vector transform the index is built over
    (cache-keyed so modes never alias):

    * ``"l2"`` (default) — raw vectors, L2 search;
    * ``"cosine"`` (or legacy ``normalized=True``) — L2-normalized
      copies: unit-vector L2² is ``2 − 2·cos``, strictly monotone in
      cosine, so probing and ranking order exactly as cosine would;
    * ``"mips"`` — the inner-product→L2 reduction (Bachrach et al.,
      RecSys 2014): augment each vector with ``sqrt(M² − ‖x‖²)`` (M =
      max norm), making every row norm M; with queries padded by a zero
      the augmented L2² is ``‖q‖² + M² − 2⟨q,x⟩`` — monotone decreasing
      in the inner product, so L2 probing ranks exactly as MIPS."""
    geometry = geometry or ("cosine" if normalized else "l2")
    if geometry not in ("l2", "cosine", "mips"):
        raise ValueError(f"unknown geometry {geometry!r}")
    fp = _data_fingerprint(f"{sf_dir}/{table}.parquet")
    key = (
        f"{sf_dir.strip('/').replace('/', '_')}_{table}_"
        f"{'' if geometry == 'l2' else geometry + '_'}"
        f"{n_centroids or 'auto'}_{fp}_v3"
    )
    index_dir = os.path.join(_CACHE_ROOT, key)
    # instance cache per (session, immutable fingerprint-keyed dir): a
    # fresh IVFIndex re-reads meta + centroids on every construction,
    # which is pure overhead for repeated queries against the same data
    app_id = spark.sparkContext.applicationId
    cache_key = (app_id, index_dir)
    with _INSTANCE_LOCK:
        stale = [k for k in _INSTANCE_CACHE if k[0] != app_id]
        for k in stale:
            del _INSTANCE_CACHE[k]
        if stale:
            # Prune _KEY_LOCKS alongside the dead-app eviction: a lock
            # whose index_dir backs no cached instance and is uncontended
            # belongs to finished (dead-session) work — dropping it keeps
            # the dict from growing one entry per fingerprint-keyed dir
            # for the process lifetime.
            live_dirs = {k[1] for k in _INSTANCE_CACHE}
            for d in [
                d
                for d, lk in _KEY_LOCKS.items()
                if d not in live_dirs and d != index_dir and not lk.locked()
            ]:
                del _KEY_LOCKS[d]
        inst = _INSTANCE_CACHE.get(cache_key)
        klock = _KEY_LOCKS.setdefault(index_dir, threading.Lock())
    if inst is not None:
        return inst
    with klock:
        # double-check under the per-key lock: a racing caller may have
        # finished the build while this one waited
        with _INSTANCE_LOCK:
            inst = _INSTANCE_CACHE.get(cache_key)
        if inst is not None:
            return inst
        return _build_or_construct(
            spark, sf_dir, table, extra_cols, geometry,
            n_centroids, index_dir, cache_key,
        )


def _build_or_construct(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    extra_cols: tuple[str, ...],
    geometry: str,
    n_centroids: int | None,
    index_dir: str,
    cache_key: tuple[str, str],
) -> IVFIndex:
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        os.makedirs(_CACHE_ROOT, exist_ok=True)
        vectors = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        if geometry == "cosine":
            vectors = vectors.select(
                "vec_id",
                normalize(F.col("embedding")).cast("array<float>").alias(
                    "embedding"
                ),
                *extra_cols,
            )
        elif geometry == "mips":
            sq_norm = dot(F.col("embedding"), F.col("embedding"))
            m2 = vectors.agg(F.max(sq_norm).alias("m2")).collect()[0]["m2"]
            vectors = vectors.select(
                "vec_id",
                F.concat(
                    F.col("embedding").cast("array<double>"),
                    F.array(F.sqrt(F.greatest(F.lit(float(m2)) - sq_norm, F.lit(0.0)))),
                ).cast("array<float>").alias("embedding"),
                *extra_cols,
            )
        IVFIndex.build(
            vectors, index_dir, n_centroids=n_centroids, extra_cols=extra_cols
        )
    inst = IVFIndex(spark, index_dir)
    with _INSTANCE_LOCK:
        _INSTANCE_CACHE[cache_key] = inst
    return inst


def _no_knob(c, scan):
    return {}


# The tier tables: each serving tier is the same probed top-k with a
# different candidate cut, so a tier is just (IVFIndex method, the kwargs
# its own knob takes from the shared options).  The shared options are
# ``candidates_per_cell`` C — the sign tiers' stage-1 budget, the graph
# tier's beam width (unbounded C → exhaustive beam → exact) — and the
# bulk float tier's ``scan`` shape.  Every tier is exact-equivalent to
# the float probe at full probe (lossless cuts, or unbounded C), so
# callers that rescore (the metric wrappers) or merge (the streaming
# engine) hold tier-independently.  ``_run_tier`` is the one place a
# tier name becomes a call.
_SERVING_TIERS = {
    "float": ("search", _no_knob),
    "sq8": ("search_sq8", _no_knob),
    "sq4": ("search_sq8", lambda c, scan: {"bits": 4}),
    "pq": ("search_pq", _no_knob),
    "bq": ("search_bq", lambda c, scan: {"candidates_per_cell": c}),
    "prefix": ("search_prefix", _no_knob),
    "prefix_pca": ("search_prefix_pca", _no_knob),
    "cascade": ("search_cascade", lambda c, scan: {"candidates_per_cell": c}),
    "graph": ("search_graph", lambda c, scan: {"ef": c or 64}),
}
_DISTRIBUTED_TIERS = {
    "float": ("search_distributed", lambda c, scan: {"scan": scan}),
    "sq8": ("search_sq8_distributed", _no_knob),
    "cascade": (
        "search_cascade_distributed",
        lambda c, scan: {"candidates_per_cell": c},
    ),
}


def _run_tier(
    index: "IVFIndex",
    tiers: dict,
    tier: str,
    queries,
    candidates_per_cell: int | None = None,
    scan: str = "join",
    **kwargs,
) -> DataFrame:
    """Run ``tier`` of a tier table (``_SERVING_TIERS`` /
    ``_DISTRIBUTED_TIERS``) on ``index``; ``kwargs`` are the arguments
    every tier of the table shares (k, nprobe, predicate, ...)."""
    if tier not in tiers:
        raise ValueError(
            f"unknown tier {tier!r}; expected one of {', '.join(tiers)}"
        )
    method, knob = tiers[tier]
    return getattr(index, method)(
        queries, **knob(candidates_per_cell, scan), **kwargs
    )


def _metric_queries(Q: np.ndarray, metric: str) -> np.ndarray:
    """Driver-side query arrays moved into the L2 geometry the metric's
    index is built over (``build_or_load``'s ``geometry``): unit rows
    for cosine, a zero last coordinate for the MIPS augmentation."""
    if metric == "cosine":
        norms = np.linalg.norm(Q.astype(np.float64), axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return (Q.astype(np.float64) / norms).astype(np.float32)
    return np.hstack(
        [Q.astype(np.float32), np.zeros((len(Q), 1), dtype=np.float32)]
    )


def _metric_query_col(query, metric: str):
    """``_metric_queries`` as a column expression, for query tables."""
    if metric == "cosine":
        return normalize(query).cast("array<float>")
    return F.concat(query.cast("array<double>"), F.array(F.lit(0.0))).cast(
        "array<float>"
    )


def _metric_rescore(
    cand: DataFrame, original_vectors: DataFrame, qdf: DataFrame, metric: str
) -> DataFrame:
    """The metric wrappers' exact stage: L2 candidates ``(qid,
    neighbor_id)`` rejoin the ORIGINAL vectors and the original queries
    ``qdf`` ``(qid, query)`` and get the exact ``cosine_sim`` / ``dot``
    as ``dist`` — the same expression the flat path and the oracle
    use."""
    sim = cosine_sim if metric == "cosine" else dot
    return (
        cand.join(
            original_vectors.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            "neighbor_id",
        )
        .join(qdf, "qid")
        .select(
            "qid",
            "neighbor_id",
            sim(F.col("embedding"), F.col("query")).alias("dist"),
        )
    )


def _metric_search(
    metric, index, original_vectors, queries, k, nprobe, candidate_margin,
    predicate, tier, candidates_per_cell,
) -> DataFrame:
    """``search_cosine`` / ``search_ip``: a serving-tier L2 search of the
    transformed queries for ``k + candidate_margin`` candidates, then
    the exact metric top-k on the original vectors."""
    qids, Q = knn_query_arrays(queries)
    if len(qids) == 0:
        return index.spark.createDataFrame(
            [], "qid long, neighbor_id long, rank long, sim double"
        )
    cand = _run_tier(
        index, _SERVING_TIERS, tier, (qids, _metric_queries(Q, metric)),
        candidates_per_cell,
        k=k + candidate_margin, nprobe=nprobe, predicate=predicate,
    ).select("qid", "neighbor_id")
    qdf = F.broadcast(_queries_df(index.spark, queries, qids, Q))
    return _finalize_topk(
        _metric_rescore(cand, original_vectors, qdf, metric), k, metric
    )


def _metric_search_distributed(
    metric, index, original_vectors, queries, k, nprobe, candidate_margin,
    tier, candidates_per_cell,
) -> DataFrame:
    """``search_{cosine,ip}_distributed``: the query transform is a
    column expression inside the query table's partitions and both
    rescore joins are ordinary shuffle joins — nothing per-query visits
    the driver."""
    tq = queries.select(
        "qid", _metric_query_col(F.col("query"), metric).alias("query")
    )
    cand = _run_tier(
        index, _DISTRIBUTED_TIERS, tier, tq, candidates_per_cell,
        k=k + candidate_margin, nprobe=nprobe,
    ).select("qid", "neighbor_id")
    return _finalize_topk(
        _metric_rescore(
            cand, original_vectors, queries.select("qid", "query"), metric
        ),
        k,
        metric,
    )


def search_cosine(
    index: IVFIndex,
    original_vectors: DataFrame,
    queries,
    k: int = 10,
    nprobe: int = 4,
    candidate_margin: int = 10,
    predicate=None,
    tier: str = "float",
    candidates_per_cell: int | None = None,
) -> DataFrame:
    """Cosine ANN through an L2 index over normalized vectors.

    Squared L2 on unit vectors is ``2 − 2·cos`` — strictly monotone in
    cosine — so probing and candidate ranking on the normalized index
    order exactly as cosine would.  Candidates (top ``k +
    candidate_margin`` per query, absorbing float32-normalization
    rounding among near-ties) are then re-scored with EXACT cosine on
    the ORIGINAL vectors — the same ``cosine_sim`` expression the flat
    path and the DuckDB oracle use — so at full probe the output is
    hash-identical to ``knn_exact(metric='cosine')``.

    The index must have been built with ``build_or_load(...,
    normalized=True)`` (or equivalent); ``original_vectors`` is the
    unnormalized table the similarities are reported against."""
    return _metric_search(
        "cosine", index, original_vectors, queries, k, nprobe,
        candidate_margin, predicate, tier, candidates_per_cell,
    )


def search_ip(
    index: IVFIndex,
    original_vectors: DataFrame,
    queries,
    k: int = 10,
    nprobe: int = 4,
    candidate_margin: int = 10,
    predicate=None,
    tier: str = "float",
    candidates_per_cell: int | None = None,
) -> DataFrame:
    """Maximum-inner-product ANN through a MIPS-augmented L2 index
    (``build_or_load(..., geometry="mips")``): queries pad a zero
    coordinate, so augmented L2² is ``‖q‖² + M² − 2⟨q,x⟩`` — monotone
    decreasing in the inner product.  Candidates are re-scored with the
    exact dot product on the ORIGINAL vectors; at full probe the output
    is hash-identical to ``knn_exact(metric='ip')``."""
    return _metric_search(
        "ip", index, original_vectors, queries, k, nprobe,
        candidate_margin, predicate, tier, candidates_per_cell,
    )


def cosine_radius_search(
    index: IVFIndex,
    original_vectors: DataFrame,
    queries,
    min_sim: float,
) -> DataFrame:
    """EXACT cosine threshold search with index pruning: every (query,
    vector) pair with cosine ≥ ``min_sim``.

    On the normalized index, ``cos ≥ t ⇔ unit-L2² ≤ 2 − 2t``, so the
    L2 radius search's triangle-inequality cell pruning applies
    unchanged; the probe radius carries a small slack absorbing float32
    normalization rounding, and the final filter re-computes EXACT
    cosine on the ORIGINAL vectors with the same expression the flat
    path and the oracle use — pruning can only widen candidates, never
    lose a qualifying pair."""
    from vector_search_engine_spark.operators.knn import DIST_DECIMALS

    qids, Q = knn_query_arrays(queries)
    if len(qids) == 0:
        return index.spark.createDataFrame(
            [], "qid long, neighbor_id long, sim double"
        )
    # Slack scales with dimension: float32 normalization of the STORED
    # vectors plus GEMM accumulation can perturb unit-L2² by
    # ~O(dim · 2⁻²⁴) (≈2e-6 already at dim 64), so a fixed 1e-6 could
    # prune a pair whose exact cosine sits within rounding of min_sim.
    # Widening candidates is cheap — the exact-cosine filter below
    # removes every false positive — so take a generous envelope.
    dim = int(Q.shape[1])
    slack = max(1e-4, 16.0 * dim * 2.0 ** -24)
    radius_sq = max(2.0 - 2.0 * min_sim, 0.0) + slack
    cand = index.radius_search(
        (qids, _metric_queries(Q, "cosine")), radius_sq
    ).select("qid", "neighbor_id")
    qdf = F.broadcast(_queries_df(index.spark, queries, qids, Q))
    return (
        _metric_rescore(cand, original_vectors, qdf, "cosine")
        .filter(F.col("dist") >= min_sim)
        .select(
            "qid", "neighbor_id", F.round("dist", DIST_DECIMALS).alias("sim")
        )
    )


def search_cosine_distributed(
    index: IVFIndex,
    original_vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    candidate_margin: int = 10,
    tier: str = "float",
    candidates_per_cell: int | None = None,
) -> DataFrame:
    """Cosine ANN for a LARGE query table: normalization is a column
    expression inside the query table's partitions, candidates come from
    ``search_distributed`` on the normalized geometry (queries never
    visit the driver, no broadcast of |Q|), and the exact-cosine rescore
    joins on (neighbor_id, qid) — both ordinary shuffle joins at large
    |Q|.  Full probe equals the flat cosine path (pinned in tests).

    ``tier``: the candidate stage — ``"float"`` (default), ``"sq8"``
    (int8 sidecar, 4× fewer candidate-scan bytes), or ``"cascade"``
    (BQ→SQ8→float).  The lossless bound cuts hold on the normalized
    geometry (it IS an L2 index), so the candidate set — and therefore
    the rescored output — is identical to the float stage at the same
    configuration (r13: the metric × quantized × bulk cell)."""
    return _metric_search_distributed(
        "cosine", index, original_vectors, queries, k, nprobe,
        candidate_margin, tier, candidates_per_cell,
    )


def search_ip_distributed(
    index: IVFIndex,
    original_vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    candidate_margin: int = 10,
    tier: str = "float",
    candidates_per_cell: int | None = None,
) -> DataFrame:
    """Large-|Q| MIPS tier: queries pad their zero coordinate as a column
    expression inside their partitions, probe the MIPS-augmented index
    via ``search_distributed``, and re-score the exact dot product
    through shuffle joins — no driver collect, no query broadcast.
    Full probe equals the flat metric='ip' path.

    ``tier``: candidate stage — float / sq8 / cascade, same composition
    argument as ``search_cosine_distributed`` (the MIPS augmentation is
    an L2 geometry, so the quantized bound cuts stay lossless)."""
    return _metric_search_distributed(
        "ip", index, original_vectors, queries, k, nprobe,
        candidate_margin, tier, candidates_per_cell,
    )
