"""VectorEngine: the reference's LSM write path (``engine.h``), re-expressed
as immutable Parquet + Structured Streaming.

Reference → Spark mapping (SURVEY.md §2.6, §3.2):
  * active/immutable write buffers (``engine.h:182-195``) → an *unindexed
    delta directory* of appended parquet files; a micro-batch commit is the
    buffer rotation (atomic at file granularity — no torn reads, unlike
    ``write_buffer.h:46-49``);
  * background flush into HNSW (``engine.h:147-176``) → the **compaction
    job**: assign centroids with the saved coarse quantizer (no re-fit),
    rewrite only affected partitions (dynamic partition overwrite);
  * merged search (``engine.h:100-144``) → union(partition-pruned ANN over
    indexed, exact scan over delta) + global top-k;
  * EBR/RCU/snapshots (``ebr_manager.h``) → immutable files + a compaction
    **watermark** with deferred partition GC: folding marks delta ``_seq``
    partitions logically dead (readers filter ``_seq > watermark``) but
    physically deletes them only on the NEXT compaction — in-flight
    queries that listed the old files keep reading them (grace period =
    one compaction cycle; the file-granularity analog of an EBR epoch).

Semantics deliberately *stronger* than the reference (divergences documented
in SURVEY.md §2.3 Q4): duplicate ids are upserted — a delta row shadows the
indexed row with the same id (the reference can return duplicate ids and
has a mid-flush visibility gap); delta rows stay visible until the
compaction commit.
"""

from __future__ import annotations

import errno
import glob
import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_engine_spark.operators.ivf import (
    _DISTRIBUTED_TIERS,
    _SERVING_TIERS,
    IVFIndex,
    _flat_vectors,
    _run_tier,
)
from vector_search_engine_spark.operators.knn import (
    _finalize_topk,
    knn_exact,
    knn_exact_distributed,
    radius_search as radius_search_exact,
)
from vector_search_engine_spark.streaming.metrics import MetricsRecorder


class VectorEngine:
    # Staging dirs older than this at engine construction are crash
    # orphans; younger ones may belong to a concurrently-publishing
    # writer and are left alone (see __init__).
    _STAGING_GC_AGE_SEC = 600.0
    # wall-clock floor for dead delta-partition GC (see _compact_assigned
    # step 4): readers faster than this are race-free regardless of how
    # frequently compaction fires
    _DELTA_GC_MIN_AGE_SEC = 120.0

    def __init__(
        self,
        spark: SparkSession,
        root_dir: str,
        snapshot_retain: int | None = None,
    ):
        self.spark = spark
        self.root_dir = root_dir
        self.index = IVFIndex(spark, os.path.join(root_dir, "index"))
        self.delta_dir = os.path.join(root_dir, "delta")
        os.makedirs(self.delta_dir, exist_ok=True)
        # GC staging dirs orphaned by a crash mid-_publish_delta_batch:
        # a batch that never reached its atomic rename was never visible,
        # so removal is safe.  Guarded by an mtime age threshold so that
        # opening a second engine (e.g. a reader) over a root where another
        # process is mid-publish cannot destroy that writer's in-flight
        # staging — a live publish finishes in seconds, while a crash
        # orphan sits unmodified forever.
        now = time.time()
        for d in glob.glob(os.path.join(root_dir, "_staging-*")):
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue  # vanished: its writer just renamed or removed it
            if age > self._STAGING_GC_AGE_SEC:
                shutil.rmtree(d, ignore_errors=True)
        # N-generation time travel: how many superseded index snapshots
        # compaction keeps readable (None = manifest default, 1)
        self.snapshot_retain = snapshot_retain
        # reference S6 metrics sink (bvar LatencyRecorder analog)
        self.recorder = MetricsRecorder()
        # metadata columns riding beside the vectors (index built with
        # extra_cols=...): deltas carry them, compaction folds them, and
        # search(predicate=...) filters on them — the filtered × streaming
        # cell of the capability matrix
        self._extra: tuple[str, ...] = tuple(
            self.index.meta.get("extra_cols", []) or []
        )
        self._extra_types: dict[str, str] | None = None

    def _extra_schema(self) -> dict[str, str]:
        """Spark simpleString type per extra column, read once from the
        indexed table's schema (delete needs typed NULLs so every delta
        file carries one consistent schema)."""
        if self._extra_types is None:
            if not self._extra:
                self._extra_types = {}
            else:
                fields = {
                    f.name: f.dataType.simpleString()
                    for f in self.index.vectors().schema.fields
                }
                self._extra_types = {c: fields[c] for c in self._extra}
        return self._extra_types

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def create(
        cls,
        vectors: DataFrame,
        root_dir: str,
        n_centroids: int | None = None,
        **build_kw,
    ) -> "VectorEngine":
        """Bulk-load phase (reference ``server.cpp:72-112``): batch index
        build, then the engine serves merged searches while absorbing
        streaming inserts."""
        spark = vectors.sparkSession
        os.makedirs(root_dir, exist_ok=True)
        IVFIndex.build(
            vectors, os.path.join(root_dir, "index"), n_centroids=n_centroids, **build_kw
        )
        return cls(spark, root_dir)

    # -- write path ----------------------------------------------------------

    def _existing_seqs(self) -> list[int]:
        return sorted(
            int(os.path.basename(p).split("=")[1])
            for p in glob.glob(os.path.join(self.delta_dir, "_seq=*"))
        )

    def _watermark(self) -> int:
        """Highest ``_seq`` folded into the index (-1 = nothing compacted).
        Partitions at or below it are logically dead but may still exist on
        disk awaiting the next compaction's GC."""
        p = os.path.join(self.root_dir, "delta_watermark.json")
        if os.path.exists(p):
            with open(p) as f:
                return int(json.load(f)["watermark"])
        return -1

    def _gc_watermark(self) -> int:
        """Watermark as of the PREVIOUS compaction — the upper bound of
        seq dirs whose grace (one further full cycle) has expired."""
        p = os.path.join(self.root_dir, "delta_gc_watermark.json")
        if os.path.exists(p):
            with open(p) as f:
                return int(json.load(f)["watermark"])
        return -1

    def _set_gc_watermark(self, w: int) -> None:
        p = os.path.join(self.root_dir, "delta_gc_watermark.json")
        with open(p, "w") as f:
            json.dump({"watermark": int(w)}, f)

    def _set_watermark(self, w: int) -> None:
        p = os.path.join(self.root_dir, "delta_watermark.json")
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"watermark": int(w)}, f)
        os.rename(tmp, p)

    def _live_seqs(self) -> list[int]:
        w = self._watermark()
        return [s for s in self._existing_seqs() if s > w]

    def _next_seq(self) -> int:
        seqs = self._existing_seqs() + [self._watermark()]
        return max(seqs) + 1

    def _publish_delta_batch(self, rows: DataFrame, seq: int | None) -> int:
        """Write a delta batch to a PRIVATE staging dir, then atomically
        rename it into place as ``_seq=K``.

        Why not ``write.mode("append").partitionBy("_seq")`` straight into
        the delta: two concurrent writers (a streaming insert thread and a
        delete batch, or two clients) then share ONE Spark staging dir
        (``<delta>/_temporary/0``), and the first job's commit/cleanup
        deletes the other's in-flight attempt dirs — a real
        TASK_WRITE_FAILED race caught by the mixed-RW bench.  With private
        staging, the only shared step is the directory rename, which the
        filesystem makes atomic; a seq collision (both writers computed
        the same ``_next_seq``) surfaces as a failed rename (dest exists)
        and is retried with a fresh seq — never as interleaved files.
        This is also the honest W1/W2 mapping: the rename IS the
        buffer-rotation commit point (``engine.h:89-93``), all-or-nothing
        at directory granularity."""
        staging = os.path.join(
            self.root_dir, f"_staging-{uuid.uuid4().hex[:12]}"
        )
        rows.write.mode("overwrite").parquet(staging)
        try:
            for _ in range(100):
                s = self._next_seq() if seq is None else seq
                dest = os.path.join(self.delta_dir, f"_seq={s}")
                try:
                    os.rename(staging, dest)
                    return s
                except OSError as e:
                    # Only a seq collision (dest already claimed by another
                    # writer) is retryable; EACCES/EXDEV/read-only-fs etc.
                    # would fail identically on every attempt — surface them
                    # immediately instead of masking them behind the
                    # claim-race RuntimeError.
                    if e.errno not in (errno.EEXIST, errno.ENOTEMPTY, errno.EISDIR):
                        raise
                    if seq is not None:
                        raise  # caller pinned the seq; collision is an error
                    # lost the claim race — another writer published this
                    # seq between our _next_seq() and rename; recompute
            raise RuntimeError("could not claim a delta _seq in 100 attempts")
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def insert(self, rows: DataFrame, seq: int | None = None) -> None:
        """Append a batch to the unindexed delta (the foreachBatch body).
        Wait-free analog: appends never touch the indexed table.  ``_seq``
        (monotone batch number) makes 'latest version of an id' well-defined
        — the reference has no such notion and returns duplicates."""
        t0 = time.time()
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        # enforce the pinned delta schema on the WRITE side (r18, ADVICE
        # fix): delta() reads with an explicit "{id} long, {vec}
        # array<float>, ..." schema (no per-search footer inference), so
        # a caller inserting int32 ids or array<double> vectors must be
        # cast here — parquet does not allow those column conversions at
        # scan time, and delete() already casts its tombstones this way.
        typed = [
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).cast("array<float>").alias(vec_col),
        ] + [
            F.col(c).cast(t).alias(c)
            for c, t in self._extra_schema().items()
        ]
        self._publish_delta_batch(rows.select(*typed), seq)
        self.recorder.record("insert", time.time() - t0)

    def delete(self, ids, seq: int | None = None) -> None:
        """Delete by id — LSM tombstones: a delta row whose vector is NULL.

        'Latest version per id' already defines the semantics: a
        tombstone shadows every older version (indexed or delta) exactly
        like an upsert does, a later re-insert resurrects the id, and
        compaction applies tombstones physically (the id's rows leave
        the indexed table and the tombstone itself is folded away).
        The reference has no delete at all (``engine.h``); this is the
        natural LSM completion of its insert-only write path.

        ``ids``: a one-column DataFrame of ids or a Python list."""
        t0 = time.time()
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], f"{id_col} long"
            )
        tomb = ids.select(
            F.col(ids.columns[0]).cast("long").alias(id_col)
        ).withColumn(vec_col, F.lit(None).cast("array<float>"))
        # typed NULL extras keep every delta file on one schema
        for c, t in self._extra_schema().items():
            tomb = tomb.withColumn(c, F.lit(None).cast(t))
        self._publish_delta_batch(tomb, seq)
        self.recorder.record("delete", time.time() - t0)

    def ingest_stream(
        self,
        stream_df: DataFrame,
        checkpoint: str | None = None,
        max_delta_fraction: float | None = None,
        hot_cell_factor: float | None = None,
    ):
        """Structured Streaming ingest: micro-batch append into the delta
        (reference Insert RPC path, ``server.cpp:45-66`` + W1/W2 buffering).
        Returns the StreamingQuery (caller awaits/validates).

        ``max_delta_fraction`` wires the W3 write-throttling policy into
        the ingest cadence: after each micro-batch commit, fold the delta
        into the index when it exceeds that fraction of the indexed rows
        (reference soft/hard limit, ``engine.h:76-86``).  Searches stay
        exact throughout — compaction is invisible to readers."""
        checkpoint = checkpoint or os.path.join(self.root_dir, "_checkpoint")

        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            self.insert(bdf)
            if max_delta_fraction is not None:
                self.maybe_compact(max_delta_fraction, hot_cell_factor)

        return (
            stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def delta(self, seqs: list[int] | None = None) -> DataFrame:
        """Live (uncompacted) delta rows.  ``seqs`` pins an explicit seq
        snapshot so that one logical operation (e.g. a merged search that
        scans the delta twice) sees ONE consistent delta state even while
        concurrent inserts/compactions advance it."""
        if seqs is None:
            seqs = self._live_seqs()
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        if not seqs:
            extra_schema = "".join(
                f", {c} {t}" for c, t in self._extra_schema().items()
            )
            return self.spark.createDataFrame(
                [],
                f"{id_col} long, {vec_col} array<float>{extra_schema}, _seq long",
            )
        # EXPLICIT leaf dirs + basePath (the index vectors() trick): the
        # pinned seq set IS the read set, so logically-dead partitions
        # awaiting GC are never even LISTED — a whole-dir read raced its
        # directory listing against a concurrent GC rmtree (the r10 bench
        # mixed_rw FileNotFound); live seqs are by construction never
        # GC'd (> watermark > gc_watermark), so this read cannot race.
        # The schema is EXPLICIT (r17): it is the same string the
        # empty-delta branch already pins (the two branches must match
        # exactly), so per-search delta reads skip footer schema
        # inference; _seq parses as long straight from the dir name.
        extra_schema = "".join(
            f", {c} {t}" for c, t in self._extra_schema().items()
        )
        dirs = [os.path.join(self.delta_dir, f"_seq={s}") for s in seqs]
        return (
            self.spark.read.schema(
                f"{id_col} long, {vec_col} array<float>"
                f"{extra_schema}, _seq long"
            )
            .option("basePath", self.delta_dir)
            .parquet(*dirs)
            .select(
                id_col,
                vec_col,
                *self._extra,
                F.col("_seq").cast("long").alias("_seq"),
            )
        )

    def delta_latest(self, seqs: list[int] | None = None) -> DataFrame:
        """One row per id: its latest version (upsert semantics) — the
        highest ``_seq``, and within one seq (a batch that carries an id
        twice) the first row by parquet file name, then row index in the
        file.  ``_delta_arrays`` applies this same key on the driver."""
        from pyspark.sql import Window

        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        seqs = self._live_seqs() if seqs is None else seqs
        # a row's place in its seq: the scan's hidden file metadata (an
        # empty delta has no scan, and no rows to order)
        place = ["_metadata.file_name", "_metadata.row_index"] if seqs else []
        w = Window.partitionBy(id_col).orderBy(F.col("_seq").desc(), *place)
        return (
            self.delta(seqs)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, vec_col, *self._extra)
        )

    def visible_vectors(self) -> DataFrame:
        """The engine's CURRENT VISIBLE SET as one DataFrame — exactly
        what a merged search can return: indexed rows whose ids are not
        shadowed by a newer delta version, plus the latest live
        (non-tombstone) delta rows.  (Reference analog: the snapshot a
        merged search walks — ``engine.h:105-117`` pins active/immutable
        buffers + index via shared_ptr copies; here the pinned-seq list
        + manifest generation play that role, exported as data.)  The snapshot-export / analytics
        surface: corpus statistics (effective rank, dedup, drift) over
        the live state without waiting for a compaction to fold the
        delta in.  One pinned seq snapshot (the ``delta()`` discipline)
        keeps the view consistent under concurrent ingest; plan shape
        is the merged-search read path minus the distance math — one
        anti-join on id against the (small, uncompacted) delta-latest
        side plus a union."""
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        seqs = self._live_seqs()
        latest = self.delta_latest(seqs)
        base = self.index.vectors().select(id_col, vec_col, *self._extra)
        return base.join(
            latest.select(id_col), id_col, "left_anti"
        ).unionByName(latest.filter(F.col(vec_col).isNotNull()))

    # -- read path -----------------------------------------------------------

    def search(
        self, queries: DataFrame, k: int = 10, nprobe: int = 4,
        tier: str = "float", candidates_per_cell: int | None = None,
        predicate=None,
    ) -> DataFrame:
        """Merged search (reference Q4): ANN over the indexed table with
        shadowed ids excluded + exact scan of the delta, one global top-k.

        ``predicate``: optional metadata Column over the engine's extra
        columns (index built with ``extra_cols=...``; deltas carry them
        and compaction folds them) — filtered merged search.  Applied on
        BOTH sides against each row's LATEST version: the indexed scan
        filters pre-ranking (each tier's own pre-cut semi-join), the
        delta scan filters its latest rows, and shadowing still excludes
        by id alone — so an upsert that changes a row's metadata in or
        out of the predicate takes effect immediately.

        ``tier`` selects the indexed side's candidate scan: ``"float"``
        (default), ``"sq8"`` (int8 codes, ~4× fewer scan bytes), ``"sq4"``
        (nibble-packed 16-level codes, ~8× fewer), ``"pq"``
        (IVFADC byte codes, ~32× fewer), ``"bq"`` (packed sign bits, 32×
        fewer), ``"prefix"`` (full bytes, ~d/d′× fewer FLOPs via the
        lossless prefix-dimension cut), ``"cascade"`` (staged BQ →
        SQ8 → float — ivf.search_cascade), or ``"graph"`` (per-cell HNSW
        walk — the reference's own beam search, ivf.search_graph, with
        ``candidates_per_cell`` mapped onto the beam width ``ef``;
        exhaustive — hence exact at full probe — when unbounded).
        SQ8/SQ4/PQ/prefix run lossless cuts + exact re-score — same
        results as the float tier; BQ's top-C cut and graph's finite-ef
        beam have no lossless bound (recall measured, tests/test_bq.py /
        tests/test_hnsw.py) though returned distances are always exact.
        For the sign tiers (``bq``/``cascade``) an UNSET
        ``candidates_per_cell`` auto-derives per probed cell from that
        cell's population (``IVFIndex._auto_sign_budget``, finding 41 —
        the fixed 8·k default collapsed recall on clustered corpora);
        an explicit value is the uniform per-cell serving knob.
        The delta side always scans exact floats, deltas are small.

        Routing (the float tier only): after pinning the live delta seqs
        and then the manifest (the ``_merged`` order), one size gate
        (``IVFIndex._driver_route``) sends a search with no
        ``predicate`` whose probed-cell rows plus live delta rows
        (parquet footer counts; the delta's footers are opened only when
        the probed cells alone fit) × (8 + 4·dim) bytes fit
        ``ivf._DRIVER_BYTES`` and whose ranked (row, query) pairs fit
        ``ivf._DRIVER_PAIRS`` to the driver runner
        (``IVFIndex._driver_topk``): the pinned delta is read with
        pyarrow (each id's ``delta_latest`` version wins; a tombstone
        shadows but is not scanned) and ranked as one more cell every
        query probes, no Spark job runs, and ``dist_sq`` is rounded by
        ``F.round`` in Spark.  Every other call runs the Spark plan below
        with the same rows, reusing the pinned seqs, the collected query
        arrays and the probe plan; each decision is logged in
        ``index.dispatch_log`` as op ``"engine.search"``."""
        indexed = lambda shadowed: _run_tier(  # noqa: E731
            self.index, _SERVING_TIERS, tier, queries, candidates_per_cell,
            k=k, nprobe=nprobe, exclude_ids=shadowed, predicate=predicate,
            round_output=False,
        )
        seqs = None
        if tier != "float" or predicate is not None:
            why = "tier" if tier != "float" else "predicate"
            self.index._driver_route("engine.search", why)
        else:
            seqs = self._live_seqs()  # pinned before the manifest
            plan = self.index._probe_plan(queries, nprobe, None, "qid", "query")
            if plan is not None:
                queries, files = plan[:2], []  # the query arrays, collected once
                delta_rows = lambda: self._delta_rows(seqs, files)  # noqa: E731
                if self.index._driver_route("engine.search", None, plan, delta_rows):
                    shadowed, live = self._delta_arrays(files)
                    return self.index._driver_topk(plan, k, shadowed, delta=live)
                indexed = lambda shadowed: self.index._float_serve(  # noqa: E731
                    plan, k, shadowed, None, False
                )
        # shadowed ids exclude via anti-join — the delta can be arbitrarily
        # large under sustained ingest; ids never visit the driver.  Each
        # tier drops them where its cut stays exact: pre-cut for the
        # lossless tiers and the sign tiers' stage 1, after the walk for
        # graph (removing nodes pre-walk would disconnect the graph).
        return self._merged(
            indexed,
            lambda live, **cols: knn_exact(
                live, queries, k=k, round_output=False, **cols
            ),
            predicate,
            k,
            seqs,
        )

    def search_filtered(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        predicate=None,
        strategy: str = "auto",
    ) -> DataFrame:
        """Filtered merged search through the pre/post-filter PLANNER
        (``IVFIndex.search_filtered``): the indexed side routes by
        selectivity — a selective predicate takes the prefilter branch
        (exact brute-force over survivors minus shadowed ids, EXACT at
        ANY nprobe) — while the delta side always scans its filtered
        latest rows exactly.  So when the planner prefilters, the whole
        MERGED result is exact at any nprobe: the serving win of the
        planner carried into the streaming contract."""
        if predicate is None:
            raise ValueError("search_filtered requires a predicate")
        return self._merged(
            lambda shadowed: self.index.search_filtered(
                queries, k=k, nprobe=nprobe, predicate=predicate,
                strategy=strategy, exclude_ids=shadowed, round_output=False,
            ),
            lambda live, **cols: knn_exact(
                live, queries, k=k, round_output=False, **cols
            ),
            predicate,
            k,
        )

    def search_distributed(
        self,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        tier: str = "float",
        candidates_per_cell: int | None = None,
        predicate=None,
    ) -> DataFrame:
        """The merged Q4 contract for DATASET-SIZED query tables — the
        reference's serve loop (``engine.h:100-144``) answers one query
        against base+delta; ``search()`` is its per-query-set twin
        (collect-and-broadcast, bounded |Q| by contract, ``knn.py:70``);
        this is the bulk twin for when |Q| is itself a dataset (bulk
        re-embedding joins, all-corpus retrieval passes over a live,
        continuously-ingesting index).

        Composition — nothing per-query visits the driver on EITHER
        side:

        * indexed side: ``IVFIndex.search_{,sq8_,cascade_}distributed``
          (in-partition probe assignment + a per-cell cogroup on
          ``centroid_id``, the quantized tiers reading 4×/32× fewer
          scan bytes) with shadowed ids removed PRE-CUT by an anti-join
          against the pinned delta snapshot's id set — the anti-join's
          build side is the delta (small by the compaction contract),
          so AQE broadcasts it;
        * delta side: ``knn_exact_distributed``'s block nested-loop kNN
          join (|Q|·v_blocks + delta·q_blocks shuffle volume, never
          |Q|·delta);
        * one global raw-float64 top-k re-rank, rounding once at output
          (same tie discipline as ``search``).

        ``tier``: ``"float"`` (exact at any nprobe vs the probed set),
        ``"sq8"`` (lossless bound cut + exact rescore — identical
        results to float), or ``"cascade"`` (BQ→SQ8→float; exact when
        ``candidates_per_cell`` is unbounded, recall-measured when
        finite).  ``predicate``: metadata Column applied to BOTH sides'
        latest versions, same semantics as ``search``."""
        return self._merged(
            lambda shadowed: _run_tier(
                self.index, _DISTRIBUTED_TIERS, tier, queries,
                candidates_per_cell, k=k, nprobe=nprobe, exclude_ids=shadowed,
                predicate=predicate, round_output=False,
            ),
            lambda live, **cols: knn_exact_distributed(
                live, queries, k=k, round_output=False, **cols
            ),
            predicate,
            k,
        )

    def radius_search(
        self, queries: DataFrame, radius_sq: float, predicate=None
    ) -> DataFrame:
        """Merged RANGE search: every (query, vector) pair within
        squared-L2 ``radius_sq`` against each row's LATEST version —
        the radius sibling of the Q4 merged top-k contract.  The indexed
        side runs the triangle-inequality pruned scan with shadowed ids
        excluded by anti-join; the delta side scans its live latest rows
        exactly; tombstones shadow but contribute nothing.  No ranking
        exists here, so the merge is a plain union — id sets are
        disjoint by the exclusion, no dedup pass; results round once at
        output like every user-facing distance."""
        return self._merged(
            lambda shadowed: self.index.radius_search(
                queries, radius_sq, exclude_ids=shadowed,
                predicate=predicate, round_output=False,
            ),
            lambda live, **cols: radius_search_exact(
                live, queries, radius_sq, round_output=False, **cols
            ),
            predicate,
        )

    def radius_search_distributed(
        self, queries: DataFrame, radius_sq: float, predicate=None
    ) -> DataFrame:
        """Merged RANGE search for DATASET-SIZED query tables (r13) —
        the radius sibling of ``search_distributed``, completing the
        bulk path's coverage of the merged contract.  Indexed side:
        ``IVFIndex.radius_search_distributed`` (in-partition
        triangle-inequality cell prune; queries never visit the driver)
        with shadowed ids anti-joined out.  Delta side: the delta is
        small by the compaction contract, so it BROADCASTS against the
        query table and the within-radius filter runs as a pure JVM
        column expression (``l2_sq`` + filter — whole-stage codegen, no
        kernel).  Union is the merge (id sets disjoint by exclusion, no
        ranking); one rounding at output."""
        from vector_search_engine_spark.functions.vector import l2_sq

        return self._merged(
            lambda shadowed: self.index.radius_search_distributed(
                queries, radius_sq, exclude_ids=shadowed,
                predicate=predicate, round_output=False,
            ),
            lambda live, id_col, vec_col: (
                queries.select("qid", "query")
                .crossJoin(
                    F.broadcast(
                        live.select(
                            F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("_v"),
                        )
                    )
                )
                .select(
                    "qid",
                    "neighbor_id",
                    l2_sq(F.col("_v"), F.col("query")).alias("dist_sq"),
                )
                .filter(F.col("dist_sq") <= radius_sq)
            ),
            predicate,
        )

    def _delta_rows(self, seqs, files: list) -> int:
        """Row count of the pinned live ``seqs`` from their parquet
        footers; fills ``files`` with their ``(seq, ParquetFile)`` pairs
        in ``delta_latest``'s tie-break order (seq, then file name)."""
        files += [
            (s, pq.ParquetFile(f)) for s in seqs
            for f in sorted(glob.glob(os.path.join(self.delta_dir, f"_seq={s}", "*.parquet")))
        ]
        return sum(f.metadata.num_rows for _, f in files)

    def _delta_arrays(self, files):
        """The pinned delta on the driver, for the driver runner:
        ``files`` as ``_delta_rows`` fills them.  Each id's latest
        version wins by ``delta_latest``'s key — the highest seq, then
        the first row in (file, row) order, which a stable sort on
        ``(id, -seq)`` keeps.  Returns every latest id — each shadows its
        indexed version — and the ``(ids, (n, dim) float64 vectors)`` of
        the latest rows that hold a vector (a NULL-vector tombstone
        shadows but is not scanned), or ``None`` for an empty delta."""
        id_col, vec_col = self.index.meta["id_col"], self.index.meta["vec_col"]
        if not files:
            return [], None
        tbls = [f.read(columns=[id_col, vec_col]) for _, f in files]
        t = pa.concat_tables(tbls)
        ids = t.column(id_col).to_numpy()
        seq = np.repeat([s for s, _ in files], [x.num_rows for x in tbls])
        order = np.lexsort((-seq, ids))  # stable: file, row order kept
        latest = order[np.unique(ids[order], return_index=True)[1]]
        vecs = t.column(vec_col).take(latest)
        live = vecs.is_valid().to_numpy()
        V = _flat_vectors(vecs.filter(pa.array(live)), int(self.index.meta["dim"]))
        return ids[latest], (ids[latest][live], V)

    def _merged(self, indexed, delta, predicate, k: int | None = None,
                seqs: list[int] | None = None):
        """The one merged read (reference ``engine.h:100-144``) behind
        every search method: pin the delta snapshot ONCE, so the
        exclusion and the delta scan see the same seq set even if a
        concurrent insert or compaction advances the delta mid-query;
        run ``indexed(shadowed_ids)`` — the indexed side with every id
        the delta shadows excluded (a one-column DataFrame, never
        collected); run ``delta(live, id_col=..., vec_col=...)`` over
        the latest delta rows minus
        tombstones (NULL vector = deleted id: its id shadows the indexed
        side but it carries nothing to scan), filtered by ``predicate``
        against each row's LATEST version.  With ``k`` the two sides'
        raw float64 ``dist_sq`` merge into one global top-k — ranks were
        per-source, and ranking on rounded values would break a
        4-decimal tie between sources by id instead of by the true
        distance, diverging from the exact oracle — rounded once at
        output; without ``k`` (radius search) the merge is a plain union
        (id sets are disjoint by the exclusion), rounded once.  ``seqs``:
        the live seqs a caller already pinned (before its manifest, as
        ``search`` does), else pinned here."""
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        latest = self.delta_latest(seqs=self._live_seqs() if seqs is None else seqs)
        indexed_part = indexed(latest.select(id_col))
        live = latest.filter(F.col(vec_col).isNotNull())
        if predicate is not None:
            live = live.filter(predicate)
        delta_part = delta(live, id_col=id_col, vec_col=vec_col)
        if k is None:
            return indexed_part.unionByName(delta_part).select(
                "qid", "neighbor_id", F.round("dist_sq", 4).alias("dist_sq")
            )
        merged = indexed_part.select(
            "qid", "neighbor_id", F.col("dist_sq")
        ).unionByName(delta_part.select("qid", "neighbor_id", F.col("dist_sq")))
        return _finalize_topk(
            merged.select("qid", "neighbor_id", F.col("dist_sq").alias("dist")),
            k,
            "l2_sq",
        )

    def search_timed(
        self, queries: DataFrame, k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """``search`` forced end-to-end (noop sink) with the wall time
        recorded into the metrics sink; returns the (re-usable lazy)
        result plan."""
        t0 = time.time()
        out = self.search(queries, k=k, nprobe=nprobe)
        out.write.format("noop").mode("overwrite").save()
        self.recorder.record("search", time.time() - t0)
        return out

    def metrics(self) -> DataFrame:
        """The S6 metrics sink readout: one row per op with count and
        latency percentiles (reference ``client_bench.cpp:152-160``)."""
        import pandas as pd

        snap = self.recorder.snapshot()
        schema = (
            "op string, count long, avg_ms double, p50_ms double, "
            "p99_ms double, p999_ms double"
        )
        if not snap:
            return self.spark.createDataFrame([], schema)
        return self.spark.createDataFrame(pd.DataFrame(snap), schema)

    # -- compaction (reference W4 background flush) --------------------------

    def assign_centroids(self, rows: DataFrame) -> DataFrame:
        """Nearest-centroid assignment with the SAVED quantizer (assign-only;
        model refresh is a separate offline decision — SURVEY.md §7)."""
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        C = self.index.centroids
        cids = self.index.centroid_ids
        bc = self.spark.sparkContext.broadcast((cids, C))

        def assign(batches):
            import pandas as pd

            cids_, C_ = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                D = (
                    (V * V).sum(axis=1)[:, None]
                    - 2.0 * (V @ C_.T)
                    + (C_ * C_).sum(axis=1)[None, :]
                )
                pdf = pdf.copy()
                a = np.argmin(D, axis=1)
                pdf["centroid_id"] = cids_[a].astype("int32")
                # index layout v2 carries the assignment distance (cell
                # radii for exact radius_search pruning)
                pdf["dist_to_centroid"] = D[np.arange(len(a)), a]
                yield pdf

        extra_schema = "".join(
            f", {c} {t}" for c, t in self._extra_schema().items()
        )
        schema = (
            f"{id_col} long, {vec_col} array<float>{extra_schema}, "
            "centroid_id int, dist_to_centroid double"
        )
        return rows.select(id_col, vec_col, *self._extra).mapInPandas(
            assign, schema=schema
        )

    def compact(self) -> int:
        """Fold the delta into the partitioned indexed table: rewrite only
        cells that receive new rows or contain shadowed ids, committed as a
        new index generation via atomic manifest swap, then logically clear
        the delta (watermark).  Search results before and after are
        identical (tested), including for searches in flight."""
        t0 = time.time()
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        old_watermark = self._watermark()
        live = self._live_seqs()
        if not live:
            return 0
        fold_high = max(live)  # inserts after this snapshot stay live
        delta_latest = self.delta_latest(seqs=live)
        n_delta = delta_latest.count()
        if n_delta == 0:
            return 0
        # tombstones (NULL vector) have no centroid to assign; their ids
        # still flow into the shadowed/affected computation so the
        # deleted rows leave the indexed table with this fold
        live_rows = delta_latest.filter(F.col(vec_col).isNotNull())
        all_ids = delta_latest.select(id_col)
        assigned = self.assign_centroids(live_rows).cache()
        try:
            return self._compact_assigned(
                assigned, all_ids, t0, old_watermark, fold_high, n_delta
            )
        finally:
            # sustained ingest fires compact() repeatedly — without this the
            # per-cycle cache accumulates in executor storage for the life
            # of the engine
            assigned.unpersist()

    def _compact_assigned(
        self,
        assigned: DataFrame,
        delta_id_df: DataFrame,
        t0: float,
        old_watermark: int,
        fold_high: int,
        n_delta: int,
    ) -> int:
        id_col = self.index.meta["id_col"]
        vec_col = self.index.meta["vec_col"]
        indexed = self.index.vectors()
        n_shadowed = indexed.join(delta_id_df, id_col, "left_semi").count()
        # affected-cell list is bounded by n_centroids — safe to collect;
        # the id sets flow through semi/anti joins, never the driver
        affected = sorted(
            r[0]
            for r in assigned.select("centroid_id")
            .union(
                indexed.join(delta_id_df, id_col, "left_semi").select("centroid_id")
            )
            .distinct()
            .collect()
        )
        extra = list(self._extra)
        survivors = (
            indexed.filter(F.col("centroid_id").isin(affected))
            .join(delta_id_df, id_col, "left_anti")
            .select(id_col, vec_col, *extra, "dist_to_centroid", "centroid_id")
        )
        new_rows = assigned.filter(F.col("centroid_id").isin(affected))
        # never mutate live files: affected cells land in a NEW generation
        # dir, published by an atomic manifest swap (in-flight searches
        # keep reading the generation they listed)
        gen = self.index.next_gen()
        survivors.unionByName(
            new_rows.select(
                id_col, vec_col, *extra, "dist_to_centroid", "centroid_id"
            )
        ).repartition("centroid_id").sortWithinPartitions(
            "centroid_id", "dist_to_centroid"
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            os.path.join(self.index_vectors_dir(), f"gen={gen}")
        )
        # Commit order (crash-safe, reader-safe):
        #   1. the generation write above is side-effect-free until the
        #      manifest swap publishes it; if we die before the swap, the
        #      folded rows are still live in the delta and results are
        #      unchanged;
        #   2. commit_cells GCs cell dirs unreferenced since BEFORE the
        #      previous commit and swaps the manifest atomically;
        #   3. the delta watermark advances last — if we die between 2 and
        #      3 the folded rows are briefly BOTH indexed and in the delta,
        #      and upsert shadowing keeps results correct (the delta copy
        #      shadows the identical indexed copy);
        #   4. delta partitions dead since before the PREVIOUS compaction
        #      are GC'd, and only once their files are older than
        #      _DELTA_GC_MIN_AGE_SEC — two compaction cycles PLUS a wall-
        #      clock floor of grace.  The single-cycle variant was outrun
        #      in practice: back-to-back maybe_compact firings during a
        #      heavy ingest wave shrank "one cycle" to under a second, and
        #      a concurrently executing merged search that had pinned the
        #      old seq set hit FileNotFound mid-scan (caught live by the
        #      r10 sf0.1 bench mixed_rw phase).  The age floor bounds the
        #      race independently of compaction cadence: any reader faster
        #      than the floor is safe no matter how often folding runs;
        #      a reader slower than BOTH guards still fails loudly
        #      (FileNotFound), never silently wrong.
        # The streaming checkpoint is deliberately KEPT: it tracks source
        # progress, not delta contents — deleting it would make the next
        # ingest_stream over the same source re-read (and re-insert)
        # everything from scratch.
        self.index.commit_cells(gen, affected, retain=self.snapshot_retain)
        # GC quantized sidecars of snapshots that just left retention;
        # generation-keyed dirs for still-retained snapshots stay (an
        # in-flight pinned search may be scanning them — same EBR grace
        # as the base cells)
        self.index.invalidate_sidecars()
        gc_upto = self._gc_watermark()
        now = time.time()
        for s in self._existing_seqs():
            if s <= gc_upto:
                d = os.path.join(self.delta_dir, f"_seq={s}")
                try:
                    age = now - os.path.getmtime(d)
                except OSError:
                    continue
                if age >= self._DELTA_GC_MIN_AGE_SEC:
                    shutil.rmtree(d, ignore_errors=True)
        self._set_gc_watermark(old_watermark)
        self._set_watermark(fold_high)
        # keep meta n_vectors current — the W3 trigger policy compares the
        # delta against it.  Only live (non-tombstone) rows add back: a
        # tombstone removes its shadowed row and contributes nothing.
        n_live = assigned.count()
        self.index.meta["n_vectors"] = (
            int(self.index.meta.get("n_vectors", 0)) - n_shadowed + n_live
        )
        # tmp + rename, same as rebalance(): a crash mid-write must never
        # leave a truncated meta.json (IVFIndex.__init__ loads it)
        meta_path = os.path.join(self.root_dir, "index", "meta.json")
        with open(meta_path + ".tmp", "w") as f:
            json.dump(self.index.meta, f)
        os.rename(meta_path + ".tmp", meta_path)
        self.recorder.record("compact", time.time() - t0)
        return n_delta

    def _auto_max_cell_rows(self, target_rebuild_sec: float) -> int:
        """Derive the hot-cell split threshold from the MEASURED
        per-cell graph-build cost curve (SCALING finding 22's build
        column made operational — r11 verdict item 5): a cell of n rows
        costs ~c·n·log₂n to rebuild its HNSW sidecar after a compaction
        touches it, and c is a hardware/dim constant — so calibrate c
        once by timing ``build_cell_graph`` on a bounded sample of REAL
        index rows (one 2048-row collect + an in-process build,
        ~100 ms), then invert for the n whose rebuild cost equals the
        budget.  The result is floored at the mean cell occupancy
        (splitting below the mean would shatter every cell, not just
        hot ones) — when the budget-derived n sits below the mean, the
        floor wins and the budget is reported unreachable by the floor
        being returned."""
        import math

        from vector_search_engine_spark.operators import hnsw

        if getattr(self, "_graph_build_cost_const", None) is None:
            vec_col = self.index.meta["vec_col"]
            cal_n = 2048
            rows = (
                self.index.vectors()
                .select(vec_col)
                .limit(cal_n)
                .collect()
            )
            V = np.array([r[0] for r in rows], dtype=np.float64)
            n = len(V)
            t0 = time.time()
            hnsw.build_cell_graph(np.arange(n, dtype=np.int64), V)
            dt = max(time.time() - t0, 1e-3)
            self._graph_build_cost_const = dt / (n * math.log2(max(n, 2)))
        c = self._graph_build_cost_const
        n = 1024
        while n < 2**24 and c * 2 * n * math.log2(2 * n) <= float(
            target_rebuild_sec
        ):
            n *= 2
        n_vec = int(self.index.meta.get("n_vectors", 1))
        mean = n_vec / max(1, len(self.index.centroid_ids))
        return max(int(n), int(math.ceil(mean)) + 1)

    def maybe_compact(
        self,
        max_delta_fraction: float = 0.25,
        hot_cell_factor: float | str | None = None,
        target_rebuild_sec: float = 5.0,
    ) -> int:
        """Compaction trigger policy (reference W3 soft/hard limits,
        ``engine.h:76-86``): fold the delta when it exceeds
        ``max_delta_fraction`` of the indexed row count.  Returns rows
        compacted (0 = below threshold).  Call from the ingest cadence
        (e.g. every foreachBatch) — cheap when below threshold.

        ``hot_cell_factor`` additionally splits any index cell whose
        occupancy exceeds that multiple of the mean after the fold —
        sustained ingest into one region would otherwise keep growing one
        partition into a straggler (skew management; IVFIndex.rebalance).

        ``hot_cell_factor="auto"`` replaces the factor-of-mean guess
        with a SECONDS budget: the split threshold is derived from the
        measured per-cell graph-build cost curve so the worst
        post-compaction sidecar rebuild any single cell can cost stays
        ≈ ``target_rebuild_sec`` (``_auto_max_cell_rows``) — the knob a
        continuous-ingest deployment actually wants to pin (finding 23:
        a fixed 4× factor let the clustered hot cell's rebuild drift
        9 → 17 s across 20 ticks)."""
        n_delta = self.delta().count()
        if n_delta == 0:
            return 0
        n_indexed = max(1, int(self.index.meta.get("n_vectors", 1)))
        if n_delta / n_indexed < max_delta_fraction:
            return 0
        folded = self.compact()
        if hot_cell_factor is not None:
            t0 = time.time()
            if hot_cell_factor == "auto":
                max_cell_rows = self._auto_max_cell_rows(target_rebuild_sec)
            else:
                n = int(self.index.meta.get("n_vectors", 1))
                mean = n / max(1, len(self.index.centroid_ids))
                max_cell_rows = max(1, int(float(hot_cell_factor) * mean))
            split = self.index.rebalance(max_cell_rows=max_cell_rows)
            if split:
                self.recorder.record("rebalance", time.time() - t0)
        return folded

    def index_vectors_dir(self) -> str:
        return os.path.join(self.root_dir, "index", "vectors")
