"""Streaming engine (reference engine.h LSM path): merged/upsert/delete/as-of/ingest.

Registry family module - mechanically split from the monolithic
registry.py (r10 verdict item 4); registration order is preserved by
the import order in registry/__init__.py, so the grading window and
the sweep see an unchanged QUERIES/ORACLES surface."""

from __future__ import annotations

from vector_search_engine_spark.registry._base import *  # noqa: F401,F403
from vector_search_engine_spark.registry.ann import _FILTERED_SELECTIVE_ORACLE  # noqa: F401

# ---------------------------------------------------------------------------
# Streaming engine (reference engine.h LSM path) — merged/upsert/compaction
# semantics pushed through the exact-search oracle
# ---------------------------------------------------------------------------


def _fresh_engine_root() -> str:
    import tempfile

    return tempfile.mkdtemp(prefix="vse_engine_")


@register("streaming_hourly_event_stats", oracle=ev_ops.HOURLY_EVENT_STATS_ORACLE)
def streaming_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly-window aggregation run INCREMENTALLY: events replayed as
    4 micro-batches through a watermarked streaming window agg; final
    result must equal the batch/oracle answer exactly."""
    import tempfile
    import uuid

    from vector_search_engine_spark.streaming import event_time as et

    root = tempfile.mkdtemp(prefix="vse_stream_hourly_")
    staged = et.stage_event_files(spark, sf_dir, f"{root}/staged", n_files=4)
    table = f"hourly_{uuid.uuid4().hex[:8]}"
    et.run_to_memory(
        et.streaming_hourly_stats(et.stream_events(spark, staged)),
        checkpoint=f"{root}/ckpt",
        table=table,
    )
    return spark.table(table)


@register("streaming_sessionize", oracle=ev_ops.SESSIONIZE_ORACLE)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the custom stateful operator
    (applyInPandasWithState): per-user state stitches sessions across
    micro-batch boundaries; compacted emissions equal the batch oracle."""
    import tempfile

    from vector_search_engine_spark.streaming import event_time as et

    root = tempfile.mkdtemp(prefix="vse_stream_sess_")
    staged = et.stage_event_files(spark, sf_dir, f"{root}/staged", n_files=4)
    et.run_updates_to_parquet(
        et.streaming_sessionize(et.stream_events(spark, staged)),
        checkpoint=f"{root}/ckpt",
        out_dir=f"{root}/updates",
    )
    return et.compact_session_updates(spark.read.parquet(f"{root}/updates"))


from vector_search_engine_spark.streaming.event_time import (
    STREAMING_INTERVAL_JOIN_ORACLE as _SSJ_ORACLE,
)


@register("streaming_interval_join", oracle=_SSJ_ORACLE)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase ← same-user clicks within
    30 min), replayed over 4 micro-batches; equals the batch self-join."""
    import tempfile
    import uuid

    from vector_search_engine_spark.streaming import event_time as et

    root = tempfile.mkdtemp(prefix="vse_stream_ssj_")
    staged = et.stage_event_files(spark, sf_dir, f"{root}/staged", n_files=4)
    table = f"ssj_{uuid.uuid4().hex[:8]}"
    et.run_to_memory(
        et.streaming_click_purchase_join(et.stream_events(spark, staged)),
        checkpoint=f"{root}/ckpt",
        table=table,
        output_mode="append",
    )
    return spark.table(table)


@register("streaming_merged_search", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index the first 400 vectors, stream-insert the rest into the delta,
    merged search at full probe == exact search over the union (reference
    Q4 contract, ``engine.h:100-144``, minus its duplicate/visibility bugs)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb), k=10, nprobe=eng.index.meta["n_centroids"]
    )


@register("streaming_merged_search_pq", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-search contract served through the QUANTIZED tier
    (r7): tier="pq" swaps the indexed side's candidate scan for IVFADC
    byte codes (shadow exclusion before the bound cut) — same oracle,
    hash-identical to the float tier at full probe."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="pq",
    )


@register("streaming_merged_search_sq8", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-search contract served through the SQ8 tier: int8
    codes on the indexed side with the lossless range-bound cut (shadow
    exclusion before the cut) — same oracle, hash-identical to the
    float tier at full probe."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="sq8",
    )


@register("streaming_merged_search_sq4", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search_sq4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-search contract served through the SQ4 tier: 16-level
    nibble-packed codes on the indexed side with the same lossless
    range-bound cut (wider per-element error span/30) — same oracle,
    hash-identical to the float tier at full probe."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="sq4",
    )


@register("streaming_merged_search_graph", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-search contract served through the GRAPH tier: the
    indexed side walks per-cell HNSW sidecars (the reference's own beam
    search) with shadowed ids excluded after the walk, the delta side
    scans exact floats, one global raw-float64 top-k.  Graded at full
    probe with an unbounded beam — exhaustive by the connectivity bound,
    hash-identical to exact search over the logical union."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="graph",
        candidates_per_cell=10**9,
    )


@register("streaming_filtered_search", oracle=ORACLES["knn_filtered"])
def streaming_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered × streaming cell of the capability matrix: the engine's
    index carries metadata (extra_cols), delta batches ride it along,
    and the merged search applies the predicate to each row's LATEST
    version on both sides (indexed pre-ranking filter + delta filter)
    while id-shadowing stays predicate-independent.  Graded at full
    probe, hash-identical to exact filtered kNN over the logical
    union."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400),
        _fresh_engine_root(),
        n_centroids=8,
        extra_cols=("label",),
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )


@register("streaming_filtered_search_auto", oracle=_FILTERED_SELECTIVE_ORACLE)
def streaming_filtered_search_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre/post-filter planner THROUGH the streaming merged
    contract, graded at partial nprobe: the ~1%-selective predicate
    routes the indexed side to the prefilter branch (exact brute-force
    over survivors minus shadowed ids — exact at ANY nprobe) and the
    delta side scans its filtered latest rows exactly, so the merged
    result at nprobe=2 is hash-identical to the exact filtered oracle
    over the logical union."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400),
        _fresh_engine_root(),
        n_centroids=8,
        extra_cols=("label",),
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search_filtered(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=2,
        predicate=(F.col("label") == 3) & (F.col("vec_id") % 10 == 0),
        strategy="auto",
    )


@register("streaming_merged_search_cascade", oracle=ORACLES["knn_exact_l2"])
def streaming_merged_search_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged-search contract served through the staged cascade
    tier (BQ candidates → lossless SQ8 bound cut → exact float rescore,
    ivf.search_cascade): full probe + an unbounded stage-1 cut make the
    indexed side hash-identical to the float tier, so the same exact
    oracle applies — the deepest composition of the serving ladder with
    the Q4 delta/tombstone semantics."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="cascade",
        candidates_per_cell=10**9,
    )


_UPSERT_ORACLE = """
WITH cur AS (
  SELECT vec_id,
         CASE WHEN vec_id < 10
              THEN list_concat([CAST(embedding[1] + 0.5 AS FLOAT)], embedding[2:])
              ELSE embedding END AS embedding
  FROM embeddings
),
q AS (SELECT vec_id AS qid, embedding AS query FROM embeddings WHERE vec_id < 20),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(e.embedding, q.query),
             p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2)) AS dist
  FROM cur e CROSS JOIN q
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
"""


@register("streaming_upsert_search", oracle=_UPSERT_ORACLE)
def streaming_upsert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-insert perturbed versions of ids 0..9; search with the ORIGINAL
    query vectors must see only the new versions (upsert-by-id — the
    divergence from the reference documented in SURVEY.md §2.3 Q4)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(emb, _fresh_engine_root(), n_centroids=8)
    perturbed = emb.filter(F.col("vec_id") < 10).withColumn(
        "embedding",
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.5)).cast("float")),
            F.expr("slice(embedding, 2, size(embedding) - 1)"),
        ),
    )
    eng.insert(perturbed)
    return eng.search(
        knn_ops.make_queries(emb), k=10, nprobe=eng.index.meta["n_centroids"]
    )


_DELETE_MOD = 25  # delete every 25th id — indexed AND delta rows affected

_DELETE_ORACLE = f"""
WITH q AS ({_DD_QUERIES}),
alive AS (SELECT * FROM embeddings WHERE vec_id % {_DELETE_MOD} != 0),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {_DD_L2SQ.format(a="e.embedding", b="q.query")} AS dist
  FROM alive e CROSS JOIN q
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
"""


@register("streaming_delete_search", oracle=_DELETE_ORACLE)
def streaming_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM tombstone deletes: index 80% of the corpus, insert the rest as
    delta, then DELETE every 25th id (hitting both indexed and delta
    rows); the merged search must equal exact kNN over the survivors —
    the oracle simply excludes the deleted ids.  A delete surface the
    insert-only reference lacks entirely (``engine.h``)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = int(n * 0.8)
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < cut), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= cut))
    eng.delete(emb.filter(F.col("vec_id") % _DELETE_MOD == 0).select("vec_id"))
    return eng.search(
        knn_ops.make_queries(emb), k=10, nprobe=eng.index.meta["n_centroids"]
    )


@register("streaming_ingest_search", oracle=ORACLES["knn_exact_l2"])
def streaming_ingest_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like streaming_merged_search, but the delta rows arrive through a
    REAL Structured Streaming query (file readStream → foreachBatch append,
    reference Insert RPC path W1/W2) rather than a batch insert."""
    import os

    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    root = _fresh_engine_root()
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), root, n_centroids=8
    )
    stage = os.path.join(root, "incoming")
    emb.filter(F.col("vec_id") >= 400).coalesce(2).write.mode("overwrite").parquet(
        stage
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    eng.ingest_stream(stream).awaitTermination()
    return eng.search(
        knn_ops.make_queries(emb), k=10, nprobe=eng.index.meta["n_centroids"]
    )


@register("streaming_compacted_search", oracle=ORACLES["knn_exact_l2"])
def streaming_compacted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as streaming_merged_search but AFTER compaction folds the delta
    into the partitioned table (reference W4 background flush) — results
    must be byte-identical to the exact oracle either way."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    eng.compact()
    return eng.search(
        knn_ops.make_queries(emb), k=10, nprobe=eng.index.meta["n_centroids"]
    )


_ASOF_ORACLE = f"""
WITH q AS ({_DD_QUERIES}),
d AS (
  SELECT q.qid, e.vec_id AS neighbor_id,
         {_DD_L2SQ.format(a="e.embedding", b="q.query")} AS dist
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id < 400
),
r AS (
  SELECT qid, neighbor_id, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS "rank"
  FROM d
)
SELECT qid, neighbor_id, "rank", round(dist, 4) AS dist_sq
FROM r WHERE "rank" <= 10
"""


@register("index_asof_search", oracle=_ASOF_ORACLE)
def index_asof_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after a compaction folds new rows into the index,
    searching AT the pre-compaction snapshot (``snapshot=-1``) must see
    exactly the original table — Delta-style VERSION AS OF built on the
    manifest history (``ivf.py commit_cells``; the retained-snapshot
    generalization of the EBR grace period, SURVEY.md §2.6 W5)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    eng.compact()
    return eng.index.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        snapshot=-1,
    )


@register("index_asof_search_pq", oracle=_ASOF_ORACLE)
def index_asof_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel THROUGH the quantized tier (r7): as-of search over
    IVFADC byte codes — the generation-keyed sidecar is built from the
    historical snapshot's own files, so the pre-compaction state is
    served from codes that never saw the folded rows.  Same oracle as
    the float as-of search."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    eng.compact()
    return eng.index.search_pq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        snapshot=-1,
    )


@register("index_asof_search_prefix", oracle=_ASOF_ORACLE)
def index_asof_search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the prefix-bound tier: the cut runs over the
    pinned historical snapshot's own cells (no sidecar to key — the
    bound is pure compute), so as-of results equal the float as-of
    search exactly.  Same oracle as the float/PQ as-of rows."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    eng.compact()
    return eng.index.search_prefix(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        prefix_dims=16,
        snapshot=-1,
    )


@register("index_asof_search_graph", oracle=_ASOF_ORACLE)
def index_asof_search_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the GRAPH tier: ``ensure_graph`` keys the
    sidecar by the pinned snapshot's generation and builds it from that
    snapshot's own cells (deterministically — md5 levels, id-ascending
    inserts — so the historical graph is reproducible byte-for-byte),
    and the walk runs over the as-of state.  Graded exhaustively (full
    probe + unbounded beam) against the same as-of oracle as the
    float/PQ/prefix time-travel rows."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    eng.compact()
    return eng.index.search_graph(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        ef=10**9,
        snapshot=-1,
    )


_STREAMING_DEDUP_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


@register("streaming_dedup_ingest", oracle=_STREAMING_DEDUP_ORACLE)
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once rows from an at-least-once replay: staged micro-batches
    re-deliver each boundary hour twice; dropDuplicatesWithinWatermark on
    event_id (bounded state) must reproduce the batch per-type stats
    exactly — the streaming half of exact dedup."""
    import tempfile

    from vector_search_engine_spark.streaming import event_time as et

    root = tempfile.mkdtemp(prefix="vse_stream_dedup_")
    staged = et.stage_event_files_with_dups(spark, sf_dir, f"{root}/staged")
    deduped_dir = f"{root}/deduped"
    et.run_append_to_parquet(
        et.streaming_dedup(et.stream_events(spark, staged)),
        checkpoint=f"{root}/ckpt",
        out_dir=deduped_dir,
    )
    return (
        spark.read.parquet(deduped_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register("corpus_train_val_split", oracle=txt_ops.TRAIN_VAL_SPLIT_ORACLE)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val split — assignment is a pure function
    of (doc_id, salt): stable under corpus growth, repartitioning and
    engine choice (unlike randomSplit)."""
    return txt_ops.train_val_split(load_table(spark, sf_dir, "documents"))


@register("corpus_pack_sequences", oracle=txt_ops.PACK_SEQUENCES_ORACLE)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: contiguous token-budget bins per source in
    deterministic doc order — the pre-serialization step of a training
    pipeline, as one window aggregation."""
    return txt_ops.pack_sequences(load_table(spark, sf_dir, "documents"))




@register(
    "streaming_merged_search_prefix_pca", oracle=ORACLES["knn_exact_l2"]
)
def streaming_merged_search_prefix_pca(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The merged-search contract through the PCA-rotated prefix tier
    (r11): indexed side = rotated-basis lossless bound cut (float32
    sidecar storage absorbed by the per-row norm error budget) + exact
    original-float rescore with shadowed ids excluded pre-cut; delta
    side exact; one global raw-float64 top-k.  Hash-identical to exact
    search over the logical union at full probe."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 400))
    return eng.search(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="prefix_pca",
    )


@register("streaming_search_distributed", oracle=ORACLES["knn_exact_l2"])
def streaming_search_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The merged Q4 contract for DATASET-SIZED query tables (r13):
    engine.search_distributed — IVF bulk path (in-partition probe
    assignment + per-cell cogroup on centroid_id) with shadowed ids
    anti-joined out pre-cut, plus knn_exact_distributed's block-join delta scan; no
    per-query data ever visits the driver on either side.  Exact at
    full probe over the logical union — same oracle as every merged
    search row.  Same 50-id upsert overlap trap as the radius sibling
    (insert >= 350 against a < 400 base): broken shadowing emits the
    same id from both sides and corrupts the top-k hash.  Reference
    anchor: engine.h:100-144's serve loop is the per-query analog."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 350))
    return eng.search_distributed(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
    )


@register(
    "streaming_search_sq8_distributed", oracle=ORACLES["knn_exact_l2"]
)
def streaming_search_sq8_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bulk-query merged contract through the QUANTIZED ladder
    (r13): the indexed side scans the generation-keyed int8 sidecar (4×
    fewer bytes), bound-cuts losslessly per (query, batch) slice, and
    exact-rescores survivors — with shadowed ids excluded BEFORE the
    cut, so the delta's latest versions win exactly as in the float
    form.  Same 50-id upsert overlap trap as the radius sibling (insert
    >= 350 against a < 400 base) so the sweep gates the shadowing
    anti-join too.  Hash-identical to exact search over the union at
    full probe."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 350))
    return eng.search_distributed(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="sq8",
    )


@register(
    "streaming_search_cascade_distributed", oracle=ORACLES["knn_exact_l2"]
)
def streaming_search_cascade_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bulk-query merged contract through the STAGED cascade (r14 —
    completes the tier matrix on the live-engine bulk path: float/sq8/
    cascade × merged): 1-bit candidate generation (32× scan cut) →
    lossless SQ8 bound cut → exact float rescore on the indexed side,
    the delta answered by the block kNN join, shadowed ids anti-joined
    PRE-CUT, one global top-k.  Same 50-id upsert overlap trap as the
    float/sq8 siblings (insert >= 350 against a < 400 base).  Full probe
    + unbounded stage-1 keeps the cascade exact, so the row is
    hash-identical to exact search over the latest-wins union."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 350))
    return eng.search_distributed(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=eng.index.meta["n_centroids"],
        tier="cascade",
        candidates_per_cell=10**9,
    )


@register(
    "streaming_effective_rank",
    oracle="""
WITH u AS (
  -- rid must be a STABLE key: this CTE is referenced four times (n, s,
  -- and both sides of the Gram self-join) and DuckDB inlines
  -- non-materialized CTEs, so a row_number() OVER () rid would be
  -- re-assigned independently per reference and could pair dimensions
  -- from DIFFERENT vectors.  vec_id is unique on the visible slice
  -- (latest-wins collapses the 350-399 upserts to one row per id).
  SELECT vec_id AS rid,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id >= 25
),
n AS (SELECT count(DISTINCT rid)::DOUBLE AS n, max(i)::BIGINT AS d FROM u),
s AS (SELECT i, sum(x) AS s FROM u GROUP BY i),
g AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS g
  FROM u a JOIN u b USING (rid)
  GROUP BY a.i, b.i
),
c AS (
  SELECT g.i, g.j, g.g / n.n - (si.s / n.n) * (sj.s / n.n) AS c
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
SELECT n_vectors, dim, round(tr, 6) AS total_var,
       round(frob, 6) AS frob_sq,
       round(tr * tr / frob, 6) AS effective_rank
FROM agg
""",
)
def streaming_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics over the engine's LIVE VISIBLE SET (r14): the
    new snapshot-export surface (engine.visible_vectors — indexed rows
    anti-joined against delta shadows + latest live delta rows) feeds
    the exact-covariance effective-rank diagnostic.  The build plants
    all three visibility hazards: a < 400 base, an >= 350 upsert
    overlap (50 shadowed ids), and a tombstone wave deleting ids < 25 —
    the visible multiset must equal embeddings[vec_id >= 25] EXACTLY or
    the participation ratio drifts at the 6th decimal (a ghost row, a
    double-counted upsert, or an unapplied tombstone all shift the
    covariance).  Oracle recomputes the rank over that slice."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400), _fresh_engine_root(), n_centroids=8
    )
    eng.insert(emb.filter(F.col("vec_id") >= 350))
    eng.delete([int(i) for i in range(25)])
    return knn_ops.effective_rank(eng.visible_vectors())
