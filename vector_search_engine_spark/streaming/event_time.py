"""Event-time Structured Streaming: watermarked windows + stateful sessions.

The reference's write path is streaming-shaped (W1-W4, ``engine.h:67-176``)
but has **no event-time semantics** (SURVEY.md §2.7).  This module provides
the real thing over the ``events`` table:

* ``stream_events``       — file-source ``readStream`` over the parquet
  events (multi-file staging → genuine multi-micro-batch execution);
* ``streaming_hourly_stats`` — tumbling 1 h event-time window + watermark;
  identical results to the batch ``operators.events.hourly_event_stats``
  (and therefore to the DuckDB oracle);
* ``streaming_sessionize``   — gap-based sessions via
  ``applyInPandasWithState``: per-user session state carried across
  micro-batches, emit-on-update, downstream compaction keeps the final
  version of each session — equal to the batch ``sessionize``.

Scale posture: state is keyed by user_id (hash-partitioned by the state
store); each micro-batch shuffles only its own rows.  Watermarks bound
state: windows older than the delay are finalized and evicted.  The
emit-on-update + compaction pattern is the standard CDC-style sink shape —
the compaction is a normal batch query over the sink table.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from vector_search_engine_spark import load_table
from vector_search_engine_spark.operators.events import SESSION_GAP_S

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# Stateful-query state-partition sizing (r18, guide §2.2 applied to the
# state store): a stateful operator's partition count is pinned at FIRST
# start from spark.sql.shuffle.partitions and every micro-batch commits
# one delta file PER state store PER partition — a stream-stream join
# carries 4 stores/partition, so a 32-partition session pays 128 store
# commits per micro-batch regardless of input size (measured: the
# interval-join replay spent ~3.5 s/batch on 5k rows, almost all state
# overhead).  State partitions are a STATE-VOLUME capacity knob, not a
# cluster-core knob: size them to expected keys/throughput via the env
# override; the default caps the bounded-replay demo queries at 8
# without ever RAISING a session's own setting.
def _state_partitions(spark: SparkSession) -> int:
    env = os.environ.get("VSE_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return min(8, cur)


_STATE_PARTITIONS_LOCK = threading.Lock()


class _pinned_state_partitions:
    """Temporarily pin spark.sql.shuffle.partitions for a stateful
    streaming query's lifetime (the value is captured into the
    checkpoint at first start; restored after the blocking drain).

    Invariant: the save, the pin and the restore all run under
    ``_STATE_PARTITIONS_LOCK``, held from ``__enter__`` to ``__exit__``.
    Overlapping drains therefore run one after the other, and each
    restores the value it saved — without the lock, A saves 200 and
    pins 8, B saves 8, A restores 200, B restores 8, and the session
    stays at 8.  The lock is not reentrant: pinned drains must not
    nest."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            _STATE_PARTITIONS_LOCK.acquire()
            try:
                self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
                self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
            except BaseException:
                _STATE_PARTITIONS_LOCK.release()
                raise

    def __exit__(self, *exc):
        if self.n is not None:
            try:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
            finally:
                _STATE_PARTITIONS_LOCK.release()
        return False


def _ts_bounds(events: DataFrame, n_files: int) -> list[float]:
    """Approximate event-time quantile boundaries (one job)."""
    return [
        r[0]
        for r in events.select(
            F.percentile_approx(
                F.col("ts").cast("double"),
                [i / n_files for i in range(1, n_files)],
                10_000,
            ).alias("b")
        )
        .select(F.explode("b"))
        .collect()
    ]


def _stage_sliced(
    events: DataFrame, bounds: list[float], out_dir: str, overlap_s: float = 0.0
) -> str:
    """ONE write job for all slices: each row computes its slice
    membership set from the precomputed boundaries (slice ``i`` =
    ``bounds[i-1] − overlap_s < ts <= bounds[i]`` — with ``overlap_s > 0``
    a row near a boundary replays in the following slice(s), the
    at-least-once re-delivery pattern), explodes, and is written
    partitioned by slice; each slice's single data file is then promoted
    to ``slice-XXX.parquet`` with strictly increasing mtimes (the file
    source replays in mtime order).  Replaces the previous
    one-filtered-write-per-slice loop: n_files+1 jobs → 2."""
    import shutil

    tsd = F.col("ts").cast("double")
    n = len(bounds) + 1
    conds = []
    for i in range(n):
        c = F.lit(True)
        if i > 0:  # slice lower bound (widened by the replay overlap)
            c = c & (tsd > F.lit(bounds[i - 1]) - overlap_s)
        if i < n - 1:  # slice upper bound
            c = c & (tsd <= F.lit(bounds[i]))
        conds.append(F.when(c, F.lit(i)))
    membership = F.array_compact(F.array(*conds))
    tmp = out_dir + ".stage.tmp"
    (
        events.withColumn("_slice", F.explode(membership))
        .repartition("_slice")
        .write.mode("overwrite")
        .partitionBy("_slice")
        .parquet(tmp)
    )
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n):
        d = os.path.join(tmp, f"_slice={i}")
        if not os.path.isdir(d):  # empty slice (degenerate tiny input)
            continue
        data_files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        # repartition("_slice") guarantees one file per slice dir; a task
        # retry's stray part file (or a future change away from the
        # repartition) must fail loudly, not silently drop rows from the
        # staged replay
        if len(data_files) != 1:
            raise RuntimeError(
                f"slice dir {d} has {len(data_files)} parquet files "
                f"({data_files}); expected exactly 1 — staged replay "
                "would silently lose events"
            )
        path = os.path.join(out_dir, f"slice-{i:03d}.parquet")
        os.replace(os.path.join(d, data_files[0]), path)
        t = time.time() + i  # strictly increasing mtimes = replay order
        os.utime(path, (t, t))
    shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


def stage_event_files(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Split the batch events table into ``n_files`` time-ordered parquet
    files with increasing mtimes, so the file streaming source (ordered by
    modification time, ``maxFilesPerTrigger=1``) replays them as real
    consecutive micro-batches in event-time order — the shape a Kafka topic
    with in-order partitions would produce."""
    events = load_table(spark, sf_dir, "events")
    return _stage_sliced(events, _ts_bounds(events, n_files), out_dir)


def stream_events(spark: SparkSession, staged_dir: str) -> DataFrame:
    """readStream over staged event files, one file per micro-batch."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )


def streaming_hourly_stats(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1 h window per event type (streaming twin of the batch
    ``hourly_event_stats``).  Exact distinct users via ``collect_set`` —
    streaming-legal, unlike ``countDistinct``."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.size(F.collect_set("user_id")).cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
    )


def streaming_click_purchase_join(
    events_stream: DataFrame,
    watermark: str = "2 hours",
    window_s: int = 1800,
) -> DataFrame:
    """Stream-stream INTERVAL JOIN (the remaining Structured Streaming
    join shape): every purchase matched with the same user's clicks in
    the preceding ``window_s`` seconds.  Both sides carry watermarks and
    the join condition bounds event-time distance, so the state store
    evicts rows older than watermark + interval — bounded state under
    unbounded streams.  Inner join ⇒ append-mode results are final; the
    batch twin (the oracle's plain self-join) must match exactly."""
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"interval {window_s} seconds")
        ),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


STREAMING_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
       c.event_id AS click_id, c.ts AS click_ts
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1800 SECOND
"""


def run_to_memory(
    stream_df: DataFrame,
    checkpoint: str,
    table: str,
    output_mode: str = "complete",
    state_partitions: int | None = -1,
):
    """Drain an availableNow streaming query into a memory sink; returns
    the finished StreamingQuery (progress is inspectable).
    ``state_partitions``: -1 (default) = the sized default
    (``_state_partitions``), None = leave the session value alone."""
    spark = stream_df.sparkSession
    n = _state_partitions(spark) if state_partitions == -1 else state_partitions
    with _pinned_state_partitions(spark, n):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


# -- stateful sessionization -------------------------------------------------

_SESSION_STATE_SCHEMA = "start_us long, last_s long, n long"
_SESSION_OUT_SCHEMA = (
    "user_id long, session_start_us long, n_events long, duration_s long"
)


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user fold: continue the open session from state, close on gaps,
    emit every touched session (emit-on-update; the final emission per
    session wins downstream).  State = the one open session.

    Gap comparisons use floor-seconds (matching the batch operator's
    ``ts.cast(long)`` semantics, ``operators/events.py``); session_start
    keeps full microseconds so oracle `min(ts)` parity holds.  Assumes
    per-user in-order arrival across batches (the staged replay guarantees
    it; a production source would pair this with a watermark guard).
    """
    (user_id,) = key
    if state.exists:
        start_us, last_s, n = state.get
    else:
        start_us, last_s, n = None, None, 0
    ts = (
        pd.concat([pdf["ts_us"] for pdf in pdfs])
        .sort_values()
        .to_numpy()
    )
    out = []
    for t_us in ts:
        t_us = int(t_us)
        t_s = t_us // 1_000_000
        if start_us is None:
            start_us, last_s, n = t_us, t_s, 1
        elif t_s - last_s > SESSION_GAP_S:
            out.append((user_id, start_us, n, last_s - start_us // 1_000_000))
            start_us, last_s, n = t_us, t_s, 1
        else:
            last_s, n = t_s, n + 1
    out.append((user_id, start_us, n, last_s - start_us // 1_000_000))
    state.update((start_us, last_s, n))
    yield pd.DataFrame(
        out, columns=["user_id", "session_start_us", "n_events", "duration_s"]
    )


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (``applyInPandasWithState``) — state survives micro-batch boundaries,
    so a session spanning two batches is stitched, not split."""
    return (
        events_stream.select(
            "user_id", F.unix_micros("ts").alias("ts_us")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_updates_to_parquet(
    stream_df: DataFrame,
    checkpoint: str,
    out_dir: str,
    state_partitions: int | None = -1,
) -> None:
    """Drain an update-mode stream by appending every micro-batch's
    emissions to a parquet dir (memory sink doesn't take update mode);
    downstream compaction folds rows to final versions."""

    def append_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("append").parquet(out_dir)

    spark = stream_df.sparkSession
    n = _state_partitions(spark) if state_partitions == -1 else state_partitions
    with _pinned_state_partitions(spark, n):
        q = (
            stream_df.writeStream.foreachBatch(append_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def compact_session_updates(updates: DataFrame) -> DataFrame:
    """Fold emit-on-update session rows to their final versions and assign
    the batch-compatible ``session_seq`` (rank of session_start per user).
    A session's identity is (user_id, session_start); later emissions only
    grow n_events/duration, so max() selects the final version."""
    final = updates.groupBy("user_id", "session_start_us").agg(
        F.max("n_events").alias("n_events"),
        F.max("duration_s").alias("duration_s"),
    )
    w = Window.partitionBy("user_id").orderBy("session_start_us")
    return final.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("session_seq"),
        "n_events",
        F.timestamp_micros("session_start_us").alias("session_start"),
        "duration_s",
    )


# ---------------------------------------------------------------------------
# Streaming exact dedup (at-least-once delivery → exactly-once rows)
# ---------------------------------------------------------------------------


_INTERVAL_UNIT_S = {
    "second": 1.0,
    "seconds": 1.0,
    "sec": 1.0,
    "secs": 1.0,
    "minute": 60.0,
    "minutes": 60.0,
    "min": 60.0,
    "mins": 60.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "day": 86400.0,
    "days": 86400.0,
}


def _interval_seconds(interval: str | float | int) -> float:
    """Parse a Spark-style interval string ('2 hours', '30 minutes',
    '45 seconds') — or a bare number of seconds — into seconds.
    Previously anything except the literal '1 hour' was read as seconds,
    so '2 hours' silently became a 2-second overlap."""
    if isinstance(interval, (int, float)):
        return float(interval)
    parts = interval.strip().split()
    if len(parts) == 1:
        return float(parts[0])
    if len(parts) == 2 and parts[1].lower() in _INTERVAL_UNIT_S:
        return float(parts[0]) * _INTERVAL_UNIT_S[parts[1].lower()]
    raise ValueError(f"cannot parse interval {interval!r}")


def stage_event_files_with_dups(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_files: int = 4,
    overlap: str = "1 hour",
) -> str:
    """Like ``stage_event_files`` but each slice REPLAYS the tail of the
    previous slice (every event within ``overlap`` before the boundary
    appears in both files) — the duplicate pattern an at-least-once source
    (Kafka re-delivery, file-source retry) produces."""
    events = load_table(spark, sf_dir, "events")
    return _stage_sliced(
        events,
        _ts_bounds(events, n_files),
        out_dir,
        overlap_s=_interval_seconds(overlap),
    )


def streaming_dedup(
    events_stream: DataFrame, watermark: str = "3 hours"
) -> DataFrame:
    """Exactly-once rows from an at-least-once stream:
    ``dropDuplicatesWithinWatermark`` on the event key — state holds one
    entry per key only within the watermark horizon (bounded, unlike a
    naive ``dropDuplicates`` whose state grows forever).  The watermark
    delay must exceed the source's re-delivery window (here: the staged
    overlap)."""
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_append_to_parquet(
    stream_df: DataFrame,
    checkpoint: str,
    out_dir: str,
    state_partitions: int | None = -1,
) -> None:
    """Run an append-mode stream to parquet files (availableNow), blocking
    until every staged file is processed."""
    spark = stream_df.sparkSession
    n = _state_partitions(spark) if state_partitions == -1 else state_partitions
    with _pinned_state_partitions(spark, n):
        q = (
            stream_df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
