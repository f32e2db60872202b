"""Event-time Structured Streaming tests: watermarked windows equal the
batch plans; stateful sessions stitch across micro-batch boundaries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark import load_table
from vector_search_engine_spark.operators.events import (
    hourly_event_stats,
    sessionize,
)
from vector_search_engine_spark.streaming import event_time as et


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("staged_events"))
    et.stage_event_files(spark, sf_dir, out, n_files=4)
    return out


def test_staging_preserves_rows_and_orders_files(spark, sf_dir, staged):
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(files) == 4
    n_batch = load_table(spark, sf_dir, "events").count()
    n_staged = spark.read.parquet(os.path.join(staged, "*.parquet")).count()
    assert n_staged == n_batch
    mtimes = [os.path.getmtime(os.path.join(staged, f)) for f in files]
    assert mtimes == sorted(mtimes)


def test_streaming_hourly_equals_batch(spark, sf_dir, staged, tmp_path):
    stream = et.stream_events(spark, staged)
    q = et.run_to_memory(
        et.streaming_hourly_stats(stream),
        checkpoint=str(tmp_path / "ckpt"),
        table="hourly_complete",
    )
    # genuinely incremental: one micro-batch per staged file
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3
    got = {
        (r.hour, r.event_type): (r.n_events, r.n_users, round(r.sum_value, 6))
        for r in spark.table("hourly_complete").collect()
    }
    want = {
        (r.hour, r.event_type): (r.n_events, r.n_users, round(r.sum_value, 6))
        for r in hourly_event_stats(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_append_mode_emits_only_finalized_windows(spark, sf_dir, staged, tmp_path):
    """With a short watermark delay, append mode emits exactly the windows
    whose end <= final watermark; emitted rows match the batch result."""
    stream = et.stream_events(spark, staged)
    et.run_to_memory(
        et.streaming_hourly_stats(stream, watermark="30 minutes"),
        checkpoint=str(tmp_path / "ckpt_app"),
        table="hourly_append",
        output_mode="append",
    )
    emitted = spark.table("hourly_append")
    batch = {
        (r.hour, r.event_type): (r.n_events, r.n_users)
        for r in hourly_event_stats(load_table(spark, sf_dir, "events")).collect()
    }
    rows = emitted.collect()
    assert len(rows) > 0
    # every emitted (finalized) window agrees exactly with batch
    for r in rows:
        assert batch[(r.hour, r.event_type)] == (r.n_events, r.n_users)
    # and the last hour (still within the watermark delay) was withheld
    max_hour = max(h for h, _ in batch)
    assert all(r.hour < max_hour for r in rows)


def test_stateful_sessionize_stitches_across_batches(spark, sf_dir, staged, tmp_path):
    stream = et.stream_events(spark, staged)
    sink = str(tmp_path / "session_updates")
    et.run_updates_to_parquet(
        et.streaming_sessionize(stream),
        checkpoint=str(tmp_path / "ckpt_sess"),
        out_dir=sink,
    )
    updates = spark.read.parquet(sink)
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start, r.duration_s)
        for r in et.compact_session_updates(updates).collect()
    }
    want = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start, r.duration_s)
        for r in sessionize(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want
    # emit-on-update produced strictly more rows than final sessions
    assert updates.count() > len(got)


def test_streaming_dedup_drops_redelivered_rows(spark, sf_dir, tmp_path):
    """The staged replay re-delivers every boundary-hour event twice; the
    watermarked dedup must emit each event_id exactly once and reproduce
    the batch table."""
    from vector_search_engine_spark.streaming import event_time as et

    staged = et.stage_event_files_with_dups(
        spark, sf_dir, str(tmp_path / "staged"), n_files=4
    )
    staged_rows = spark.read.parquet(f"{staged}/slice-*.parquet")
    n_staged = staged_rows.count()
    n_distinct = staged_rows.select("event_id").distinct().count()
    assert n_staged > n_distinct  # duplicates really are in the input
    out_dir = str(tmp_path / "deduped")
    et.run_append_to_parquet(
        et.streaming_dedup(et.stream_events(spark, staged)),
        checkpoint=str(tmp_path / "ckpt"),
        out_dir=out_dir,
    )
    deduped = spark.read.parquet(out_dir)
    assert deduped.count() == n_distinct
    assert deduped.select("event_id").distinct().count() == n_distinct


def test_overlapping_drains_restore_shuffle_partitions():
    """Two drains that overlap must leave spark.sql.shuffle.partitions at
    the session's own value.  The interleaving that leaked the pin: A
    saves 200 and pins 8, B saves 8, A restores 200, B restores 8.  B
    waits inside its drain until A has exited, and A gives B one second
    to enter; with the save-to-restore lock B cannot enter before A
    exits, so it saves 200 and restores 200.  Spark-free: a fake conf."""
    import threading
    from types import SimpleNamespace

    class Conf:
        def __init__(self):
            self.v = {"spark.sql.shuffle.partitions": "200"}

        def get(self, key, default=None):
            return self.v.get(key, default)

        def set(self, key, value):
            self.v[key] = value

    spark = SimpleNamespace(conf=Conf())
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def drain_a():
        with et._pinned_state_partitions(spark, 8):
            a_in.set()
            b_in.wait(timeout=1.0)
        a_out.set()

    def drain_b():
        a_in.wait(timeout=10)
        with et._pinned_state_partitions(spark, 8):
            b_in.set()
            a_out.wait(timeout=10)

    threads = [threading.Thread(target=f) for f in (drain_a, drain_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "200"


def test_load_events_leaves_matching_nanos_conf_untouched():
    """``load_table`` writes the session-global nanosAsLong conf only
    when the session holds another value: a session that already has
    ``"true"`` sees no ``conf.set`` on an ``events`` read, and one that
    does not gets exactly one.  Spark-free: a fake conf and reader."""
    from types import SimpleNamespace

    class Conf:
        def __init__(self, v):
            self.v = dict(v)
            self.sets = []

        def get(self, key, default=None):
            return self.v.get(key, default)

        def set(self, key, value):
            self.sets.append((key, value))
            self.v[key] = value

    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = SimpleNamespace(dtypes=[("user_id", "bigint"), ("ts", "timestamp")])
    for before, want_sets in (({key: "true"}, []), ({}, [(key, "true")])):
        spark = SimpleNamespace(
            conf=Conf(before),
            read=SimpleNamespace(parquet=lambda path: df),
        )
        assert load_table(spark, "/sf", "events") is df
        assert spark.conf.sets == want_sets
