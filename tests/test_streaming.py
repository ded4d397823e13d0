"""Structured Streaming: availableNow drains vs batch twins, watermark
semantics, stateful sessionizer, audit sink."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pytest
from conftest import jobs_of
from pyspark.sql import functions as F

from ethical_data_ingestion_spark.io import load_table
from ethical_data_ingestion_spark.operators import windows as W
from ethical_data_ingestion_spark.streaming import pipeline as P


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_spool_files_arrive_chronologically(spark, sf_dir, tmp_path):
    src = P.spool(_events(spark, sf_dir), str(tmp_path / "src"), 4)
    parts = sorted(glob.glob(os.path.join(src, "part-*")))
    assert len(parts) == 4
    mtimes = [os.path.getmtime(p) for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_complete_mode_tumbling_equals_batch(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 4)
    out = P.run_available_now(
        P.tumbling_stream(P.stream_from(spark, src, max_files_per_trigger=1),
                          "1 hour", ["event_type"]),
        output_mode="complete",
    )
    batch = W.tumbling_agg(ev, "ts", "1 hour", ["event_type"])
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_append_mode_emits_watermark_passed_windows_once(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 4)
    out = P.run_available_now(
        P.tumbling_stream(P.stream_from(spark, src, max_files_per_trigger=1),
                          "1 hour", ["event_type"])
    )
    batch = W.tumbling_agg(ev, "ts", "1 hour", ["event_type"])
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts)
    )
    # emitted exactly once and exactly the closed set
    assert out.exceptAll(closed).count() == 0
    assert closed.exceptAll(out).count() == 0


def test_streaming_dedup_equals_distinct(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 1)
    out = P.run_available_now(
        P.dedup_stream(P.stream_from(spark, src), ["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    assert out.count() == ev.select("user_id", "event_type").distinct().count()
    assert out.distinct().count() == out.count()


def test_stateful_sessionizer_matches_batch_sessions(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 4)
    sess = P.run_available_now(
        P.sessionize_stateful(
            P.stream_from(spark, src, max_files_per_trigger=2), 1800
        )
    )
    batch = W.session_agg(ev, "ts", "30 minutes", "user_id")
    a = sess.select("user_id", "session_start", "n_events")
    b = batch.select("user_id", "session_start", "n_events")
    # every emitted session is a real session; only the one still-open
    # trailing session (watermark has not passed its close) is withheld
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 1


def test_audit_sink_appends_batches_with_ids(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 2)
    out_dir = str(tmp_path / "audit")
    P.audit_sink(P.stream_from(spark, src, max_files_per_trigger=1), out_dir)
    audit = spark.read.parquet(out_dir)
    assert audit.count() == ev.count()
    assert [r.batch_id for r in audit.select("batch_id").distinct().collect()] is not None
    assert audit.select("batch_id").distinct().count() == 2


def _newest_job(spark) -> int:
    """Id of the newest job in the status store, read once two polls
    0.1 s apart agree (the store is fed by an asynchronous listener).
    Job ids are sequential, so the difference of two reads counts every
    job started in between, in any group."""
    store, seen = spark.sparkContext._jsc.sc().statusStore(), None
    for _ in range(50):
        jobs = store.jobsList(None)  # the newest first
        newest = jobs.apply(0).jobId() if jobs.size() else -1
        if newest == seen:
            return newest
        seen = newest
        time.sleep(0.1)
    return seen


@pytest.mark.parametrize("output_mode", ["append", "complete"])
def test_drained_batches_run_in_callers_job_group(spark, sf_dir, tmp_path, output_mode):
    """Every job a ``run_available_now`` drain starts (the micro-batches'
    and the per-batch pins) runs in the caller's job group, not the
    stream's own; a second drain from another group runs in that one."""
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 2)

    def drain():
        sdf = P.stream_from(spark, src, max_files_per_trigger=1)
        if output_mode == "complete":
            sdf = sdf.groupBy("event_type").count()
        return P.run_available_now(sdf, output_mode)

    for _ in range(2):
        before = _newest_job(spark)
        rows, jobs = jobs_of(spark, drain)
        assert jobs >= 2  # one pin per micro-batch
        assert _newest_job(spark) - before == jobs  # none outside the group
        if output_mode == "append":
            assert rows.count() == ev.count()
        else:
            assert sorted(rows.collect()) == sorted(ev.groupBy("event_type").count().collect())


@pytest.mark.parametrize("output_mode", ["append", "complete"])
def test_drain_of_empty_source_returns_empty_frame(spark, tmp_path, output_mode):
    """A drain that runs no micro-batch returns no rows, with the stream's
    columns."""
    (tmp_path / "src").mkdir()
    sdf = P.stream_from(spark, str(tmp_path / "src"))
    if output_mode == "complete":
        sdf = sdf.groupBy("event_type").count()
    out = P.run_available_now(sdf, output_mode)
    assert out.columns == sdf.columns
    assert out.count() == 0


def test_sliding_stream_complete_equals_batch(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 4)
    out = P.run_available_now(
        P.sliding_stream(P.stream_from(spark, src, max_files_per_trigger=2),
                         "6 hours", "1 hour"),
        output_mode="complete",
    )
    batch = W.sliding_agg(ev, "ts", "6 hours", "1 hour")
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_incremental_rollup_matches_batch_aggregate(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    src = P.spool(ev, str(tmp_path / "src"), 4)
    out_dir = str(tmp_path / "rollup")
    P.incremental_rollup(
        P.stream_from(spark, src, max_files_per_trigger=1), out_dir
    )
    rolled = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.col("total_value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
    )
    batch = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("total_value"),
        )
    )
    assert rolled.exceptAll(batch).count() == 0
    assert batch.exceptAll(rolled).count() == 0
    # day-partitioned layout on disk (incremental rewrites touch only days)
    import glob, os
    days = glob.glob(os.path.join(out_dir, "day=*"))
    assert len(days) >= 25  # ~30 days of fixture events


def test_availablenow_resume_processes_only_delta(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS: two availableNow drains sharing one
    checkpoint — the second sees only files that arrived after the
    first, and the sink ends up with every event exactly once (equal to
    the batch read of all files). This is the catch-up contract a
    periodic ingest job relies on; the file-source's processed-file log
    lives in the checkpoint."""
    import shutil

    ev = _events(spark, sf_dir)
    staged = P.spool(ev, str(tmp_path / "all"), 4)
    parts = sorted(glob.glob(os.path.join(staged, "part-*")))
    src = str(tmp_path / "src")
    os.makedirs(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            P.stream_from(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for p in parts[:2]:
        shutil.copy(p, src)
    drain()
    n_first = spark.read.parquet(sink).count()
    assert n_first == spark.read.parquet(*parts[:2]).count()

    base = max(os.path.getmtime(os.path.join(src, f)) for f in os.listdir(src))
    for i, p in enumerate(parts[2:]):
        dst = os.path.join(src, os.path.basename(p))
        shutil.copy(p, dst)
        os.utime(dst, (base + 2 + i, base + 2 + i))
    drain()
    got = spark.read.parquet(sink)
    want = ev
    assert got.count() == n_first + spark.read.parquet(*parts[2:]).count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
