"""A long-lived session stays bounded across streaming drains: warm
cycles add no scratch entries, exit hooks, queries, temp views or
persisted RDDs, and a drain that fails leaves no query, temp view or
checkpoint behind."""

from __future__ import annotations

import atexit
import glob
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from ethical_data_ingestion_spark.io import load_table
from ethical_data_ingestion_spark.materialize import transient_release
from ethical_data_ingestion_spark.registry import QUERIES
from ethical_data_ingestion_spark.streaming import pipeline as P

SOAK = ("streaming_knn_serving", "streaming_tumbling_hourly", "continuous_rollup_daily",
        "streaming_dedup_keys", "streaming_enriched_segments")


def scratch_root(spark) -> str:
    """Where ``scratch_dir`` puts this session's directories: next to the
    ``spark.local.dir`` that ``get_spark`` took from it."""
    return os.path.dirname(spark.conf.get("spark.local.dir"))


def scratch_entries(spark) -> int:
    """Files and dirs under the scratch root, leaving out the shuffle and
    block files Spark keeps under ``spark.local.dir`` (``eds_local_*``):
    those come and go with its own cleaner, not with the drains."""
    root, n = scratch_root(spark), 0
    for top, dirs, files in os.walk(root):
        if top == root:
            dirs[:] = [d for d in dirs if not d.startswith("eds_local_")]
        n += len(dirs) + len(files)
    return n


def temp_views(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


def state(spark) -> tuple:
    return (scratch_entries(spark), atexit._ncallbacks(), len(spark.streams.active),
            temp_views(spark), len(spark.sparkContext._jsc.getPersistentRDDs()))


def checkpoints(spark) -> list[str]:
    return glob.glob(os.path.join(scratch_root(spark), "eds_ckpt_*"))


def test_warm_drain_cycles_leave_session_flat(spark, sf_dir):
    seen = []
    for _ in range(6):
        for name in SOAK:
            QUERIES[name](spark, sf_dir).collect()
        transient_release(spark)
        seen.append(state(spark))
    assert seen[2][2] == 0 and spark.streams.active == []
    assert seen[2:] == [seen[2]] * 4, seen
    assert checkpoints(spark) == []


def _spooled_events(spark, sf_dir, tmp_path):
    src = P.spool(load_table(spark, sf_dir, "events"), str(tmp_path / "src"), 2)
    return P.stream_from(spark, src, max_files_per_trigger=1)


def test_failed_drains_leave_nothing_behind(spark, sf_dir, tmp_path):
    hourly = QUERIES["streaming_tumbling_hourly"]
    before = sorted(hourly(spark, sf_dir).collect())
    views = temp_views(spark)

    @F.udf("long")
    def boom(x):
        raise ValueError("injected drain failure")

    stream = _spooled_events(spark, sf_dir, tmp_path)
    with pytest.raises(StreamingQueryException, match="injected drain failure"):
        P.run_available_now(stream.select(boom("event_id").alias("x")))
    assert spark.streams.active == []
    assert temp_views(spark) == views
    assert checkpoints(spark) == []

    def fail_batch(batch_df, batch_id):
        raise RuntimeError("injected batch failure")

    with pytest.raises(StreamingQueryException, match="injected batch failure"):
        P.drain(stream.writeStream.foreachBatch(fail_batch))

    assert spark.streams.active == []
    assert checkpoints(spark) == []
    assert sorted(hourly(spark, sf_dir).collect()) == before


def test_released_spools_leave_no_dirs(spark, sf_dir):
    """``shared_release`` removes the dir of a spool it evicts: spooling
    and releasing three times leaves at most one spool dir."""
    from ethical_data_ingestion_spark.materialize import shared_release
    from ethical_data_ingestion_spark.queries.streaming_q import _spooled_stream

    for _ in range(3):
        _spooled_stream(spark, sf_dir, 4, 2)
        shared_release(spark, lambda k: k[0] == "events_spool")
    assert len(glob.glob(os.path.join(scratch_root(spark), "eds_stream_src_*"))) <= 1
