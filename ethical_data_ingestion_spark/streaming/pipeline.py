"""Structured Streaming pipeline: the continuous-ingestion half of the
engine (SURVEY §2.4).

The reference's "stream" is an asyncio polling loop with per-source rate
limits feeding row-at-a-time inserts (``ethical_crawler.py:293-302,
938-966``). Here that dataflow is re-expressed as Structured Streaming:

* file-arrival source with ``maxFilesPerTrigger`` as the rate limiter
  (SURVEY #30 — backpressure by trigger, not sleep());
* event-time watermarks bounding state (SURVEY #35, absent in reference);
* windowed aggregates reusing the SAME aggregation bodies as the batch
  twins in ``operators/windows.py`` — one code shape, two execution modes;
* streaming dedup and a custom stateful sessionizer;
* ``foreachBatch`` audit sink for the compliance-trail pattern (SURVEY #33).

Scale: streaming state lives in the state store, partitioned by grouping
key across executors; the watermark is what keeps it bounded — without it
a 100 TB/day stream accretes state forever. Every drain is a
``foreachBatch`` drain (:func:`drain_batches`) whose batch jobs run in
the caller's job group; no drain goes through a sink table.
"""

from __future__ import annotations

import functools
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..io import local_frame
from ..materialize import pin_owned, unpin
from ..operators import windows as W
from ..session import scratch_dir

#: Events schema as spooled by :func:`spool` (ts kept NTZ end-to-end; the
#: fixtures are isAdjustedToUTC=false and NTZ windows are tz-independent).
EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)

_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def as_instant(col: str):
    """NTZ wall-clock → TIMESTAMP instant, reading the wall-clock as UTC.

    Watermarks only accept TIMESTAMP, but a bare cast would interpret the
    wall-clock in the *session* timezone — nondeterministic under a
    driver-built session. ``make_timestamp(..., 'UTC')`` rebuilds the
    instant from the NTZ *fields* with an explicit zone, so the mapping —
    and every window boundary downstream, since Spark's TimeWindow aligns
    on epoch micros — is timezone-independent.
    """
    return F.expr(
        f"make_timestamp(year({col}), month({col}), day({col}), "
        f"hour({col}), minute({col}), extract(SECOND FROM {col}), 'UTC')"
    )


def as_ntz(col_name: str):
    """Inverse of :func:`as_instant`: TIMESTAMP instant → NTZ wall-clock
    (UTC reading), again via epoch arithmetic only."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({col_name}), {_EPOCH_NTZ})"
    )


def spool(df: DataFrame, out_dir: str, n_files: int, ts_col: str = "ts") -> str:
    """Write a batch DataFrame as ``n_files`` parquet files — the stand-in
    for files arriving from an ingest process.

    ``repartitionByRange(ts)`` makes file k hold the k-th time range, and
    the explicit mtime stamping below makes the file source replay them in
    that order. Both matter: FileStreamSource orders files by modification
    time (ties arbitrary — a parallel write gives near-identical mtimes),
    and a non-chronological replay puts early events in *later*
    micro-batches where a zero-delay watermark correctly drops them as late
    (window aggs) or corrupts state ordering (stateful ops, which by
    contract do NOT auto-filter late rows). Realistic arrival is
    time-ordered, so spool models that."""
    import glob
    import os

    df.repartitionByRange(n_files, ts_col).write.mode("overwrite").parquet(out_dir)
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    base = os.path.getmtime(parts[0])
    for i, p in enumerate(parts):
        os.utime(p, (base + 2 * i, base + 2 * i))
    return out_dir


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` for a streaming query start.

    Stateful operators snapshot this setting at query start as the state
    store partition count — a *deployment* knob: thousands on a large
    cluster, but each (partition × micro-batch) pays a state-store commit
    plus a Python worker round-trip, so a local availableNow drain over
    ~10^5 rows wants single digits. Restores the previous value on exit;
    batch queries planned outside the scope are unaffected.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Scope the RocksDB state-store provider for a streaming query start
    (the provider is snapshot per query, like the partition count).

    Why per-query and not session-global: for the custom-state
    sessionizer — many keys, four scalars each, committed every
    (partition × batch) — RocksDB beat the default HDFS-backed provider
    29% wall at sf0.1 (15.1s → 10.8s min-of-3, rows identical; its
    per-commit delta-file + CRC pair per partition costs more than
    RocksDB's batched write path even on tmpfs). The tiny-state windowed
    drains measured neutral, so they keep the default. On a real cluster
    RocksDB is also the bounded-heap choice for large state (spills to
    local SSD instead of executor heap)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def stream_from(
    spark: SparkSession,
    src_dir: str,
    schema_ddl: str = EVENTS_DDL,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source streaming scan. ``maxFilesPerTrigger`` is the streaming
    analog of the reference's per-source rate limiter: it bounds how much
    each micro-batch admits, letting the cluster absorb a backlog at a
    controlled rate instead of sleeping between requests."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def drain(writer: DataStreamWriter) -> None:
    """Run ``writer`` as an availableNow query to completion: the one
    place a package drain starts, waits for and cleans up after a
    streaming query. The query gets a fresh checkpoint under
    ``session.scratch_dir``; a failure stops it (the exception
    propagates), and the checkpoint is removed on return either way —
    no package drain resumes an earlier one, so keeping it would only
    grow a long-lived session's scratch. Queries that DO resume
    (periodic catch-up over a durable checkpoint) own their checkpoint
    and start their own query."""
    ckpt = scratch_dir("eds_ckpt_")
    try:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()  # a no-op once the drain has finished
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def drain_batches(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> None:
    """:func:`drain` ``stream`` through ``foreachBatch(fn)`` in
    ``output_mode``, each batch under the caller's job group. A streaming
    query runs its micro-batches on its own thread, in a job group named
    after its run id, so the work ``fn`` starts would otherwise leave the
    group the caller counts or cancels by. The callback thread is reused
    across drains, so its previous group is restored after each batch."""
    sc = stream.sparkSession.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")

    def run(batch_df: DataFrame, batch_id: int) -> None:
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            fn(batch_df, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    drain(stream.writeStream.outputMode(output_mode).foreachBatch(run))


def run_available_now(sdf: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain the stream to completion (``trigger(availableNow)``, a fresh
    checkpoint per call: :func:`drain`) and return its rows as a batch
    DataFrame. Each micro-batch is pinned in the :func:`drain_batches`
    callback, so its rows stay on the executors and its jobs run in the
    caller's job group. ``append`` returns the union of the batch pins;
    ``complete`` re-emits the whole table each batch, so only the last pin
    is kept and the one it replaces is freed by the RDD ids it registered.
    A drain that ran no batch returns an empty frame with the stream's
    schema."""
    spark = sdf.sparkSession
    pins: list[tuple[DataFrame, tuple | None]] = []

    def keep(batch_df: DataFrame, _batch_id: int) -> None:
        pin = pin_owned(spark, batch_df)
        if output_mode == "complete" and pins:
            unpin(*pins.pop())
        pins.append(pin)

    drain_batches(sdf, keep, output_mode)
    if not pins:
        return local_frame(spark, [], sdf.schema)
    return functools.reduce(DataFrame.unionByName, (df for df, _ in pins))


def tumbling_stream(
    stream: DataFrame,
    duration: str,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "0 seconds",
) -> DataFrame:
    """Watermarked tumbling-window aggregate — same body as the batch
    ``tumbling_agg``. In append mode a window emits exactly once, when the
    watermark (max event time − delay) passes its end; windows newer than
    the final watermark stay in state (that retention IS the late-data
    contract). ``window_start`` comes back as NTZ, matching the batch twin.
    """
    wm = stream.withColumn(ts_col, as_instant(ts_col)).withWatermark(ts_col, delay)
    return W.tumbling_agg(wm, ts_col, duration, keys).withColumn(
        "window_start", as_ntz("window_start")
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "0 seconds",
) -> DataFrame:
    """Streaming dedup: first arrival per key wins; duplicate arrivals
    within the watermark horizon are dropped; key state is evicted once the
    watermark passes, so state is O(keys-per-horizon), not O(stream)."""
    return (
        stream.withColumn(ts_col, as_instant(ts_col))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
        .withColumn(ts_col, as_ntz(ts_col))
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState sessionizer
# ---------------------------------------------------------------------------

SESSION_OUT_DDL = (
    "user_id bigint, session_start timestamp_ntz, session_last timestamp_ntz, "
    "n_events bigint, total_value double"
)
_STATE_DDL = "start_us long, last_us long, n long, total double"
_US = 1_000_000


def sessionize_stateful(
    stream: DataFrame,
    gap_seconds: int,
    key: str = "user_id",
    ts_col: str = "ts",
    delay: str = "0 seconds",
) -> DataFrame:
    """Custom stateful sessionizer via ``applyInPandasWithState`` — the
    escape hatch for session semantics ``session_window`` can't express
    (here: the same gap rule, kept deliberately equivalent so tests can
    diff it against the built-in).

    Per key, open-session state = (start, last, count, sum). Each batch
    merges its events in event-time order; a gap > ``gap_seconds`` closes
    the running session and emits it immediately. The trailing open session
    is parked in state with an event-time timeout at ``last + gap``; the
    watermark advancing past that fires the timeout and flushes it. State
    per key is four scalars — bounded regardless of stream length.
    """
    gap_us = gap_seconds * _US
    # Watermark needs the TIMESTAMP column; the Python side reads epoch
    # micros as plain longs — timestamps never cross the Arrow boundary,
    # so no session-timezone ambiguity in the UDF.
    stream = stream.withColumn(ts_col, as_instant(ts_col)).withColumn(
        "ts_us", F.unix_micros(F.col(ts_col))
    )

    def fn(
        key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (uid,) = key_tuple
        # emission stays in numpy end to end: (start_us, last_us, n, total)
        # column arrays, converted to datetime64 once per key — per-segment
        # Python tuples and per-key pd.to_datetime calls dominated the
        # worker profile at ~10^5 sessions/batch.
        c_start: object = None

        if state.hasTimedOut:
            s, last, n, total = state.get
            c_start = np.array([s], dtype=np.int64)
            c_last = np.array([last], dtype=np.int64)
            c_n = np.array([n], dtype=np.int64)
            c_total = np.array([total], dtype=np.float64)
            state.remove()
        else:
            chunks = list(pdfs)
            events = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            ts_arr = events["ts_us"].to_numpy(np.int64)
            order = np.argsort(ts_arr, kind="stable")
            ts = ts_arr[order]
            vals = events["value"].to_numpy(np.float64)[order]
            cur = state.get if state.exists else None
            # vectorized sessionization: segment boundaries where the
            # event-time gap exceeds the session gap, per-segment stats via
            # reduceat — no per-event Python loop (was ~10µs/event in iloc)
            if len(ts):
                seg_starts = np.concatenate(
                    ([0], np.flatnonzero(np.diff(ts) > gap_us) + 1)
                )
                seg_ends = np.concatenate((seg_starts[1:], [len(ts)]))
                s_start = ts[seg_starts]
                s_last = ts[seg_ends - 1]
                s_n = (seg_ends - seg_starts).astype(np.int64)
                s_total = np.add.reduceat(vals, seg_starts)
                carried = None
                if cur is not None and int(s_start[0]) - cur[1] <= gap_us:
                    # first segment continues the open session from state
                    s_start[0] = cur[0]
                    s_n[0] += cur[2]
                    s_total[0] += cur[3]
                elif cur is not None:
                    carried = cur
                # all but the trailing segment are closed by in-batch gaps
                c_start = s_start[:-1]
                c_last = s_last[:-1]
                c_n = s_n[:-1]
                c_total = s_total[:-1]
                if carried is not None:
                    c_start = np.concatenate(([carried[0]], c_start))
                    c_last = np.concatenate(([carried[1]], c_last))
                    c_n = np.concatenate(([carried[2]], c_n))
                    c_total = np.concatenate(([carried[3]], c_total))
                cur = (
                    int(s_start[-1]),
                    int(s_last[-1]),
                    int(s_n[-1]),
                    float(s_total[-1]),
                )
            if cur is not None:
                timeout_ms = cur[1] // 1000 + gap_seconds * 1000
                if timeout_ms <= state.getCurrentWatermarkMs():
                    # Watermark already passed this session's close time
                    # (e.g. this key's data rode in a later micro-batch):
                    # a timeout in the past is illegal — emit now.
                    if c_start is None:
                        c_start = np.array([cur[0]], dtype=np.int64)
                        c_last = np.array([cur[1]], dtype=np.int64)
                        c_n = np.array([cur[2]], dtype=np.int64)
                        c_total = np.array([cur[3]], dtype=np.float64)
                    else:
                        c_start = np.concatenate((c_start, [cur[0]]))
                        c_last = np.concatenate((c_last, [cur[1]]))
                        c_n = np.concatenate((c_n, [cur[2]]))
                        c_total = np.concatenate((c_total, [cur[3]]))
                    if state.exists:
                        state.remove()
                else:
                    state.update(cur)
                    state.setTimeoutTimestamp(timeout_ms)

        if c_start is not None and len(c_start):
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(c_start), uid, dtype=np.int64),
                    "session_start": c_start.astype("datetime64[us]"),
                    "session_last": c_last.astype("datetime64[us]"),
                    "n_events": c_n,
                    "total_value": np.round(c_total, 2),
                }
            )

    return (
        stream.withWatermark(ts_col, delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_DDL,
            stateStructType=_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join_stream(
    stream: DataFrame,
    left_type: str,
    right_type: str,
    max_gap_seconds: int,
    delay_seconds: int | None = None,
) -> DataFrame:
    """Stream-stream inner join: events of ``right_type`` following an
    event of ``left_type`` by the same user within ``max_gap_seconds``.

    The canonical funnel/attribution shape (purchase → follow-up click).
    Both sides carry a watermark; the equi-join key is ``user_id`` (so
    the state shuffles on user) and the time bound is the range predicate
    Spark uses to EVICT state: a left row can be dropped once the right
    watermark passes ``l_ts + max_gap`` — state is O(events per gap
    horizon), not O(stream). The watermark delay defaults to the join gap
    plus a one-minute reorder buffer: any smaller and a cross-batch match
    whose left side aged past the delay would be silently lost (the same
    over-approximation rule as the dedup prefix filters — correctness
    bounds the delay from below, state size bounds it from above).
    """
    if delay_seconds is None:
        delay_seconds = max_gap_seconds + 60
    base = stream.withColumn("ts", as_instant("ts"))
    left = (
        base.filter(F.col("event_type") == left_type)
        .select("user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id"))
        .withWatermark("l_ts", f"{delay_seconds} seconds")
    )
    right = (
        base.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", f"{delay_seconds} seconds")
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap_seconds} SECOND")
        ),
    )
    return joined.select("user_id", "l_id", "r_id")


def audit_sink(stream: DataFrame, out_dir: str) -> "DataFrame":
    """Compliance-audit-trail sink (SURVEY #33): ``foreachBatch`` appends
    each micro-batch to a parquet audit log with its batch id — the
    exactly-once-per-batch append pattern for sinks with no native
    streaming writer. Returns the started query handle's source df for
    chaining in tests."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    drain_batches(stream, write_batch)
    return stream


def sliding_stream(
    stream: DataFrame,
    duration: str,
    slide: str,
    ts_col: str = "ts",
    delay: str = "0 seconds",
) -> DataFrame:
    """Watermarked sliding-window aggregate — same body as the batch
    ``sliding_agg`` (each event expands to duration/slide windows inside
    the TimeWindow generator; state is per open window)."""
    wm = stream.withColumn(ts_col, as_instant(ts_col)).withWatermark(ts_col, delay)
    return W.sliding_agg(wm, ts_col, duration, slide).withColumn(
        "window_start", as_ntz("window_start")
    )


def incremental_rollup(
    stream: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    keys: list[str] = ("event_type",),
) -> str:
    """Continuous aggregate (hypertable-rollup shape): maintain a daily
    rollup TABLE incrementally as the stream arrives.

    Each micro-batch re-aggregates only the (day, keys) partial counts it
    contains and merges them into a day-partitioned parquet table via
    foreachBatch: read the affected days' current partials, combine, and
    rewrite ONLY those day directories (dynamic partition overwrite).
    Work per batch is O(batch + touched partitions), never a full-table
    rewrite — the property that makes a rolling 100 TB rollup maintainable.
    Readers aggregate the partials (sum of sums) for exact totals.
    """
    keys = list(keys)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = (
            batch_df.withColumn("day", F.to_date(ts_col))
            .groupBy("day", *keys)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        try:
            current = spark.read.parquet(out_dir)
            touched = delta.select("day").distinct()
            merged = (
                current.join(F.broadcast(touched), "day", "left_semi")
                .unionByName(delta)
                .groupBy("day", *keys)
                .agg(
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.sum(F.col("total_value").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total_value"),
                )
            )
        except Exception:  # first batch: nothing to merge yet
            merged = delta
        old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("day").parquet(out_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    drain_batches(stream, merge_batch)
    return out_dir


def enrich_stream(
    stream: DataFrame, static_dim: DataFrame, on: list[str], how: str = "inner"
) -> DataFrame:
    """Stream-static join: every micro-batch joins against a batch
    dimension table — the enrichment pattern (stream of facts, slowly
    changing reference data). Stateless on the stream side: no watermark,
    no join state, because the static side is re-resolved per micro-batch;
    broadcast keeps it shuffle-free so arbitrarily large stream volume
    never re-partitions on the dimension key."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    return stream.join(F.broadcast(static_dim), on, how)
