"""Structured-Streaming queries for the driver contract.

Each entry drains a real streaming pipeline (file source → watermark →
stateful op → sink) to completion with ``trigger(availableNow)`` and
returns the materialized result as a batch DataFrame, so even the
streaming engine gets the DuckDB hash gate:

* complete-mode windowed aggregation ≡ the batch aggregation (verified
  exact at sf0.001/0.01), so the oracle is the plain GROUP BY;
* streaming dedup over one micro-batch ≡ DISTINCT;
* the custom ``applyInPandasWithState`` sessionizer emits every session
  the watermark has passed — a 2-second guard band on BOTH sides excludes
  the boundary where emit strictness (wm > timeout vs ≥) could differ, so
  the remaining set is deterministic and mirrors gaps-and-islands SQL.

Spooling: events are re-written as range-partitioned files (chronological
arrival order) under a temp dir per call — the micro-batch sequence is the
point, not the copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register
from ..session import scratch_dir
from ..streaming import pipeline as P

_SESSION_GAP_S = 1800
_GUARD_S = _SESSION_GAP_S + 2  # gap + 2s guard band


_SPOOL_CACHE: dict[tuple[str, int], str] = {}


def _spooled_stream(
    spark: SparkSession, sf_dir: str, n_files: int, mfpt: int | None
) -> DataFrame:
    key = (sf_dir, n_files)
    if key not in _SPOOL_CACHE:
        ev = load_table(spark, sf_dir, "events")
        _SPOOL_CACHE[key] = P.spool(
            ev, scratch_dir("eds_stream_src_"), n_files
        )
    return P.stream_from(spark, _SPOOL_CACHE[key], max_files_per_trigger=mfpt)


@register(
    "streaming_tumbling_hourly",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling windows computed BY THE STREAMING ENGINE (4 files →
    2 micro-batches through the windowed state store — state handed off
    across batches, which is the property under test; more batches only
    multiply fixed per-commit overhead), complete-mode so the final table
    equals the batch aggregation bit-for-bit. Append mode + watermark is
    the production shape (see streaming/pipeline.py); complete into the
    memory sink is the test/driver harness.

    4 state partitions: windowed-agg state is JVM-side and tiny (one row
    per open (window × key)); each partition pays a per-batch state-store
    commit, so the partition count is sized to the state, not the CPU
    count (8→4 measured 3.2s→1.7s at sf0.1).

    r13: the drained window table is PUBLISHED per run (producer always
    rebuilds — the _truth_pairs discipline) so the anomaly screen, which
    consumes the identical 1-hour tumbling table, stops re-draining the
    same stream (guide §2.4)."""
    from ..materialize import shared_publish

    out = _drain_tumbling_1h(spark, sf_dir)
    shared_publish((*_TUMB_KEY, sf_dir), spark, out)
    return out.orderBy("window_start", "event_type")


_TUMB_KEY = ("drained_tumbling_1h",)


def _drain_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-maintained 1-hour tumbling drain (complete mode) —
    the registered producer body, also the rebuild path when the
    published table is absent."""
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=2)
        return P.run_available_now(
            P.tumbling_stream(stream, "1 hour", ["event_type"]),
            output_mode="complete",
        )


def _tumbling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published drained 1-hour window table, draining and publishing
    on first need (same shape as dedup_q._truth_pairs)."""
    from ..materialize import shared

    return shared(
        (*_TUMB_KEY, sf_dir), spark, lambda: _drain_tumbling_1h(spark, sf_dir)
    )


@register(
    "streaming_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` over the event stream: first
    arrival per (user_id, event_type) survives; key state is evicted as the
    watermark passes (bounded state at 100 TB/day). Projected to the key
    columns, the surviving set is exactly DISTINCT."""
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=1, mfpt=None)
        out = P.run_available_now(
            P.dedup_stream(stream, ["user_id", "event_type"]).select(
                "user_id", "event_type"
            )
        )
    return out.orderBy("user_id", "event_type")


_SESSIONS_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL {_SESSION_GAP_S} SECOND THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) AS session_last,
             COUNT(*) AS n_events
      FROM numbered
      GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, session_last, n_events
    FROM sessions
    WHERE session_last + INTERVAL {_GUARD_S} SECOND <= (SELECT MAX(ts) FROM events)
    ORDER BY user_id, session_start
    """


def _guard_sessions(sess: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only sessions whose close time cleared the final watermark by
    the guard band — the set the streaming semantics guarantee are emitted
    exactly once (shared by the custom-state and JVM session queries).
    The final watermark (max event ts) comes from the parquet footer
    statistics — a driver-side metadata read, no extra Spark job — with
    an aggregate-scan fallback when stats are absent."""
    from ..io import column_max_from_footers

    max_ts = column_max_from_footers(sf_dir, "events", "ts")
    if max_ts is None:
        ev = load_table(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
    return (
        sess.filter(
            F.col("session_last") + F.expr(f"INTERVAL {_GUARD_S} SECOND")
            <= F.lit(max_ts)
        )
        .select("user_id", "session_start", "session_last", "n_events")
        .orderBy("user_id", "session_start")
    )


@register("streaming_sessions_stateful", oracle=_SESSIONS_ORACLE)
def streaming_sessions_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``
    (event-time timeouts, four scalars of state per open session), drained
    availableNow in one catch-up micro-batch (the timeout flush still runs
    as its own final batch). Cross-batch state handoff — the property a
    multi-batch drain exercises — is pinned at fixture scale by
    tests/test_streaming.py::test_stateful_sessionizer_matches_batch_sessions;
    the registered drain uses the largest micro-batch availableNow allows
    because every extra batch re-pays the per-(partition × batch) Arrow
    round-trip and state-store commit (measured at sf0.1: 2 batches 5.2s →
    1 batch 4.2s after vectorizing the worker's emission path).

    24 state partitions, unlike the JVM-state queries' single digits: the
    bottleneck is per-key Python work in the stateful worker, which
    parallelizes with partitions while its state-store commits stay cheap
    (four scalars per key); measured 16 → 24 → 32 = 5.1 → 4.2 → 4.7s.
    The JVM twin below prices the same semantics without the Python
    worker — the premium for the custom-state API is ~1.4× at sf0.1.

    State store: RocksDB (scoped per query start) — 29% faster than the
    default HDFS-backed provider on this drain's many-keys/tiny-state
    commit pattern (see ``pipeline.rocksdb_state_store``), rows
    identical."""
    with P.state_partitions(spark, 24), P.rocksdb_state_store(spark):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=None)
        sess = P.run_available_now(
            P.sessionize_stateful(stream, _SESSION_GAP_S), name=None
        )
    return _guard_sessions(sess, spark, sf_dir)


@register("streaming_sessions_jvm", oracle=_SESSIONS_ORACLE)
def streaming_sessions_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME session semantics as ``streaming_sessions_stateful``, via
    the built-in ``session_window`` streaming aggregation — all state JVM-
    side, no Python worker in the loop. Exists (a) as the production
    recommendation whenever the gap rule is expressible, and (b) to
    quantify the custom-state premium against an identical oracle: at
    sf0.1 this runs ~3.0s vs the stateful ~4.0s on the same drain.
    8 state partitions (vs the stateful's 24): with no Python worker to
    parallelize, the per-(partition × batch) commit cost dominates
    sooner."""
    with P.state_partitions(spark, 8):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=None)
        wm = stream.withColumn("ts", P.as_instant("ts")).withWatermark(
            "ts", "0 seconds"
        )
        agg = wm.groupBy(
            F.session_window("ts", f"{_SESSION_GAP_S} seconds").alias("w"),
            "user_id",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("_last_i"),
        )
        sess = P.run_available_now(agg)
    sess = sess.select(
        "user_id",
        P.as_ntz("w.start").alias("session_start"),
        P.as_ntz("_last_i").alias("session_last"),
        "n_events",
    )
    return _guard_sessions(sess, spark, sf_dir)


@register(
    "continuous_rollup_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def continuous_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (hypertable-rollup shape): the day-partitioned
    rollup TABLE maintained incrementally by foreachBatch merges across 2
    micro-batches (each rewrites only the day partitions it touched via
    dynamic partition overwrite), then read back. Hash-equality with the
    one-shot GROUP BY proves the incremental maintenance converges to the
    batch answer."""
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=2)
        out_dir = P.incremental_rollup(
            stream, scratch_dir("eds_rollup_")
        )
    return (
        spark.read.parquet(out_dir)
        .select("day", "event_type", "n_events", "total_value")
        .orderBy("day", "event_type")
    )


@register(
    "streaming_purchase_click_join",
    oracle="""
    WITH pairs AS (
      SELECT p.user_id
      FROM events p
      JOIN events c
        ON c.user_id = p.user_id
       AND c.ts > p.ts
       AND c.ts <= p.ts + INTERVAL 3600 SECOND
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    )
    SELECT user_id, COUNT(*) AS n_pairs
    FROM pairs
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase → click within an hour by
    the same user), then rolled up per user. The files replay
    chronologically and the watermark delay exceeds the join gap, so the
    inner join emits every qualifying pair exactly once — which is why
    the batch SQL join is an exact oracle.

    2 state partitions: stream-stream join keeps FOUR state stores per
    side per partition, so commits dominate wall-clock locally (12s @ 8 →
    3.6s @ 2 at sf0.1). On a cluster the same knob scales out with
    executor count; the join logic is partition-count-independent.

    r13: drained in the largest micro-batch availableNow allows — the
    same rationale as ``streaming_sessions_stateful`` (every extra batch
    re-pays the per-(state store × partition × batch) commit; interleaved
    A/B at sf0.1: 2 batches 2.39s → 1 batch 1.81s min-of-3, rows
    identical). The cross-batch join-state handoff stays pinned at
    fixture scale by tests/test_streaming_multibatch.py."""
    return _purchase_click_drain(spark, sf_dir, mfpt=None)


def _purchase_click_drain(
    spark: SparkSession, sf_dir: str, mfpt: int | None
) -> DataFrame:
    with P.state_partitions(spark, 2):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=mfpt)
        pairs = P.run_available_now(
            P.interval_join_stream(
                stream, "purchase", "click", max_gap_seconds=3600
            )
        )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "streaming_enriched_segments",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the customer
    dimension (user_id keys into the 1-based custkey space) inside the
    streaming engine — broadcast per micro-batch, no join state — then a
    complete-mode aggregate per market segment. The final table equals
    the batch join+aggregate, which is the oracle.

    This is the remaining Structured-Streaming join mode after the
    stream-stream interval join (streaming_purchase_click_join): facts
    stream, reference data doesn't."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=2)
        enriched = P.enrich_stream(
            stream.withColumn("c_custkey", F.col("user_id") + 1),
            cust,
            ["c_custkey"],
        )
        out = P.run_available_now(
            enriched.groupBy("segment").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            ),
            output_mode="complete",
        )
    return out.orderBy("segment")


@register(
    "streaming_anomaly_windows",
    oracle="""
    WITH win AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             COUNT(*) AS n_windows,
             SUM(n)::DOUBLE / COUNT(*)::DOUBLE AS mean,
             sqrt(SUM(n * n)::DOUBLE / COUNT(*)::DOUBLE
                  - (SUM(n)::DOUBLE / COUNT(*)::DOUBLE)
                    * (SUM(n)::DOUBLE / COUNT(*)::DOUBLE)) AS sd
      FROM win GROUP BY event_type
    )
    SELECT w.event_type,
           MAX(s.n_windows) AS n_windows,
           CAST(SUM(CASE WHEN (w.n::DOUBLE - s.mean) > 2.0 * s.sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
           MAX(w.n) AS max_window_count,
           ROUND(MAX(s.mean), 4) AS mean_count,
           ROUND(MAX(s.sd), 4) AS sd_count
    FROM win w JOIN stats s USING (event_type)
    GROUP BY w.event_type
    ORDER BY w.event_type
    """,
)
def streaming_anomaly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detector: the STREAMING ENGINE maintains hourly
    per-type counts incrementally (same complete-mode drain as
    ``streaming_tumbling_hourly`` — windowed JVM state, handed off across
    micro-batches); the drained window table then gets a population
    z-score screen, flagging windows whose count sits > 2σ above the
    type's mean — the volume-spike / bot-burst alert every event pipeline
    runs.

    The window table is |hours|·|types| rows — detector arithmetic is
    trivia after the streaming agg, and the mean/σ come from integer sums
    (SUM(n), SUM(n²)) with the identical expression order in both engines,
    so the flag booleans are IEEE-deterministic, not approximately so.
    In production the screen runs per-trigger on the updating state via
    foreachBatch; availableNow + batch screen is the drained equivalent.

    r13 (guide §2.4): the screen reads the PUBLISHED drained 1-hour
    window table (``_tumbling_table`` — the identical engine-maintained
    table ``streaming_tumbling_hourly`` rebuilds and republishes every
    run) instead of re-draining the same stream; row-identity against
    the dedicated drain (``single_drain_anomaly_windows``) is pinned by
    tests/test_streaming_multiplex.py."""
    win = _tumbling_table(spark, sf_dir).select(
        "window_start", "event_type", F.col("n_events").alias("n")
    )
    return _anomaly_screen(win)


def single_drain_anomaly_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedicated engine drain — the pre-r13 registered body, kept as
    the equivalence twin the tests pin against."""
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=2)
        win = P.run_available_now(
            P.tumbling_stream(stream, "1 hour", ["event_type"]),
            output_mode="complete",
        ).select("window_start", "event_type", F.col("n_events").alias("n"))
    return _anomaly_screen(win)


def _anomaly_screen(win: DataFrame) -> DataFrame:
    """The z-score screen over a drained (window_start, event_type, n)
    table — shared by the registered panel and the single drain so their
    rows are identical by construction."""
    cnt = F.count(F.lit(1)).cast("double")
    mean = F.sum("n").cast("double") / cnt
    ex2 = F.sum(F.col("n") * F.col("n")).cast("double") / cnt
    stats = win.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_windows"),
        mean.alias("mean"),
        F.sqrt(ex2 - mean * mean).alias("sd"),
    )
    joined = win.join(F.broadcast(stats), "event_type")
    anom = (F.col("n").cast("double") - F.col("mean")) > F.lit(2.0) * F.col(
        "sd"
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n_windows").alias("n_windows"),
            F.sum(F.when(anom, 1).otherwise(0)).alias("n_anomalous"),
            F.max("n").alias("max_window_count"),
            F.round(F.max("mean"), 4).alias("mean_count"),
            F.round(F.max("sd"), 4).alias("sd_count"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming twin of the incremental delta-ingest dedup (dedup_q.
# incremental_dedup_stats): the fingerprint index is MAINTAINED BY THE
# STREAMING ENGINE — each micro-batch of newly ingested documents updates
# a (fingerprint → occurrences, first doc) aggregate held in the state
# store, exactly the continuously-updated dedup index a production ingest
# keeps. Near-dup classification stays in the batch twin (MinHash banding
# is not a streaming-state shape); this covers the exact tier.

_DOC_SPOOL_CACHE: dict[tuple, str] = {}
_DOCS_DDL = "doc_id bigint, source string, text string"


def _doc_batch_stream(spark: SparkSession, sf_dir: str, mfpt: int | None) -> DataFrame:
    from .dedup_q import _is_batch

    key = (sf_dir,)
    if key not in _DOC_SPOOL_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        batch = docs.filter(_is_batch()).select("doc_id", "source", "text")
        _DOC_SPOOL_CACHE[key] = P.spool(
            batch, scratch_dir("eds_doc_stream_src_"), n_files=4, ts_col="doc_id"
        )
    return P.stream_from(
        spark, _DOC_SPOOL_CACHE[key], schema_ddl=_DOCS_DDL,
        max_files_per_trigger=mfpt,
    )


def _drain_rows(spark: SparkSession, stream: DataFrame, ckpt_prefix: str) -> DataFrame:
    """ONE foreachBatch pass that drains ``stream`` and returns the pinned
    union of its micro-batches; backs the session-shared drained-rows
    artifacts below."""
    from ..materialize import materialize

    batches: list[DataFrame] = []

    def _sink(bdf: DataFrame, _bid: int) -> None:
        batches.append(materialize(bdf))

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", scratch_dir(ckpt_prefix))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not batches:
        raise RuntimeError("drain saw no micro-batches")
    rows = batches[0]
    for b in batches[1:]:
        rows = rows.unionByName(b)
    return rows


def _drained_doc_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared drained delta-document rows: ONE ingest stream pass
    (one file-source listing, one trigger sequence, one checkpoint)
    published as a pinned artifact, so the ingest panels whose rollups
    are survivor-independent batch aggregations stop paying a drain each (r12 verdict item 2 —
    guide §2.4/§2.6). Batch boundaries cannot change any consumer panel
    (pinned by tests/test_streaming_multiplex.py against the real
    single-drain twins)."""
    from ..materialize import shared

    def _build() -> DataFrame:
        with P.state_partitions(spark, 4):
            return _drain_rows(
                spark, _doc_batch_stream(spark, sf_dir, mfpt=2), "eds_mux_ckpt_"
            )

    return shared(("drained_doc_rows", sf_dir), spark, _build)


def _doc_fp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persistent-corpus fingerprint index (the static 80%
    side's DISTINCT md5 set) — the artifact a production ingest keeps
    continuously; previously re-derived per run by BOTH the incremental-
    dedup classifier and the curation gate's duplicate screen (guide
    §2.4)."""
    from ..materialize import shared
    from ..operators import text as T
    from .dedup_q import _is_batch

    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return (
            docs.filter(~_is_batch())
            .select(T.fingerprint("text").alias("fp"))
            .distinct()
        )

    return shared(("doc_fp_index", sf_dir), spark, _build)


@register(
    "streaming_incremental_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < 13107 AS is_batch
      FROM documents
    ),
    perfp AS (
      SELECT fp, COUNT(*) AS n_occ, MIN(doc_id) AS first_doc_id
      FROM base WHERE is_batch GROUP BY fp
    ),
    idx AS (SELECT DISTINCT fp FROM base WHERE NOT is_batch),
    keeper AS (
      SELECT p.fp, p.n_occ, b.source, (i.fp IS NOT NULL) AS ex
      FROM perfp p
      JOIN base b ON b.doc_id = p.first_doc_id
      LEFT JOIN idx i ON p.fp = i.fp
    )
    SELECT source,
           COUNT(*) AS n_unique_fps,
           CAST(SUM(n_occ - 1) AS BIGINT) AS n_dup_occurrences,
           CAST(SUM(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_vs_index,
           CAST(SUM(CASE WHEN ex THEN 0 ELSE 1 END) AS BIGINT)
             AS n_new_unique
    FROM keeper
    GROUP BY source
    ORDER BY source
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous fingerprint-index maintenance: the 20% delta batch
    streams in over 2 micro-batches and the engine's state store carries
    the per-fingerprint (occurrences, first doc) aggregate across them;
    the drained complete-mode table is then classified against the static
    index fingerprints and rolled up per keeper source.

    Every streamed output is survivor-INDEPENDENT (count + min doc id per
    fingerprint), so the result is deterministic regardless of how rows
    land in micro-batches — which is what makes a streaming op hash-
    checkable at all. State is O(|delta fingerprints|), the index side
    never streams, and at 100 TB/day this is the ingest-side dedup that
    feeds the batch near-dup tier (``incremental_dedup_stats``)."""
    from ..operators import text as T

    with P.state_partitions(spark, 4):
        stream = _doc_batch_stream(spark, sf_dir, mfpt=2)
        agg = (
            stream.select("doc_id", T.fingerprint("text").alias("fp"))
            .groupBy("fp")
            .agg(
                F.count(F.lit(1)).alias("n_occ"),
                F.min("doc_id").alias("first_doc_id"),
            )
        )
        perfp = P.run_available_now(agg, output_mode="complete")

    # classify the drained table against the static index, per keeper source
    docs = load_table(spark, sf_dir, "documents")
    keeper_src = docs.select(
        F.col("doc_id").alias("first_doc_id"), "source"
    )
    idx = _doc_fp_index(spark, sf_dir).withColumn("_ex", F.lit(1))
    keeper = (
        perfp.join(keeper_src, "first_doc_id")
        .join(F.broadcast(idx), "fp", "left")
    )
    return (
        keeper.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_unique_fps"),
            F.sum(F.col("n_occ") - 1).cast("long").alias("n_dup_occurrences"),
            F.sum(F.col("_ex").isNotNull().cast("long"))
            .cast("long")
            .alias("n_exact_vs_index"),
            F.sum(F.col("_ex").isNull().cast("long"))
            .cast("long")
            .alias("n_new_unique"),
        )
        .orderBy("source")
    )


@register(
    "streaming_topk_trending",
    oracle="""
    WITH expanded AS (
      SELECT e.*, date_trunc('hour', ts) - INTERVAL (h) HOUR AS window_start
      FROM events e, range(0, 2) r(h)
      WHERE date_trunc('hour', ts) - INTERVAL (h) HOUR + INTERVAL 2 HOUR > ts
    ),
    win AS (
      SELECT window_start, event_type, COUNT(*) AS n_events
      FROM expanded GROUP BY window_start, event_type
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rank
      FROM win
    )
    SELECT window_start, event_type, n_events, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 2
    ORDER BY window_start, rank
    """,
)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending panel: the STREAMING ENGINE maintains overlapping
    2-hour/1-hour-slide windows per event type (each event expands to 2
    open windows inside the TimeWindow generator; windowed JVM state
    handed off across micro-batches), and the drained table yields the
    top-2 event types per window — the "what's hot right now" feed every
    event product serves. Completes the windowed-drain set: tumbling
    (``streaming_tumbling_hourly``), session (``streaming_sessions_*``),
    and now sliding.

    The rank screen runs batch-side on the |windows|·|types| drained
    table (in production: per-trigger via foreachBatch on the updating
    state); count ties break on the type name on both engines, so the
    top-2 set is deterministic.

    r13 (guide §2.4/§2.6): served from the session-shared drained events
    pass (``_drained_event_rows``) with the sliding window computed
    batch-side over the pinned rows (``F.window`` is the same TimeWindow
    operator batch-side); windowed counts are survivor-independent, so
    the panel is row-identical to the dedicated drain
    (``single_drain_topk_trending``), which tests pin."""
    wm = _drained_event_rows(spark, sf_dir).withColumn(
        "ts", P.as_instant("ts")
    )
    win = (
        wm.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            P.as_ntz("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _topk_screen(win)


def _drained_event_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared drained event rows: one foreachBatch pass over the
    spooled events stream, published as a pinned artifact."""
    from ..materialize import shared

    def _build() -> DataFrame:
        with P.state_partitions(spark, 4):
            return _drain_rows(
                spark,
                _spooled_stream(spark, sf_dir, n_files=4, mfpt=2),
                "eds_muxw_ckpt_",
            )

    return shared(("drained_event_rows", sf_dir), spark, _build)


def single_drain_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedicated engine drain (sliding-window state handed off across
    micro-batches) — the pre-r13 registered body, kept as the equivalence
    twin the tests pin against."""
    with P.state_partitions(spark, 4):
        stream = _spooled_stream(spark, sf_dir, n_files=4, mfpt=2)
        wm = stream.withColumn("ts", P.as_instant("ts")).withWatermark(
            "ts", "0 seconds"
        )
        agg = wm.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))
        win = P.run_available_now(agg, output_mode="complete")
    win = win.select(
        P.as_ntz("w.start").alias("window_start"), "event_type", "n_events"
    )
    return _topk_screen(win)


def _topk_screen(win: DataFrame) -> DataFrame:
    """Top-2-per-window rank screen over a drained (window_start,
    event_type, n_events) table — shared by the registered panel and the
    single drain."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        win.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 2)
        .orderBy("window_start", "rank")
    )


@register(
    "streaming_quarantine_gate",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, source, text
      FROM documents
      WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            < 13107
    ),
    qf AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tok,
             ROUND(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to')))::DOUBLE
                   / len(string_split(text, ' '))::DOUBLE, 6) AS swr,
             ROUND(length(replace(text, ' ', ''))::DOUBLE
                   / len(string_split(text, ' '))::DOUBLE, 6) AS alen,
             ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' '))::DOUBLE, 6) AS ttr
      FROM b
    ),
    qz AS (
      SELECT doc_id, source,
             ROUND(1.2 * swr + 0.8 * ttr
                   + 0.4 * least(1.0, n_tok / 128.0)
                   - 0.08 * abs(alen - 5.0), 6) AS z
      FROM qf
    ),
    aug AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' reach user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' call 555-123-4567' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' id 123-45-6789' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' pay 4111 1111 1111 1111' ELSE '' END AS t
      FROM b
    ),
    flags AS (
      SELECT a.source,
             CASE WHEN regexp_matches(a.t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                  OR regexp_matches(a.t, '(?:\+?\d{1,2}[\s.-])?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}')
                  OR regexp_matches(a.t, '\b\d{3}-\d{2}-\d{4}\b')
                  OR regexp_matches(a.t, '\b(?:\d[ -]?){13,19}\b')
                  THEN 1 ELSE 0 END AS p,
             CASE WHEN qz.z < 0.6 THEN 1 ELSE 0 END AS q
      FROM aug a JOIN qz USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(p) AS BIGINT) AS n_pii_flagged,
           CAST(SUM(q) AS BIGINT) AS n_low_quality,
           CAST(SUM(CASE WHEN p = 1 OR q = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           ROUND((COUNT(*) - SUM(CASE WHEN p = 1 OR q = 1
                                      THEN 1 ELSE 0 END))::DOUBLE
                 / COUNT(*)::DOUBLE, 4) AS pass_rate
    FROM flags GROUP BY source ORDER BY source
    """,
)
def streaming_quarantine_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest quarantine gate AS A STREAM: the delta batch flows in
    over micro-batches and every document is screened in-flight — PII
    patterns (on the same deterministic injection the batch audit panel
    uses) and the frozen-weight quality score — with per-source
    pass/quarantine counts held in engine state across batches. This is
    the deployment shape of the reference's compliance gate
    (ethical_crawler.py:304 ``check_compliance``) for continuous ingest:
    nothing reaches the corpus without passing the same screens the
    batch panels audit.

    Hash-checkable because every aggregate is a survivor-independent
    per-row flag count (no ordering, no firsts), so micro-batch
    boundaries cannot change the drained complete-mode table; the oracle
    is the identical screen over the batch-subset CTE. Scale: screening
    is stateless per-row Catalyst work; state is O(|sources|) counters.

    r13 (guide §2.4/§2.6): served from the session-shared drained ingest
    pass (``_drained_doc_rows`` — ONE stream drain for the whole ingest
    panel family);
    the rollup itself is survivor-independent, so the panel is
    row-identical to the dedicated engine drain, which lives on as
    ``single_drain_quarantine_gate`` and stays pinned against this panel
    by tests/test_streaming_multiplex.py."""
    return _quarantine_final(
        _quarantine_rollup(_drained_doc_rows(spark, sf_dir))
        # complete-mode drained table ≡ batch rollup over the drained rows
    )


def single_drain_quarantine_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The dedicated engine drain (state held across micro-batches) —
    the pre-r13 registered body, kept as the equivalence twin the
    shared-artifact tests pin against."""
    with P.state_partitions(spark, 4):
        stream = _doc_batch_stream(spark, sf_dir, mfpt=2)
        agg = _quarantine_rollup(stream)
        out = P.run_available_now(agg, output_mode="complete")
    return _quarantine_final(out)


def _quarantine_rollup(docs: DataFrame) -> DataFrame:
    """Per-source screen-flag rollup over a (doc_id, source, text) frame —
    works identically on the micro-batched stream and a static batch."""
    from .text_q import _ENS_TAU, _pii_augmented_text, quality_z_df
    from ..operators import text as T

    zed = quality_z_df(docs, extra=("text",))
    aug = _pii_augmented_text()
    pii_hits = None
    for _name, pat, _tok in T.PII_PATTERNS:
        c = F.regexp_count(aug, F.lit(pat))
        pii_hits = c if pii_hits is None else pii_hits + c
    p = (pii_hits > 0).cast("long")
    q = (F.col("z") < _ENS_TAU).cast("long")
    flags = zed.select(
        "source",
        p.alias("p"),
        q.alias("q"),
        ((p + q) > 0).cast("long").alias("any"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("p").alias("n_pii_flagged"),
        F.sum("q").alias("n_low_quality"),
        F.sum("any").alias("n_quarantined"),
    )


def _quarantine_final(out: DataFrame) -> DataFrame:
    return out.select(
        "source",
        "n_docs",
        "n_pii_flagged",
        "n_low_quality",
        "n_quarantined",
        F.round(
            (F.col("n_docs") - F.col("n_quarantined")).cast("double")
            / F.col("n_docs").cast("double"),
            4,
        ).alias("pass_rate"),
    ).orderBy("source")


#: Late-data audit: watermark delay and the deterministic late-subset
#: residue (event_id % _LATE_MOD == 0 arrives one batch AFTER its time
#: range has been replayed).
_LATE_DELAY_MIN = 45
_LATE_MOD = 23

_LATE_SPOOL_CACHE: dict[str, str] = {}


def _late_spool(spark: SparkSession, sf_dir: str) -> str:
    """Spool the event stream as 3 chronological time-range files PLUS a
    final out-of-order file carrying the deterministic late subset
    (event_id % {mod} == 0) — the arrival pattern that exercises the
    watermark's drop/keep decision. File ranges come from exact integer
    arithmetic on epoch micros (NOT ``repartitionByRange``'s sampled
    boundaries) so the DuckDB mirror can re-derive the file→batch
    assignment row for row."""
    hit = _LATE_SPOOL_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    import glob
    import os

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    mn, mx = b.mn, b.mx
    # exact micros span via timedelta components (total_seconds() is float)
    td = mx - mn
    span_us = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
    off = F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'{mn}', ts)")
    fcol = F.least(F.lit(2), (off * 3).cast("long") / F.lit(span_us + 1))
    fcol = F.floor(fcol).cast("int")
    is_late = (F.col("event_id") % _LATE_MOD) == 0
    stage_dir = scratch_dir("eds_late_stage_")
    out_dir = scratch_dir("eds_late_src_")
    # ONE write job: partitionBy(f) lands each batch's rows under f=k/
    # (the partition column is stripped from the files — the stream
    # schema never sees it), then the files are renamed flat with
    # ascending mtimes so FileStreamSource replays batch order 0..3.
    (
        ev.withColumn("f", F.when(is_late, F.lit(3)).otherwise(fcol))
        .repartition(4, "f")
        .write.partitionBy("f")
        .mode("overwrite")
        .parquet(stage_dir)
    )
    # exactly ONE file per batch: hash repartitioning may scatter an f
    # value across tasks (several part files per subdir), and with
    # maxFilesPerTrigger=1 a split file would silently shift the batch
    # boundaries the oracle replays — concatenate each subdir driver-side
    # (pyarrow, a few MB) into batch k's single file, mtimes ascending.
    import pyarrow.parquet as pq

    written: list[str] = []
    for k in range(4):
        srcs = sorted(glob.glob(os.path.join(stage_dir, f"f={k}", "part-*")))
        if not srcs:  # not assert: survives python -O in this spool path
            raise RuntimeError(f"empty late-spool batch {k}")
        dst = os.path.join(out_dir, f"batch{k:02d}.parquet")
        if len(srcs) == 1:
            os.rename(srcs[0], dst)
        else:
            import pyarrow as pa

            pq.write_table(
                pa.concat_tables([pq.read_table(sp) for sp in srcs]), dst
            )
        written.append(dst)
    base = os.path.getmtime(written[0])
    for k, dst in enumerate(written):
        os.utime(dst, (base + 5 * k, base + 5 * k))
    _LATE_SPOOL_CACHE[sf_dir] = out_dir
    return out_dir


@register(
    "streaming_late_data_audit",
    oracle=f"""
    WITH bounds AS (SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx
                    FROM events),
    tagged AS (
      SELECT e.ts, e.event_type, e.value,
             CASE WHEN e.event_id % {_LATE_MOD} = 0 THEN 3
                  ELSE least(2, CAST(((epoch_us(e.ts) - b.mn) * 3)
                                     // (b.mx - b.mn + 1) AS INTEGER))
             END AS f
      FROM events e, bounds b
    ),
    fmax AS (SELECT f, MAX(ts) AS fmx FROM tagged GROUP BY f),
    wmseq AS (
      SELECT f, MAX(fmx) OVER (ORDER BY f)
                  - INTERVAL {_LATE_DELAY_MIN} MINUTE AS w
      FROM fmax
    ),
    thr AS (SELECT f, LAG(w, 2) OVER (ORDER BY f) AS w2 FROM wmseq),
    kept AS (
      SELECT t.ts, t.event_type, t.value
      FROM tagged t JOIN thr USING (f)
      WHERE thr.w2 IS NULL
         OR date_trunc('hour', t.ts) + INTERVAL 1 HOUR > thr.w2
    ),
    finalw AS (
      SELECT MAX(fmx) - INTERVAL {_LATE_DELAY_MIN} MINUTE AS wf FROM fmax
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM kept, finalw
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= finalw.wf
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics made observable (the 12th drain):
    3 chronological event files + ONE deliberately out-of-order file
    (every {_LATE_MOD}rd event arrives after its time range was replayed)
    through an APPEND-mode hourly aggregation with a
    {_LATE_DELAY_MIN}-minute watermark, one file per micro-batch. The
    emitted window table reflects every watermark decision: late rows
    whose window state was already evicted are DROPPED, late rows whose
    window is still open are MERGED, and windows newer than the final
    watermark never emit.

    The oracle replays the engine's exact operational semantics in SQL,
    pinned by experiment (micro-batch runs with per-batch
    numRowsDroppedByWatermark/state metrics, boundary case included):
    with W(j) = max event ts over batches 0..j minus the delay,
    a row in batch k is dropped iff its window end <= W(k-2) — the
    input filter lags eviction by one batch (equivalently: dropped iff
    the window's state was evicted before batch k; the two rules are
    provably identical under monotone W) — state eviction/emission is
    INCLUSIVE (end <= W at the evicting batch, verified on an exact
    boundary), the final availableNow flush emits every window with
    end <= W(last), and rows later dropped still advance the watermark
    (W uses each file's full max). File assignment uses exact epoch-
    micros arithmetic so both engines derive identical batches.

    Scale shape: the drain is the production shape (watermark-bounded
    state, one window row per open (window, type)); the mirror is one
    scan + a 4-row watermark table. The per-window output is what a
    late-data SLO dashboard reads: which windows closed clean, which
    absorbed stragglers, where the drop mass went."""
    src = _late_spool(spark, sf_dir)
    with P.state_partitions(spark, 4):
        stream = P.stream_from(spark, src, max_files_per_trigger=1)
        out = P.run_available_now(
            P.tumbling_stream(
                stream,
                "1 hour",
                ["event_type"],
                delay=f"{_LATE_DELAY_MIN} minutes",
            ),
            output_mode="append",
        )
    return out.orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# Round-8 (round-7 verdict item 6): ANN serving as a drain — probe vectors
# ARRIVE as a stream; the index is the maintained static artifact. The
# stream-static (table, bucket) equi-join is the streaming form of the LSH
# candidate join, exact rescoring stays JVM-side, and one complete-mode
# aggregation holds each probe's candidate set (set semantics dedupes
# multi-table collisions). The per-probe top-k is cut AFTER the drain on
# the materialized result — sort work on k-bounded arrays, not stream state.

_SERVE_K = 10
_SERVE_BITS = 8  # bits per LSH table for the SERVING index: bucket width
                 # is corpus/2^bits per table, and the per-probe candidate
                 # state in the drain is bucket-sized -- 4 bits (the batch
                 # family's default at fixture scale) blew state up ~16x on
                 # the 10x sf1 corpus; 8 bits holds state at ~corpus/256
                 # per (probe, table). This is the standard LSH deployment
                 # knob (grow bits with corpus), mirrored in the oracle.


def _ann_serving_oracle() -> str:
    from .lsh_common import _ANN_SPLIT, _lsh_pipeline_ctes

    pred = "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT"
    b_body = (
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings "
        f"WHERE {pred} >= {_ANN_SPLIT}"
    )
    q_body = (
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings "
        f"WHERE {pred} < {_ANN_SPLIT}"
    )
    return f"""
    WITH {_lsh_pipeline_ctes(b_body=b_body, q_body=q_body, n_bits=_SERVE_BITS)},
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM lsh_scored
    )
    SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_SERVE_K}
    ORDER BY query_id, rank
    """


@register("streaming_knn_serving", oracle=_ann_serving_oracle)
def streaming_knn_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving drain: the ~20% delta vectors arrive as a probe STREAM
    (4 spooled files); candidates come from the stream-static equi-join
    of the probes' Arrow-computed LSH buckets against the pinned index
    bucket table, exact cosine rescoring runs in the streaming plan, and
    a complete-mode per-probe aggregation holds each probe's candidate
    set. Top-{_SERVE_K} per probe is cut post-drain from the k-boundable
    candidate sets.

    r13: drained in the largest micro-batch availableNow allows (the
    ``streaming_sessions_stateful`` rationale — interleaved A/B at sf0.1:
    2 batches 1.61s → 1 batch 1.09s min-of-3, rows identical). The
    cross-batch serving property (batch-1 probes stay answered while
    batch-2 drains) stays pinned at fixture scale by
    tests/test_streaming_multibatch.py.

    Scale shape: per micro-batch cost is |batch| · bucket-size rows —
    the static side is the session-pinned index artifact (same blocks
    `incremental_ann_stats` maintains); no corpus scan, no stream-stream
    join, state bounded by probes in flight. Hash-checked end to end
    against the extended LSH pipeline mirror with a disjoint probe
    relation (``_lsh_pipeline_ctes(q_body=...)``)."""
    return _knn_serving_drain(spark, sf_dir, mfpt=None)


def _knn_serving_drain(
    spark: SparkSession, sf_dir: str, mfpt: int | None
) -> DataFrame:
    from ..materialize import shared
    from ..operators import similarity as S
    from .similarity_q import _ann_is_new

    emb = load_table(spark, sf_dir, "embeddings")
    planes = S.hyperplanes(64, 8, _SERVE_BITS)
    index_vecs = shared(
        ("ann_serving_vecs", sf_dir),
        spark,
        lambda: emb.filter(~_ann_is_new()).select(
            "vec_id", S.as_double(F.col("embedding")).alias("_bv")
        ),
    )
    index_buckets = shared(
        ("ann_serving_buckets", sf_dir, 8, _SERVE_BITS),
        spark,
        lambda: S.lsh_base_buckets(index_vecs, "vec_id", planes),
    )
    key = ("emb_delta", sf_dir)
    if key not in _SPOOL_CACHE:
        _SPOOL_CACHE[key] = P.spool(
            emb.filter(_ann_is_new()),
            scratch_dir("eds_probe_src_"),
            n_files=4,
            ts_col="vec_id",
        )
    with P.state_partitions(spark, 4):
        probes = P.stream_from(
            spark,
            _SPOOL_CACHE[key],
            schema_ddl="vec_id long, embedding array<float>, label int",
            max_files_per_trigger=mfpt,
        ).select(
            F.col("vec_id").alias("query_id"),
            S.as_double(F.col("embedding")).alias("_qv"),
        )
        buckets = S.lsh_bucket_udf(planes)
        qb = probes.select(
            "query_id", "_qv", F.posexplode(buckets("_qv")).alias("t", "bucket")
        )
        # broadcast the static index sides: per-executor serving shards
        # (a streaming plan can't AQE-reshuffle them per micro-batch, and
        # a checkpointed static side has no size stats to auto-broadcast)
        cand = qb.join(
            F.broadcast(
                index_buckets.select(
                    F.col("vec_id"), F.col("t"), F.col("bucket")
                )
            ),
            ["t", "bucket"],
        ).select("query_id", "_qv", "vec_id")
        scored = cand.join(
            F.broadcast(index_vecs.select("vec_id", "_bv")), "vec_id"
        ).select(
            "query_id",
            "vec_id",
            F.round(S.cosine(F.col("_qv"), F.col("_bv")), 6).alias("cos"),
        )
        agg = scored.groupBy("query_id").agg(
            F.collect_set(
                F.struct(
                    (-F.col("cos")).alias("negcos"),
                    F.col("vec_id").alias("vec_id"),
                    F.col("cos").alias("cos"),
                )
            ).alias("cands")
        )
        out = P.run_available_now(agg, output_mode="complete")
    return (
        out.select(
            "query_id",
            F.posexplode(
                F.slice(F.array_sort("cands"), 1, _SERVE_K)
            ).alias("pos", "c"),
        )
        .select(
            "query_id",
            F.col("c.vec_id").alias("vec_id"),
            F.col("c.cos").alias("cos"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Streaming twin of the composed curation manifest (pipeline_q.
# corpus_curation_emit): the delta batch streams in and every document is
# screened IN-FLIGHT against pinned static artifacts — the benchmark
# holdout rule, the frozen-weight quality gate, the persistent corpus'
# exact-fingerprint index (stream-static broadcast join), and the
# benchmark 8-gram set as a Bloom BITMAP evaluated per row as a pure
# expression (no explode, no second stateful aggregation — the property
# that keeps the whole drain a single state-store rollup). This is the
# ingest-side deployment shape: nothing reaches the corpus without the
# same screens the batch manifest audits, and the per-source reason
# counts are the live ops dashboard.

#: Streaming-gate Bloom geometry: 62-bit words (not corpus_q's 63) so the
#: per-row membership test stays in exact BIGINT arithmetic — bit b is
#: (word % 2^(b+1)) >= 2^b with b <= 61, representable without the
#: column-shift operators the DataFrame API reserves for literals.
_SGATE_M = 131068  # bits; 62 * 2114
_SGATE_K = 5
_SGATE_WORD = 62

#: keyed on (sf_dir, corpus-file mtime) — ADVICE r9: a plain sf_dir key
#: served a STALE bitmap to a long-lived process that rewrote the corpus
#: at the same path (or appended benchmark docs between sessions); the
#: mtime in the key makes any rewrite a cache miss.
_SGATE_BLOOM_CACHE: dict[tuple, list[int]] = {}


def _corpus_version(sf_dir: str) -> float:
    """Cheap corpus-snapshot tag: mtime of documents.parquet (works for
    both single-file fixtures and directory-style Spark writes, whose
    directory mtime changes on every commit of new part files)."""
    import os

    try:
        return os.path.getmtime(f"{sf_dir}/documents.parquet")
    except OSError:
        return -1.0


def _sgate_bloom_words(spark: SparkSession, sf_dir: str) -> list[int]:
    """Dense 2114-long word list of the benchmark 8-gram Bloom bitmap —
    built ONCE per (process, corpus snapshot) from the static benchmark
    source and embedded as an array literal in the streaming plan (16 KB
    — the constant-size decontamination artifact, same scale argument as
    ``bloom_decontam_stats``). The collect is bounded by the bitmap
    geometry, never by benchmark size."""
    key = (sf_dir, _corpus_version(sf_dir))
    hit = _SGATE_BLOOM_CACHE.get(key)
    if hit is not None:
        return hit
    from ..operators.text import shingles
    from .corpus_q import _BENCH_SOURCE, _DECON_K

    docs = load_table(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.explode(shingles("text", _DECON_K)).alias("s"))
        .distinct()
    )
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(1, _SGATE_K + 1)])
    ).alias("i")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("s"), F.lit("#"), F.col("i").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % _SGATE_M
    )
    words = (
        bench.select("s", seeds)
        .select(pos.alias("pos"))
        .select(
            F.expr(f"pos div {_SGATE_WORD}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_SGATE_WORD} AS INT))"
            ).alias("bitval"),
        )
        .groupBy("w")
        .agg(F.bit_or("bitval").alias("bits"))
        .collect()
    )
    dense = [0] * (_SGATE_M // _SGATE_WORD)
    for r in words:
        dense[r.w] = r.bits
    _SGATE_BLOOM_CACHE[key] = dense
    return dense


def _sgate_member(g: F.Column, words: F.Column, pow2: F.Column) -> F.Column:
    """All-seeds Bloom membership for one shingle, in exact integer
    expressions a streaming row can evaluate: bit b of the 62-bit word is
    ``(word % 2^(b+1)) >= 2^b`` — no column-operand shifts, no UDF."""
    cond = None
    for i in range(1, _SGATE_K + 1):
        pos = (
            F.conv(
                F.substring(F.md5(F.concat(g, F.lit(f"#{i}"))), 1, 15), 16, 10
            ).cast("long")
            % _SGATE_M
        )
        b = (pos % _SGATE_WORD).cast("int")
        word = F.element_at(words, (pos / _SGATE_WORD).cast("int") + 1)
        c = (word % F.element_at(pow2, b + 2)) >= F.element_at(pow2, b + 1)
        cond = c if cond is None else (cond & c)
    return cond


def _sgate_oracle() -> str:
    from .corpus_q import _BENCH_SOURCE, _DECON_K, _sql_shingles
    from .dedup_q import _INC_SPLIT
    from .text_q import _ENS_TAU, quality_z_cte

    return f"""
    WITH b AS (
      SELECT doc_id, source, text FROM documents
      WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
            < {_INC_SPLIT}
    ),
    {quality_z_cte("b")},
    idx AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
      WHERE NOT (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                 < {_INC_SPLIT})
    ),
    allsh AS ({_sql_shingles(_DECON_K)}),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM allsh
      WHERE source = '{_BENCH_SOURCE}'
    ),
    seeds AS (SELECT unnest(range(1, {_SGATE_K} + 1)) AS i),
    build AS (
      SELECT (('0x' || substring(md5(s || '#' || CAST(i AS VARCHAR)), 1, 15))::BIGINT
              % {_SGATE_M}) AS pos
      FROM bench, seeds
    ),
    bitmap AS (
      SELECT pos // {_SGATE_WORD} AS w,
             bit_or(1::BIGINT << CAST(pos % {_SGATE_WORD} AS INTEGER)) AS bits
      FROM build GROUP BY 1
    ),
    bsh AS (
      SELECT a.doc_id, unnest(a.shingles) AS s
      FROM allsh a JOIN b USING (doc_id)
    ),
    probe AS (
      SELECT bsh.doc_id, bsh.s,
             (('0x' || substring(md5(bsh.s || '#' || CAST(seeds.i AS VARCHAR)), 1, 15))::BIGINT
              % {_SGATE_M}) AS pos
      FROM bsh, seeds
    ),
    gramhit AS (
      SELECT doc_id, s,
             MIN(COALESCE((bitmap.bits >> CAST(pos % {_SGATE_WORD} AS INTEGER)) & 1, 0))
               AS hit
      FROM probe LEFT JOIN bitmap ON bitmap.w = pos // {_SGATE_WORD}
      GROUP BY doc_id, s
    ),
    docc AS (SELECT doc_id, MAX(hit) AS c FROM gramhit GROUP BY doc_id),
    lab AS (
      SELECT b.source,
             (b.source = '{_BENCH_SOURCE}') AS h,
             (qz.z < {_ENS_TAU}) AS q,
             (i.fp IS NOT NULL) AS d,
             (COALESCE(docc.c, 0) = 1) AS c
      FROM b
      JOIN qz ON qz.doc_id = b.doc_id
      LEFT JOIN idx i
        ON i.fp = md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))
      LEFT JOIN docc ON docc.doc_id = b.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout,
           CAST(SUM(CASE WHEN NOT h AND q THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality,
           CAST(SUM(CASE WHEN NOT h AND NOT q AND d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicate,
           CAST(SUM(CASE WHEN NOT h AND NOT q AND NOT d AND c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN NOT h AND NOT q AND NOT d AND NOT c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN NOT h AND NOT q AND NOT d AND NOT c THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 4) AS kept_rate
    FROM lab GROUP BY source ORDER BY source
    """


@register("streaming_curation_gate", oracle=_sgate_oracle)
def streaming_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline AS AN INGEST STREAM: the 20% delta batch
    flows in over micro-batches and every document is reason-coded
    in-flight by the FIRST failing stage — ``benchmark_holdout``,
    ``quality`` (frozen-weight z below tau), ``duplicate`` (exact
    fingerprint already in the persistent corpus' index), ``contaminated``
    (all-seeds hit in the benchmark 8-gram Bloom bitmap) — with per-source
    reason counts held in engine state across batches. The streaming twin
    of ``corpus_curation_emit``'s decision column, restricted to the
    stages that are per-row decidable at ingest (near-dup clustering
    stays batch-side, exactly as MinHash banding does for
    ``streaming_incremental_dedup``).

    Hash-checkable because every output is a survivor-independent per-row
    flag count — micro-batch boundaries cannot change the drained
    complete-mode table. Scale shape: the fingerprint index joins
    stream-static (broadcast), the Bloom bitmap is a 16 KB array literal
    evaluated per row (k=5 md5s per gram — the stateless trade for not
    needing a per-doc second aggregation), quality is expression-only,
    and state is O(|sources|) counters.

    Bloom false-positive discipline (ADVICE r9): the bitmap ADMITS false
    positives — with m={_SGATE_M} bits, k={_SGATE_K} and n distinct
    benchmark grams the per-gram FP bound is (1-e^(-kn/m))^k ≈ 2.3e-7 at
    n=1.3k (sf0.01) and 5.7e-3 at n=11.5k (sf0.1); grow m linearly with
    n to hold a target rate (m ≈ -kn / ln(1 - fp^(1/k))). Because
    ``corpus_curation_emit``'s batch path screens with the EXACT 8-gram
    semi-join, a Bloom-positive here is a *screen*, not a verdict: a
    deployment must route 'contaminated' rows to a quarantine/recheck
    table (the ``streaming_quarantine_gate`` shape) and confirm with the
    exact join before a terminal drop — never delete on the Bloom bit
    alone. The drained panel itself is unchanged by that discipline (it
    counts screen hits), which is why the oracle mirrors the bitmap
    exactly.

    r13 (guide §2.4/§2.6): served from the session-shared drained ingest
    pass (``_drained_doc_rows``), like ``streaming_quarantine_gate`` —
    one stream drain for the ingest panel family; the reason-coding
    rollup is survivor-independent, so the panel is row-identical to the
    dedicated engine drain (``single_drain_curation_gate``, pinned by
    tests/test_streaming_multiplex.py)."""
    return _curation_final(
        _curation_rollup(spark, sf_dir, _drained_doc_rows(spark, sf_dir))
    )


def single_drain_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedicated engine drain (per-source reason counts held in state
    across micro-batches) — the pre-r13 registered body, kept as the
    equivalence twin the shared-artifact tests pin against."""
    with P.state_partitions(spark, 4):
        stream = _doc_batch_stream(spark, sf_dir, mfpt=2)
        agg = _curation_rollup(spark, sf_dir, stream)
        out = P.run_available_now(agg, output_mode="complete")
    return _curation_final(out)


def _curation_rollup(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """Per-source first-fail reason rollup over a (doc_id, source, text)
    frame — works identically on the micro-batched stream and a static
    batch; the static artifacts (fp index, Bloom bitmap) come from the
    corpus, never from the frame."""
    from ..operators import text as T
    from .corpus_q import _BENCH_SOURCE, _DECON_K
    from .text_q import _ENS_TAU, quality_z_df

    words_lit = F.lit(_sgate_bloom_words(spark, sf_dir))
    pow2_lit = F.lit([1 << b for b in range(_SGATE_WORD + 1)])
    idx = _doc_fp_index(spark, sf_dir).withColumn("_dup", F.lit(1))
    zed = quality_z_df(docs, extra=("text",))
    flagged = (
        zed.withColumn("fp", T.fingerprint("text"))
        .join(F.broadcast(idx), "fp", "left")
        .select(
            "source",
            (F.col("source") == _BENCH_SOURCE).alias("h"),
            (F.col("z") < _ENS_TAU).alias("q"),
            F.col("_dup").isNotNull().alias("d"),
            F.exists(
                T.shingles("text", _DECON_K),
                lambda g: _sgate_member(g, words_lit, pow2_lit),
            ).alias("c"),
        )
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("h").cast("long")).alias("n_holdout"),
        F.sum((~F.col("h") & F.col("q")).cast("long")).alias("n_quality"),
        F.sum(
            (~F.col("h") & ~F.col("q") & F.col("d")).cast("long")
        ).alias("n_duplicate"),
        F.sum(
            (~F.col("h") & ~F.col("q") & ~F.col("d") & F.col("c")).cast(
                "long"
            )
        ).alias("n_contaminated"),
        F.sum(
            (~F.col("h") & ~F.col("q") & ~F.col("d") & ~F.col("c")).cast(
                "long"
            )
        ).alias("n_kept"),
    )


def _curation_final(out: DataFrame) -> DataFrame:
    return out.select(
        "source",
        "n_docs",
        "n_holdout",
        "n_quality",
        "n_duplicate",
        "n_contaminated",
        "n_kept",
        F.round(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("kept_rate"),
    ).orderBy("source")
