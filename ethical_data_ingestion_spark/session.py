"""SparkSession factory.

The reference runs an embedded single-threaded DuckDB connection
(``ethical_crawler.py:53-62``); here the analogous "engine bootstrap" is a
SparkSession configured for deterministic, oracle-comparable output and for
scale-ready execution:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  this is what survives a 100× scale-up, not hand-tuned partition counts.
* UTC session timezone so timestamp semantics match the DuckDB oracle.
* Arrow enabled for any Pandas-UDF path (vectorized Python, never per-row).
* ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE coalescing makes the initial number mostly irrelevant.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


#: the per-process scratch root, made by the first :func:`scratch_dir` call
_root: str | None = None


def scratch_dir(prefix: str) -> str:
    """Create a scratch directory for ephemeral engine state (streaming
    checkpoints, spooled stream sources, shuffle spill).

    Every directory lands under ONE per-process root, created on first
    use and removed by one ``atexit`` hook: scratch lives only as long as
    this process, and a long-lived session adds no exit hook per call.
    Callers that finish with a directory earlier remove it themselves
    (``pipeline.drain`` removes its checkpoint on return).

    The root prefers RAM-backed ``/dev/shm`` over ``/tmp``: where /tmp
    is on disk, streaming state-store commits are fsync-heavy enough that
    disk latency dominates (and jitters) their wall-clock. On a real cluster these locations are
    HDFS/S3 (checkpoints) and local SSD (spill) — RAM-tmpfs is the
    single-box analog, not a semantic change. Override the parent of the
    root with ``$SPARK_GRAFT_SCRATCH`` (read once, on first use)."""
    global _root
    if _root is None:
        base = os.environ.get("SPARK_GRAFT_SCRATCH")
        if base is None and os.path.isdir("/dev/shm"):
            base = "/dev/shm/eds_scratch"
        if base is not None:
            os.makedirs(base, exist_ok=True)
        _root = tempfile.mkdtemp(prefix="eds_proc_", dir=base)
        atexit.register(shutil.rmtree, _root, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_root)


def in_scratch(path: str) -> bool:
    """True when ``path`` lies under this process's scratch root."""
    return _root is not None and os.path.commonpath(
        [_root, os.path.abspath(path)]) == _root


def get_spark(
    app_name: str = "ethical_data_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    host's CPU count) so the same code path serves tests, bench, and the
    entry points. Shuffle partitions default to the same count.
    """
    ncpu = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(ncpu)
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else ncpu)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Partition sizing for the harness SFs: fixture files are ~10 MB,
        # so the 128 MB default reads each table as 1-3 partitions and
        # CPU-heavy stages (decimal aggs, array intersects) run on a
        # handful of cores. 2 MB splits give every core of the local
        # master (one per CPU by default) work; AQE's advisory size is
        # lowered to match so coalescing doesn't undo it after shuffles.
        # Cluster deployments at real scale should raise both back toward
        # defaults — that's the documented meaning of these envs.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2097152"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "1048576"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
        # rejects it. Read as epoch-nanos long; io.load_table converts to a
        # microsecond timestamp (same floor-truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill scratch on the RAM-backed dir (see scratch_dir);
        # local[,] mode has no external shuffle service, so this is purely
        # the temp-file location — cluster deployments point it at SSD.
        .config("spark.local.dir", scratch_dir("eds_local_"))
        .config("spark.ui.enabled", "false")
        # A session serving this suite compiles hundreds of distinct
        # plans; the default 100-entry generated-class cache rotates, so
        # a many-stage query's re-run pays a full recompile (~2.5s for
        # the 10-round PageRank chain at sf0.1 — measured). Production
        # sessions multiplexing many queries want the same headroom;
        # class metadata cost is trivial next to one recompile.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
