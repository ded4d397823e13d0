"""Materialization policy seam.

Several operators need a DataFrame pinned — computed exactly once, with
the SAME contents (and, for range-partitioned inputs, the same partition
boundaries) visible to every downstream job — either because three
structurally different subplans consume it (shingle sets), because an
iterative loop would otherwise replay its whole lineage each round
(connected components), or because a nondeterministic exchange
(``repartitionByRange``'s reservoir sampling) must not be re-executed
(global ranking).

``localCheckpoint`` is the fast single-box answer, but it stores blocks
on executors ONLY: on a real cluster an executor loss makes the
truncated lineage unrecoverable and fails the job. This seam routes all
such sites through one policy switch so a cluster deployment flips every
call site at once:

* ``local``       — ``localCheckpoint(eager=True)``. Fastest; blocks on
                    executors; lineage truncated. Default for local[...]
                    and the bench/driver runs.
* ``disk``        — ``persist(DISK_ONLY)`` + a count() to force it.
                    Survives OOM-evictions; on executor loss Spark
                    RECOMPUTES lost blocks from lineage, which is safe
                    for deterministic plans but re-runs nondeterministic
                    exchanges (a range exchange may resample boundaries —
                    prefer ``checkpoint`` when that matters). persist does
                    NOT truncate lineage, so per-round plans in an
                    iterative loop grow with the round count — use
                    ``checkpoint`` for long loops (CC at high diameter);
                    loops release their previous round via :func:`unpin`
                    so pinned state stays O(1) regardless.
* ``checkpoint``  — reliable ``checkpoint(eager=True)`` into
                    ``spark.sparkContext.getCheckpointDir()`` (set it to
                    durable storage, e.g. HDFS/S3). Survives executor
                    loss with identical contents; the 100-TB default.

Select globally with the env var ``SPARK_GRAFT_MATERIALIZE`` or per call
with ``mode=``.

Pins reused across calls live in ONE session-bound store, ``_SHARED``:
:func:`shared` (get-or-build), :func:`shared_publish` /
:func:`shared_get` (a producer that always rebuilds) and
:func:`shared_value` (scalars derived from an artifact). Pinned blocks
never free themselves, so there are three release paths, each freeing
through the mode's one routine (``_FREE``):

* :func:`unpin`             — one loop round, once its successor is pinned;
* :func:`shared_release`    — store entries; later callers rebuild;
* :func:`transient_release` — every persistent RDD the store does not own.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ENV_VAR = "SPARK_GRAFT_MATERIALIZE"
_MODES = ("local", "disk", "checkpoint")

#: sizeInBytes digit bound above which a checkpoint's inherited statistics
#: are treated as estimate garbage and reset — no real dataset exceeds
#: 10^40 bytes; only compounding join-product ESTIMATES do.
_STATS_DIGIT_CAP = 40

_warned_stats_cap = False


def _cap_checkpoint_stats(df: DataFrame) -> DataFrame:
    """Reset ASTRONOMICAL inherited statistics on a checkpointed plan.

    ``localCheckpoint`` truncates lineage but COPIES the truncated plan's
    statistics onto the new ``LogicalRDD`` (``originStats``). In an
    iterative loop that re-joins its own checkpoint (the suffix-array
    doubling, any self-join iteration), the size-only estimator's join
    rule MULTIPLIES child sizes, so the carried ``sizeInBytes`` BigInt
    roughly CUBES per round — its digit count triples, and every later
    Catalyst pass that consults stats (join selection, runtime-filter
    injection, AQE) pays BigInt arithmetic that grows ~4-6x per round.
    Measured on a 13-round build: rounds 1-7 ~1 s, round 10 = 40 s, round
    13 extrapolates to over an hour — a pure PLANNING hang with executors
    idle (diagnosed from thread samples: ``SizeInBytesOnlyStatsPlanVisitor``
    over thousand-digit ``scala.math.BigInt`` products).

    The fix: when the checkpointed plan's ``sizeInBytes`` exceeds
    ``10^_STATS_DIGIT_CAP`` (no REAL dataset gets near it — it is always
    compounded estimate garbage), rebuild the ``LogicalRDD`` over the SAME
    InternalRow RDD with ``originStats``/``originConstraints`` empty, so
    the node reports ``spark.sql.defaultSizeInBytes`` and the compounding
    resets at every pin. Plans with sane stats pass through untouched
    (their sizes keep driving broadcast decisions). Uses two
    ``private[sql]`` JVM surfaces that are public in bytecode; if a Spark
    upgrade moves them, we log once and degrade to the uncapped plan
    (a perf-only regression, never a correctness one)."""
    global _warned_stats_cap
    try:
        qe = df._jdf.queryExecution()
        an = qe.analyzed()
        if not an.getClass().getName().endswith(".LogicalRDD"):
            return df
        if len(str(an.stats().sizeInBytes())) <= _STATS_DIGIT_CAP:
            return df
        spark = df.sparkSession
        jvm = spark._jvm
        none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
        new_lr = jvm.org.apache.spark.sql.execution.LogicalRDD(
            an.output(), an.rdd(), an.outputPartitioning(),
            an.outputOrdering(), an.isStreaming(), an.stream(),
            spark._jsparkSession, none, none,
        )
        njdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, new_lr
        )
        return DataFrame(njdf, spark)
    except Exception as e:  # noqa: BLE001 — perf-only path, degrade loudly once
        if not _warned_stats_cap:
            _warned_stats_cap = True
            print(
                "materialize: checkpoint-stats cap unavailable "
                f"({type(e).__name__}: {e}); iterative self-join loops may "
                "plan slowly on this Spark build",
                file=__import__("sys").stderr,
            )
        return df


def _mode(mode: str | None = None) -> str:
    mode = mode or os.environ.get(_ENV_VAR, "local")
    if mode not in _MODES:
        raise ValueError(
            f"materialize mode {mode!r} not in {_MODES} "
            f"(set via mode= or ${_ENV_VAR})"
        )
    return mode


def materialize(df: DataFrame, mode: str | None = None) -> DataFrame:
    """Pin ``df``: force one computation whose result every downstream job
    reuses. Policy from ``mode`` or ``$SPARK_GRAFT_MATERIALIZE`` (default
    ``local``); see module docstring for the cluster-durability tradeoffs.
    """
    mode = _mode(mode)
    if mode == "local":
        return _cap_checkpoint_stats(df.localCheckpoint(eager=True))
    if mode == "disk":
        pinned = df.persist(StorageLevel.DISK_ONLY)
        pinned.count()
        return pinned
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        # no durable dir configured: fall back to a local temp dir so the
        # mode stays runnable in tests; a cluster deployment must call
        # setCheckpointDir("hdfs://...") (or s3://) at session build.
        # The fallback dir is removed at interpreter exit — reliable
        # checkpoint files are not auto-cleaned by Spark otherwise
        # (set spark.cleaner.referenceTracking.cleanCheckpoints on
        # clusters to reclaim per-RDD files as they are GC'd).
        import atexit
        import shutil

        d = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        atexit.register(shutil.rmtree, d, True)
        sc.setCheckpointDir(d)
    return df.checkpoint(eager=True)


def _persistent_ids(spark) -> set | None:
    """Ids in ``SparkContext.persistentRdds``, or None if unreadable."""
    try:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    except Exception:  # noqa: BLE001 — ownership tracking is best-effort
        return None


def _unpersist_ids(spark, ids) -> int:
    """Unpersist the persistent RDDs with these ids; returns how many."""
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
                n += 1
    except Exception:  # noqa: BLE001 — releasing is best-effort hygiene
        pass
    return n


#: mode -> how to free one pin, given the persistent-RDD ids it owns.
#: ``local`` unpersists the owned ids: ``persistentRdds`` holds STRONG
#: references, so dropping the DataFrame never frees a localCheckpoint's
#: blocks (measured: block-manager bytes unchanged after del + GC both
#: sides), and without ids there is nothing safe to free. ``disk`` drops
#: the CacheManager entry and its blocks. ``checkpoint`` pins are files:
#: Spark's ContextCleaner removes them when the RDD is GC'd iff
#: ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set, and the
#: checkpoint dir itself is deployment-owned.
_FREE = {
    "local": lambda df, owned: _unpersist_ids(df.sparkSession, owned or ()),
    "disk": lambda df, owned: df.unpersist(),
    "checkpoint": lambda df, owned: None,
}


#: key -> (session, value, owned persistent-RDD ids). A pinned artifact
#: owns the ids its own pin registered (None when that snapshot failed);
#: a plain value owns (). The one session-bound store: see :func:`shared`.
_SHARED: dict[tuple, tuple[object, object, tuple | None]] = {}


def _live(key: tuple, spark) -> tuple | None:
    """This session's entry under ``key``, or None. A miss evicts every
    other session's entries (not just this key): pinned blocks die with
    their executors, and the store must not keep a dead session's object
    graphs alive."""
    hit = _SHARED.get(key)
    if hit is not None and hit[0] is spark:
        return hit
    for k in [k for k, e in _SHARED.items() if e[0] is not spark]:
        del _SHARED[k]
    return None


def shared_value(key: tuple, spark, compute):
    """Session-scoped cache of a plain value (a scalar count, never data
    rows): ``compute()`` runs at most once per (key, session)."""
    hit = _live(key, spark)
    if hit is not None:
        return hit[1]
    value = compute()
    _SHARED[key] = (spark, value, ())
    return value


def shared_get(key: tuple, spark) -> DataFrame | None:
    """The pinned DataFrame published under ``key`` for this session, or
    None. Lets a producer publish an artifact WITHOUT its own repeat runs
    serving from cache (see ``dedup_q.dedup_jaccard_pairs``: the pair
    query always rebuilds; consumers read the published table)."""
    hit = _live(key, spark)
    return None if hit is None else hit[1]


def shared_publish(key: tuple, spark, df: DataFrame) -> DataFrame:
    """Materialize ``df`` and publish it under ``key``, recording the
    persistent RDDs its pin registered; returns the pinned result."""
    before = _persistent_ids(spark)
    pinned = materialize(df)
    after = _persistent_ids(spark)
    owned = None if before is None or after is None else tuple(after - before)
    _SHARED[key] = (spark, pinned, owned)
    return pinned


def shared(key: tuple, spark, build) -> DataFrame:
    """Session-scoped cache of a pinned DataFrame: ``build()`` runs (and
    the result is materialized) at most once per (key, session); later
    callers — other queries in the same suite, or repeat calls — reuse
    the pinned blocks.

    A production corpus pipeline persists its expensive intermediate
    tables (shingle sets, candidate pairs) ONCE and feeds every
    downstream consumer from them, so queries that model those consumers
    do too. Entries are invalidated when the session changes; keys embed
    every parameter the build depends on (but not the materialize mode:
    release the store before switching modes)."""
    hit = _live(key, spark)
    if hit is not None:
        return hit[1]
    return shared_publish(key, spark, build())


def unpin(df: DataFrame | None, mode: str | None = None) -> None:
    """Release a :func:`materialize`'d DataFrame once NO downstream
    consumer remains (e.g. an iterative loop's previous round after the
    next round has been pinned). Under ``disk`` this drops the cached
    plan entry and its blocks — without it, every loop round would stay
    registered in the CacheManager for session life. Under ``local`` it
    is a no-op: a loop round owns no tracked ids, and its blocks are
    freed by :func:`transient_release` once the query returns."""
    if df is not None:
        _FREE[_mode(mode)](df, ())


def transient_release(spark) -> int:
    """Unpersist every persistent RDD NOT owned by a live shared
    artifact — the per-call :func:`materialize` pins (loop rounds,
    intra-query intermediates) that are dead once their query's action
    returns but sit in ``persistentRdds`` for session life otherwise.
    A long-lived session (the bench, a notebook, a server) calls this
    between queries; one query's transients never help the next, so the
    only effect is execution memory handed back. Returns the number of
    RDDs unpersisted.

    Fail-safe rules (a wrong sweep frees blocks whose lineage was
    truncated — a later consumer dies with missing blocks, worse than
    any memory squeeze): no-op unless the materialize mode is ``local``
    (other modes' pins are not lineage-truncated executor blocks), and
    no-op when ANY entry of this session failed its ownership snapshot
    (the ownership set would be incomplete, so the sweep could hit a
    shared artifact's blocks)."""
    if _mode() != "local":
        return 0
    owned: set = set()
    for s, _, ids in _SHARED.values():
        if s is spark:
            if ids is None:
                return 0  # untracked shared artifact: keep everything
            owned.update(ids)
    ids = _persistent_ids(spark)
    return 0 if ids is None else _unpersist_ids(spark, ids - owned)


def pinned_bytes(spark) -> int:
    """Total block-manager bytes held by persistent RDDs (memory +
    disk) — the number a long-lived session budgets against
    (DEPLOY §14/§17)."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))
    except Exception:  # noqa: BLE001
        return 0


def shared_release(spark, predicate=None) -> int:
    """Evict this session's store entries and FREE their pins' blocks.
    ``predicate(key)`` selects entries; None releases every entry of
    this session. Returns the number of entries evicted. The caller
    guarantees no consumer touches a released DataFrame again (a local
    pin's lineage is truncated, so it cannot be recomputed); later
    :func:`shared` callers simply rebuild. The bench calls this between
    family blocks so each block's timings run against a clean block
    manager instead of the whole suite's accumulated artifact set."""
    free = _FREE[_mode()]
    n = 0
    for k in [k for k, e in _SHARED.items()
              if e[0] is spark and (predicate is None or predicate(k))]:
        _, value, owned = _SHARED.pop(k)
        if isinstance(value, DataFrame):
            free(value, owned)
        n += 1
    return n
