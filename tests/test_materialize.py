"""The materialization policy seam: one env var must flip every
lineage-pinning site from localCheckpoint to cluster-durable modes and
still produce identical results."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.io import load_table
from ethical_data_ingestion_spark.materialize import (
    _SHARED,
    materialize,
    shared,
    shared_get,
    shared_publish,
    shared_release,
    shared_value,
    transient_release,
)
from ethical_data_ingestion_spark.operators import dedup

#: registered queries over store artifacts: a publish-once pair table
#: feeding connected components, and a shared streaming drain
_STORE_QUERIES = ("neardup_clusters", "streaming_anomaly_windows")


def _query_rows(spark, sf_dir, monkeypatch, mode):
    """Rows of each store-backed query run under ``mode`` from an empty
    store. Keys do not embed the mode, so the store is released (under
    the mode that pinned it) before and after."""
    shared_release(spark)
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    try:
        return {
            name: Counter(tuple(r) for r in
                          registry.QUERIES[name](spark, sf_dir).collect())
            for name in _STORE_QUERIES
        }
    finally:
        shared_release(spark)
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "local")


@pytest.fixture(scope="module")
def local_query_rows(spark, sf_dir):
    with pytest.MonkeyPatch.context() as mp:
        return _query_rows(spark, sf_dir, mp, "local")


@pytest.mark.parametrize("mode", ["local", "disk", "checkpoint"])
def test_modes_produce_identical_results(spark, sf_dir, mode, monkeypatch,
                                         request):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    rows = {(r.id1, r.id2, r.jaccard) for r in out.collect()}
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "local")
    base = dedup.jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    assert rows == {(r.id1, r.id2, r.jaccard) for r in base.collect()}
    if mode != "local":
        want = request.getfixturevalue("local_query_rows")
        got = _query_rows(spark, sf_dir, monkeypatch, mode)
        assert all(want.values())  # non-vacuous
        assert got == want


def test_explicit_mode_overrides_env(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "local")
    df = spark.range(10)
    pinned = materialize(df, mode="disk")
    assert pinned.count() == 10
    assert pinned.storageLevel.useDisk  # persisted, not localCheckpointed
    pinned.unpersist()


def test_invalid_mode_raises(spark):
    with pytest.raises(ValueError, match="materialize mode"):
        materialize(spark.range(1), mode="nope")


def test_shared_builds_once_per_session_and_key(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    key = ("test_shared", "k1")
    _SHARED.pop(key, None)
    a = shared(key, spark, build)
    b = shared(key, spark, build)
    assert len(calls) == 1
    assert a is b
    assert a.count() == 5
    _SHARED.pop(key, None)


def test_shared_publish_and_get(spark):
    key = ("test_pub", "k1")
    _SHARED.pop(key, None)
    assert shared_get(key, spark) is None
    pinned = shared_publish(key, spark, spark.range(3))
    assert shared_get(key, spark) is pinned
    shared_release(spark, lambda k: k == key)


def test_stale_session_entries_evicted_from_shared():
    """_SHARED must not keep a dead session's object graph alive: a miss
    under a new 'session' object evicts every stale entry, whichever
    accessor misses."""

    class _FakeDF:
        pass

    class _FakeSession:
        pass

    s_old, s_new = _FakeSession(), _FakeSession()
    saved = dict(_SHARED)
    _SHARED.clear()
    _SHARED[("k1",)] = (s_old, _FakeDF(), ())
    _SHARED[("k2",)] = (s_old, _FakeDF(), ())
    assert shared_get(("k1",), s_new) is None
    assert not _SHARED  # every stale entry evicted on the miss
    _SHARED[("k2",)] = (s_old, _FakeDF(), ())
    assert shared_value(("n",), s_new, lambda: 7) == 7
    assert shared_value(("n",), s_new, lambda: 8) == 7  # cached
    assert ("k2",) not in _SHARED
    _SHARED[("k2",)] = (s_old, _FakeDF(), ())
    built = _FakeDF()
    import ethical_data_ingestion_spark.materialize as M

    orig = M.materialize
    M.materialize = lambda df, mode=None: df
    try:
        out = shared(("k3",), s_new, lambda: built)
    finally:
        M.materialize = orig
    assert out is built
    assert ("k2",) not in _SHARED
    _SHARED.clear()
    _SHARED.update(saved)


def test_disk_mode_iterative_loop_keeps_bounded_pinned_state(
    spark, monkeypatch
):
    """Under SPARK_GRAFT_MATERIALIZE=disk an iterative operator must
    unpersist each round once the next is pinned — pinned-RDD count after
    a 20-round label propagation stays O(1), not O(rounds)."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "disk")
    # short path graph: disk mode does not truncate lineage, so plan depth
    # grows per round — fine for a handful of rounds (long loops belong in
    # checkpoint mode per the materialize docstring); what this test pins
    # is the CACHE lifecycle, which must stay O(1) in rounds either way.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id1 bigint, id2 bigint"
    )

    def n_pinned():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    before = n_pinned()
    out = dedup.connected_components(edges, max_iter=12, n_edges=6)
    assert out.select(F.countDistinct("cluster_id")).collect()[0][0] == 1
    after = n_pinned()
    # adj + final labels (+ the just-released round not yet GC'd) — far
    # below the 6+ a leaking loop would pin
    assert after - before <= 4, (before, after)


def _storage_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


def test_release_frees_pinned_blocks(spark):
    """persistentRdds holds STRONG refs — del + GC never frees a local
    pin (measured); shared_release must unpersist the ids the artifact's
    own pin registered."""
    key = ("relfree", "t")
    before = _storage_ids(spark)
    shared(key, spark, lambda: spark.range(1000).withColumn("x", F.col("id") * 2))
    new = _storage_ids(spark) - before
    assert new, "local pin should register a persistent RDD"
    assert set(_SHARED[key][2]) == new
    assert shared_release(spark, lambda k: k == key) == 1
    assert not (_storage_ids(spark) & new)
    assert shared_release(spark, lambda k: k == key) == 0  # idempotent


def test_disk_shared_release_leaves_no_persistent_rdd(spark, monkeypatch):
    """Under ``disk`` a released artifact drops its CacheManager entry
    and its DISK_ONLY RDD, like a local pin drops its blocks."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "disk")
    key = ("diskrel", "t")
    before = _storage_ids(spark)
    pinned = shared(key, spark, lambda: spark.range(40).withColumn("y", F.col("id") + 1))
    assert pinned.storageLevel.useDisk
    assert _storage_ids(spark) - before
    assert shared_release(spark, lambda k: k == key) == 1
    assert not (_storage_ids(spark) - before)
    assert not pinned.storageLevel.useDisk  # plan uncached


def test_shared_release_evicts_and_rebuilds(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(50)

    key = ("relspec", "t")
    a = shared(key, spark, build)
    assert a.count() == 50 and len(builds) == 1
    before = _storage_ids(spark)
    assert shared_release(spark, lambda k: k[0] == "relspec") == 1
    assert shared_get(key, spark) is None
    # blocks actually freed (strictly fewer persistent RDDs than before)
    assert _storage_ids(spark) < before
    b = shared(key, spark, build)
    assert b.count() == 50 and len(builds) == 2  # rebuilt, not resurrected


def test_transient_release_spares_shared_artifacts(spark):
    """Per-call pins are freed; store-owned artifacts keep their blocks
    AND stay usable; a cached scalar never disables the sweep."""
    key = ("transpec", "t")
    owned = shared(key, spark, lambda: spark.range(25))
    assert shared_value(("transpec", "n"), spark, owned.count) == 25
    transient = materialize(spark.range(75))
    assert transient.count() == 75
    freed = transient_release(spark)
    assert freed >= 1
    assert owned.count() == 25  # shared artifact untouched and usable
    assert shared_get(key, spark) is not None
    shared_release(spark, lambda k: k[0] == "transpec")
