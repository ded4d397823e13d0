"""The LSH serving kernel (``similarity.lsh_topk``) and the warm retrieval
calls routed through it: the kernel equals the window form it replaced,
edge cases included, and each warm call, the streaming drain included,
runs in a handful of Spark jobs; the batch calls' plans hold no Python
worker, window or range exchange."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_DIR, jobs_of
from pyspark.sql import Window
from pyspark.sql import functions as F

from ethical_data_ingestion_spark import ann_store, registry
from ethical_data_ingestion_spark.io import load_table, local_frame
from ethical_data_ingestion_spark.operators import similarity as S

#: jobs of one warm retrieval call: the probe collect, the two
#: broadcasts (probe relation, base vectors), the top-k aggregate's
#: shuffle and the result; the window form issued 8-10
JOBS_PER_WARM_CALL = 5

DIM, N_TABLES, N_BITS = 4, 3, 1


def window_topk(spark, base, probes, planes, k):
    """The form the kernel replaced: UDF-bucketized probes, distinct
    candidate pairs, exact rescoring, ``row_number`` over (cos desc, id)."""
    b = base.select("vec_id", S.as_double("embedding").alias("_bv"))
    q = probes.select("query_id", S.as_double("embedding").alias("_qv"))
    bb = S.lsh_base_buckets(b, "vec_id", planes)
    qb = S.lsh_base_buckets(
        q.withColumnRenamed("_qv", "_bv"), "query_id", planes
    ).withColumnsRenamed({"t": "qt", "bucket": "qbucket"})
    cand = (
        bb.join(F.broadcast(qb), (F.col("t") == F.col("qt"))
                & (F.col("bucket") == F.col("qbucket"))
                & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = cand.join(q, "query_id").join(b, "vec_id").select(
        "query_id", "vec_id",
        F.round(S.cosine(F.col("_qv"), F.col("_bv")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def kernel_topk(spark, base, probes, planes, k):
    vecs, buckets, planes = S.lsh_index(base, "vec_id", "embedding", planes)
    q = S.lsh_probes(
        spark, probes.select("query_id", S.as_double("embedding").alias("_qv")), planes
    )
    return S.lsh_topk(q, vecs, buckets, "vec_id", k)


def rows(df):
    return [(r.query_id, r.vec_id, r.cos, r.rank) for r in df.collect()]


@pytest.fixture
def ansi(spark):
    """Sets ``spark.sql.ansi.enabled`` for one test, then restores it."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    yield lambda on: spark.conf.set("spark.sql.ansi.enabled", str(on).lower())
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture(scope="module")
def fixture(spark):
    """A probe ``p`` whose buckets are 0 in every table, so it collides
    in every table with the zero vector and with its own multiples; and
    ``-p``, whose buckets are 1 in every table, so it collides with
    nothing."""
    planes = S.hyperplanes(DIM, N_TABLES, N_BITS)
    buckets = lambda v: S.lsh_bucket_ids(planes, np.array([v]))[0]  # noqa: E731
    rng = np.random.default_rng(7)
    while True:
        p = rng.integers(-5, 6, DIM).astype(float)
        near = p + np.eye(DIM)[0]
        if (buckets(p) == 0).all() and (buckets(-p) == 1).all() and (buckets(near) == 0).all():
            break
    base = local_frame(spark, [
        (1, [0.0] * DIM),       # zero norm: its cosine is NULL
        (5, list(3 * p)),       # 5, 2 and 3 tie on cos 1.0: ids break the tie
        (2, list(p)),
        (3, list(p)),
        (4, list(near)),        # cos < 1
    ], "vec_id long, embedding array<double>")
    probes = local_frame(spark, [
        (100, list(p)),
        (200, list(-p)),
    ], "query_id long, embedding array<double>")
    return base, probes, planes


@pytest.mark.parametrize("on,k", [
    pytest.param(on, k, id=f"{k}-ansi" if on else str(k))
    for on in (False, True) for k in (2, 4, 10)
])
def test_kernel_equals_window_form(spark, fixture, ansi, on, k):
    """With ANSI mode on or off, the zero-norm base vector's cosine is
    NULL in both forms, and ``desc(cos)`` ranks it last."""
    ansi(on)
    base, probes, planes = fixture
    got = rows(kernel_topk(spark, base, probes, planes, k))
    assert got == rows(window_topk(spark, base, probes, planes, k))
    # ties on cos 1.0 go to the smaller id; then the cos < 1 row; the
    # NULL cosine last. Each pair collides in all three tables and
    # appears once; fewer than k candidates give fewer than k rows, and
    # the probe without candidates (200) gives none
    assert [r[1] for r in got] == [2, 3, 5, 4, 1][:k]
    assert got[0][2] == got[2 if k > 2 else 1][2] == 1.0
    assert k < 5 or got[-1][2] is None
    assert {r[0] for r in got} == {100}
    assert [r[3] for r in got] == list(range(1, len(got) + 1))


def test_kernel_on_registered_panel_equals_window_form(spark):
    """The same equality on real data: the registered ``knn_cosine_lsh``
    probes (vec_id < 5) over the ``embeddings`` fixture."""
    base = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    probes = base.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    planes = S.hyperplanes(64, 8, 4)
    got = rows(kernel_topk(spark, base, probes, planes, 10))
    assert got == rows(window_topk(spark, base, probes, planes, 10))
    assert got == rows(registry.QUERIES["knn_cosine_lsh"](spark, SF_DIR))
    assert len(got) == 50


@pytest.fixture(scope="module")
def warm_calls(spark, tmp_path_factory):
    """The four warm retrieval calls of the serving benchmark, each run
    once so that its session pins exist. ``streaming_knn_serving`` serves
    each micro-batch with the same kernel, and its batch jobs are counted
    in the caller's job group."""
    idx = str(tmp_path_factory.mktemp("ann") / "idx")
    ann_store.save_chunk_ann_index(spark, SF_DIR, idx)
    calls = {
        "chunk_embed_topk_ann": lambda: registry.QUERIES["chunk_embed_topk_ann"](spark, SF_DIR),
        "knn_cosine_lsh": lambda: registry.QUERIES["knn_cosine_lsh"](spark, SF_DIR),
        "serve_chunk_ann_from_disk": lambda: ann_store.serve_chunk_ann_from_disk(spark, SF_DIR, idx),
        "streaming_knn_serving": lambda: registry.QUERIES["streaming_knn_serving"](spark, SF_DIR),
    }
    for fn in calls.values():
        fn().collect()
    return calls


@pytest.mark.parametrize(
    "name", ["chunk_embed_topk_ann", "knn_cosine_lsh", "serve_chunk_ann_from_disk",
             "streaming_knn_serving"]
)
def test_warm_call_job_count(spark, warm_calls, name):
    got, jobs = jobs_of(spark, lambda: warm_calls[name]().collect())
    assert got
    assert jobs <= JOBS_PER_WARM_CALL, (name, jobs)


@pytest.mark.parametrize(
    "name", ["chunk_embed_topk_ann", "knn_cosine_lsh", "serve_chunk_ann_from_disk"]
)
def test_warm_call_plan_shape(spark, warm_calls, name):
    """No Python worker (probes are bucketized on the driver), no window
    and no range exchange (the top-k is a grouped aggregate)."""
    plan = warm_calls[name]()._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, name
    assert "Window" not in plan, name
    assert "rangepartitioning" not in plan, name
