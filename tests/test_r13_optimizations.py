"""Equivalence pins for the r13 rewrites (beyond the streaming ones in
test_streaming_multiplex/multibatch): each optimization that restructured
an operator's internals is pinned row-identical to the form it replaced.
"""

from __future__ import annotations

from ethical_data_ingestion_spark import registry

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mmr_single_plan_equals_join_form_exact_pool(spark):
    """_mmr_select (single-plan array greedy) ≡ _mmr_select_joins (the
    pre-r13 pin+join greedy) on the exact candidate pool."""
    from ethical_data_ingestion_spark.queries import embed_q as E
    from pyspark.sql import Window, functions as F

    cemb = E._chunk_index(spark, SF_DIR)
    q = (
        E._embedded_docs(spark, SF_DIR)
        .filter(F.col("doc_id") < E._RAG_QUERIES)
        .select(F.col("doc_id").alias("query_id"),
                F.col("embedding").alias("qv"))
        .withColumn("qn2", E.E.embedding_norm2("qv"))
        .filter(F.col("qn2") > 0)
    )
    dot_qc = F.aggregate(
        F.zip_with(F.col("qv").cast("array<double>"),
                   F.col("embedding").cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    wq = Window.partitionBy("query_id")
    cands = (
        cemb.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .select("query_id", "ckey", "embedding", "n2",
                F.round(dot_qc / (F.sqrt(F.col("qn2").cast("double"))
                                  * F.sqrt(F.col("n2").cast("double"))), 6)
                .alias("rel"))
        .withColumn("rank", F.row_number().over(
            wq.orderBy(F.desc("rel"), F.col("ckey"))))
        .filter(F.col("rank") <= E._MMR_N)
        .drop("rank")
    )
    got = _rows(E._mmr_select(cands))
    want = _rows(E._mmr_select_joins(cands))
    assert got == want
    assert got  # non-vacuous


def _ann_window_form(spark, n):
    """(query_id, ckey, rel): the top-``n`` ANN chunk candidates per RAG
    probe in the form the serving kernel replaced — distinct candidate
    pairs, exact rescoring, ``row_number`` over (rel desc, ckey)."""
    from ethical_data_ingestion_spark.operators import similarity as S
    from ethical_data_ingestion_spark.queries import embed_q as E
    from pyspark.sql import Window, functions as F

    base, b_buckets, planes = E._chunk_lsh_buckets(spark, SF_DIR)
    qd = (
        E._searchable_docs(spark, SF_DIR)
        .filter(F.col("doc_id") < E._RAG_QUERIES)
        .select((F.col("doc_id") + F.lit(E._CHUNK_QOFF)).alias("query_id"),
                S.as_double(F.col("embedding")).alias("_qv"))
    )
    cand = S.lsh_candidates(b_buckets, S.lsh_probes(spark, qd, planes), "ckey").filter(
        F.expr(f"ckey div {E._CHUNK_KEYMUL}")
        != (F.col("query_id") - F.lit(E._CHUNK_QOFF))
    )
    return (
        cand.join(qd, "query_id").join(base, "ckey")
        .select((F.col("query_id") - F.lit(E._CHUNK_QOFF)).alias("query_id"),
                "ckey",
                F.round(S.cosine(F.col("_qv"), F.col("_bv")), 6).alias("rel"))
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("query_id")
            .orderBy(F.desc("rel"), F.col("ckey"))))
        .filter(F.col("rank") <= n)
    )


def test_mmr_single_plan_equals_join_form_ann_pool(spark):
    """Same pin on the ANN-served pool, built here in the window form the
    serving kernel replaced, so the registered query's kernel-served pool
    is checked too."""
    from ethical_data_ingestion_spark.queries import embed_q as E

    pool = _ann_window_form(spark, E._MMR_N).drop("rank")
    cemb = E._chunk_index(spark, SF_DIR)
    cands = pool.join(cemb.select("ckey", "embedding", "n2"), "ckey").select(
        "query_id", "ckey", "embedding", "n2", "rel"
    )
    got = _rows(registry.QUERIES["mmr_diversified_topk_ann"](spark, SF_DIR))
    want = _rows(E._mmr_select_joins(cands))
    assert got == want
    assert got  # non-vacuous


def test_chunk_ann_serve_equals_window_form(spark):
    """chunk_embed_topk_ann, served by the kernel from the session-pinned
    index, equals the window form over the same index."""
    from ethical_data_ingestion_spark.queries import embed_q as E
    from pyspark.sql import functions as F

    want = _rows(_ann_window_form(spark, E._RAG_K).select(
        "query_id",
        F.expr(f"ckey div {E._CHUNK_KEYMUL}").alias("doc_id"),
        (F.col("ckey") % E._CHUNK_KEYMUL).alias("chunk_idx"),
        F.col("rel").alias("cos"),
        "rank",
    ))
    got = _rows(registry.QUERIES["chunk_embed_topk_ann"](spark, SF_DIR))
    assert got == want
    assert got  # non-vacuous
