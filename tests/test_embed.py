"""Embedder seam: injectable model, schema, determinism, e2e recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from ethical_data_ingestion_spark.io import load_table
from ethical_data_ingestion_spark.operators import embed as E
from ethical_data_ingestion_spark.registry import QUERIES


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_embedding_schema_is_float_array(spark, sf_dir):
    out = E.embed_texts(_docs(spark, sf_dir), dim=16)
    assert out.schema["embedding"].dataType == ArrayType(FloatType())
    row = out.filter(F.col("doc_id") == 0).first()
    assert len(row.embedding) == 16


def test_model_fn_is_injected_per_batch(spark, sf_dir):
    """A custom model_fn drives the output — the seam a production
    deployment fills with a real encoder."""

    def constant_model(texts):
        return np.full((len(texts), 4), 2.5, dtype=np.float32)

    out = E.embed_texts(_docs(spark, sf_dir), model_fn=constant_model, dim=4)
    vals = {tuple(r.embedding) for r in out.limit(20).collect()}
    assert vals == {(2.5, 2.5, 2.5, 2.5)}


def test_mis_sized_model_fails_loudly(spark, sf_dir):
    def wrong_dim(texts):
        return np.zeros((len(texts), 3), dtype=np.float32)

    out = E.embed_texts(_docs(spark, sf_dir), model_fn=wrong_dim, dim=8)
    with pytest.raises(Exception, match="expected"):
        out.collect()


def test_hashed_stand_in_is_deterministic(spark, sf_dir):
    a = E.embed_texts(_docs(spark, sf_dir), dim=32).collect()
    b = E.embed_texts(_docs(spark, sf_dir), dim=32).collect()
    assert {r.doc_id: r.embedding for r in a} == {
        r.doc_id: r.embedding for r in b
    }


def test_normalize_yields_unit_vectors(spark, sf_dir):
    out = E.embed_texts(_docs(spark, sf_dir), dim=32, normalize=True)
    norms = out.select(
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("n")
    ).collect()
    assert all(abs(r.n - 1.0) < 1e-5 for r in norms)


def test_duplicate_texts_embed_identically(spark):
    """Identical texts must map to identical vectors regardless of row
    order, partition, or batch boundaries — the property downstream
    dedup/kNN consumers rely on."""
    rows = [(i, f"the quick brown fox {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    emb = E.embed_texts(df, dim=64)
    per_text = (
        emb.groupBy("text")
        .agg(F.countDistinct(F.col("embedding").cast("string")).alias("n_vecs"))
        .collect()
    )
    assert len(per_text) == 3
    assert all(r.n_vecs == 1 for r in per_text)


def test_embed_lsh_recall_vs_exact(spark, sf_dir):
    """The approximate path over seam-produced vectors keeps ≥60% of the
    exact top-5 (8 tables × 4 bits on 64-dim hashed counts)."""
    exact = QUERIES["embed_knn_e2e"](spark, sf_dir).collect()
    approx = QUERIES["embed_knn_lsh"](spark, sf_dir).collect()
    truth = {(r.query_id, r.vec_id) for r in exact}
    got = {(r.query_id, r.vec_id) for r in approx}
    assert truth, "exact path returned nothing"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"recall {recall:.2f} below bound"


def test_stand_in_tokenizes_on_ascii_whitespace_only():
    """The Python stand-in must split exactly where the SQL twin's \\s+
    regex splits (ASCII whitespace in RE2/Java): Unicode whitespace like
    NBSP is NOT a separator, so 'a\\u00a0b' is ONE token and embeds
    differently from 'a b' (round-5 advice — str.split() would have
    merged the two cases and diverged from the oracle mirror)."""
    import numpy as np

    model = E.hashed_projection_model(dim=64)
    nbsp, spaced, onetok = model(["a b", "a b", "a b c"])
    assert not np.array_equal(nbsp, spaced)
    # the NBSP-joined token hashes as a single bucket hit: exactly one
    # nonzero component of magnitude 1
    assert int(np.abs(nbsp).sum()) == 1
    # ASCII space still splits: 'a b c' = token 'a b' + token 'c'
    assert int(np.abs(onetok).sum()) == 2


def test_packed_ckey_guard_fails_loudly(spark):
    """chunk_idx >= _CHUNK_KEYMUL must raise, not silently alias into a
    neighboring doc's key space (round-5 advice)."""
    import pytest
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.utils import CapturedException

    from ethical_data_ingestion_spark.queries.embed_q import (
        _CHUNK_KEYMUL,
        _packed_ckey,
    )

    ok = spark.range(5).select(
        _packed_ckey(F.lit(7), F.col("id")).alias("ckey")
    ).collect()
    assert [r.ckey for r in ok] == [7 * _CHUNK_KEYMUL + i for i in range(5)]

    bad = spark.range(1).select(
        _packed_ckey(F.lit(7), F.lit(_CHUNK_KEYMUL)).alias("ckey")
    )
    with pytest.raises((CapturedException, PySparkRuntimeError, Exception)) as exc:
        bad.collect()
    assert "keyspace" in str(exc.value)


def test_mmr_pool_smaller_than_pick_count(spark):
    """A query with fewer candidates than MMR picks gets one pick per
    candidate: an exhausted round's argmax over the empty remainder is
    NULL and dropped, not an ANSI out-of-bounds error."""
    from ethical_data_ingestion_spark.queries import embed_q as EQ

    mul = EQ._CHUNK_KEYMUL
    cands = spark.createDataFrame(
        [(5, 3 * mul, [1.0, 0.0], 1.0, 0.9),
         (5, 4 * mul + 1, [0.6, 0.8], 1.0, 0.7)],
        "query_id bigint, ckey bigint, embedding array<float>, n2 double, "
        "rel double",
    )
    assert cands.count() < EQ._MMR_K
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = EQ._mmr_select(cands).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [(r.query_id, r.doc_id, r.chunk_idx, r.mmr_rank) for r in rows] == [
        (5, 3, 0, 1), (5, 4, 1, 2)
    ]


def test_mmr_matches_python_greedy(spark):
    """Replay greedy MMR in plain Python over the same candidate pool and
    pairwise sims (third implementation next to the Spark rounds and the
    DuckDB CTE chain) and demand identical picks, ranks, and scores."""
    from ethical_data_ingestion_spark import registry
    from ethical_data_ingestion_spark.queries import embed_q as EQ

    sf = "/root/testdata/sf0.001"
    got = [
        (r.query_id, r.doc_id * EQ._CHUNK_KEYMUL + r.chunk_idx,
         r.mmr_rank, r.mmr_score)
        for r in registry.QUERIES["mmr_diversified_topk"](spark, sf).collect()
    ]
    # rebuild the pool: top-N candidates per query by (rel desc, ckey)
    cemb = EQ._chunk_index(spark, sf)
    from pyspark.sql import functions as F2

    q = (
        EQ._embedded_docs(spark, sf)
        .filter(F2.col("doc_id") < EQ._RAG_QUERIES)
        .select(F2.col("doc_id").alias("qid"), F2.col("embedding").alias("qv"))
        .collect()
    )
    chunks = cemb.collect()
    import math

    def cos(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += float(x) * float(y)
        na = sum(float(x) * float(x) for x in a)
        nb = sum(float(y) * float(y) for y in b)
        return round(d / (math.sqrt(na) * math.sqrt(nb)), 6)

    want = []
    for row in sorted(q, key=lambda r: r.qid):
        cands = [
            (c.ckey, cos(row.qv, c.embedding), c.embedding)
            for c in chunks
            if c.doc_id != row.qid
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        pool = cands[: EQ._MMR_N]
        sel = [min(pool, key=lambda t: (-t[1], t[0]))]
        want.append((row.qid, sel[0][0], 1, round(EQ._MMR_LAMBDA * sel[0][1], 6)))
        for t in range(2, EQ._MMR_K + 1):
            best = None
            for ck, rel, emb in pool:
                if any(ck == s[0] for s in sel):
                    continue
                mx = max(cos(emb, s[2]) for s in sel)
                score = round(
                    EQ._MMR_LAMBDA * rel
                    - round(1 - EQ._MMR_LAMBDA, 10) * mx, 6
                )
                if best is None or (-score, ck) < (-best[3], best[0]):
                    best = (ck, rel, emb, score)
            sel.append((best[0], best[1], best[2]))
            want.append((row.qid, best[0], t, best[3]))
    assert sorted(got) == sorted(want)


def test_chunk_ann_recall_vs_exact(spark, sf_dir):
    """The ANN-served RAG retrieval keeps >= 60% of the exact panel's
    top-k (query, chunk) picks, and every returned chunk respects the
    own-document exclusion and the rank contract."""
    exact = QUERIES["chunk_embed_topk"](spark, sf_dir).collect()
    approx = QUERIES["chunk_embed_topk_ann"](spark, sf_dir).collect()
    truth = {(r.query_id, r.doc_id, r.chunk_idx) for r in exact}
    got = {(r.query_id, r.doc_id, r.chunk_idx) for r in approx}
    assert truth, "exact panel returned nothing"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"recall {recall:.2f} below bound"
    for r in approx:
        assert r.doc_id != r.query_id  # own-doc exclusion survives ANN
        assert 1 <= r.rank
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rows in per_q.items():
        ranks = sorted(x.rank for x in rows)
        assert ranks == list(range(1, len(ranks) + 1)), q
        by_rank = sorted(rows, key=lambda x: x.rank)
        cosines = [x.cos for x in by_rank]
        assert cosines == sorted(cosines, reverse=True), q


def test_mmr_ann_matches_python_greedy_over_ann_pool(spark):
    """The ANN-pool MMR must equal a Python greedy replay over the SAME
    candidate pool (pool taken from the Spark LSH pipeline; selection
    reimplemented in plain Python), and its rank-1 pick must equal
    chunk_embed_topk_ann's top retrieval — both are argmax rel over the
    identical pool."""
    import math

    from ethical_data_ingestion_spark import registry
    from ethical_data_ingestion_spark.operators import similarity as S
    from ethical_data_ingestion_spark.queries import embed_q as EQ
    from pyspark.sql import functions as F2

    sf = "/root/testdata/sf0.001"
    got = [
        (r.query_id, r.doc_id * EQ._CHUNK_KEYMUL + r.chunk_idx,
         r.mmr_rank, r.mmr_score)
        for r in registry.QUERIES["mmr_diversified_topk_ann"](
            spark, sf
        ).collect()
    ]
    topk = registry.QUERIES["chunk_embed_topk_ann"](spark, sf).collect()
    top1 = {
        r.query_id: r.doc_id * EQ._CHUNK_KEYMUL + r.chunk_idx
        for r in topk
        if r.rank == 1
    }
    for q, ck, rank, _ in got:
        if rank == 1:
            assert top1[q] == ck, q

    # rebuild the ANN pool exactly as the query does, then replay greedy
    base, b_buckets, planes = EQ._chunk_lsh_buckets(spark, sf)
    qd = (
        EQ._searchable_docs(spark, sf)
        .filter(F2.col("doc_id") < EQ._RAG_QUERIES)
        .select(
            (F2.col("doc_id") + F2.lit(EQ._CHUNK_QOFF)).alias("query_id"),
            S.as_double(F2.col("embedding")).alias("_qv"),
        )
    )
    cand = S.lsh_candidates(
        b_buckets, S.lsh_probes(spark, qd, planes), "ckey"
    ).filter(
        F2.expr(f"ckey div {EQ._CHUNK_KEYMUL}")
        != (F2.col("query_id") - F2.lit(EQ._CHUNK_QOFF))
    ).collect()
    emb = {
        r.ckey: r.embedding
        for r in EQ._chunk_index(spark, sf).collect()
    }
    qv = {
        r.query_id - EQ._CHUNK_QOFF: r._qv for r in qd.collect()
    }

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) * float(x) for x in a)
        nb = sum(float(y) * float(y) for y in b)
        return round(d / (math.sqrt(na) * math.sqrt(nb)), 6)

    pools: dict[int, list] = {}
    for r in cand:
        q = r.query_id - EQ._CHUNK_QOFF
        pools.setdefault(q, []).append(r.ckey)
    want = []
    for q in sorted(pools):
        scored = sorted(
            ((ck, cos(qv[q], emb[ck])) for ck in pools[q]),
            key=lambda t: (-t[1], t[0]),
        )
        pool = scored[: EQ._MMR_N]
        sel = [pool[0]]
        want.append((q, sel[0][0], 1, round(EQ._MMR_LAMBDA * sel[0][1], 6)))
        for t in range(2, EQ._MMR_K + 1):
            best = None
            for ck, rel in pool:
                if any(ck == s[0] for s in sel):
                    continue
                mx = max(cos(emb[ck], emb[s[0]]) for s in sel)
                score = round(
                    EQ._MMR_LAMBDA * rel
                    - round(1 - EQ._MMR_LAMBDA, 10) * mx, 6
                )
                if best is None or (-score, ck) < (-best[2], best[0]):
                    best = (ck, rel, score)
            sel.append((best[0], best[1]))
            want.append((q, best[0], t, best[2]))
    assert sorted(got) == sorted(want)
