"""Hybrid retrieval: BM25 + dense RRF fusion (round-9 verdict item 4).

The canonical RAG retrieval operator: a lexical ranker (BM25 over the
document corpus) and a dense ranker (cosine over the session-pinned chunk
LSH index — the `chunk_embed_topk_ann` serving path) each produce a
per-query ranked candidate list; reciprocal-rank fusion (Cormack et al.,
SIGIR'09) merges them by summing ``1/(K + rank)`` over the retrievers
that returned the document. RRF consumes RANKS only — integer on both
engines — so the fused score is a sum of two exactly-rounded decimals and
the whole pipeline value-hash-checks against the DuckDB mirror.

Query model: each probe is a PASSAGE — normalized tokens
``_HYB_QSTART.._HYB_QSTART+_HYB_QLEN-1`` of one of the first
``_HYB_PROBES`` documents — retrieving over the full corpus with the own
document INCLUDED (the self-retrieval eval). The passage window starts
MID-CHUNK on purpose (real queries don't align to the 16-token chunk
stride), so the dense retriever is fallible, and the fixture's 31-word
vocabulary makes BM25 fallible — measured per-query failures land on
DIFFERENT probes, which is exactly when rank fusion pays:
``tests/test_hybrid.py`` pins that the fused ranking beats BOTH single
retrievers on own-document MRR at sf0.001 and sf0.01.

Reference basis: the reference advertises full-text search but ships
``ILIKE`` (``ethical_crawler.py:978-985``) and declares-but-never-uses
the embedding column (``:842``); this composes the realized upgrades of
both (SURVEY §2 #15/#45) into the standard two-tower serving operator.

Scale shape: the lexical side is two exploded groupBys (term postings
bounded by vocabulary, probe-terms join broadcast); the dense side is the
pinned LSH bucket index (per-query cost bucket-sized, not corpus-sized);
fusion is a |probes × N|-row full outer join — every stage
|queries|-bounded after the one corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import shared
from ..operators import embed as E
from ..operators import similarity as S
from ..registry import register
from .chunk_common import (
    _CHUNK_KEYMUL,
    _CHUNK_QOFF,
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    _DIM,
    _dense_chunk_sql,
)

_HYB_PROBES = 10   # probe queries: passages of the first N documents
_HYB_QSTART = 9    # 1-based passage start — mid-chunk (stride 16), so the
                   # passage never aligns with an index chunk boundary
_HYB_QLEN = 12     # tokens per probe passage
_HYB_N = 20        # per-retriever candidate-list depth fed to fusion
_HYB_RRF_K = 60    # the standard RRF dampening constant
_HYB_TOPK = 5      # fused results returned per query
_BM25_K1 = 1.2
_BM25_B = 0.75

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _norm_tokens(col: str = "text") -> F.Column:
    return F.split(
        F.trim(F.regexp_replace(F.lower(col), "\\s+", " ")), " "
    )


def _bm25_index(spark: SparkSession, sf_dir: str):
    """Session-pinned BM25 inverted-index artifacts (round-10 verdict
    item 1): DENORMALIZED postings ``(doc_id, term, tf, dl)`` — document
    length folded onto every posting row, the standard inverted-index
    layout, so the serving query never joins a doc-length table — plus
    ``dft`` (term, dft) and the 1-row corpus globals. Built from ONE
    corpus scan the first time any BM25 consumer asks, then served from
    the session block manager like the chunk-LSH index."""
    def _build_postings() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", _norm_tokens().alias("t")
        )
        corpus = docs.select("doc_id", F.explode("t").alias("term")).filter(
            F.col("term") != ""
        )
        ctf = corpus.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        )
        wdoc = Window.partitionBy("doc_id")
        # dl = Σ tf per doc ≡ COUNT(*) over the nonempty exploded tokens
        return ctf.withColumn("dl", F.sum("tf").over(wdoc))

    postings = shared(("bm25_postings", sf_dir), spark, _build_postings)
    dft = shared(
        ("bm25_dft", sf_dir),
        spark,
        lambda: postings.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("dft")
        ),
    )
    globs = shared(
        ("bm25_globs", sf_dir),
        spark,
        lambda: postings.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        ),
    )
    return postings, dft, globs


def _lex_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, lex_rank): BM25 ranking of every document for
    each probe passage, top ``_HYB_N`` per query.

    Multi-query BM25 as ONE relational plan (the single-query operator
    `operators.search.bm25_topk` hardcodes its terms as literals): probe
    term frequencies join the PINNED denormalized postings on term, with
    every other side broadcast — the serving plan is ONE streamed pass
    over the postings followed by ONE exchange on ``query_id`` that the
    rollup, the rank window, and the downstream fusion join all reuse.
    Per-(query, term, doc) partials round to 6 decimals and sum in
    DECIMAL — the same partition-order-proof discipline as
    `search_bm25_topk`."""
    postings, dft, globs = _bm25_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _norm_tokens().alias("t")
    )
    qt = (
        docs.filter(F.col("doc_id") < _HYB_PROBES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("t", _HYB_QSTART, _HYB_QLEN)).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("qtf"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(qt)
        .join(postings, "term")
        .join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(globs))
        .withColumn(
            "part",
            F.round(F.col("qtf") * idf * tf_part, 6).cast("decimal(18,6)"),
        )
        # one exchange on query_id; HashPartitioning(query_id) satisfies
        # the (query_id, doc_id) rollup, the rank window, AND the fusion
        # join downstream — three stages, zero further exchanges
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("part").cast("double"), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("lex_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("lex_rank") <= _HYB_N)
        .select("query_id", "doc_id", "lex_rank")
    )


def _sem_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, sem_rank): dense ranking from the pinned chunk
    LSH index — embed each probe passage with the seam embedder, pull
    bucket-colliding chunk candidates, exact-rescore, and rank DOCUMENTS
    by their best-scoring chunk (own document included: this is the
    self-retrieval serving shape, unlike `chunk_embed_topk_ann`'s
    exclude-own eval)."""
    from .embed_q import _chunk_lsh_buckets  # runtime-only: avoids a cycle

    base, b_buckets, planes = _chunk_lsh_buckets(spark, sf_dir)

    def _build_qd() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", _norm_tokens().alias("t")
        )
        passages = docs.filter(F.col("doc_id") < _HYB_PROBES).select(
            (F.col("doc_id") + F.lit(_CHUNK_QOFF)).alias("query_id"),
            F.concat_ws(
                " ", F.slice("t", _HYB_QSTART, _HYB_QLEN)
            ).alias("text"),
        )
        return (
            E.embed_texts(passages, dim=_DIM)
            .withColumn("qn2", E.embedding_norm2("embedding"))
            .filter(F.col("qn2") > 0)
            .select("query_id", S.as_double(F.col("embedding")).alias("_qv"))
        )

    # the probe set is a registered constant of this query, so its
    # embeddings are a session artifact like the index itself — in a
    # serving deployment queries arrive already embedded; the engine
    # cost measured here is candidate generation + rescoring + fusion
    qd = shared(("hyb_qd", sf_dir, _DIM), spark, _build_qd)
    # probe buckets are DRIVER-COMPILED from the pinned probe vectors
    # (bounded collect feeding a local relation — the literal-probe-terms
    # pattern): no Python-worker round-trip, no exchange per call
    q_buckets = S.lsh_probes(spark, qd, planes)
    cand = (
        b_buckets.join(
            F.broadcast(q_buckets),
            (b_buckets.t == q_buckets.t)
            & (b_buckets.bucket == q_buckets.bucket)
            & (F.col("ckey") != F.col("query_id")),
        )
        .select("query_id", "ckey")
        # exchange on ckey ONCE: HashPartitioning(ckey) satisfies the
        # (query_id, ckey) dedup AND co-locates the base join
        .repartition(F.col("ckey"))
        .distinct()
    )
    # rescore: candidates join the pinned chunk base on ckey (both
    # bucket-bounded), probe vectors attach by broadcast; then ONE
    # exchange on query_id serves the rollup, the rank window, and the
    # fusion join (HashPartitioning subset rule)
    scored = (
        cand.join(base.select("ckey", "_bv"), "ckey")
        .join(F.broadcast(qd), "query_id")
        .select(
            (F.col("query_id") - F.lit(_CHUNK_QOFF)).alias("query_id"),
            F.expr(f"ckey div {_CHUNK_KEYMUL}").alias("doc_id"),
            F.round(S.cosine(F.col("_qv"), F.col("_bv")), 6).alias("cos"),
        )
        .repartition(F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.max("cos").alias("best"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("best"), "doc_id")
    return (
        scored.withColumn("sem_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sem_rank") <= _HYB_N)
        .select("query_id", "doc_id", "sem_rank")
    )


def _rrf_part(rank_col: str) -> F.Column:
    """round(1/(K + rank), 6) as DECIMAL(18,6), 0 when the retriever did
    not return the document — two such parts sum EXACTLY, so the fused
    score is engine-independent."""
    return F.when(
        F.col(rank_col).isNull(), F.lit(0).cast("decimal(18,6)")
    ).otherwise(
        F.round(F.lit(1.0) / (F.lit(_HYB_RRF_K) + F.col(rank_col)), 6).cast(
            "decimal(18,6)"
        )
    )


def _hybrid_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fused table (query_id, doc_id, lex_rank, sem_rank, rrf_score,
    hybrid_rank) over the UNION of both candidate lists, un-truncated —
    the registered query projects its top-``_HYB_TOPK``; the MRR test
    reads the full ranking."""
    lex = _lex_ranked(spark, sf_dir)
    sem = _sem_ranked(spark, sf_dir)
    fused = lex.join(sem, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        (_rrf_part("lex_rank") + _rrf_part("sem_rank"))
        .cast("double")
        .alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "doc_id")
    return fused.withColumn(
        "hybrid_rank", F.row_number().over(w).cast("long")
    )


def _hybrid_oracle() -> str:
    from .lsh_common import _lsh_pipeline_ctes

    dense_queries = f"""
      SELECT n.query_id + {_CHUNK_QOFF} AS vec_id,
             list(CAST(COALESCE(c.c, 0) AS DOUBLE) ORDER BY dims.d) AS bv
      FROM (SELECT query_id FROM qcnt GROUP BY query_id
            HAVING SUM(c * c) > 0) n
      CROSS JOIN (SELECT unnest(generate_series(0, {_DIM - 1})) AS d) dims
      LEFT JOIN qcnt c ON c.query_id = n.query_id AND c.bucket = dims.d
      GROUP BY n.query_id
    """
    return f"""
    WITH dtoks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    corpus AS (
      SELECT doc_id, unnest(t) AS term FROM dtoks
    ),
    corpusnz AS (SELECT doc_id, term FROM corpus WHERE term <> ''),
    ctf AS (
      SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
      FROM corpusnz GROUP BY doc_id, term
    ),
    doclen AS (
      SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM corpusnz GROUP BY doc_id
    ),
    globs AS (
      SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM doclen
    ),
    dft AS (
      SELECT term, COUNT(*)::DOUBLE AS dft FROM ctf GROUP BY term
    ),
    qt AS (
      SELECT doc_id AS query_id, term, COUNT(*)::DOUBLE AS qtf
      FROM (SELECT doc_id, unnest(t[{_HYB_QSTART}:{_HYB_QSTART + _HYB_QLEN - 1}])
                   AS term FROM dtoks
            WHERE doc_id < {_HYB_PROBES})
      WHERE term <> ''
      GROUP BY 1, 2
    ),
    lex_scored AS (
      SELECT q.query_id, c.doc_id,
             ROUND(CAST(SUM(CAST(ROUND(
               q.qtf
               * ln((g.n_docs - d.dft + 0.5) / (d.dft + 0.5) + 1.0)
               * (c.tf * ({_BM25_K1} + 1))
               / (c.tf + {_BM25_K1}
                  * (1 - {_BM25_B} + {_BM25_B} * l.dl / g.avgdl)),
               6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS score
      FROM qt q
      JOIN ctf c USING (term)
      JOIN dft d USING (term)
      JOIN doclen l ON l.doc_id = c.doc_id, globs g
      GROUP BY q.query_id, c.doc_id
    ),
    lexk AS (
      SELECT query_id, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS lex_rank
        FROM lex_scored
      ) WHERE lex_rank <= {_HYB_N}
    ),
    chunks AS (
      SELECT doc_id,
             doc_id * {_CHUNK_KEYMUL} + s // {_CHUNK_STRIDE} AS ckey,
             t[s + 1 : s + {_CHUNK_SIZE}] AS ct
      FROM dtoks, unnest(range(0, len(t), {_CHUNK_STRIDE})) AS u(s)
    ),
    ccnt AS (
      SELECT ckey,
             ('0x' || substring(md5(word), 1, 8))::BIGINT % {_DIM} AS bucket,
             CAST(SUM(CASE WHEN ('0x' || substring(md5(word), 9, 1))::INTEGER
                                % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c
      FROM (SELECT ckey, unnest(ct) AS word FROM chunks)
      WHERE word <> ''
      GROUP BY 1, 2
    ),
    qcnt AS (
      SELECT query_id,
             ('0x' || substring(md5(word), 1, 8))::BIGINT % {_DIM} AS bucket,
             CAST(SUM(CASE WHEN ('0x' || substring(md5(word), 9, 1))::INTEGER
                                % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS c
      FROM (SELECT doc_id AS query_id,
                   unnest(t[{_HYB_QSTART}:{_HYB_QSTART + _HYB_QLEN - 1}]) AS word
            FROM dtoks WHERE doc_id < {_HYB_PROBES})
      WHERE word <> ''
      GROUP BY 1, 2
    ),
    {_lsh_pipeline_ctes(b_body=_dense_chunk_sql(), q_body=dense_queries)},
    sem_best AS (
      SELECT query_id - {_CHUNK_QOFF} AS query_id,
             vec_id // {_CHUNK_KEYMUL} AS doc_id,
             MAX(cos) AS best
      FROM lsh_scored GROUP BY 1, 2
    ),
    semk AS (
      SELECT query_id, doc_id, CAST(sem_rank AS BIGINT) AS sem_rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY best DESC, doc_id) AS sem_rank
        FROM sem_best
      ) WHERE sem_rank <= {_HYB_N}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             CAST(
               (CASE WHEN l.lex_rank IS NULL THEN CAST(0 AS DECIMAL(18,6))
                     ELSE CAST(ROUND(1.0 / ({_HYB_RRF_K} + l.lex_rank), 6)
                               AS DECIMAL(18,6)) END)
               + (CASE WHEN s.sem_rank IS NULL THEN CAST(0 AS DECIMAL(18,6))
                       ELSE CAST(ROUND(1.0 / ({_HYB_RRF_K} + s.sem_rank), 6)
                                 AS DECIMAL(18,6)) END)
             AS DOUBLE) AS rrf_score
      FROM lexk l
      FULL JOIN semk s ON l.query_id = s.query_id AND l.doc_id = s.doc_id
    ),
    hranked AS (
      SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, doc_id)
                  AS BIGINT) AS hybrid_rank
      FROM fused
    )
    SELECT query_id, doc_id, lex_rank, sem_rank, rrf_score, hybrid_rank
    FROM hranked WHERE hybrid_rank <= {_HYB_TOPK}
    ORDER BY query_id, hybrid_rank
    """


@register("hybrid_retrieval_topk", oracle=_hybrid_oracle())
def hybrid_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HYB_TOPK} documents per probe passage under reciprocal-rank
    fusion of the BM25 ranking and the chunk-LSH dense ranking (see
    module docstring). Both single-retriever ranks travel in the output
    so a consumer can audit WHY a document fused to the top.

    Execution note: this is the repo's one latency-critical SERVING
    query — a ~15-stage DAG over probe-bounded row counts. AQE's
    per-stage materialize-and-replan costs more here than it can ever
    save (measured ~2× wall at sf0.1), so the plan executes eagerly with
    AQE scoped OFF — the standard point-query discipline; the heavy
    analytical queries keep AQE for skew/coalesce wins.

    The toggle is session-global for the duration of the eager
    materialize (conf set → execute → restore): a CONCURRENT query on
    the same SparkSession during that window would plan without AQE.
    The repo's callers (driver gate, bench, tests) are single-threaded
    per session, which is the assumption; a multi-tenant server should
    give serving traffic its own session (``spark.newSession()`` shares
    the block manager, so the pinned artifacts stay warm)."""
    from ..materialize import materialize

    plan = (
        _hybrid_fused(spark, sf_dir)
        .filter(F.col("hybrid_rank") <= _HYB_TOPK)
        .select(
            "query_id", "doc_id", "lex_rank", "sem_rank",
            "rrf_score", "hybrid_rank",
        )
        .orderBy("query_id", "hybrid_rank")
    )
    aqe = "spark.sql.adaptive.enabled"
    # restore to the PRIOR state: unset if the session never set the key
    # explicitly (get(key, None) reads only explicit session overrides),
    # so we don't pin a default that a later deployment-level change to
    # the underlying conf would then silently lose.
    old = spark.conf.get(aqe, None)
    spark.conf.set(aqe, "false")
    try:
        return materialize(plan)  # eager: executes under the scoped conf
    finally:
        if old is None:
            spark.conf.unset(aqe)
        else:
            spark.conf.set(aqe, old)
