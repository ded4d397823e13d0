"""Similarity-search queries over the embeddings table.

The exact paths (brute-force kNN, threshold pairs) carry full DuckDB
oracles via ``list_dot_product`` — both engines do the same sequential
double fold, so scores match to the rounded digit. Even the LSH top-k is
hash-checked (round 7): the md5-derived planes, strict-fold projections
and total-order tie-breaks make the approximate pipeline exactly
reproducible, so both the quality panel (`knn_lsh_recall_stats`) and the
result list (`knn_cosine_lsh`) mirror in DuckDB; IVF and PQ use
deterministic codebooks and are mirrored step for step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize, shared
from ..operators import similarity as S
from ..registry import register

from .lsh_common import _ANN_SPLIT, _COS, _lsh_pipeline_ctes  # noqa: F401
# (re-exported: moved to the leaf module lsh_common so import-time
# consumers avoid the registry load cycle; one source of truth)


def _truth10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-pinned exact cosine top-10 for the family's 5 standard
    probes (vec_id < 5) — the ANN ground truth three panels previously
    re-brute-forced per call (~1s each warm at sf0.1, round-8 verdict
    item 7). Built once per session like the bucket/NSW indexes."""
    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return S.knn_bruteforce(emb, queries, k=10)

    return shared(("knn_truth10", sf_dir), spark, build)



@register(
    "knn_cosine_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    scored AS (
      SELECT query_id, vec_id, {_COS} AS cos
      FROM b, q WHERE vec_id <> query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 probe vectors against the full embeddings
    table — the ANN ground truth. Broadcast probes ⇒ base scan stays
    shuffle-free; only the tiny scored set moves."""
    out = _truth10(spark, sf_dir)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_dot_product(a.vec, b.vec) /
                 (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.vec, b.vec) /
                (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6) >= 0.45
    ORDER BY id1, id2
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (≥0.45 — chosen from the
    fixture's cosine distribution, max ≈ 0.51). EXACT, executed as a
    blocked-GEMM tile grid (see `similarity.cosine_pairs`): the only join
    over vector data is keyed on block ids; each tile is one numpy matmul;
    candidates are re-scored with the strict-fold cosine so the rounded
    values stay bit-identical to the oracle's all-pairs SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_pairs(emb, threshold=0.45)


@register(
    "knn_cosine_ivf",
    oracle=f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    c AS (SELECT vec_id AS cid, bv AS cv FROM b WHERE vec_id < 16),
    ascore AS (
      SELECT b.vec_id, c.cid,
             ROUND(list_dot_product(bv, cv) /
                   (sqrt(list_dot_product(bv, bv)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
      FROM b, c
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
        FROM ascore
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, bv AS qv FROM b WHERE vec_id < 5),
    probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) DESC, cid) AS rn
        FROM q, c
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, cells.vec_id
      FROM probes p JOIN cells USING (cell)
      WHERE cells.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id, {_COS} AS cos
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN b ON b.vec_id = cand.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: 16 deterministic cells, 4 probed per query — the scan
    touches ~1/4 of the base table instead of all of it. Unlike LSH, the
    deterministic codebook makes the whole approximate path hash-checkable:
    the oracle mirrors assignment, probing, and ranking step for step."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.knn_ivf(emb, queries, k=10, n_cells=16, nprobe=4)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "embedding_quantization_stats",
    oracle="""
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    stats AS (
      SELECT dim, MIN(v) AS dmin, MAX(v) AS dmax FROM ex GROUP BY dim
    ),
    quant AS (
      SELECT label,
             v,
             CASE WHEN dmax = dmin THEN dmin
                  ELSE dmin + floor((v - dmin) / (dmax - dmin) * 255 + 0.5)
                       * (dmax - dmin) / 255
             END AS deq
      FROM ex JOIN stats USING (dim)
    )
    SELECT label,
           COUNT(*) AS n_values,
           ROUND(CAST(SUM(CAST(ROUND(abs(v - deq), 9) AS DECIMAL(18,9)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_abs_err,
           ROUND(MAX(abs(v - deq)), 6) AS max_abs_err
    FROM quant
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with per-label
    reconstruction-error stats — the compression every 100 TB embedding
    store runs (4× over float32) before ANN indexing.

    Two linear passes: per-DIMENSION min/max (64 rows — a broadcastable
    stats table at any corpus size), then quantize/dequantize inline and
    aggregate the error. ``floor(x + 0.5)`` instead of ``round`` because
    both engines floor doubles identically, while their half-point round
    modes differ; the error sum accumulates in DECIMAL after a 9-digit
    round, making the average order-insensitive."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    stats = ex.groupBy("dim").agg(
        F.min("v").alias("dmin"), F.max("v").alias("dmax")
    )
    rng = F.col("dmax") - F.col("dmin")
    deq = F.when(rng == 0, F.col("dmin")).otherwise(
        F.col("dmin")
        + F.floor((F.col("v") - F.col("dmin")) / rng * 255 + 0.5) * rng / 255
    )
    quant = ex.join(F.broadcast(stats), "dim").withColumn(
        "abs_err", F.abs(F.col("v") - deq)
    )
    return (
        quant.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.round(
                F.sum(F.round("abs_err", 9).cast("decimal(18,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_abs_err"),
            F.round(F.max("abs_err"), 6).alias("max_abs_err"),
        )
        .orderBy("label")
    )



def _lsh_recall_oracle() -> str:
    """Recall tail over the shared LSH pipeline mirror: candidate-set
    sizes plus overlap of the LSH top-10 with the exact brute-force
    top-10 — recall itself as a hash-checkable quantity."""
    return f"""
    WITH {_lsh_pipeline_ctes()},
    lsh10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rnk
        FROM lsh_scored) WHERE rnk <= 10
    ),
    ex_scored AS (
      SELECT q.query_id, b.vec_id, {_COS} AS cos
      FROM b, q WHERE b.vec_id <> q.query_id
    ),
    ex10 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rnk
        FROM ex_scored) WHERE rnk <= 10
    ),
    nc AS (SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id),
    ov AS (
      SELECT l.query_id, COUNT(*) AS o
      FROM lsh10 l JOIN ex10 e
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
      GROUP BY l.query_id
    )
    SELECT q.query_id AS query_id,
           COALESCE(nc.n_candidates, 0) AS n_candidates,
           COALESCE(ov.o, 0) / 10.0 AS recall_at_10
    FROM q
    LEFT JOIN nc ON nc.query_id = q.query_id
    LEFT JOIN ov ON ov.query_id = q.query_id
    ORDER BY q.query_id
    """


def _emb_lsh_index(spark: SparkSession, sf_dir: str):
    """Session-pinned 8-table × 4-bit LSH index over ``embeddings``:
    (vectors with norms, bucket table, planes), built once and served to
    every probe batch of `knn_cosine_lsh` and `knn_lsh_recall_stats`."""
    planes = S.hyperplanes(64, 8, 4)
    vecs = shared(
        ("emb_lsh_vecs", sf_dir),
        spark,
        lambda: S.lsh_vectors(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"),
    )
    b_buckets = shared(
        ("emb_lsh_buckets", sf_dir, 8, 4),
        spark,
        lambda: S.lsh_base_buckets(vecs, "vec_id", planes),
    )
    return vecs, b_buckets, planes


def _emb_lsh_probes(vecs: DataFrame) -> DataFrame:
    """The LSH panels' probe batch: vec_id < 5, read off the pinned index."""
    return vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("_bv").alias("embedding")
    )


@register("knn_lsh_recall_stats", oracle=_lsh_recall_oracle())
def knn_lsh_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe quality panel for the LSH index: candidate-set size (the
    pruning metric) and recall@10 against the exact brute-force top-10.
    Both sides are deterministic — md5-derived hyperplanes, strict-fold
    projections, total-order tie-breaks — so the panel is hash-checked
    against a DuckDB mirror of the entire approximate pipeline: the gate
    that was previously rows-only for the LSH family."""
    vecs, b_buckets, planes = _emb_lsh_index(spark, sf_dir)
    queries = _emb_lsh_probes(vecs)
    q = S.lsh_probes(spark, queries.withColumnRenamed("embedding", "_qv"), planes)
    ncand = S.lsh_candidates(b_buckets, q, "vec_id").groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    lsh10 = S.lsh_topk(q, vecs, b_buckets, "vec_id", 10).select("query_id", "vec_id")
    exact10 = _truth10(spark, sf_dir).select("query_id", "vec_id")
    ovl = (
        lsh10.join(exact10, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    return (
        queries.select("query_id")
        .join(ncand, "query_id", "left")
        .join(ovl, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            (F.coalesce("_o", F.lit(0)) / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


def _lsh_topk_oracle(k: int = 10) -> str:
    """Top-k tail over the shared LSH pipeline mirror: the approximate
    result LIST itself, hash-checked — deterministic planes, strict-fold
    projections and the (cos DESC, vec_id) total order make the LSH
    output exactly reproducible across engines (round-6 verdict item 2:
    graduated from rows-only)."""
    return f"""
    WITH {_lsh_pipeline_ctes()},
    ranked AS (
      SELECT query_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM lsh_scored
    )
    SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@register("knn_cosine_lsh", oracle=_lsh_topk_oracle(10))
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via 8-table × 4-bit random-hyperplane LSH.
    Candidates come from bucket equi-joins instead of scanning the base
    table per query — the shape that survives a 100 TB embedding corpus.
    Hash-checked: the oracle mirrors the deterministic pipeline end to
    end (planes → sign-bit buckets → candidate equi-join → exact rescoring
    → total-order top-k), so even the approximate k-set is value-exact."""
    vecs, b_buckets, planes = _emb_lsh_index(spark, sf_dir)
    return S.knn_lsh(
        vecs, _emb_lsh_probes(vecs), k=10, index=(vecs, b_buckets, planes)
    )


_PQ_M = 8        # subspaces
_PQ_D = 8        # dims per subspace
_PQ_K = 16       # codewords per subspace (deterministic: vec_id < 16)


@register(
    "product_quantization_stats",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
      FROM embeddings
    ),
    js AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS j),
    sub AS (
      SELECT vec_id, label, j,
             vec[(j*{_PQ_D}+1):(j*{_PQ_D}+{_PQ_D})] AS sv
      FROM v, js
    ),
    cb AS (
      SELECT vec_id AS cid, j,
             vec[(j*{_PQ_D}+1):(j*{_PQ_D}+{_PQ_D})] AS cv
      FROM v, js WHERE vec_id < {_PQ_K}
    ),
    dists AS (
      SELECT s.vec_id, s.label, s.j,
             ROUND(list_sum(list_transform(generate_series(1, {_PQ_D}),
                   i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i]))), 6) AS d
      FROM sub s JOIN cb c USING (j)
    ),
    per_sub AS (
      SELECT vec_id, label, j, MIN(d) AS d
      FROM dists GROUP BY vec_id, label, j
    ),
    per_vec AS (
      SELECT vec_id, label,
             CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS distortion
      FROM per_sub GROUP BY vec_id, label
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(distortion AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_distortion,
           ROUND(MAX(distortion), 6) AS max_distortion
    FROM per_vec
    GROUP BY label ORDER BY label
    """,
)
def product_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization distortion panel: each 64-dim vector splits
    into {_PQ_M} subvectors of {_PQ_D} dims, each assigned to its nearest
    of {_PQ_K} per-subspace codewords (L2) — the compression behind
    IVF-PQ indexes (64 floats -> {_PQ_M} byte codes, 32x). Reported per
    label: mean/max total reconstruction distortion.

    Codebooks are the subvectors of the first {_PQ_K} vectors — the same
    deterministic stand-in for an offline k-means codebook as `knn_ivf`,
    keeping the whole operator DuckDB-checkable. The dataflow is the
    production shape: codebooks broadcast ({_PQ_M}x{_PQ_K} rows), one
    narrow pass over (vector x subspace) rows, map-side-combined argmin +
    aggregates; per-subspace distances round to 6 before the decimal
    accumulation so both engines agree bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", S.as_double(F.col("embedding")).alias("v"))
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("v", j * _PQ_D + 1, _PQ_D).alias("sv"),
            )
            for j in range(_PQ_M)
        ]
    )
    subs = v.select(
        "vec_id", "label", F.explode(sub_structs).alias("s")
    ).select("vec_id", "label", "s.j", "s.sv")
    cbs = (
        v.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("cid"), F.explode(sub_structs).alias("s"))
        .select("cid", "s.j", F.col("s.sv").alias("cv"))
    )
    d = F.round(
        F.aggregate(
            F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    per_sub = (
        subs.join(F.broadcast(cbs), "j")
        .withColumn("d", d)
        .groupBy("vec_id", "label", "j")
        .agg(F.min("d").alias("d"))
    )
    per_vec = per_sub.groupBy("vec_id", "label").agg(
        F.sum(F.col("d").cast("decimal(18,6)")).cast("double").alias("distortion")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("distortion").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_distortion"),
            F.round(F.max("distortion"), 6).alias("max_distortion"),
        )
        .orderBy("label")
    )


_CPM_ANCHORS = 10


@register(
    "contrastive_pair_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_CPM_ANCHORS}
    ),
    b AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings
    ),
    scored AS (
      SELECT q.anchor_id, q.anchor_label, b.vec_id, b.label,
             ROUND(list_dot_product(qv, bv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(bv, bv))), 6) AS cos
      FROM q, b WHERE b.vec_id <> q.anchor_id
    ),
    pos AS (
      SELECT anchor_id, vec_id AS positive_id, cos AS positive_cos
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rn
            FROM scored WHERE label = anchor_label)
      WHERE rn = 1
    ),
    neg AS (
      SELECT anchor_id, vec_id AS hard_negative_id, cos AS hard_negative_cos
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rn
            FROM scored WHERE label <> anchor_label)
      WHERE rn = 1
    )
    SELECT p.anchor_id, p.positive_id, p.positive_cos,
           n.hard_negative_id, n.hard_negative_cos
    FROM pos p JOIN neg n USING (anchor_id)
    ORDER BY anchor_id
    """,
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair mining for contrastive/metric learning: for each
    anchor vector, the nearest SAME-label neighbor (the positive) and
    the nearest DIFFERENT-label neighbor (the hard negative — the pair
    that actually moves a contrastive loss, vs a random negative that is
    already far). This is the batch-mining pass behind triplet/InfoNCE
    dataset construction.

    One broadcast of the anchor set against the corpus scan (same
    shuffle-free shape as ``knn_cosine_bruteforce``); the per-anchor
    argmaxes are label-partitioned window heads over the scored rows.
    At index scale the scored set comes from the LSH/IVF candidate
    paths instead of the full scan — the mining logic is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _CPM_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        S.as_double("embedding").alias("_qv"),
    )
    b = emb.select(
        "vec_id", "label", S.as_double("embedding").alias("_bv")
    )
    scored = (
        b.join(F.broadcast(q), F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(S.cosine(F.col("_qv"), F.col("_bv")), 6).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), "vec_id")
    pos = (
        scored.filter(F.col("label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("positive_id"),
            F.col("cos").alias("positive_cos"),
        )
    )
    neg = (
        scored.filter(F.col("label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("hard_negative_id"),
            F.col("cos").alias("hard_negative_cos"),
        )
    )
    return pos.join(neg, "anchor_id").orderBy("anchor_id")


# ---------------------------------------------------------------------------
# Round-6 widening: embedding-distribution drift monitor.

_DRIFT_DIM = 64


@register(
    "embedding_drift_stats",
    oracle=f"""
    WITH halves AS (
      SELECT label,
             CASE WHEN ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT
                       % 2 = 0
                  THEN 'ref' ELSE 'cur' END AS half,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    comps AS (
      SELECT label, half, i AS dim, ROUND(v[i], 6) AS x
      FROM halves, unnest(range(1, {_DRIFT_DIM} + 1)) AS u(i)
    ),
    cent AS (
      SELECT label, half, dim,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c,
             COUNT(*) AS n
      FROM comps GROUP BY label, half, dim
    ),
    paired AS (
      SELECT r.label, r.dim, r.c AS cr, q.c AS cq
      FROM (SELECT * FROM cent WHERE half = 'ref') r
      JOIN (SELECT * FROM cent WHERE half = 'cur') q
        USING (label, dim)
    ),
    shift AS (
      SELECT label,
             ROUND(sqrt(SUM((cr - cq) * (cr - cq))), 6) AS centroid_l2_shift,
             ROUND(SUM(cr * cq)
                   / (sqrt(SUM(cr * cr)) * sqrt(SUM(cq * cq))), 6)
               AS centroid_cos
      FROM paired GROUP BY label
    ),
    pop AS (
      SELECT label,
             CAST(COUNT(*) FILTER (WHERE half = 'ref') AS BIGINT) AS n_ref,
             CAST(COUNT(*) FILTER (WHERE half = 'cur') AS BIGINT) AS n_cur
      FROM halves GROUP BY label
    )
    SELECT p.label, p.n_ref, p.n_cur,
           s.centroid_l2_shift, s.centroid_cos,
           ROUND(abs(p.n_ref::DOUBLE / (SELECT SUM(n_ref) FROM pop)
                     - p.n_cur::DOUBLE / (SELECT SUM(n_cur) FROM pop)), 6)
             AS share_drift
    FROM pop p JOIN shift s USING (label)
    ORDER BY p.label
    """,
)
def embedding_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the vector table into
    deterministic 'reference' and 'current' halves (md5 parity on vec_id —
    standing in for last release vs this release) and report, per label,
    the centroid L2 shift, centroid cosine, and population-share drift —
    the panel an embedding-pipeline owner watches to catch a model or
    corpus change silently moving the vector space (the vector-space
    sibling of ``price_drift_psi``/``price_drift_ks``).

    Hash-exactness with float inputs: each component is rounded to 6
    decimals FIRST, then summed in DECIMAL(28,6) — associative, so the
    per-(label, half, dim) means are partition-order-proof and identical
    across engines; every downstream expression is a fixed-order fold
    over those exact means.

    Scale shape: one scan; ``posexplode`` fans each vector into (label,
    half, dim, component) rows whose aggregation combines map-side, so
    the shuffle carries |labels|·2·dim partial rows per task — never
    vector data; everything after the centroid table is arithmetic on a
    few hundred rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = F.when(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("long") % 2 == 0,
        F.lit("ref"),
    ).otherwise(F.lit("cur"))
    halves = emb.select(
        "label", half.alias("half"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comps = halves.select(
        "label", "half",
        F.posexplode("v").alias("dim0", "x0"),
    ).select(
        "label", "half",
        (F.col("dim0") + 1).alias("dim"),
        F.round("x0", 6).alias("x"),
    )
    cent = comps.groupBy("label", "half", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    r = cent.filter(F.col("half") == "ref").select(
        "label", "dim", F.col("c").alias("cr")
    )
    q = cent.filter(F.col("half") == "cur").select(
        "label", "dim", F.col("c").alias("cq")
    )
    paired = r.join(q, ["label", "dim"])
    shift = paired.groupBy("label").agg(
        F.round(
            F.sqrt(F.sum((F.col("cr") - F.col("cq")) * (F.col("cr") - F.col("cq")))),
            6,
        ).alias("centroid_l2_shift"),
        F.round(
            F.sum(F.col("cr") * F.col("cq"))
            / (
                F.sqrt(F.sum(F.col("cr") * F.col("cr")))
                * F.sqrt(F.sum(F.col("cq") * F.col("cq")))
            ),
            6,
        ).alias("centroid_cos"),
    )
    pop = halves.groupBy("label").agg(
        F.sum((F.col("half") == "ref").cast("long")).cast("long").alias("n_ref"),
        F.sum((F.col("half") == "cur").cast("long")).cast("long").alias("n_cur"),
    )
    tot = F.broadcast(
        pop.agg(
            F.sum("n_ref").cast("double").alias("tr"),
            F.sum("n_cur").cast("double").alias("tc"),
        )
    )
    return (
        pop.join(shift, "label")
        .crossJoin(tot)
        .select(
            "label", "n_ref", "n_cur", "centroid_l2_shift", "centroid_cos",
            F.round(
                F.abs(
                    F.col("n_ref").cast("double") / F.col("tr")
                    - F.col("n_cur").cast("double") / F.col("tc")
                ),
                6,
            ).alias("share_drift"),
        )
        .orderBy("label")
    )


#: Matryoshka ablation: probe count and the truncation dims measured
#: against the full-dimension exact top-10.
_ABL_PROBES = 8
_ABL_DIMS = (8, 16, 32, 64)
_ABL_K = 10


@register(
    "embedding_dim_ablation",
    oracle=f"""
    WITH dims(dim) AS (VALUES (8), (16), (32), (64)),
    b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    q AS (SELECT vec_id AS query_id, bv AS qv FROM b
          WHERE vec_id < {_ABL_PROBES}),
    scored AS (
      SELECT d.dim, q.query_id, b.vec_id,
             ROUND(list_dot_product(list_slice(qv, 1, d.dim),
                                    list_slice(bv, 1, d.dim)) /
                   (sqrt(list_dot_product(list_slice(qv, 1, d.dim),
                                          list_slice(qv, 1, d.dim))) *
                    sqrt(list_dot_product(list_slice(bv, 1, d.dim),
                                          list_slice(bv, 1, d.dim)))), 6)
               AS cos
      FROM b, q, dims d WHERE b.vec_id <> q.query_id
    ),
    topk AS (
      SELECT dim, query_id, vec_id, cos FROM (
        SELECT dim, query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY dim, query_id
                                  ORDER BY cos DESC, vec_id) AS rk
        FROM scored
      ) WHERE rk <= {_ABL_K}
    ),
    full_k AS (SELECT query_id, vec_id AS hit_id FROM topk WHERE dim = 64)
    SELECT t.dim,
           CAST(COUNT(*) AS BIGINT) AS n_returned,
           CAST(COUNT(f.hit_id) AS BIGINT) AS n_hits,
           ROUND(COUNT(f.hit_id)::DOUBLE / COUNT(*)::DOUBLE, 4)
             AS recall_at10,
           ROUND(CAST(SUM(CAST(t.cos AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*)::DOUBLE, 6) AS mean_cos
    FROM topk t LEFT JOIN full_k f
      ON f.query_id = t.query_id AND f.hit_id = t.vec_id
    GROUP BY t.dim
    ORDER BY t.dim
    """,
)
def embedding_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension ablation: exact cosine top-{_ABL_K}
    retrieval at truncated embedding widths {_ABL_DIMS} vs the full
    64-dim ground truth — recall@{_ABL_K} and mean retrieved cosine per
    width. The panel that decides how many dimensions the ANN index
    actually needs (storage and GEMM cost scale linearly in kept dims;
    recall saturates well before full width when the embedder
    front-loads variance).

    Exactness: cosines are the same sequential double fold both engines
    run (`list_dot_product` order), rounded to 6 before ranking with a
    vec_id tie-break; the top-10 means accumulate in DECIMAL. The four
    widths ride ONE scored scan (dims exploded inline) — one window pass
    ranks all (dim, probe) groups together.

    Scale shape: probes broadcast, base scan shuffle-free (the
    `knn_cosine_bruteforce` shape x |dims|); at index scale the scored
    set comes from the LSH/IVF candidate paths and the ablation reuses
    their candidates — the comparison logic is unchanged."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", S.as_double("embedding").alias("bv"))
    q = b.filter(F.col("vec_id") < _ABL_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("bv").alias("qv")
    )
    dim = F.explode(
        F.array(*[F.lit(d) for d in _ABL_DIMS])
    ).alias("dim")
    qs = F.slice(F.col("qv"), F.lit(1), F.col("dim"))
    bs = F.slice(F.col("bv"), F.lit(1), F.col("dim"))
    scored = (
        b.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("vec_id", "query_id", "qv", "bv", dim)
        .select(
            "dim",
            "query_id",
            "vec_id",
            F.round(S.cosine(qs, bs), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("cos"), "vec_id"
    )
    # pin the tiny top-k table: the full-dim reference branch must not
    # re-score and re-rank the whole probe x base grid a second time
    topk = materialize(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ABL_K)
        .drop("rk")
    ).alias("t")
    full_k = F.broadcast(
        topk.filter(F.col("dim") == 64)
        .select(
            F.col("query_id").alias("fq"), F.col("vec_id").alias("hit_id")
        )
        .alias("f")
    )
    return (
        topk.join(
            full_k,
            (F.col("f.fq") == F.col("t.query_id"))
            & (F.col("f.hit_id") == F.col("t.vec_id")),
            "left",
        )
        .groupBy(F.col("t.dim").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_returned"),
            F.count("f.hit_id").cast("long").alias("n_hits"),
            F.round(
                F.count("f.hit_id").cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("recall_at10"),
            F.round(
                F.sum(F.col("t.cos").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_cos"),
        )
        .orderBy("dim")
    )


#: 1-NN label-accuracy eval: probe count (leave-one-out over the probe
#: subset against the FULL base).
_NN_PROBES = 32


@register(
    "knn_label_accuracy",
    oracle=f"""
    WITH b AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS bv
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, bv AS qv FROM b
          WHERE vec_id < {_NN_PROBES}),
    scored AS (
      SELECT q.query_id, q.qlabel, b.vec_id, b.label AS nlabel, {_COS} AS cos
      FROM b, q WHERE b.vec_id <> q.query_id
    ),
    nn AS (
      SELECT query_id, qlabel, nlabel FROM (
        SELECT query_id, qlabel, nlabel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT qlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 4) AS acc_at1
    FROM nn
    GROUP BY qlabel
    ORDER BY qlabel
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label accuracy (leave-one-out over {_NN_PROBES} probes against
    the full base): for each probe, does its single nearest neighbor by
    exact cosine carry the same label? THE standard intrinsic eval of an
    embedding space's class structure — `contrastive_pair_mining` finds
    the training pairs; this panel scores whether the space already
    separates the classes, per label. The per-label accuracies are what
    an embedder upgrade is judged by before it touches the index.

    Same shuffle-free shape as `knn_cosine_bruteforce` (broadcast probes,
    rounded-cos + vec_id tie-break for determinism), k=1, then a
    broadcast label join and a |labels|-row rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NN_PROBES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = S.knn_bruteforce(emb, q, k=1)
    lbl = emb.select("vec_id", "label")
    ql = F.broadcast(
        lbl.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        )
    )
    nl = F.broadcast(
        lbl.select(
            F.col("vec_id").alias("nn_id"), F.col("label").alias("nlabel")
        )
    )
    hit = (F.col("nlabel") == F.col("qlabel")).cast("long")
    return (
        nn.join(ql, "query_id")
        .join(nl, nn["vec_id"] == F.col("nn_id"))
        .groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.round(
                F.sum(hit).cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("acc_at1"),
        )
        .orderBy("label")
    )


#: dims reported by the variance-explained screening panel.
_VAR_TOP = 8


@register(
    "embedding_dim_variance_stats",
    oracle=f"""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    st AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(v, 9) AS DECIMAL(18,9))) AS s1,
             SUM(CAST(ROUND(v * v, 9) AS DECIMAL(18,9))) AS s2
      FROM comp GROUP BY dim
    ),
    vs AS (
      SELECT dim, n,
             s2::DOUBLE / n::DOUBLE
             - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS var
      FROM st
    ),
    tot AS (SELECT CAST(SUM(CAST(ROUND(var, 9) AS DECIMAL(18,9)))
                        AS DOUBLE) AS vtot
            FROM vs),
    ranked AS (
      SELECT dim, var,
             ROW_NUMBER() OVER (ORDER BY var DESC, dim) AS rn,
             SUM(CAST(ROUND(var / tot.vtot, 9) AS DECIMAL(18,9)))
               OVER (ORDER BY var DESC, dim ROWS UNBOUNDED PRECEDING)
               AS cumshare,
             tot.vtot AS vtot
      FROM vs, tot
    )
    SELECT dim, ROUND(var, 6) AS variance,
           ROUND(var / vtot, 6) AS var_share,
           ROUND(cumshare::DOUBLE, 6) AS cum_share
    FROM ranked WHERE rn <= {_VAR_TOP}
    ORDER BY variance DESC, dim
    """,
)
def embedding_dim_variance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance screening of the embedding matrix — the
    PCA-lite dimensionality audit run before committing to a compressed
    index: the {_VAR_TOP} highest-variance coordinates with each one's
    share of total variance and the cumulative share. If a handful of
    raw dimensions already carry most of the energy, the cheap
    `F.slice` truncation `embedding_dim_ablation` prices is justified;
    if the curve is flat (the fixture's case — near-isotropic synthetic
    vectors), only a learned rotation would compress and the panel says
    so. Axis-aligned by design: variances need one pass, no iteration —
    the honest screening step before anything eigen.

    Float discipline: each component (exact f32->f64) and its square are
    round-9-quantized to DECIMAL before the per-dim sums, so mean and
    variance are order-insensitive; the 64-row variance table then feeds
    an exact DECIMAL cumulative window ordered by (var DESC, dim). Scale
    shape: ONE posexplode pass, map-side-combined per-dim sums (64
    groups), everything after is a 64-row table."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("pos", "vf")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.col("vf").cast("double").alias("v"),
    )
    st = comp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("v"), 9).cast("decimal(18,9)")).alias("s1"),
        F.sum(
            F.round(F.col("v") * F.col("v"), 9).cast("decimal(18,9)")
        ).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = F.col("s2").cast("double") / F.col("n").cast("double") - mean * mean
    vs = materialize(st.select("dim", var.alias("var")))
    tot = F.broadcast(
        vs.agg(
            F.sum(F.round(F.col("var"), 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("vtot")
        )
    )
    worder = Window.orderBy(F.desc("var"), "dim")
    wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    share9 = F.round(F.col("var") / F.col("vtot"), 9).cast("decimal(18,9)")
    ranked = (
        vs.crossJoin(tot)
        .withColumn("rn", F.row_number().over(worder))
        .withColumn("cumshare", F.sum(share9).over(wcum))
    )
    return (
        ranked.filter(F.col("rn") <= _VAR_TOP)
        .select(
            "dim",
            F.round("var", 6).alias("variance"),
            F.round(F.col("var") / F.col("vtot"), 6).alias("var_share"),
            F.round(F.col("cumshare").cast("double"), 6).alias("cum_share"),
        )
        .orderBy(F.desc("variance"), "dim")
    )


#: diagonal-Mahalanobis outlier line: chi^2(64) ~ 64 +/- sqrt(128);
#: 88 ~ +2.1 sigma (~p2) — flags the far tail without being empty on a
#: well-behaved corpus.
_OUTLIER_M2 = 88.0


@register(
    "embedding_outlier_stats",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    st AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(v, 9) AS DECIMAL(18,9))) AS s1,
             SUM(CAST(ROUND(v * v, 9) AS DECIMAL(18,9))) AS s2
      FROM comp GROUP BY dim
    ),
    ms AS (
      SELECT dim,
             s1::DOUBLE / n::DOUBLE AS mu,
             sqrt(s2::DOUBLE / n::DOUBLE
                  - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE))
               AS sd
      FROM st
    ),
    m2 AS (
      SELECT c.vec_id, c.label,
             SUM(CAST(ROUND(((c.v - ms.mu) / ms.sd)
                            * ((c.v - ms.mu) / ms.sd), 9)
                      AS DECIMAL(18,9))) AS m2
      FROM comp c JOIN ms ON c.dim = ms.dim
      GROUP BY c.vec_id, c.label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(m2)::DOUBLE / COUNT(*)::DOUBLE, 6) AS avg_m2,
           ROUND(MAX(m2)::DOUBLE, 6) AS max_m2,
           CAST(SUM(CASE WHEN m2 > {_OUTLIER_M2} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outlier,
           ROUND(SUM(CASE WHEN m2 > {_OUTLIER_M2} THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*)::DOUBLE, 6) AS pct_outlier
    FROM m2 GROUP BY label ORDER BY label
    """,
)
def embedding_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: per-vector diagonal Mahalanobis
    distance (sum over dimensions of the squared z-score against the
    corpus-wide per-dim mean/std), rolled up per label — the cheap
    anomaly filter run before any clustering/index build, catching
    corrupted vectors, all-zero rows, and wrong-model embeddings that
    would otherwise poison centroids. Under a roughly isotropic corpus
    m2 ~ chi^2(64): mass near 64, a thin tail past 88; a fat
    tail or a label whose avg_m2 sits far from 64 means that label's
    vectors came from a different distribution. Diagonal (not full)
    covariance by design — one pass, no eigen work, the honest screen
    (`embedding_dim_variance_stats` is the step that decides whether a
    rotation would even help).

    Float discipline: components and squares are round-9 DECIMAL before
    every sum (order-free), per-dim mu/sd are the identical double
    expression tree on both engines (sqrt is IEEE exact-rounded), and
    each per-vector z^2 term is round-9-quantized before the per-vector
    DECIMAL sum, so m2 is bit-identical and the threshold compare is
    exact. Scale shape: one posexplode pass -> 64-group combine; the
    64-row (mu, sd) table broadcasts back onto the component stream; the
    per-vector rollup shuffles on vec_id once."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "vf")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("vf").cast("double").alias("v"),
    )
    st = comp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("v"), 9).cast("decimal(18,9)")).alias("s1"),
        F.sum(
            F.round(F.col("v") * F.col("v"), 9).cast("decimal(18,9)")
        ).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n").cast("double")
    ms = F.broadcast(
        st.select(
            "dim",
            mu.alias("mu"),
            F.sqrt(
                F.col("s2").cast("double") / F.col("n").cast("double")
                - mu * mu
            ).alias("sd"),
        )
    )
    z = (F.col("v") - F.col("mu")) / F.col("sd")
    m2 = (
        comp.join(ms, "dim")
        .select(
            "vec_id",
            "label",
            F.round(z * z, 9).cast("decimal(18,9)").alias("t"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("t").alias("m2"))
    )
    out = F.when(F.col("m2") > _OUTLIER_M2, 1).otherwise(0)
    return (
        m2.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum("m2").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_m2"),
            F.round(F.max("m2").cast("double"), 6).alias("max_m2"),
            F.sum(out).cast("long").alias("n_outlier"),
            F.round(
                F.sum(out).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pct_outlier"),
        )
        .orderBy("label")
    )


#: power-iteration rounds for the top-eigenvector panel.
_PCA_ITERS = 3
#: loadings reported.
_PCA_TOP = 8


def _pca_oracle() -> str:
    """Generated CTE chain (graph_q discipline): one (itK, nK, vK)
    triple per power-iteration round, so the Spark loop and the SQL
    mirror cannot drift."""
    ctes = [
        """q AS (
      SELECT vec_id, dim,
             CAST(floor(v * 32768.0 + 0.5) AS BIGINT) AS q
      FROM comp
    )""",
        """gram AS (
      SELECT a.dim AS i, b.dim AS j,
             CAST(SUM(a.q * b.q) AS BIGINT) AS gi,
             CAST(SUM(a.q * b.q) AS BIGINT)::DOUBLE / 1073741824.0 AS g
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY a.dim, b.dim
    )""",
        """v0 AS (SELECT DISTINCT i AS j, 0.125 AS v FROM gram)""",
    ]
    for t in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""it{t} AS (
      SELECT g.i, SUM(CAST(ROUND(g.g::DOUBLE * v{t - 1}.v, 9)
                           AS DECIMAL(18,9))) AS s
      FROM gram g JOIN v{t - 1} ON g.j = v{t - 1}.j
      GROUP BY g.i
    )"""
        )
        ctes.append(
            f"""n{t} AS (
      SELECT sqrt(SUM(CAST(ROUND(s::DOUBLE * s::DOUBLE, 9)
                           AS DECIMAL(18,9)))::DOUBLE) AS nrm
      FROM it{t}
    )"""
        )
        ctes.append(
            f"""v{t} AS (
      SELECT i AS j, s::DOUBLE / n{t}.nrm AS v FROM it{t}, n{t}
    )"""
        )
    last = _PCA_ITERS
    return f"""
    WITH comp AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    {",".join(ctes)},
    tr AS (SELECT CAST(SUM(gi) AS BIGINT)::DOUBLE / 1073741824.0 AS trace
           FROM gram WHERE i = j),
    ranked AS (
      SELECT j AS dim, v,
             ROW_NUMBER() OVER (ORDER BY abs(v) DESC, j) AS rn
      FROM v{last}
    )
    SELECT r.dim AS dim, ROUND(r.v, 6) AS loading,
           ROUND(n{last}.nrm, 4) AS eigenvalue,
           ROUND(n{last}.nrm / tr.trace, 6) AS var_share
    FROM ranked r, n{last}, tr
    WHERE r.rn <= {_PCA_TOP}
    ORDER BY abs(ROUND(r.v, 6)) DESC, r.dim
    """


@register("pca_power_iteration_stats", oracle=_pca_oracle())
def pca_power_iteration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding gram matrix
    by three rounds of power iteration, reporting the 8 largest
    loadings, the Rayleigh eigenvalue estimate (= ||G·v|| at the last
    round) and its share of trace(G) — the one-eigenvector complement of
    `embedding_dim_variance_stats`: axis-aligned variances can look flat
    while one oblique direction still dominates; this panel finds that
    direction without pulling in an eigensolver. On the fixture's
    near-isotropic vectors var_share honestly hovers near 1/64.

    Exactness is the iterative-algorithm discipline (PageRank/k-means
    precedent) on a QUANTIZED gram: components round to q = floor(v·2^15
    + 0.5) integers (explicit half-up — numpy's banker's rounding and the
    engines' round() disagree on ties), so the gram is an exact integer
    matrix computable by one numpy GEMM per partition — integer-valued
    float64 matmul is exact in ANY summation order (the
    `semantic_decontam_stats` precedent), so the Arrow path and DuckDB's
    64-bit integer SUM agree bit-for-bit; g = gi/2^30 is an exact dyadic
    division and every downstream value stays under 2^53. Each
    matrix–vector product round-9-quantizes its terms before the DECIMAL
    sum; normalization is sqrt (IEEE exact-rounded) and division — a
    deterministic expression tree mirrored round-for-round by generated
    CTEs. Scale shape: the gram is the classic outer-product
    aggregation — per-partition 64×64 partials (GEMM, no row blowup; the
    pure-SQL self-join alternative shuffles |rows|·dims² product terms,
    measured 3× slower at sf0.1), merged by an exact 4096-row integer
    sum; each iteration is a broadcast of the 64-row vector against the
    4096-row gram."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def gram_partials(batches):
        acc = np.zeros((64, 64), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            q = np.floor(m * 32768.0 + 0.5)
            acc += q.T @ q
        ii, jj = np.meshgrid(range(64), range(64), indexing="ij")
        yield pd.DataFrame(
            {
                "i": (ii + 1).ravel().astype("int32"),
                "j": (jj + 1).ravel().astype("int32"),
                "gp": acc.ravel().astype("int64"),
            }
        )

    gram = materialize(
        emb.select("embedding")
        .mapInPandas(gram_partials, "i int, j int, gp long")
        .groupBy("i", "j")
        .agg(F.sum("gp").alias("gi"))
        .select(
            "i",
            "j",
            "gi",
            (F.col("gi").cast("double") / F.lit(1073741824.0)).alias("g"),
        )
    )
    v = gram.select(F.col("i").alias("j")).distinct().select(
        "j", F.lit(0.125).alias("v")
    )
    # r13 (guide §2.6, the LPA fold precedent): the three rounds stay ONE
    # lazy plan off the pinned gram — each round's 64-row matvec was
    # materialized per round (3 eager pin jobs over a 4096-row table,
    # pure fixed overhead). The per-round normalization is an
    # unpartitioned window sum over the 64-row matvec (single reference
    # to the round subtree — a crossJoin against the norm aggregate would
    # double the subtree per round and blow the unrolled plan up 2^k).
    # The arithmetic (round-9 → DECIMAL sum → sqrt → IEEE division) is
    # the identical expression sequence, so values are unchanged (oracle
    # hash green).
    wall = Window.partitionBy()
    vn = None
    for _ in range(_PCA_ITERS):
        it = (
            gram.join(F.broadcast(v), "j")
            .select(
                "i",
                F.round(F.col("g").cast("double") * F.col("v"), 9)
                .cast("decimal(18,9)")
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("s"))
        )
        nrm_w = F.sqrt(
            F.sum(
                F.round(
                    F.col("s").cast("double") * F.col("s").cast("double"), 9
                ).cast("decimal(18,9)")
            )
            .over(wall)
            .cast("double")
        )
        vn = it.select(
            F.col("i").alias("j"),
            (F.col("s").cast("double") / nrm_w).alias("v"),
            nrm_w.alias("nrm"),
        )
        v = vn.select("j", "v")
    tr = F.broadcast(
        gram.filter(F.col("i") == F.col("j")).agg(
            (
                F.sum("gi").cast("long").cast("double")
                / F.lit(1073741824.0)
            ).alias("trace")
        )
    )
    w = Window.orderBy(F.abs(F.col("v")).desc(), "j")
    return (
        vn.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PCA_TOP)
        .crossJoin(tr)
        .select(
            F.col("j").alias("dim"),
            F.round("v", 6).alias("loading"),
            F.round("nrm", 4).alias("eigenvalue"),
            F.round(F.col("nrm") / F.col("trace"), 6).alias("var_share"),
        )
        .orderBy(F.abs(F.col("loading")).desc(), "dim")
    )


#: nprobe grid for the IVF tuning sweep.
_IVF_NPROBES = (1, 2, 4, 8)


@register(
    "ivf_nprobe_sweep",
    oracle=f"""
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings),
    c AS (SELECT vec_id AS cid, bv AS cv FROM b WHERE vec_id < 16),
    ascore AS (
      SELECT b.vec_id, c.cid,
             ROUND(list_dot_product(bv, cv) /
                   (sqrt(list_dot_product(bv, bv)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
      FROM b, c
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
        FROM ascore
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, bv AS qv FROM b WHERE vec_id < 5),
    scoredall AS (
      SELECT query_id, vec_id, {_COS} AS cos
      FROM b, q WHERE vec_id <> query_id
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scoredall
      ) WHERE rank <= 10
    ),
    qrank AS (
      SELECT query_id, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               ROUND(list_dot_product(qv, cv) /
                     (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
               DESC, cid) AS rq
      FROM q, c
    ),
    csize AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
              FROM cells GROUP BY cell),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    nps AS (SELECT unnest(ARRAY[{", ".join(str(p) for p in _IVF_NPROBES)}])
              AS nprobe),
    hits AS (
      SELECT t.query_id, qr.rq
      FROM truth t
      JOIN cells ce ON t.vec_id = ce.vec_id
      JOIN qrank qr ON qr.query_id = t.query_id AND qr.cell = ce.cell
    ),
    rec AS (
      SELECT nps.nprobe,
             ROUND(SUM(CASE WHEN h.rq <= nps.nprobe THEN 1 ELSE 0 END)::DOUBLE
                   / COUNT(*)::DOUBLE, 4) AS recall_at10
      FROM hits h CROSS JOIN nps GROUP BY nps.nprobe
    ),
    scan AS (
      SELECT nps.nprobe,
             ROUND(SUM(CASE WHEN qr.rq <= nps.nprobe THEN cs.sz
                            ELSE 0 END)::DOUBLE
                   / (5.0 * nb.n::DOUBLE), 6) AS scan_frac
      FROM qrank qr JOIN csize cs ON qr.cell = cs.cell
      CROSS JOIN nps CROSS JOIN nb
      GROUP BY nps.nprobe, nb.n
    )
    SELECT CAST(r.nprobe AS INTEGER) AS nprobe, r.recall_at10, s.scan_frac
    FROM rec r JOIN scan s ON r.nprobe = s.nprobe
    ORDER BY nprobe
    """,
)
def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning sweep: candidate recall@10 (share of the exact
    top-10 that lands in probed cells) against the scanned base-table
    fraction, at nprobe = 1/2/4/8 of 16 cells. The recall-vs-cost curve
    that picks `knn_cosine_ivf`'s operating point — candidate recall is
    the right tuning metric because ranking inside the candidate set is
    exact, so it upper-bounds and determines retrieval recall. Computed
    in ONE pass via the rank-of-true-cell trick: for each (query, true
    neighbor) pair, find the rank rq of the neighbor's cell in the
    query's probe order; recall@np is then just AVG(rq <= np) — no
    per-nprobe pipelines, the whole sweep is a 4-value explode over a
    50-row table.

    Exactness: cell assignment/probe order/truth use the family's
    round-6 cosines with deterministic tie-breaks; recalls and scan
    fractions are integer-count ratios. Scale shape: one broadcast
    centroid scoring pass over the base table (argmax, map-side), one
    brute-force truth pass over the 5 probes, then everything runs on
    |queries| x |cells| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", S.as_double(F.col("embedding")).alias("bv"))
    cents = b.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("bv").alias("cv")
    )
    ascore = b.join(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.round(S.cosine(F.col("bv"), F.col("cv")), 6).alias("ccos"),
    )
    # unpinned (round-8 verdict item 7): both consumers (hits, csize) sit
    # in ONE final plan; recomputing the broadcast argmax twice in-plan is
    # cheaper than an extra pin job at this table size, and deterministic
    cells = ascore.groupBy("vec_id").agg(
        F.expr("max_by(cid, struct(ccos, -cid))").alias("cell")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = _truth10(spark, sf_dir).select("query_id", "vec_id")
    q = queries.select(
        "query_id", S.as_double(F.col("embedding")).alias("qv")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), "cid")
    qrank = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            F.col("cid").alias("cell"),
            F.round(S.cosine(F.col("qv"), F.col("cv")), 6).alias("qcos"),
        )
        .withColumnRenamed("cell", "cid")
        .withColumn("rq", F.row_number().over(wq))
        .select("query_id", F.col("cid").alias("cell"), "rq")
    )
    csize = cells.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    nb = F.broadcast(b.agg(F.count(F.lit(1)).cast("long").alias("n")))
    nps = F.explode(
        F.array(*[F.lit(p) for p in _IVF_NPROBES])
    ).alias("nprobe")
    hits = (
        truth.join(cells, "vec_id")
        .join(qrank, ["query_id", "cell"])
        .select("query_id", "rq")
    )
    rec = (
        hits.select("rq", nps)
        .groupBy("nprobe")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("rq") <= F.col("nprobe"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("recall_at10")
        )
    )
    scan = (
        qrank.join(csize, "cell")
        .crossJoin(nb)
        .select("rq", "sz", "n", nps)
        .groupBy("nprobe", "n")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("rq") <= F.col("nprobe"), F.col("sz")
                    ).otherwise(0)
                ).cast("double")
                / (F.lit(5.0) * F.col("n").cast("double")),
                6,
            ).alias("scan_frac")
        )
        .select("nprobe", "scan_frac")
    )
    return (
        rec.join(scan, "nprobe")
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "recall_at10",
            "scan_frac",
        )
        .orderBy("nprobe")
    )


#: bit depths priced by the quantization sweep (int8 is the family's
#: `embedding_quantization_stats` operating point).
_QBITS = (2, 4, 8)


@register(
    "quantization_bits_sweep",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings
    ),
    bits AS (SELECT unnest(ARRAY[{", ".join(str(b) for b in _QBITS)}])
               AS bits),
    dq AS (
      SELECT b.bits, c.vec_id, c.v,
             GREATEST(LEAST(floor(c.v * (2 ** (b.bits - 1) - 1) + 0.5),
                            (2 ** (b.bits - 1) - 1)::DOUBLE),
                      -((2 ** (b.bits - 1))::DOUBLE))
               / (2 ** (b.bits - 1) - 1)::DOUBLE AS q
      FROM comp c CROSS JOIN bits b
    ),
    terms AS (
      SELECT bits, vec_id,
             CAST(ROUND((v - q) * (v - q), 9) AS DECIMAL(18,9)) AS se,
             CAST(ROUND(v * q, 9) AS DECIMAL(18,9)) AS dot,
             CAST(ROUND(v * v, 9) AS DECIMAL(18,9)) AS n1,
             CAST(ROUND(q * q, 9) AS DECIMAL(18,9)) AS n2
      FROM dq
    ),
    pv AS (
      SELECT bits, vec_id,
             SUM(se) AS se, SUM(dot) AS dot,
             SUM(n1) AS n1, SUM(n2) AS n2
      FROM terms GROUP BY bits, vec_id
    ),
    cosr AS (
      SELECT bits, vec_id, se,
             CAST(ROUND(dot::DOUBLE
                        / (sqrt(n1::DOUBLE) * sqrt(n2::DOUBLE)), 9)
                  AS DECIMAL(12,9)) AS cosv
      FROM pv WHERE n2 > 0
    )
    SELECT CAST(bits AS INTEGER) AS bits,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(se)::DOUBLE / (COUNT(*) * 64)::DOUBLE, 9) AS mse,
           ROUND(SUM(cosv)::DOUBLE / COUNT(*)::DOUBLE, 6) AS avg_cos,
           ROUND(MIN(cosv)::DOUBLE, 6) AS min_cos
    FROM cosr GROUP BY bits ORDER BY bits
    """,
)
def quantization_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization bit-depth sweep: every embedding re-encoded
    at 2/4/8 bits per component (symmetric round-to-nearest with
    clipping at the int range, scale 2^(b-1)-1), scored by
    reconstruction MSE and by the cosine between original and
    reconstruction (mean and worst vector). The storage-budget menu
    above `embedding_quantization_stats` (which prices the int8
    operating point in depth) and beside `embedding_dim_ablation`
    (which cuts dimensions instead of bits): together they answer "to
    fit the index in memory, drop dims or drop bits?" — at 8 bits
    cosine is ~1 and MSE noise-floor; the 2-bit row shows where
    aggressive compression starts eating retrieval.

    Exactness: the quantizer is floor(v·scale + 0.5) with explicit
    GREATEST/LEAST clipping — all mirrored double arithmetic (the
    half-up floor idiom; no banker's-rounding ambiguity); every
    per-component error/dot/norm term is round-9 DECIMAL before the
    per-vector sums, and the per-vector cosine re-quantizes before the
    final mean so the rollup is order-free. Scale shape: one
    posexplode x |bits| pass, map-side-combined per-(bits, vector)
    sums, then a 3-row rollup."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", F.col("vf").cast("double").alias("v"))
    bits = F.explode(F.array(*[F.lit(b) for b in _QBITS])).alias("bits")
    scale = F.pow(F.lit(2.0), F.col("bits") - 1) - 1
    lo = -F.pow(F.lit(2.0), F.col("bits") - 1)
    q = (
        F.greatest(
            F.least(F.floor(F.col("v") * scale + 0.5).cast("double"), scale),
            lo,
        )
        / scale
    )
    dq = comp.select("vec_id", "v", bits).select(
        "bits", "vec_id", "v", q.alias("q")
    )
    pv = dq.select(
        "bits",
        "vec_id",
        F.round((F.col("v") - F.col("q")) * (F.col("v") - F.col("q")), 9)
        .cast("decimal(18,9)")
        .alias("se"),
        F.round(F.col("v") * F.col("q"), 9).cast("decimal(18,9)").alias("dot"),
        F.round(F.col("v") * F.col("v"), 9).cast("decimal(18,9)").alias("n1"),
        F.round(F.col("q") * F.col("q"), 9).cast("decimal(18,9)").alias("n2"),
    ).groupBy("bits", "vec_id").agg(
        F.sum("se").alias("se"),
        F.sum("dot").alias("dot"),
        F.sum("n1").alias("n1"),
        F.sum("n2").alias("n2"),
    )
    cosv = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("n1").cast("double"))
            * F.sqrt(F.col("n2").cast("double"))
        ),
        9,
    ).cast("decimal(12,9)")
    return (
        pv.filter(F.col("n2") > 0)
        .select("bits", "se", cosv.alias("cosv"))
        .groupBy("bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum("se").cast("double")
                / (F.count(F.lit(1)) * 64).cast("double"),
                9,
            ).alias("mse"),
            F.round(
                F.sum("cosv").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_cos"),
            F.round(F.min("cosv").cast("double"), 6).alias("min_cos"),
        )
        .select(
            F.col("bits").cast("int").alias("bits"),
            "n_vecs",
            "mse",
            "avg_cos",
            "min_cos",
        )
        .orderBy("bits")
    )


# ---------------------------------------------------------------------------
# Graph ANN (round-7; round-6 verdict item 8): HNSW-lite — a deterministic
# navigable-small-world layer + batched greedy beam search, completing the
# similarity family beyond IVF/LSH/PQ. Index build and walk are both
# mirrored in DuckDB (generated per-hop CTEs, PageRank discipline), so even
# this "approximate" operator is value-hash-checked end to end.

_NSW_E = 16  # out-degree of the NSW layer (HNSW's default M)
_NSW_W = 16  # beam width (efSearch)
_NSW_H = 4   # hops
_NSW_K = 10  # results per probe


def _nsw_oracle() -> str:
    """DuckDB mirror of build + search. The graph reuses the shared LSH
    pipeline mirror with EVERY node as a probe (n_queries beyond any id):
    ``lsh_scored`` is then exactly the exact-rescored bucket-collision pair
    set, and top-{_NSW_E} per source is the NSW layer. The walk unrolls as
    one CTE trio per hop — expand beam along edges, union into the visited
    set, score and re-beam — matching the batched Spark hops op for op."""
    hops = []
    for h in range(1, _NSW_H + 1):
        hops.append(
            f"""e{h} AS (
      SELECT DISTINCT bm.query_id, n.dst AS node
      FROM beam{h - 1} bm JOIN nbrs n ON n.src = bm.node
    ),
    v{h} AS (
      SELECT query_id, node FROM v{h - 1}
      UNION
      SELECT query_id, node FROM e{h}
    ),
    sc{h} AS (
      SELECT v.query_id, v.node,
             ROUND(list_dot_product(p.qv2, nb.bv) /
                   (sqrt(list_dot_product(p.qv2, p.qv2)) *
                    sqrt(list_dot_product(nb.bv, nb.bv))), 6) AS cos
      FROM v{h} v
      JOIN probes p ON p.query_id = v.query_id
      JOIN b nb ON nb.vec_id = v.node
    ),
    beam{h} AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, node) AS rn
        FROM sc{h}) WHERE rn <= {_NSW_W}
    )"""
        )
    return f"""
    WITH {_lsh_pipeline_ctes(n_queries=1 << 62)},
    nbrs AS (
      SELECT query_id AS src, vec_id AS dst FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM lsh_scored) WHERE rn <= {_NSW_E}
    ),
    probes AS (SELECT vec_id AS query_id, bv AS qv2 FROM b WHERE vec_id < 5),
    v0 AS (SELECT query_id, 0 AS node FROM probes),
    beam0 AS (SELECT query_id, node FROM v0),
    {",".join(hops)},
    ranked AS (
      SELECT query_id, node, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, node) AS rank
      FROM sc{_NSW_H} WHERE node <> query_id
    )
    SELECT query_id, node AS vec_id, cos, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_NSW_K}
    ORDER BY query_id, rank
    """


def _nsw_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared NSW layer (the index is built once, queried many
    times — same artifact pattern as the trade graph)."""
    return shared(
        ("nsw_graph", sf_dir, _NSW_E),
        spark,
        lambda: S.nsw_neighbor_graph(
            load_table(spark, sf_dir, "embeddings"), degree=_NSW_E
        ),
    )


@register("knn_cosine_nsw", oracle=_nsw_oracle())
def knn_cosine_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN top-{_NSW_K}: greedy beam search ({_NSW_W}-wide,
    {_NSW_H} hops from a fixed entry point) over a deterministic
    {_NSW_E}-degree NSW layer whose edges are each node's exact-cosine
    top-{_NSW_E} among its LSH bucket-collision candidates — HNSW's
    serving dataflow (hop → neighbor expansion → bounded re-rank), built
    the way a distributed system builds it (banded candidates, never
    all-pairs). Per-hop cost is |probes|·W·E rows against the node-keyed
    edge table: bucket-sized, not corpus-sized; recall vs brute force is
    bounded in tests, and the walk itself is hash-checked against the
    generated-CTE mirror."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.knn_nsw(
        emb,
        queries,
        _nsw_graph(spark, sf_dir),
        k=_NSW_K,
        beam_width=_NSW_W,
        n_hops=_NSW_H,
    )


# ---------------------------------------------------------------------------
# Round-8 (round-7 verdict item 5): NSW index MAINTENANCE — the ANN
# analogue of incremental_dedup_stats. A delta batch of new vectors is
# inserted into the persisted NSW layer the way HNSW inserts: beam-search
# each new vector to its nearest index nodes (those become its out-edges),
# then re-prune only the AFFECTED index nodes' edge lists with the new
# back-edge candidates — never a graph rebuild, never a corpus scan.

# _ANN_SPLIT moved to lsh_common (leaf); re-exported above


def _ann_is_new() -> F.Column:
    """Delta-batch membership for vectors (first 16 md5 bits of vec_id
    below the split) — the vector-side twin of ``dedup_q._is_batch``;
    the oracle hard-codes the same 13107."""
    return (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        < _ANN_SPLIT
    )


def _nsw_index_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared NSW layer over the INDEX (non-delta) vectors only —
    the persisted state an incremental insert maintains."""
    return shared(
        ("nsw_graph_index", sf_dir, _NSW_E, _ANN_SPLIT),
        spark,
        lambda: S.nsw_neighbor_graph(
            load_table(spark, sf_dir, "embeddings").filter(~_ann_is_new()),
            degree=_NSW_E,
        ),
    )


def _inc_ann_oracle() -> str:
    """DuckDB mirror of the whole maintenance pass: the index graph is
    the top-{_NSW_E} tail of the LSH pipeline restricted to index
    vectors; the insert walk unrolls as per-hop CTEs with the DELTA
    vectors as probes; back-edge pruning is one window over (old edges
    of affected nodes UNION reversed insert edges). Entry node 0 is
    index-side (md5('0') 16-bit prefix = 53197 >= the split)."""
    idx_pred = (
        "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4))::BIGINT"
    )
    b_body = (
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings "
        f"WHERE {idx_pred} >= {_ANN_SPLIT}"
    )
    hops = []
    for h in range(1, _NSW_H + 1):
        hops.append(
            f"""e{h} AS (
      SELECT DISTINCT bm.query_id, n.dst AS node
      FROM beam{h - 1} bm JOIN nbrs n ON n.src = bm.node
    ),
    v{h} AS (
      SELECT query_id, node FROM v{h - 1}
      UNION
      SELECT query_id, node FROM e{h}
    ),
    sc{h} AS (
      SELECT v.query_id, v.node,
             ROUND(list_dot_product(p.qv2, nb.bv) /
                   (sqrt(list_dot_product(p.qv2, p.qv2)) *
                    sqrt(list_dot_product(nb.bv, nb.bv))), 6) AS cos
      FROM v{h} v
      JOIN probes p ON p.query_id = v.query_id
      JOIN b nb ON nb.vec_id = v.node
    ),
    beam{h} AS (
      SELECT query_id, node FROM (
        SELECT query_id, node,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, node) AS rn
        FROM sc{h}) WHERE rn <= {_NSW_W}
    )"""
        )
    return f"""
    WITH {_lsh_pipeline_ctes(b_body=b_body, n_queries=1 << 62)},
    nbrs AS (
      SELECT src, dst, cos FROM (
        SELECT query_id AS src, vec_id AS dst, ROUND(cos, 6) AS cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM lsh_scored) WHERE rn <= {_NSW_E}
    ),
    probes AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv2
      FROM embeddings WHERE {idx_pred} < {_ANN_SPLIT}
    ),
    v0 AS (SELECT query_id, 0 AS node FROM probes),
    beam0 AS (SELECT query_id, node FROM v0),
    {",".join(hops)},
    ins AS (
      SELECT query_id, node, cos FROM (
        SELECT query_id, node, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, node) AS rank
        FROM sc{_NSW_H} WHERE node <> query_id
      ) WHERE rank <= {_NSW_E}
    ),
    back AS (SELECT node AS src, query_id AS dst, cos FROM ins),
    affected AS (SELECT DISTINCT src FROM back),
    merged AS (
      SELECT n.src, n.dst, n.cos, FALSE AS is_new
      FROM nbrs n JOIN affected a ON a.src = n.src
      UNION ALL
      SELECT src, dst, cos, TRUE AS is_new FROM back
    ),
    pruned AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                   ORDER BY cos DESC, dst) AS rn
      FROM merged
    ),
    kept AS (SELECT * FROM pruned WHERE rn <= {_NSW_E} AND is_new),
    lbl AS (SELECT vec_id, label FROM embeddings),
    out_stats AS (
      SELECT l.label,
             CAST(COUNT(DISTINCT i.query_id) AS BIGINT) AS n_new,
             CAST(COUNT(*) AS BIGINT) AS new_out_edges,
             ROUND(CAST(SUM(CAST(i.cos AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 4) AS avg_out_cos
      FROM ins i JOIN lbl l ON l.vec_id = i.query_id
      GROUP BY l.label
    ),
    back_stats AS (
      SELECT l.label,
             CAST(COUNT(*) AS BIGINT) AS back_edges_kept,
             CAST(COUNT(DISTINCT k.src) AS BIGINT) AS affected_index_nodes
      FROM kept k JOIN lbl l ON l.vec_id = k.dst
      GROUP BY l.label
    )
    SELECT o.label, o.n_new, o.new_out_edges, o.avg_out_cos,
           CAST(COALESCE(b.back_edges_kept, 0) AS BIGINT)
             AS back_edges_kept,
           CAST(COALESCE(b.affected_index_nodes, 0) AS BIGINT)
             AS affected_index_nodes
    FROM out_stats o LEFT JOIN back_stats b USING (label)
    ORDER BY o.label
    """


@register("incremental_ann_stats", oracle=_inc_ann_oracle())
def incremental_ann_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index maintenance panel: insert the ~20% delta
    batch of vectors into the persisted index-side NSW layer — beam
    search finds each new vector's top-{_NSW_E} index neighbors (its
    out-edges), reversed edges become back-edge CANDIDATES, and only the
    affected index nodes re-prune their edge lists (old edges ∪
    candidates, top-{_NSW_E} by (cos DESC, dst)). Per new-node label:
    inserted nodes, out-edges created, their decimal-exact mean cosine,
    back-edges that survived pruning, and distinct index nodes rewired.

    Scale shape: the index graph is the persisted artifact (session-
    shared, like the serving layer it models); insert cost is
    |delta|·W·E-bounded beam rows per hop; the re-prune window touches
    only affected srcs' ≤ E+|their candidates| rows. Nothing rebuilds,
    nothing scans the corpus. Delta ids are disjoint from index ids by
    the split, so knn_nsw's self-exclusion filter cannot collide (see
    the operator's documented queries-are-base-rows assumption)."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = emb.filter(~_ann_is_new())
    probes = emb.filter(_ann_is_new()).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    g = _nsw_index_graph(spark, sf_dir)
    ins = S.knn_nsw(
        index, probes, g, k=_NSW_E, beam_width=_NSW_W, n_hops=_NSW_H
    )
    back = ins.select(
        F.col("vec_id").alias("src"), F.col("query_id").alias("dst"), "cos"
    )
    affected = back.select("src").distinct()
    merged = (
        g.join(affected, "src")
        .select("src", "dst", "cos", F.lit(False).alias("is_new"))
        .unionByName(back.select("src", "dst", "cos").withColumn(
            "is_new", F.lit(True)))
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.col("dst"))
    kept = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") <= _NSW_E) & F.col("is_new"))
    )
    lbl = emb.select("vec_id", "label")
    out_stats = (
        ins.join(lbl.withColumnRenamed("vec_id", "query_id"), "query_id")
        .groupBy("label")
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_new"),
            F.count(F.lit(1)).cast("long").alias("new_out_edges"),
            F.round(
                F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_out_cos"),
        )
    )
    back_stats = (
        kept.join(lbl.withColumnRenamed("vec_id", "dst"), "dst")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("back_edges_kept"),
            F.countDistinct("src").cast("long").alias("affected_index_nodes"),
        )
    )
    return (
        out_stats.join(back_stats, "label", "left")
        .select(
            "label",
            "n_new",
            "new_out_edges",
            "avg_out_cos",
            F.coalesce("back_edges_kept", F.lit(0)).cast("long")
            .alias("back_edges_kept"),
            F.coalesce("affected_index_nodes", F.lit(0)).cast("long")
            .alias("affected_index_nodes"),
        )
        .orderBy("label")
    )
