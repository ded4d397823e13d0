"""Vector similarity search over embedding columns.

Realizes the reference's latent vector surface — the ``embedding FLOAT[]``
column it creates but never populates (``ethical_crawler.py:842``) and the
`cosine_similarity` import it never calls (``:31-34``) — as first-class
distributed operators:

* brute-force cosine top-k: the exact baseline (and DuckDB oracle bridge);
  queries are broadcast, so the scan of the base table is embarrassingly
  parallel — correct at any base-table size as long as the *query set* is
  small.
* random-hyperplane LSH: the scale path — deterministic hash-derived
  hyperplanes, multi-table bucketing, candidates via equi-join on
  (table, bucket). Approximate; recall bounded in tests against the exact
  baseline.

All arithmetic is double (`zip_with` product + sequential `aggregate` sum —
the same left fold DuckDB's list_dot_product performs, so results are
bit-comparable).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves stringified type
                     # hints (PEP 563) against module globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import local_frame


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm, with or
    without ANSI mode (a bare 0 divisor is an error under ANSI)."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def knn_bruteforce(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``broadcast(queries)`` ⇒ BroadcastNestedLoopJoin: every base partition
    scores all queries locally — no shuffle of the base table; the only
    shuffle is the per-query top-k (rows ≤ |base|·|queries| pre-window,
    reduced per partition when AQE kicks in). Rounded score + id tie-break
    keeps the k-set deterministic.
    """
    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("_qv")
    )
    b = base.select(F.col(id_col), as_double(F.col(vec_col)).alias("_bv"))
    scored = (
        b.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_bv")), 6))
        .select(query_id_col, id_col, "cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
        .orderBy(query_id_col, "rank")
    )


def hyperplanes(dim: int, n_tables: int, n_bits: int, seed: str = "edi") -> list[list[list[float]]]:
    """Deterministic pseudo-random unit-free hyperplanes in [-1, 1),
    derived from md5 — no RNG state, reproducible across runs/engines.
    Shape: [table][bit][dim]."""
    planes = []
    for t in range(n_tables):
        rows = []
        for b in range(n_bits):
            comps = []
            for d in range(dim):
                h = hashlib.md5(f"{seed}:{t}:{b}:{d}".encode()).hexdigest()[:8]
                comps.append((int(h, 16) / 2**32) * 2.0 - 1.0)
            rows.append(comps)
        planes.append(rows)
    return planes


def lsh_bucket_ids(planes: list[list[list[float]]], v: "np.ndarray") -> "np.ndarray":
    """The LSH bucket kernel: n×dim vectors → n×tables int32 bucket ids.

    Strict left-fold accumulation in dimension order (vectorized across
    rows and planes): bit-matches the sequential fold the DuckDB oracle
    mirror performs, so bucket ids agree across engines — a plain
    matmul's pairwise/SIMD summation differs in the last ulp, which flips
    signs of near-orthogonal projections. ONE code path shared by the
    distributed pandas UDF and driver-side probe-batch compilation
    (:func:`lsh_probes`)."""
    mat = np.asarray(planes, dtype=np.float64)  # [tables, bits, dim]
    n_tables, n_bits, _ = mat.shape
    flat = mat.reshape(n_tables * n_bits, -1).T  # dim × (tables·bits)
    weights = 1 << np.arange(n_bits)
    acc = np.zeros((len(v), flat.shape[1]))
    for d in range(v.shape[1]):
        acc += v[:, d : d + 1] * flat[d]
    signs = (acc > 0).reshape(len(v), n_tables, n_bits)
    return (signs * weights).sum(axis=2).astype("int32")


def lsh_bucket_udf(planes: list[list[list[float]]]):
    """Vectorized bucket computation: one Arrow-batched Pandas UDF over
    :func:`lsh_bucket_ids` → ``array<int>`` of per-table bucket ids.

    Why a UDF here, against this repo's no-UDF default: the pure-expression
    version (literal array per plane component) builds a ~2000-node
    Catalyst tree whose analysis/codegen dominated runtime (~4s planning
    at 2k vectors). Projecting onto a constant plane matrix is exactly the
    "built-ins genuinely can't express it efficiently" case — and the matmul
    is per-partition data-parallel, so it scales like any map. Base side
    only: probe batches are bucketized on the driver (:func:`lsh_probes`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        v = np.vstack(emb.to_numpy())  # n × dim
        return pd.Series(list(lsh_bucket_ids(planes, v)))

    return buckets


def lsh_probes(spark, probes: DataFrame, planes: list[list[list[float]]]) -> DataFrame:
    """Driver-built probe relation ``(query_id, t, bucket, _qv, _qn)``:
    one row per (probe, table). The BOUNDED probe batch ``probes``
    (``query_id``, ``_qv``) is collected once; :func:`lsh_bucket_ids` and
    the norm run over it in the driver, and the rows come back as a local
    relation (:func:`~ethical_data_ingestion_spark.io.local_frame`) — no
    Python worker, no exchange. The serving-path analogue of hardcoding
    probe terms as literals: a probe batch is bounded by construction, so
    bucketizing it is driver work.

    ``_qn`` is the strict dimension-order fold of x·x, then sqrt — the
    same IEEE operations, in the same order, as :func:`norm`, so
    ``dot / nullif(_qn * _bn, 0)`` is bit-identical to :func:`cosine`."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    rows = probes.select("query_id", "_qv").collect()
    v = np.array([r[1] for r in rows], dtype=np.float64) if rows else np.zeros((0, 0))
    n_tables = len(planes)
    buckets = lsh_bucket_ids(planes, v) if rows else None
    n2 = np.zeros(len(rows))
    for d in range(v.shape[1]):
        n2 += v[:, d] * v[:, d]
    qn = np.sqrt(n2)
    schema = StructType([
        probes.schema["query_id"], StructField("t", IntegerType()),
        StructField("bucket", IntegerType()), StructField("_qv", ArrayType(DoubleType())),
        StructField("_qn", DoubleType()),
    ])
    return local_frame(spark, [
        (r[0], t, int(buckets[n][t]), list(r[1]), float(qn[n]))
        for n, r in enumerate(rows) for t in range(n_tables)
    ], schema)


def lsh_vectors(base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id, _bv, _bn)``: base vectors as ``array<double>`` with their
    norm precomputed — the vector half of an LSH index, pinned once per
    session (``materialize.shared``) or persisted (``ann_store``)."""
    bv = as_double(F.col(vec_col))
    return base.select(F.col(id_col), bv.alias("_bv"), norm(bv).alias("_bn"))


def lsh_base_buckets(
    b: DataFrame,
    id_col: str,
    planes: list[list[list[float]]],
    base_vec: str = "_bv",
) -> DataFrame:
    """Exploded (id, table, bucket) signature table for the base side —
    the bucket half of an LSH index. A caller pins it once per session
    (``materialize.shared``) and serves every probe batch from the same
    blocks instead of re-bucketizing the corpus per call."""
    buckets = lsh_bucket_udf(planes)
    return b.select(
        id_col, F.posexplode(buckets(base_vec)).alias("t", "bucket")
    )


def lsh_index(
    base: DataFrame, id_col: str, vec_col: str, planes: list[list[list[float]]]
) -> tuple[DataFrame, DataFrame, list[list[list[float]]]]:
    """``(vectors, buckets, planes)``: an LSH index of ``base``
    (:func:`lsh_vectors`, :func:`lsh_base_buckets`) with the planes its
    buckets were built with, unpinned — the index a caller without a
    session pin serves from."""
    vecs = lsh_vectors(base, id_col, vec_col)
    return vecs, lsh_base_buckets(vecs, id_col, planes), planes


def _collisions(
    b_buckets: DataFrame, q: DataFrame, id_col: str, keep: Column | None = None
) -> DataFrame:
    """One row per (probe, base id, table) collision: the (table, bucket)
    equi-join of the base bucket index against the broadcast probe
    relation (:func:`lsh_probes`), self-pairs and pairs failing ``keep``
    excluded."""
    cond = F.col(id_col) != F.col("query_id")
    return b_buckets.join(F.broadcast(q), ["t", "bucket"]).where(
        cond if keep is None else cond & keep
    )


def lsh_candidates(b_buckets: DataFrame, q: DataFrame, id_col: str) -> DataFrame:
    """Distinct (query_id, id) candidate pairs colliding in ANY table's
    bucket — the equi-join on (table, bucket) that replaces the O(|base|)
    scan per query at scale. ``q`` is a :func:`lsh_probes` relation."""
    return _collisions(b_buckets, q, id_col).select("query_id", id_col).distinct()


def lsh_topk(
    q: DataFrame,
    base: DataFrame,
    b_buckets: DataFrame,
    id_col: str,
    k: int,
    keep: Column | None = None,
) -> DataFrame:
    """The LSH serving kernel: ``(query_id, id, cos, rank)``, the top-``k``
    base rows per probe by exact cosine among its bucket collisions.

    * ``q`` is the driver-built probe relation of a bounded batch
      (:func:`lsh_probes`, with the index's planes).
    * ``base`` (``id``, ``_bv``, ``_bn``) and ``b_buckets`` (``id``, ``t``,
      ``bucket``) are the index (:func:`lsh_index`), pinned or mounted.
    * ``keep`` is an optional predicate over (``query_id``, ``id``) that
      drops candidate pairs before rescoring.

    Two grouped aggregates share one exchange on ``query_id``. The first
    gathers each probe's distinct candidate ids (``collect_set``: a pair
    colliding in several tables is one id); the ids are exploded, joined
    to their vectors and scored once per pair with one SQL fold,
    ``dot(_qv, _bv) / nullif(_qn * _bn, 0)`` rounded to 6 places — bit-identical
    to :func:`cosine`. The second, on the same partitioning, sorts each
    probe's ``(cos, -id)`` list descending, slices ``k`` and numbers it,
    then ``inline``. The cut comes after the merge, so each probe's whole
    candidate set is held in one task's aggregation buffer, which cannot
    spill (DEPLOY: ANN). The order is that of ``row_number() OVER
    (PARTITION BY query_id ORDER BY cos DESC, id)``: ties go to the
    smaller id, a NaN cosine ranks first and a NULL one last. A zero-norm
    vector scores NULL, as in :func:`cosine`, in both ANSI modes. A probe
    without candidates yields no rows. Ids must be integral (they are
    negated for the tie-break). The ≤ |probes|·k
    result is ordered by (query_id, rank) in one partition, with no
    window and no range exchange."""
    cand = (
        _collisions(b_buckets, q, id_col, keep)
        .groupBy("query_id")
        .agg(
            F.first("_qv").alias("_qv"),
            F.first("_qn").alias("_qn"),
            F.collect_set(id_col).alias("_ids"),
        )
    )
    top = (
        cand.select("query_id", "_qv", "_qn", F.explode("_ids").alias(id_col))
        .join(base, id_col)
        .groupBy("query_id")
        .agg(F.expr(
            "transform(slice(sort_array(collect_list(struct(round(aggregate(zip_with("
            "_qv, _bv, (x, y) -> x * y), 0D, (acc, v) -> acc + v) / nullif(_qn * _bn, 0D), 6)"
            f" AS cos, -{id_col} AS nid)), false), 1, {k}), (c, i) -> "
            f"struct(-c.nid AS {id_col}, c.cos AS cos, i + 1 AS rank))"
        ).alias("top"))
    )
    return (
        top.selectExpr("query_id", "inline(top)")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def knn_lsh(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 4,
    index: tuple[DataFrame, DataFrame, list[list[list[float]]]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    Candidates = base rows colliding with a query in ANY table's bucket
    (equi-join on (table, bucket) — this is what replaces the O(|base|)
    scan per query at 100 TB); exact cosine is computed only on
    candidates, then per-query top-k, all in :func:`lsh_topk`. Recall
    grows with n_tables; tests bound it against knn_bruteforce.
    ``queries`` is a bounded probe batch (it is collected). ``index``: an
    optional pinned :func:`lsh_index` triple of ``base``, so a resident
    session bucketizes the corpus once, not per probe batch; its planes
    are used, and ``dim``/``n_tables``/``n_bits`` only build an index
    when none is given.
    """
    vecs, b_buckets, planes = index or lsh_index(
        base, id_col, vec_col, hyperplanes(dim, n_tables, n_bits)
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    q = lsh_probes(base.sparkSession, probes, planes)
    return lsh_topk(q, vecs, b_buckets, id_col, k).withColumnRenamed(
        "query_id", query_id_col
    )


def knn_ivf(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) coarse quantization.

    The scale shape: every base vector is assigned to its nearest of
    ``n_cells`` centroids once (a broadcast score + ``max_by`` argmax —
    map-side partial agg, one |base|-row shuffle on the agg key); each query
    probes its ``nprobe`` nearest cells and scores only those cells'
    vectors. ``nprobe == n_cells`` degrades to exact search (asserted in
    tests); smaller nprobe trades recall for a 1/(n_cells/nprobe) scan.

    Centroids here are the first ``n_cells`` base vectors by id — a
    deterministic stand-in for a k-means codebook (training is an offline
    job; the serving dataflow above is identical either way) that keeps the
    whole operator reproducible and DuckDB-oracle-checkable.
    """
    b = base.select(F.col(id_col), as_double(F.col(vec_col)).alias("_bv"))
    cents = b.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("_cid"), F.col("_bv").alias("_cv")
    )
    # cell assignment: argmax over centroids with (cos desc, cid asc)
    # tie-break; max_by on (cos, -cid) keeps the agg a single pass
    assign = (
        b.join(F.broadcast(cents))
        .withColumn("_ccos", F.round(cosine(F.col("_bv"), F.col("_cv")), 6))
        .groupBy(id_col)
        .agg(F.expr("max_by(_cid, struct(_ccos, -_cid))").alias("_cell"))
    )
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("_qv")
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_ccos"), F.col("_cid")
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("_ccos", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select(query_id_col, F.col("_cid").alias("_cell"))
    )
    cand = (
        assign.join(F.broadcast(probes), "_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
    )
    scored = (
        cand.join(F.broadcast(q), query_id_col)
        .join(b, id_col)
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_bv")), 6))
        .select(query_id_col, id_col, "cos")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
        .orderBy(query_id_col, "rank")
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — the embedding-space near-dup
    operator. EXACT, via a blocked-GEMM grid self-join (the brute-force
    shape production ANN systems use for exact search):

    1. vectors hash into ``n_blocks`` blocks; each block is bundled into
       one row (id + vector arrays),
    2. the B×(B+1)/2 unordered block pairs come from a tiny B-row grid
       join — the only "join" over vector data is keyed on block ids,
       never a row-level ``id1 < id2`` nested loop,
    3. each tile computes all its pair scores with ONE float64 numpy
       matmul (BLAS throughput, ~100× the per-row expression fold) and
       emits only pairs above ``threshold - 1e-3``,
    4. the surviving candidates (a vanishing fraction) are re-scored
       JVM-side with the strict sequential-fold `cosine`, so the final
       rounded values are bit-identical to DuckDB's ``list_dot_product``
       oracle. The 1e-3 slack is 10 orders of magnitude above the GEMM's
       worst-case summation error at dim≈64 (≤ dim·eps ≈ 1e-14), so no
       true pair can be lost.

    Why not an LSH/IVF candidate pre-filter: at this threshold (cos 0.45,
    θ≈63°) against isotropic data, measured hyperplane-LSH tradeoffs on
    the fixture are 41% of all-pairs at 83% recall (16 tables × 5 bits) —
    the qualifying pairs sit in the background tail, where every exact
    blocking scheme degenerates to Ω(n²) candidates. The honest scale
    answer is to keep the quadratic work but run it at GEMM constant
    factors on an embarrassingly parallel tile grid; for true near-dup
    thresholds (cos ≥ 0.9, θ ≤ 26°) the LSH tables in `knn_lsh` prune
    genuinely and compose with the same verify tail.

    Each task owns one tile: no skew (blocks are hash-sized), no driver
    traffic, memory per task = 2 block bundles. At 100 TB, block size is
    chosen so a bundle fits an executor core (~1M vectors × 64 dims × 8 B
    = 512 MB per block ⇒ ~10^4 blocks ⇒ 5·10^7 tiles, a wide but finite
    grid scheduled like any shuffle stage).
    """
    vecs = df.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("vec")
    )
    bundles = (
        vecs.withColumn("bid", F.pmod(F.xxhash64("vid"), F.lit(n_blocks)))
        .groupBy("bid")
        .agg(
            F.collect_list("vid").alias("ids"),
            F.collect_list("vec").alias("vs"),
        )
    )
    a = bundles.select(
        F.col("bid").alias("bid_a"), F.col("ids").alias("ids_a"),
        F.col("vs").alias("vs_a"),
    )
    b = bundles.select(
        F.col("bid").alias("bid_b"), F.col("ids").alias("ids_b"),
        F.col("vs").alias("vs_b"),
    )
    tiles = a.join(b, F.col("bid_a") <= F.col("bid_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )
    loose = threshold - 1e-3

    def gemm_tiles(batches):
        for pdf in batches:
            out_i, out_j = [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.vstack([np.asarray(v, dtype=np.float64) for v in row.vs_a])
                B = np.vstack([np.asarray(v, dtype=np.float64) for v in row.vs_b])
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = An @ Bn.T
                ii, jj = np.nonzero(S >= loose)
                ci, cj = ids_a[ii], ids_b[jj]
                # diagonal tile scores every pair twice (and itself):
                # keep the strict upper triangle; off-diagonal tiles see
                # each unordered pair once — normalize to (min, max).
                keep = (ci < cj) if row.bid_a == row.bid_b else (ci != cj)
                out_i.append(np.minimum(ci[keep], cj[keep]))
                out_j.append(np.maximum(ci[keep], cj[keep]))
            empty = np.array([], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "id1": np.concatenate(out_i) if out_i else empty,
                    "id2": np.concatenate(out_j) if out_j else empty,
                }
            )

    cand = tiles.mapInPandas(gemm_tiles, "id1 long, id2 long")
    v1 = vecs.select(F.col("vid").alias("id1"), F.col("vec").alias("v1"))
    v2 = vecs.select(F.col("vid").alias("id2"), F.col("vec").alias("v2"))
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cos", F.round(cosine(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
        .orderBy("id1", "id2")
    )


def nsw_neighbor_graph(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 4,
    degree: int = 8,
) -> DataFrame:
    """Deterministic navigable-small-world layer: per-node top-``degree``
    out-neighbors by exact cosine among the node's LSH bucket-collision
    candidates — the graph-ANN index (HNSW layer 0) built the way a
    distributed system actually builds it (LSH/NN-descent candidates,
    never all-pairs).

    Scale shape: bucket ids from ONE Arrow-batched matmul pass; the
    candidate self-join is a SHUFFLE equi-join on (table, bucket) — both
    sides are the full corpus, so no broadcast; exact rescoring touches
    only colliding pairs; top-``degree`` is a per-node window. Returns
    (src, dst, cos) directed edges.
    """
    from pyspark.sql import Window

    planes = hyperplanes(dim, n_tables, n_bits)
    b = base.select(F.col(id_col), as_double(F.col(vec_col)).alias("_bv"))
    bb = lsh_base_buckets(b, id_col, planes)
    other = bb.select(
        F.col(id_col).alias("_dst"), F.col("t"), F.col("bucket")
    )
    cand = (
        bb.join(other, ["t", "bucket"])
        .filter(F.col(id_col) != F.col("_dst"))
        .select(F.col(id_col).alias("_src"), "_dst")
        .distinct()
    )
    sv = b.select(F.col(id_col).alias("_src"), F.col("_bv").alias("_sv"))
    dv = b.select(F.col(id_col).alias("_dst"), F.col("_bv").alias("_dv"))
    scored = (
        cand.join(sv, "_src")
        .join(dv, "_dst")
        .withColumn("cos", F.round(cosine(F.col("_sv"), F.col("_dv")), 6))
    )
    w = Window.partitionBy("_src").orderBy(F.desc("cos"), F.col("_dst"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= degree)
        .select(F.col("_src").alias("src"), F.col("_dst").alias("dst"), "cos")
    )


def knn_nsw(
    base: DataFrame,
    queries: DataFrame,
    nbrs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    beam_width: int = 8,
    n_hops: int = 3,
    entry_id: int = 0,
) -> DataFrame:
    """Graph-ANN search over a prebuilt NSW layer: batched greedy beam
    search — all queries walk the graph simultaneously; each hop expands
    the beam's out-neighbors (equi-join on the node key), scores the
    visited set against the query, and keeps the per-query top-``beam
    width``. After ``n_hops`` hops the visited set's top-k (self
    excluded) is the answer. Everything is deterministic — fixed entry
    point, rounded scores, (cos DESC, id) total orders — so the whole
    walk mirrors in SQL as generated per-hop CTEs.

    The batched hop (expand-whole-beam) is the distributed form of
    HNSW's sequential best-first descent: one join + one bounded window
    per hop, frontier size ≤ |queries|·W·degree, never a corpus scan.
    Each (query, node) pair is scored exactly ONCE: the hop anti-joins
    the expansion against the already-scored set, scores only the fresh
    pairs, and pins the accumulated score table (``materialize``) — an
    iterative loop's lazy plan would otherwise replay every earlier
    hop's expansion per round (measured 8.5s → 2.6s warm on a 409-probe
    batch at sf0.1), and at cluster scale the recomputation grows with
    hop count. Values are hop-order independent (rounded cosine of
    pinned vectors), so the pinning is invisible to the result.

    Assumes query ids are drawn from the base ``id_col`` space (queries
    ARE base rows probing their own index) OR disjoint from it: the
    final self-exclusion filter drops ``_node == query_id``, so a caller
    whose query-id space OVERLAPS the base ids with different identity
    would silently lose a legitimate neighbor. Requires ``n_hops >= 1``
    — with zero hops no scoring pass runs and there is no result to
    rank.
    """
    if n_hops < 1:
        raise ValueError(f"knn_nsw requires n_hops >= 1, got {n_hops}")
    from pyspark.sql import Window

    from ..materialize import materialize, unpin

    b = base.select(F.col(id_col), as_double(F.col(vec_col)).alias("_bv"))
    qv = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("_qv")
    )
    nodes = b.select(F.col(id_col).alias("_node"), "_bv")

    def score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(F.broadcast(qv), query_id_col)
            .join(nodes, "_node")
            .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_bv")), 6))
            .select(query_id_col, "_node", "cos")
        )

    seed = qv.select(
        query_id_col, F.lit(entry_id).cast("long").alias("_node")
    )
    scored = materialize(score(seed))
    wb = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos"), F.col("_node")
    )
    for _ in range(n_hops):
        beam = (
            scored.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= beam_width)
            .select(query_id_col, "_node")
        )
        exp = (
            beam.join(nbrs, beam._node == nbrs.src)
            .select(query_id_col, F.col("dst").alias("_node"))
            .distinct()
        )
        fresh = exp.join(
            scored.select(query_id_col, "_node"),
            [query_id_col, "_node"],
            "left_anti",
        )
        prev = scored
        # Every hop pins, INCLUDING the last (r12 adjudication, guide §1):
        # a skip-last-pin variant measured ~0.5s faster standalone but
        # REGRESSED in-suite (incremental_ann_stats 6.77 → 8.03s,
        # knn_cosine_nsw 1.69 → 2.50s in the same bench run) — the fused
        # final job re-plans/recompiles the deep last-hop plan on every
        # suite re-run, costing more than the pin job it saved. Kept the
        # in-suite-proven shape; the rejected variant and both numbers are
        # recorded in OPTIMIZATION_r12.md.
        scored = materialize(scored.unionByName(score(fresh)))
        unpin(prev)
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col("_node"))
    return (
        scored.filter(F.col("_node") != F.col(query_id_col))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("_node").alias(id_col),
            "cos",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy(query_id_col, "rank")
    )
