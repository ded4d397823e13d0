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
    return dot(a, b) / (norm(a) * norm(b))


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
    (:func:`lsh_query_buckets_local`)."""
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
    is per-partition data-parallel, so it scales like any map."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        v = np.vstack(emb.to_numpy())  # n × dim
        return pd.Series(list(lsh_bucket_ids(planes, v)))

    return buckets


def lsh_query_buckets_local(
    q_rows: list[tuple[int, list[float]]],
    planes: list[list[list[float]]],
    spark,
) -> DataFrame:
    """Driver-compiled (query_id, t, bucket) relation for a SMALL probe
    batch: the same :func:`lsh_bucket_ids` kernel run once in the driver
    over the collected probe vectors, returned as a local relation
    (:func:`~ethical_data_ingestion_spark.io.local_frame`) — no Python
    worker, no exchange, no job of its own, broadcast-trivial. The
    serving-path analogue of hardcoding probe terms as literals: a probe
    batch is bounded by construction, so bucketizing it is driver work."""
    ids = np.array([i for i, _ in q_rows], dtype=np.int64)
    v = np.array([vec for _, vec in q_rows], dtype=np.float64)
    out = lsh_bucket_ids(planes, v) if len(q_rows) else np.zeros((0, 1))
    rows = [
        (int(ids[n]), int(t), int(out[n][t]))
        for n in range(len(q_rows))
        for t in range(out.shape[1])
    ]
    return local_frame(spark, rows, "query_id long, t int, bucket int")


def lsh_base_buckets(
    b: DataFrame,
    id_col: str,
    planes: list[list[list[float]]],
    base_vec: str = "_bv",
) -> DataFrame:
    """Exploded (id, table, bucket) signature table for the base side —
    the INDEX artifact of the LSH family. Split out of
    :func:`lsh_candidates` so a caller can pin it once per session
    (``materialize.shared``) and serve every probe batch from the same
    blocks instead of re-bucketizing the corpus per call (round-7
    verdict item 4: ``embed_knn_lsh`` re-derived this on each run)."""
    buckets = lsh_bucket_udf(planes)
    return b.select(
        id_col, F.posexplode(buckets(base_vec)).alias("t", "bucket")
    )


def lsh_candidates(
    b: DataFrame,
    q: DataFrame,
    id_col: str,
    query_id_col: str,
    planes: list[list[list[float]]],
    base_vec: str = "_bv",
    query_vec: str = "_qv",
    b_buckets: DataFrame | None = None,
    distinct: bool = True,
) -> DataFrame:
    """(query_id, id) candidate pairs colliding in ANY table's bucket —
    the equi-join on (table, bucket) that replaces the O(|base|) scan per
    query at scale. Shared by `knn_lsh` and the recall-stats query.
    Pass ``b_buckets`` (a pinned :func:`lsh_base_buckets` result) to
    serve the base side from a session-shared index. ``distinct=False``
    skips the dedup shuffle and emits one row per COLLISION (≤ n_tables
    per pair) — for consumers whose downstream rollup is idempotent per
    pair (e.g. ``max(cos)``), saving a full exchange on the serving
    path."""
    buckets = lsh_bucket_udf(planes)
    if b_buckets is None:
        b_buckets = lsh_base_buckets(b, id_col, planes, base_vec)
    q_buckets = q.select(
        query_id_col, F.posexplode(buckets(query_vec)).alias("t", "bucket")
    )
    # distinct over bare id pairs, NOT over rows carrying the vectors —
    # hashing 64-float arrays through the dedup shuffle doubled runtime;
    # vectors are re-attached to the (small) candidate set afterwards.
    pairs = b_buckets.join(
        F.broadcast(q_buckets),
        (b_buckets.t == q_buckets.t)
        & (b_buckets.bucket == q_buckets.bucket)
        & (F.col(id_col) != F.col(query_id_col)),
    ).select(query_id_col, id_col)
    return pairs.distinct() if distinct else pairs


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
    b_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    Candidates = base∪query rows colliding in ANY table's bucket
    (equi-join on (table, bucket) — this is what replaces the O(|base|)
    scan per query at 100 TB); exact cosine is computed only on candidates,
    then per-query top-k. Recall grows with n_tables; tests bound it
    against knn_bruteforce. ``b_buckets``: optional pinned
    :func:`lsh_base_buckets` index (must match ``planes`` geometry) so a
    resident session bucketizes the corpus once, not per probe batch.
    """
    planes = hyperplanes(dim, n_tables, n_bits)
    b = base.select(F.col(id_col), as_double(F.col(vec_col)).alias("_bv"))
    q = queries.select(F.col(query_id_col), as_double(F.col(vec_col)).alias("_qv"))
    cand_ids = lsh_candidates(
        b, q, id_col, query_id_col, planes, base_vec="_bv", query_vec="_qv",
        b_buckets=b_buckets,
    )
    scored = (
        cand_ids.join(F.broadcast(q), query_id_col)
        .join(b, id_col)
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
    buckets = lsh_bucket_udf(planes)
    bb = b.select(id_col, F.posexplode(buckets("_bv")).alias("t", "bucket"))
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
