"""Deduplication queries over documents/embeddings — every variant
oracle-checked, including MinHash-LSH and SimHash (both reproduced exactly
in DuckDB SQL via md5-derived hashes, so even the approximate algorithms
get hash-level verification, not just rows-only checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize, shared, shared_get, shared_publish
from ..operators import dedup as D
from ..operators import text as T
from ..registry import register


def _doc_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized word-3-gram shingle-set table over ``documents``,
    shared by every dedup family member in a session (the persisted
    corpus-prep artifact a real pipeline computes once — see
    ``operators/dedup._shingle_sets``)."""
    return shared(
        ("doc_shingle_sets", sf_dir, 3),
        spark,
        lambda: D._shingle_sets(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", 3,
            pin=False,
        ),
    )


def _doc_idsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared dictionary-encoded twin of the shingle-set table
    (``operators/dedup.shingle_id_sets``): BIGINT shingle codes for the
    verification joins — same exact intersection sizes, ~2× cheaper
    arrays (r12, guide §2.3). Built once per session from the shared
    string sets, like every other corpus-prep artifact."""
    return shared(
        ("doc_shingle_idsets", sf_dir, 3),
        spark,
        lambda: D.shingle_id_sets(_doc_sets(spark, sf_dir), "doc_id"),
    )


def _doc_sig16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared 16-hash MinHash signature table over the shared
    shingle sets — the LSH index artifact both the recall panel and the
    band-geometry sweep read (computed once per session, like the shingle
    table itself)."""
    return shared(
        ("mh_sig", sf_dir, 16),
        spark,
        lambda: D._minhash_from_sets(_doc_sets(spark, sf_dir), "doc_id", 16),
    )


_PAIR_KEY = ("jaccard_pairs", 3, 0.8)


def _truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published ≥0.8 exact-Jaccard pair table, building and
    publishing it on first need — the same pipeline-order discipline
    ``neardup_clusters`` documents (pairs → downstream consumers read
    the persisted table; only the pair query itself always rebuilds).
    r12: the two LSH quality panels priced their banding against a
    per-run REBUILD of this truth set — pure re-derivation of the
    published artifact (guide §2.4: don't recompute what the pipeline
    already persisted)."""
    return shared(
        (*_PAIR_KEY, sf_dir), spark, lambda: _build_jaccard_pairs(spark, sf_dir)
    )


def _build_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id", "text", k=3, threshold=0.8,
        sets=_doc_sets(spark, sf_dir),
        verify_sets=_doc_idsets(spark, sf_dir),
    )

# Shared SQL fragments (DuckDB): normalized text, word 3-gram shingles.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SHINGLES = f"""
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split({_NORM}, ' ')) - 2, 1) + 1),
           i -> array_to_string(string_split({_NORM}, ' ')[i:i+2], ' '))) AS shingles
  FROM documents
"""
_EXACT_JACCARD = f"""
  shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
  common AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
    FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jacc AS (
    SELECT id1, id2,
           (((20000 * c + (s1.n + s2.n - c)) // (2 * (s1.n + s2.n - c)))::DOUBLE
            / 10000.0) AS jaccard
    FROM common JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  )
"""
# ^ jaccard rounds to 4 decimals via EXACT integer half-up — see
#   operators/dedup._verify_jaccard: ROUND(double, 4) differs between
#   engines on x.xxxx5 boundaries (caught by the sf1 hash gate).


@register(
    "dedup_exact_stats",
    oracle=f"""
    WITH fps AS (SELECT source, md5({_NORM}) AS fp FROM documents)
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
           COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dupes
    FROM fps GROUP BY source ORDER BY source
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy) stats per source — the O(n) first pass."""
    return D.exact_dedup_stats(load_table(spark, sf_dir, "documents"), "text", "source")


@register(
    "dedup_exact_survivors",
    oracle=f"""
    WITH fps AS (SELECT doc_id, source, n_chars, md5({_NORM}) AS fp FROM documents),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp)
    SELECT f.source, COUNT(*) AS n_survivors,
           CAST(SUM(f.n_chars) AS BIGINT) AS chars_kept
    FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id
    GROUP BY f.source ORDER BY f.source
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic survivor selection (keep lowest doc_id per identical
    text) — the Spark analogue of `INSERT OR IGNORE` keep-first semantics
    (``ethical_crawler.py:915-920``), rolled up per source."""
    docs = load_table(spark, sf_dir, "documents")
    survivors = D.exact_dedup_keep_first(docs, "text", "doc_id")
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
        .orderBy("source")
    )


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    {_EXACT_JACCARD}
    SELECT id1, id2, jaccard FROM jacc
    WHERE jaccard >= 0.8
    ORDER BY id1, id2
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (≥0.8) via inverted-index
    join — candidate cost follows shingle co-occurrence, never O(n²).

    The FIRST build is published (materialized) for downstream cluster
    resolution — the pipeline persists its pair table once. Every call
    still constructs and runs the full pair pipeline (from the shared
    shingle sets), so repeat timings measure pair generation, not a
    cache read."""
    plan = _build_jaccard_pairs(spark, sf_dir)
    if shared_get((*_PAIR_KEY, sf_dir), spark) is None:
        return shared_publish((*_PAIR_KEY, sf_dir), spark, plan)
    return plan


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS h2s
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> list_min(list_transform(range(1, len(h1s) + 1),
                 x -> (h1s[x] + i * h2s[x]) % 4294967296))) AS sig
      FROM hs
    ),
    bands AS (
      SELECT doc_id, j AS band_idx,
             md5(array_to_string(
               list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)),
               ',')) AS band_key
      FROM sig, range(0, 4) r(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    {_EXACT_JACCARD}
    SELECT c.id1, c.id2, j.jaccard
    FROM cand c JOIN jacc j ON c.id1 = j.id1 AND c.id2 = j.id2
    WHERE j.jaccard >= 0.8
    ORDER BY c.id1, c.id2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH banding (4 bands × 4 rows) near-dup pairs,
    verified with exact Jaccard ≥ 0.8. The md5-simulated permutations make
    the whole approximate pipeline — signatures, banding, candidates —
    bit-reproducible in the DuckDB oracle, so this checks LSH end-to-end,
    not merely "returns some rows"."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, k=3, threshold=0.8,
        sets=_doc_sets(spark, sf_dir),
        verify_sets=_doc_idsets(spark, sf_dir),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    hs AS (
      SELECT doc_id,
             list_transform(shingles, t -> (('0x' || substr(md5(t), 1, 8))::UBIGINT)::BIGINT) AS hashes
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32),
               b -> CASE WHEN list_sum(list_transform(hashes,
                              h -> ((h >> b) & 1) * 2 - 1)) > 0
                         THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS sig
      FROM hs
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY id1, id2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit over distinct word-3-gram shingles) pairs, Hamming ≤ 3.

    Spark candidates come from 8-bit block pigeonholing (distance ≤3 across
    4 blocks ⇒ one block equal ⇒ lossless), so the blocked plan must equal
    the oracle's brute-force — verifying both the signature math and the
    completeness of the blocking scheme."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, sets=_doc_sets(spark, sf_dir)
    )
    return pairs.select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))


@register(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    edges AS (SELECT id1 AS src, id2 AS dst FROM jacc WHERE jaccard >= 0.8),
    und AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
    nodes AS (SELECT DISTINCT src AS id FROM und),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT comp.id AS doc_id, comp.cluster_id,
           sz.n AS cluster_size
    FROM comp JOIN (SELECT cluster_id, COUNT(*) AS n
                    FROM comp GROUP BY cluster_id) sz USING (cluster_id)
    ORDER BY doc_id
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: Jaccard ≥0.8 pairs → connected
    components via iterative min-label propagation → (doc, canonical
    cluster id, cluster size). The step a real pipeline runs after pair
    generation — keep one document per cluster, not per pair. Oracle:
    the same transitive closure as a recursive CTE. Clusters over the
    published pair table when one exists — the pipeline order (pairs →
    clusters), not a re-derivation — else builds and publishes it."""
    pairs = _truth_pairs(spark, sf_dir)
    comp = D.connected_components(pairs, "id1", "id2")
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "cluster_id")
        .select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental (delta-ingest) dedup: the production mode. A corpus index
# already exists; a new batch arrives; the batch is deduped against the
# index AND within itself WITHOUT re-running corpus-wide dedup. The
# fixture split is deterministic (first 16 md5 bits of doc_id < 20% of
# the bucket space → "new batch"), standing in for ingest time.

_INC_SPLIT = 13107  # ceil(0.2 * 65536): ~20% of docs form the delta batch


def _is_batch() -> F.Column:
    """The delta-batch membership predicate (first 16 md5 bits of doc_id
    below the split) — ONE definition shared by the batch query, the
    streaming twin, and its spool builder, so the batch/streaming "delta"
    can never desynchronize. Both oracles hard-code the same 13107."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        < _INC_SPLIT
    )


@register(
    "incremental_dedup_stats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, md5({_NORM}) AS fp,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < {_INC_SPLIT} AS is_batch
      FROM documents
    ),
    sh AS ({_SHINGLES}),
    hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS h2s
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> list_min(list_transform(range(1, len(h1s) + 1),
                 x -> (h1s[x] + i * h2s[x]) % 4294967296))) AS sig
      FROM hs
    ),
    bands AS (
      SELECT doc_id, j AS band_idx,
             md5(array_to_string(
               list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)),
               ',')) AS band_key
      FROM sig, range(0, 4) r(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a
      JOIN base ba ON ba.doc_id = a.doc_id AND ba.is_batch
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      JOIN base bb ON bb.doc_id = b.doc_id AND NOT bb.is_batch
    ),
    shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
    common AS (
      SELECT c.id1, c.id2, COUNT(*) AS c
      FROM cand c
      JOIN shx a ON a.doc_id = c.id1
      JOIN shx b ON b.doc_id = c.id2 AND a.s = b.s
      GROUP BY c.id1, c.id2
    ),
    near AS (
      SELECT DISTINCT cm.id1 AS doc_id
      FROM common cm
      JOIN sizes s1 ON cm.id1 = s1.doc_id
      JOIN sizes s2 ON cm.id2 = s2.doc_id
      WHERE ROUND(cm.c::DOUBLE / (s1.n + s2.n - cm.c), 4) >= 0.8
    ),
    exact_idx AS (
      SELECT DISTINCT b.doc_id
      FROM base b JOIN base i ON b.fp = i.fp
      WHERE b.is_batch AND NOT i.is_batch
    ),
    internal AS (
      SELECT DISTINCT b.doc_id
      FROM base b JOIN base e ON b.fp = e.fp
      WHERE b.is_batch AND e.is_batch AND e.doc_id < b.doc_id
    ),
    cls AS (
      SELECT b.doc_id, b.source,
             CASE WHEN x.doc_id IS NOT NULL THEN 'exact_idx'
                  WHEN n.doc_id IS NOT NULL THEN 'near_idx'
                  WHEN t.doc_id IS NOT NULL THEN 'internal'
                  ELSE 'new' END AS c
      FROM base b
      LEFT JOIN exact_idx x ON b.doc_id = x.doc_id
      LEFT JOIN near n ON b.doc_id = n.doc_id
      LEFT JOIN internal t ON b.doc_id = t.doc_id
      WHERE b.is_batch
    )
    SELECT source,
           COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN c = 'exact_idx' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_vs_index,
           CAST(SUM(CASE WHEN c = 'near_idx' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_near_vs_index,
           CAST(SUM(CASE WHEN c = 'internal' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_batch_internal,
           CAST(SUM(CASE WHEN c = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new_unique
    FROM cls
    GROUP BY source
    ORDER BY source
    """,
)
def incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-ingest dedup panel: classify each new-batch document as an
    exact duplicate of the index (fingerprint match), a near-duplicate of
    the index (cross MinHash-band candidates, exact-Jaccard-verified
    ≥ 0.8), an intra-batch exact duplicate (an earlier batch doc has the
    same fingerprint), or genuinely new — disjoint classes, precedence in
    that order, summing to the batch size per source.

    Shape at 100 TB: nothing here re-runs corpus-wide dedup. The index
    side contributes its fingerprint table (equi-join) and its band table
    (equi-join) — both persistent artifacts a production pipeline keeps
    current — while every quadratic-ish step (band collision, Jaccard
    verify) touches only DELTA-sized candidate sets
    (``operators/dedup.minhash_band_candidates_cross``). The shingle-set
    table is the session-shared pinned artifact (one corpus pass,
    ``_doc_sets``)."""
    docs = load_table(spark, sf_dir, "documents")
    base = materialize(
        docs.select(
            "doc_id",
            "source",
            T.fingerprint("text").alias("fp"),
            _is_batch().alias("is_batch"),
        )
    )
    sets = _doc_sets(spark, sf_dir)
    sig = D._minhash_from_sets(sets, "doc_id", 16)
    flags = base.select("doc_id", "is_batch")
    sig_f = sig.join(flags, "doc_id")
    cand = D.minhash_band_candidates_cross(
        sig_f.filter("is_batch").drop("is_batch"),
        sig_f.filter("NOT is_batch").drop("is_batch"),
        "doc_id",
        num_hashes=16,
        bands=4,
    )
    near = (
        D._verify_jaccard(cand, sets, "doc_id", 0.8)
        .select(F.col("id1").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    batch = base.filter("is_batch")
    index = base.filter("NOT is_batch")
    exact_idx = (
        batch.join(index.select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
        .withColumn("_exact", F.lit(1))
    )
    e = batch.select(F.col("fp").alias("fp"), F.col("doc_id").alias("eid"))
    internal = (
        batch.join(e, "fp")
        .filter(F.col("eid") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("_int", F.lit(1))
    )
    cls = (
        batch.join(exact_idx, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(internal, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("_exact").isNotNull(), "exact_idx")
            .when(F.col("_near").isNotNull(), "near_idx")
            .when(F.col("_int").isNotNull(), "internal")
            .otherwise("new")
            .alias("c"),
        )
    )
    return (
        cls.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum((F.col("c") == "exact_idx").cast("long"))
            .cast("long")
            .alias("n_exact_vs_index"),
            F.sum((F.col("c") == "near_idx").cast("long"))
            .cast("long")
            .alias("n_near_vs_index"),
            F.sum((F.col("c") == "internal").cast("long"))
            .cast("long")
            .alias("n_batch_internal"),
            F.sum((F.col("c") == "new").cast("long"))
            .cast("long")
            .alias("n_new_unique"),
        )
        .orderBy("source")
    )


#: DuckDB mirror of the md5 Carter-Wegman MinHash signature derivation —
#: shared by the recall panel and the band-geometry sweep so the two
#: oracles cannot drift from each other (or from operators/dedup.py).
_MINHASH_SIG_CTES = """hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 1, 8))::BIGINT) AS h1s,
             list_transform(shingles,
               s -> ('0x' || substring(md5(s), 9, 8))::BIGINT) AS h2s
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> list_min(list_transform(range(1, len(h1s) + 1),
                 x -> (h1s[x] + i * h2s[x]) % 4294967296))) AS sig
      FROM hs
    )"""


@register(
    "minhash_recall_stats",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    {_MINHASH_SIG_CTES},
    bands AS (
      SELECT doc_id, j AS band_idx,
             md5(array_to_string(
               list_transform(sig[j*4+1:j*4+4], v -> CAST(v AS VARCHAR)),
               ',')) AS band_key
      FROM sig, range(0, 4) r(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    {_EXACT_JACCARD}
    , truth AS (SELECT id1, id2 FROM jacc WHERE jaccard >= 0.8),
    agg AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM cand JOIN truth USING (id1, id2)) AS n_hits
    )
    SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_true_pairs = 0 THEN 1.0
                ELSE ROUND(n_hits::DOUBLE / n_true_pairs::DOUBLE, 6)
           END AS recall,
           CASE WHEN n_candidates = 0 THEN 1.0
                ELSE ROUND(n_hits::DOUBLE / n_candidates::DOUBLE, 6)
           END AS candidate_precision
    FROM agg
    """,
)
def minhash_recall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality panel for the DEDUP family — the analogue of
    ``knn_lsh_recall_stats`` on the similarity side: band-collision
    candidates vs the exact-Jaccard truth set, reporting recall (what
    fraction of true ≥0.8 pairs the 4×4 banding catches) and candidate
    precision (how much of the candidate volume is real). These two
    numbers ARE the LSH parameter trade — more bands buy recall with
    candidate volume — and a pipeline re-tunes (bands, rows) against
    exactly this panel on a corpus sample before a full run.

    Everything derives from the session-shared shingle sets: signatures
    and banding from the same md5 Carter-Wegman scheme the oracle
    mirrors bit-for-bit, truth from the inverted-index exact join —
    hash-checked end to end (empty corpus ⇒ vacuous 1.0s, mirrored)."""
    sig = _doc_sig16(spark, sf_dir)
    cands = materialize(D.minhash_band_candidates(sig, "doc_id", 16, 4))
    truth = _truth_pairs(spark, sf_dir).select("id1", "id2")
    t = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    c = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    h = cands.join(truth, ["id1", "id2"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            F.when(F.col("n_true_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                )
            )
            .alias("recall"),
            F.when(F.col("n_candidates") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("n_hits").cast("double")
                    / F.col("n_candidates").cast("double"),
                    6,
                )
            )
            .alias("candidate_precision"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-tier transitivity audit (round-6 widening): union the near-dup
# tiers' pair tables into ONE cluster table with per-tier attribution —
# the panel a curation team reads to decide which tier is doing the work
# and which clusters exist only through transitive chains.

_SIMHASH_SIG = """
    hs2 AS (
      SELECT doc_id,
             list_transform(shingles, t -> (('0x' || substr(md5(t), 1, 8))::UBIGINT)::BIGINT) AS hashes
      FROM sh
    ),
    ssig AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32),
               b -> CASE WHEN list_sum(list_transform(hashes,
                              h -> ((h >> b) & 1) * 2 - 1)) > 0
                         THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS sig
      FROM hs2
    )"""


#: Everything from shingles through the per-doc cluster label — the
#: shared prefix of both cross-tier oracles (attribution + survivor
#: selection). Callers open with ``WITH RECURSIVE {_TIER_COMP_SQL}, ...``.
_TIER_COMP_SQL = f"""sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    fps AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
    exact_pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    jacc_pairs AS (SELECT id1, id2 FROM jacc WHERE jaccard >= 0.8),
    {_SIMHASH_SIG},
    sim_pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2
      FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    tiered AS (
      SELECT id1, id2, 'exact' AS tier FROM exact_pairs
      UNION ALL SELECT id1, id2, 'jaccard' FROM jacc_pairs
      UNION ALL SELECT id1, id2, 'simhash' FROM sim_pairs
    ),
    edges AS (SELECT DISTINCT id1, id2 FROM tiered),
    und AS (SELECT id1 AS src, id2 AS dst FROM edges
            UNION SELECT id2 AS src, id1 AS dst FROM edges),
    nodes AS (SELECT DISTINCT src AS id FROM und),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)"""


def _tiered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared union of the three near-dup tiers' pair tables —
    the pipeline artifact cluster resolution, attribution, and survivor
    selection all read (built once, like the jaccard table it contains)."""
    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        fps = docs.select(
            "doc_id", F.md5(T.normalize_text("text")).alias("fp")
        )
        fa = fps.select(F.col("doc_id").alias("id1"), "fp")
        fb = fps.select(F.col("doc_id").alias("id2"), "fp")
        exact_pairs = (
            fa.join(fb, "fp").filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
        )
        jacc_pairs = _truth_pairs(spark, sf_dir)
        sim_pairs = D.simhash_pairs(
            docs, "doc_id", "text", max_hamming=3, sets=_doc_sets(spark, sf_dir)
        )
        return (
            exact_pairs.withColumn("tier", F.lit("exact"))
            .unionByName(
                jacc_pairs.select("id1", "id2")
                .withColumn("tier", F.lit("jaccard"))
            )
            .unionByName(
                sim_pairs.select("id1", "id2")
                .withColumn("tier", F.lit("simhash"))
            )
        )

    return shared(("tiered_pairs", sf_dir), spark, _build)


def _tiered_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared (id, cluster_id) labels over the tiered pair union
    — connected components run once per (session, corpus)."""
    return shared(
        ("tiered_comp", sf_dir),
        spark,
        lambda: D.connected_components(
            _tiered_pairs(spark, sf_dir).select("id1", "id2").distinct(),
            "id1",
            "id2",
        ),
    )


@register(
    "dedup_tier_attribution",
    oracle=f"""
    WITH RECURSIVE {_TIER_COMP_SQL},
    csizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
               FROM comp GROUP BY cluster_id),
    attrib AS (
      SELECT c.cluster_id,
             CAST(COUNT(*) FILTER (WHERE tier = 'exact') AS BIGINT) AS n_exact_pairs,
             CAST(COUNT(*) FILTER (WHERE tier = 'jaccard') AS BIGINT) AS n_jaccard_pairs,
             CAST(COUNT(*) FILTER (WHERE tier = 'simhash') AS BIGINT) AS n_simhash_pairs
      FROM tiered t JOIN comp c ON t.id1 = c.id
      GROUP BY c.cluster_id
    )
    SELECT s.cluster_id, s.cluster_size,
           a.n_exact_pairs, a.n_jaccard_pairs, a.n_simhash_pairs,
           CAST((CASE WHEN a.n_exact_pairs > 0 THEN 1 ELSE 0 END
               + CASE WHEN a.n_jaccard_pairs > 0 THEN 1 ELSE 0 END
               + CASE WHEN a.n_simhash_pairs > 0 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_tiers,
           CAST(a.n_exact_pairs + a.n_jaccard_pairs + a.n_simhash_pairs
                < s.cluster_size * (s.cluster_size - 1) / 2 AS BOOLEAN)
             AS has_transitive_members
    FROM csizes s JOIN attrib a USING (cluster_id)
    ORDER BY s.cluster_size DESC, s.cluster_id
    """,
)
def dedup_tier_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier duplicate-cluster audit: union the exact-fingerprint,
    Jaccard ≥ 0.8, and SimHash ≤ 3 pair tables, resolve ONE set of
    connected components over all of them, and attribute each cluster's
    edge mass back to the tiers — the panel a curation team reads before
    choosing survivors (which tier found this cluster? is it held
    together by direct evidence, or only by transitive chains?).

    ``has_transitive_members`` flags clusters whose union pair count is
    below the complete-graph count C(size, 2): at least one member pair
    is linked only through intermediate documents — exactly the clusters
    a reviewer double-checks before dropping all-but-one, since a
    transitive chain across tiers is weaker evidence than a direct pair
    in any single tier.

    Scale shape: the three pair tables are the session-shared artifacts
    the individual tier queries already build (bucketed candidate
    generation — never all-pairs); the union is linear in pair volume;
    components use the same min-label propagation as ``neardup_clusters``
    (O(diameter) rounds, shuffle keyed on node id); attribution is one
    broadcast-size join from pairs to their id1's cluster label (both
    endpoints share a cluster by construction). Oracle: the identical
    transitive closure as a recursive CTE with per-tier counts."""
    return _tier_attribution_rollup(
        _tiered_pairs(spark, sf_dir), _tiered_comp(spark, sf_dir)
    )


def _tier_attribution_rollup(tiered: DataFrame, comp: DataFrame) -> DataFrame:
    """The per-cluster tier-attribution rollup over ANY (tiered pairs,
    component labels) — shared by the full panel and the round-12 sampled
    scale-gate twin."""
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    attrib = (
        tiered.join(comp, tiered.id1 == comp.id)
        .groupBy("cluster_id")
        .agg(
            F.sum((F.col("tier") == "exact").cast("long")).alias("n_exact_pairs"),
            F.sum((F.col("tier") == "jaccard").cast("long")).alias("n_jaccard_pairs"),
            F.sum((F.col("tier") == "simhash").cast("long")).alias("n_simhash_pairs"),
        )
    )
    return (
        sizes.join(attrib, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "n_exact_pairs",
            "n_jaccard_pairs",
            "n_simhash_pairs",
            (
                (F.col("n_exact_pairs") > 0).cast("int")
                + (F.col("n_jaccard_pairs") > 0).cast("int")
                + (F.col("n_simhash_pairs") > 0).cast("int")
            ).cast("int").alias("n_tiers"),
            (
                F.col("n_exact_pairs")
                + F.col("n_jaccard_pairs")
                + F.col("n_simhash_pairs")
                < F.col("cluster_size") * (F.col("cluster_size") - 1) / 2
            ).alias("has_transitive_members"),
        )
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


def _survivor_selection_stats_oracle() -> str:
    # lazy: QUALITY_Z_CTE lives in the sibling text_q module — an
    # import-time read dies when THIS module is the process's first
    # import (registry loads siblings mid-initialization)
    from .text_q import QUALITY_Z_CTE

    return f"""
    WITH RECURSIVE {_TIER_COMP_SQL},
    {QUALITY_Z_CTE},
    cz AS (
      SELECT c.cluster_id, c.id, q.z
      FROM comp c JOIN qz q ON q.doc_id = c.id
    ),
    ranked AS (
      SELECT cluster_id, id, z,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY z DESC, id) AS rnb,
             ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY id) AS rnl
      FROM cz
    ),
    per AS (
      SELECT b.cluster_id, b.z AS zb, l.z AS zl, s.n
      FROM (SELECT cluster_id, z FROM ranked WHERE rnb = 1) b
      JOIN (SELECT cluster_id, z FROM ranked WHERE rnl = 1) l
        USING (cluster_id)
      JOIN (SELECT cluster_id, COUNT(*) AS n FROM cz GROUP BY cluster_id) s
        USING (cluster_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_clustered_docs,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(CAST(zl AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS q_keep_lowid,
           ROUND(CAST(SUM(CAST(zb AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS q_keep_best,
           ROUND(CAST(SUM(CAST(zb AS DECIMAL(18,6))) AS DOUBLE)
                 - CAST(SUM(CAST(zl AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS q_gain
    FROM per
    """


@register("survivor_selection_stats", oracle=_survivor_selection_stats_oracle)
def survivor_selection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-selection policy comparison over the cross-tier duplicate
    clusters: for every cluster, compare the default keep-LOWEST-ID
    survivor against keep-HIGHEST-QUALITY (the frozen-weight ensemble
    score ``z``, tie-broken by lowest id) and report the total retained
    quality mass under each policy — the number a curation team looks at
    before deciding whether quality-aware survivor choice is worth the
    extra scoring pass (``q_gain`` is exactly what switching buys).

    Scale shape: reads the session-shared tiered pair clusters and the
    per-doc score projection; both survivors come from ONE groupBy over
    (cluster, member) rows — ``min(struct(id, z))`` picks the lowest-id
    member, ``max(struct(z, -id))`` the best-quality member — no window,
    no self-join; the final rollup is a single-row aggregate. Oracle:
    the same selections via ROW_NUMBER windows over the recursive-CTE
    clusters."""
    from .text_q import quality_z_df

    z = quality_z_df(load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("id"), "z"
    )
    return _survivor_rollup(_tiered_comp(spark, sf_dir), z)


def _survivor_rollup(comp: DataFrame, z: DataFrame) -> DataFrame:
    """The two-policy survivor rollup over ANY (component labels, per-doc
    score) — shared by the full panel and the round-12 sampled twin."""
    cz = comp.join(z, "id")
    per = cz.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.struct(F.col("z"), (-F.col("id")).alias("nid")))["z"].alias("zb"),
        F.min(F.struct(F.col("id"), F.col("z")))["z"].alias("zl"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n").cast("long").alias("n_clustered_docs"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dropped"),
        F.round(
            F.sum(F.col("zl").cast("decimal(18,6)")).cast("double"), 6
        ).alias("q_keep_lowid"),
        F.round(
            F.sum(F.col("zb").cast("decimal(18,6)")).cast("double"), 6
        ).alias("q_keep_best"),
        F.round(
            F.sum(F.col("zb").cast("decimal(18,6)")).cast("double")
            - F.sum(F.col("zl").cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("q_gain"),
    )


def _neardup_emit_oracle() -> str:
    # lazy: QUALITY_Z_CTE lives in the sibling text_q module — an
    # import-time read dies when THIS module is the process's first
    # import (registry loads siblings mid-initialization)
    from .text_q import QUALITY_Z_CTE

    return f"""
    WITH RECURSIVE {_TIER_COMP_SQL},
    {QUALITY_Z_CTE},
    cz AS (
      SELECT c.cluster_id, c.id, q.z
      FROM comp c JOIN qz q ON q.doc_id = c.id
    ),
    keep AS (
      SELECT cluster_id, id AS keeper_id FROM (
        SELECT cluster_id, id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY z DESC, id) AS rn
        FROM cz) WHERE rn = 1
    ),
    csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY cluster_id)
    SELECT d.doc_id, d.source,
           CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           COALESCE(s.cluster_size, 1) AS cluster_size,
           (c.id IS NULL OR k.keeper_id = d.doc_id) AS kept,
           d.n_chars
    FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    LEFT JOIN csz s ON s.cluster_id = c.cluster_id
    LEFT JOIN keep k ON k.cluster_id = c.cluster_id
    ORDER BY d.doc_id
    """


@register("neardup_emit", oracle=_neardup_emit_oracle)
def neardup_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deduplicated corpus manifest for the document-level near-dup
    family — the materialized counterpart of ``survivor_selection_stats``
    the way ``substring_dedup_emit`` materializes the span tier. One row
    per document with its cross-tier cluster label, cluster size, and the
    keep/drop decision under the keep-highest-quality policy (ensemble
    ``z``, ties to lowest id); the cleaned corpus is ``WHERE kept``, and
    the dropped rows are the audit trail a curation team reviews. Mirrors
    the reference's materialize-the-result export surface
    (``ethical_crawler.py:1072-1096``).

    Scale shape: reads the session-shared tiered clusters (bucketed
    candidate generation, never all-pairs) and the per-doc quality
    projection; the keeper per cluster is ONE ``max(struct(z, -id))``
    groupBy — no window, no self-join; the final assembly is three
    left equi-joins keyed on doc/cluster id, all linear. Oracle: the
    identical transitive closure + ROW_NUMBER survivor pick."""
    from .text_q import quality_z_df

    docs = load_table(spark, sf_dir, "documents")
    comp = _tiered_comp(spark, sf_dir)
    z = quality_z_df(docs).select(F.col("doc_id").alias("id"), "z")
    keep = (
        comp.join(z, "id")
        .groupBy("cluster_id")
        .agg(
            (
                -F.max(F.struct(F.col("z"), (-F.col("id")).alias("nid")))["nid"]
            ).alias("keeper_id")
        )
    )
    csz = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(
            comp.select(F.col("id").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .join(csz, "cluster_id", "left")
        .join(keep, "cluster_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("long")
            .alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (
                F.col("keeper_id").isNull()
                | (F.col("keeper_id") == F.col("doc_id"))
            ).alias("kept"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (round-6 widening): the MOSS local-fingerprint
# scheme (Schleimer, Wilkerson, Aiken, SIGMOD 2003) — the fifth near-dup
# tier, and the one that localizes WHERE two documents overlap rather than
# just scoring whole-document similarity. Hash every token k-gram, slide a
# window of w hashes, keep each window's minimum: the guarantee is that any
# shared run of >= w + k - 1 tokens contributes at least one shared
# fingerprint, at an expected density of 2/(w+1) — a tunable, bounded
# fraction of the corpus, unlike full shingle inverted indexes.

#: token k-gram size for winnowing.
_WIN_K = 5
#: winnowing window (fingerprint density ~= 2 / (_WIN_W + 1)).
_WIN_W = 4
#: "stop fingerprint" cut: drop fingerprints present in more than this many
#: documents (boilerplate / ubiquitous phrases), exactly as MOSS does.
_WIN_CAP = 50
#: minimum shared fingerprints before a pair is considered at all.
_WIN_MIN_SHARED = 3
#: containment threshold: shared / min(|A|, |B|) fingerprints.
_WIN_CONTAIN = 0.5


@register(
    "winnowing_overlap_pairs",
    oracle=f"""
    WITH wtoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), welig AS (
      SELECT doc_id, t FROM wtoks WHERE len(t) >= {_WIN_K + _WIN_W - 1}
    ), whash AS (
      SELECT doc_id,
             list_transform(
               range(1, len(t) - {_WIN_K} + 2),
               i -> ('0x' || substring(
                        md5(array_to_string(t[i:i + {_WIN_K} - 1], ' ')),
                        1, 8))::BIGINT
             ) AS h
      FROM welig
    ), wfp AS (
      SELECT DISTINCT doc_id, fp
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(h) - {_WIN_W} + 2),
                 i -> list_min(h[i:i + {_WIN_W} - 1])
               )) AS fp
        FROM whash
      )
    ), wkept AS (
      SELECT doc_id, fp FROM wfp
      QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {_WIN_CAP}
    ), wsizes AS (
      SELECT doc_id, COUNT(*) AS nfp FROM wkept GROUP BY doc_id
    ), wpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fp
      FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.shared_fp,
           sa.nfp AS nfp_a, sb.nfp AS nfp_b,
           ROUND(p.shared_fp::DOUBLE
                 / LEAST(sa.nfp, sb.nfp)::DOUBLE, 4) AS containment
    FROM wpairs p
    JOIN wsizes sa ON sa.doc_id = p.doc_a
    JOIN wsizes sb ON sb.doc_id = p.doc_b
    WHERE p.shared_fp >= {_WIN_MIN_SHARED}
      AND p.shared_fp::DOUBLE
          / LEAST(sa.nfp, sb.nfp)::DOUBLE >= {_WIN_CONTAIN}
    ORDER BY p.doc_a, p.doc_b
    """,
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint overlap pairs: documents sharing >= 50% of the
    smaller side's selected fingerprints (and at least {_WIN_MIN_SHARED}
    absolute) — the MOSS-style near-dup tier that detects LOCAL overlap
    (a copied paragraph inside an otherwise-different document), which the
    whole-document MinHash/SimHash tiers dilute away. Reference scope: the
    UNIQUE(source_name, record_id) exact-dedup constraint at
    ethical_crawler.py:843, extended to content-level near-dup per the
    winnowing paper's public algorithm.

    Scale shape: fingerprint selection is a per-row Catalyst fold (no
    explode until the ~2/(w+1)-density selected set), the "stop
    fingerprint" frequency cap bounds every join bucket at {_WIN_CAP}
    docs (so candidate volume is O(n_fp * cap), never quadratic in corpus
    size), and the pair table is an equi-join on fp — the identical
    bucketed-candidates shape as the MinHash tier, co-partitioned by fp.
    The hash array and the window-min array are each bound as lambda
    VARIABLES of 1-element transforms, so Catalyst evaluates each stage
    exactly once per row however many times the next stage references it
    (the SimHash-fold re-inline trap, solved without a lineage pin); the
    kept-fingerprint table IS pinned once and consumed by both join
    sides and the size table."""
    docs = load_table(spark, sf_dir, "documents")
    elig = docs.select("doc_id", T.tokens("text").alias("t")).filter(
        F.size("t") >= _WIN_K + _WIN_W - 1
    )

    # Single-projection fingerprint derivation. Each intermediate (the
    # hash array, then the window-min array) is bound as a lambda
    # VARIABLE of a 1-element transform, so it is evaluated exactly once
    # per row no matter how many times the next stage references it —
    # the same re-inline trap the SimHash fold pins against, solved here
    # without a lineage pin (one fewer checkpoint job).
    def _h_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.size(t) - _WIN_K + 1),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(t, i, _WIN_K))), 1, 8
                ),
                16,
                10,
            ).cast("long"),
        )

    def _wins_of(h):
        return F.transform(
            F.sequence(F.lit(1), F.size(h) - _WIN_W + 1),
            lambda i: F.array_min(F.slice(h, i, _WIN_W)),
        )

    fps_expr = F.array_distinct(
        F.element_at(
            F.transform(
                F.array(F.col("t")),
                lambda t: F.element_at(
                    F.transform(F.array(_h_of(t)), _wins_of), 1
                ),
            ),
            1,
        )
    )
    fps = elig.select("doc_id", F.explode(fps_expr).alias("fp"))
    # Stop-fingerprint cut via a count-window over the fp-partitioned
    # stream. (Tried: broadcast anti-join against the over-cap fp list,
    # which keeps the pinned plan fully narrow — but it derives the
    # fingerprint fold TWICE (once for the frequency table, once for the
    # kept table) and measured 2.0 s vs 1.4 s at sf0.1; the window's
    # single fp shuffle is the cheaper trade here and at scale the
    # shuffle is by the already-small (doc_id, fp) pairs.)
    from pyspark.sql import Window

    kept = materialize(
        fps.withColumn(
            "dfreq", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("dfreq") <= _WIN_CAP)
        .select("doc_id", "fp")
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= _WIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("nfp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nfp_b"))
    contain = F.col("shared_fp").cast("double") / F.least(
        "nfp_a", "nfp_b"
    ).cast("double")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(contain >= _WIN_CONTAIN)
        .select(
            "doc_a",
            "doc_b",
            "shared_fp",
            "nfp_a",
            "nfp_b",
            F.round(contain, 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "source_vocab_affinity",
    oracle="""
    WITH sv AS (
      SELECT DISTINCT source, word FROM (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents
      ) WHERE word <> ''
    ),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
           FROM sv GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           za.n_types AS types_a, zb.n_types AS types_b, i.n_common,
           ROUND(i.n_common::DOUBLE
                 / (za.n_types + zb.n_types - i.n_common)::DOUBLE, 6)
             AS jaccard,
           ROUND(i.n_common::DOUBLE
                 / least(za.n_types, zb.n_types)::DOUBLE, 6)
             AS containment
    FROM inter i
    JOIN sz za ON za.source = i.src_a
    JOIN sz zb ON zb.source = i.src_b
    ORDER BY jaccard DESC, i.src_a, i.src_b
    """,
)
def source_vocab_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary affinity matrix: Jaccard and containment of
    the distinct-word sets of every source pair — the mirror-site /
    re-hosted-corpus detector that runs ABOVE document-level dedup (two
    sources with near-identical vocabularies are one crawl target counted
    twice; containment >> jaccard flags a subset mirror). Complements the
    per-document near-dup tiers (`dedup_jaccard_pairs` etc.), which can
    miss a mirror whose documents are shuffled or re-chunked.

    Scale shape: the document scan collapses to DISTINCT (source, word) —
    map-side combined, bounded by |sources| x |vocab| — and the pair
    counts come from an equi-join ON WORD, so fan-out per word is bounded
    by the number of sources containing it (never all-pairs over rows).
    At 100 TB: cap the per-word source fan-out by dropping ubiquitous
    words (df-cap) — they carry no affinity signal and their |S|^2 rows
    dominate the join; the fixture's vocabulary is too small to need it.
    The |S|^2-row result is the small output by construction."""
    docs = load_table(spark, sf_dir, "documents")
    # pin the distinct (source, word) table: the size aggregate and both
    # join sides consume it — without the pin the corpus is scanned 3x
    sv = materialize(
        docs.select("source", F.explode(T.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    sz = sv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    a = sv.alias("a")
    b = sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    za = F.broadcast(sz.select(F.col("source").alias("src_a"),
                               F.col("n_types").alias("types_a")))
    zb = F.broadcast(sz.select(F.col("source").alias("src_b"),
                               F.col("n_types").alias("types_b")))
    return (
        inter.join(za, "src_a")
        .join(zb, "src_b")
        .select(
            "src_a",
            "src_b",
            "types_a",
            "types_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("types_a") + F.col("types_b") - F.col("n_common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_common").cast("double")
                / F.least("types_a", "types_b").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
    )


#: Threshold sweep: the Jaccard cutoffs a dedup owner chooses between.
_SWEEP_TH = (0.7, 0.75, 0.8, 0.85, 0.9)


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    th AS (SELECT CAST(x AS DOUBLE) AS t FROM (VALUES (0.7), (0.75), (0.8), (0.85), (0.9)) v(x)),
    pairs AS (SELECT id1, id2, jaccard FROM jacc WHERE jaccard >= 0.7),
    pc AS (
      SELECT th.t, CAST(COUNT(p.id1) AS BIGINT) AS n_pairs
      FROM th LEFT JOIN pairs p ON p.jaccard >= th.t
      GROUP BY th.t
    ),
    dc AS (
      SELECT th.t, CAST(COUNT(DISTINCT u.d) AS BIGINT) AS n_docs_flagged
      FROM th LEFT JOIN (
        SELECT jaccard, id1 AS d FROM pairs
        UNION ALL SELECT jaccard, id2 AS d FROM pairs
      ) u ON u.jaccard >= th.t
      GROUP BY th.t
    )
    SELECT pc.t AS threshold, pc.n_pairs, dc.n_docs_flagged,
           ROUND(dc.n_docs_flagged::DOUBLE / nn.n::DOUBLE, 6)
             AS flagged_pct
    FROM pc JOIN dc ON pc.t = dc.t, nn
    ORDER BY threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sensitivity sweep: pair count, flagged-document
    count, and flagged corpus share at every candidate cutoff
    {_SWEEP_TH} — computed from ONE pair generation at the loosest
    threshold (0.7; PPJoin prefix+length filtering stays sound at any t,
    the filters just loosen — a 0.5 floor was measured at 2.5x the cost
    and found zero additional pairs on this corpus), then five
    conditional rollups. This is the
    panel that CHOOSES the threshold the other dedup tiers run at: where
    the flagged-share curve elbows is where near-dup mass ends and
    topical similarity begins.

    Scale shape: candidate generation is the same bucketed prefix join
    as `dedup_jaccard_pairs` (cost grows as t drops — that is the real
    cost of asking about a looser threshold, measured not guessed); the
    sweep itself is an explode x5 over the SMALL pair table + two
    |thresholds|-row aggregates. The shingle-set artifact is the shared
    session table."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _doc_sets(spark, sf_dir)
    pairs = materialize(
        D.jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=_SWEEP_TH[0], sets=sets,
            verify_sets=_doc_idsets(spark, sf_dir),
        )
    )
    # NOTE hint placement: tdf is the PRESERVED (left) side of the final
    # left joins — a broadcast hint there is unsupported for left outer
    # and silently discarded (HintErrorLogger) — so the hint goes on the
    # crossJoin use and on the build-side rollups instead.
    tdf = spark.createDataFrame(
        [(t,) for t in _SWEEP_TH], schema="threshold double"
    )
    n_docs = F.broadcast(
        docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    hit = pairs.crossJoin(F.broadcast(tdf)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    pc = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    dc = (
        hit.select("threshold", F.col("id1").alias("d"))
        .union(hit.select("threshold", F.col("id2").alias("d")))
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_flagged"))
    )
    return (
        tdf.join(F.broadcast(pc), "threshold", "left")
        .join(F.broadcast(dc), "threshold", "left")
        .crossJoin(n_docs)
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0))
            .cast("long")
            .alias("n_docs_flagged"),
            F.when(  # ANSI double 0/0 raises; DuckDB yields NULL
                F.col("n") > 0,
                F.round(
                    F.coalesce("n_docs_flagged", F.lit(0)).cast("double")
                    / F.col("n").cast("double"),
                    6,
                ),
            ).alias("flagged_pct"),
        )
        .orderBy("threshold")
    )


@register(
    "ngram_novelty_stats",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    g AS (SELECT doc_id,
                 ('0x' || substr(md5(g0), 1, 12))::BIGINT AS gh
          FROM (SELECT doc_id, unnest(shingles) AS g0 FROM sh)),
    gmin AS (SELECT gh, MIN(doc_id) AS d0 FROM g GROUP BY gh),
    per AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN g.doc_id = gm.d0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel
      FROM g JOIN gmin gm USING (gh) GROUP BY g.doc_id
    ),
    j AS (
      SELECT d.source, per.total, per.novel,
             per.novel::DOUBLE / per.total::DOUBLE AS frac
      FROM per JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(CAST(ROUND(frac, 9) AS DECIMAL(18,9)))::DOUBLE
                 / COUNT(*), 6) AS avg_novelty,
           ROUND(SUM(CASE WHEN frac = 1.0 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS pct_fully_novel,
           ROUND(SUM(CASE WHEN frac < 0.5 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS pct_mostly_copied,
           ROUND(SUM(novel)::DOUBLE / SUM(total)::DOUBLE, 6)
             AS gram_novel_rate
    FROM j GROUP BY source ORDER BY source
    """,
)
def ngram_novelty_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order n-gram novelty audit (the memorization-risk /
    repeated-content panel): for every document, the fraction of its
    distinct word-3-grams whose FIRST corpus occurrence (minimum doc_id)
    is the document itself — grams first seen in an earlier document are
    "already-trained-on" mass. Rolled up per source: mean novelty, the
    share of fully-novel documents, the share of mostly-copied documents
    (novelty < 0.5 — prime dedup candidates the pairwise tiers should
    have caught), and the corpus-level gram novelty rate. Complements the
    pairwise dedup family: attribution is ASYMMETRIC (the first document
    keeps its grams; later near-copies lose them), which is exactly how
    an epoch of training sees the stream.

    Scale shape: grams ride as 48-bit md5 hashes (both engines draw the
    same hash, so collisions — which fold a later gram onto an earlier
    one — are deterministic and identical); first-occurrence is ONE
    map-side-combined MIN per gram; the gram table is pinned once and
    feeds both the MIN and the verdict join. The per-doc fractions are
    round-9-DECIMAL summed (order-insensitive), integer counts exact.
    The 3-gram shingle artifact is the session-shared dedup table."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _doc_sets(spark, sf_dir)
    grams = materialize(
        sets.select("doc_id", F.explode("sh").alias("g")).select(
            "doc_id",
            F.conv(F.substring(F.md5("g"), 1, 12), 16, 10)
            .cast("long")
            .alias("gh"),
        )
    )
    gmin = grams.groupBy("gh").agg(F.min("doc_id").alias("d0"))
    per = (
        grams.join(gmin, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum(
                F.when(F.col("doc_id") == F.col("d0"), 1).otherwise(0)
            )
            .cast("long")
            .alias("novel"),
        )
    )
    frac = F.col("novel").cast("double") / F.col("total").cast("double")
    j = per.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", "total", "novel", frac.alias("frac")
    )
    n = F.count(F.lit(1))
    return (
        j.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("frac"), 9).cast("decimal(18,9)"))
                .cast("double")
                / n,
                6,
            ).alias("avg_novelty"),
            F.round(
                F.sum(
                    F.when(F.col("frac") == 1.0, 1).otherwise(0)
                ).cast("double")
                / n,
                6,
            ).alias("pct_fully_novel"),
            F.round(
                F.sum(
                    F.when(F.col("frac") < 0.5, 1).otherwise(0)
                ).cast("double")
                / n,
                6,
            ).alias("pct_mostly_copied"),
            F.round(
                F.sum("novel").cast("double")
                / F.sum("total").cast("double"),
                6,
            ).alias("gram_novel_rate"),
        )
        .orderBy("source")
    )


@register(
    "neardup_source_matrix",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    pairs AS (SELECT id1, id2, jaccard FROM jacc WHERE jaccard >= 0.8),
    lab AS (
      SELECT LEAST(d1.source, d2.source) AS src_a,
             GREATEST(d1.source, d2.source) AS src_b,
             p.jaccard
      FROM pairs p
      JOIN documents d1 ON p.id1 = d1.doc_id
      JOIN documents d2 ON p.id2 = d2.doc_id
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (((2 * SUM(CAST(ROUND(jaccard * 10000) AS BIGINT)) + COUNT(*))
             // (2 * COUNT(*)))::DOUBLE / 10000.0) AS avg_jaccard,
           MAX(jaccard) AS max_jaccard
    FROM lab GROUP BY src_a, src_b ORDER BY src_a, src_b
    """,
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources near-duplicate each other: the exact-Jaccard pair
    table (>=0.8, the `dedup_jaccard_pairs` definition, reused via the
    session-shared artifact) rolled up to an unordered source-pair
    matrix — pair count, mean and max Jaccard per (src_a, src_b). This
    is the crawl-lineage panel a curation team reads to find mirror
    sites and syndication chains: a hot off-diagonal cell means two
    sources are republishing each other and one of them can be dropped
    from the crawl schedule entirely (cheaper than deduping them
    forever); a hot diagonal cell means a source self-duplicates
    (pagination artifacts, template churn).

    Exactness: pair identity and jaccard come from the shared pair
    pipeline (already hash-checked by `dedup_jaccard_pairs`); the
    source labels canonicalize with LEAST/GREATEST (VARCHAR lexicographic
    in both engines); avg goes through a DECIMAL(14,4) sum of the
    already-round-4 jaccards. Scale shape: the pair table is the
    near-dup family's bounded output (inverted-index join, never
    O(n^2)); the two source lookups are doc_id equi-joins against a
    two-column projection of the corpus; the final rollup is at most
    |sources|^2 rows."""
    pairs = _truth_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("doc_id", "id1"), "id1")
        .withColumnRenamed("source", "s1")
        .join(
            src.withColumnRenamed("doc_id", "id2").withColumnRenamed(
                "source", "s2"
            ),
            "id2",
        )
        .select(
            F.least("s1", "s2").alias("src_a"),
            F.greatest("s1", "s2").alias("src_b"),
            "jaccard",
        )
    )
    return (
        lab.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            # avg rounded to 4 decimals by EXACT integer half-up — the
            # decimal sum / count through ROUND(double, 4) flips on
            # x.xxxx5 boundaries between engines (sf1-gate catch, same
            # class as the per-pair fix in operators/dedup)
            (
                F.expr(
                    "(2 * sum(cast(round(jaccard * 10000) as bigint)) + count(1))"
                    " div (2 * count(1))"
                ).cast("double")
                / F.lit(10000.0)
            ).alias("avg_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


#: train/test split rule shared with `train_test_split_stats`
#: (pipeline_q): 16 md5 bits of doc_id, bucket mod 20 == 0 -> test.
_SPLIT_SQL = """CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                     % 20 = 0 THEN 'test' ELSE 'train' END"""


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    pairs AS (SELECT id1, id2, jaccard FROM jacc WHERE jaccard >= 0.8),
    sp AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    lab AS (
      SELECT LEAST(s1.split, s2.split) || '-' || GREATEST(s1.split, s2.split)
               AS split_pair,
             p.jaccard
      FROM pairs p
      JOIN sp s1 ON p.id1 = s1.doc_id
      JOIN sp s2 ON p.id2 = s2.doc_id
    ),
    cats AS (
      SELECT 'test-test' AS split_pair
      UNION ALL SELECT 'test-train'
      UNION ALL SELECT 'train-train'
    )
    SELECT c.split_pair,
           CAST(COALESCE(COUNT(l.jaccard), 0) AS BIGINT) AS n_pairs,
           CASE WHEN COUNT(l.jaccard) > 0 THEN
             (((2 * SUM(CAST(ROUND(l.jaccard * 10000) AS BIGINT))
                + COUNT(l.jaccard)) // (2 * COUNT(l.jaccard)))::DOUBLE
              / 10000.0)
           END AS avg_jaccard
    FROM cats c LEFT JOIN lab l USING (split_pair)
    GROUP BY c.split_pair
    ORDER BY c.split_pair
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: every near-dup pair (the shared
    exact-Jaccard >= 0.8 table) classified by which side of the holdout
    split its two documents landed on, under the SAME deterministic
    md5-bucket rule as `train_test_split_stats`. A non-zero 'test-train'
    row is eval leakage — a held-out document with a near-duplicate in
    the training set inflates every benchmark it appears in, which is
    why production pipelines dedup ACROSS the split boundary (this
    panel) and not just within the corpus. The three categories are
    emitted unconditionally (a LEFT JOIN from the category list), so
    "zero leaked pairs" is an auditable row, not an absent one.

    Exactness: pair identity/jaccard from the shared hash-checked pair
    pipeline; the split is a pure doc_id function (16 md5 bits mod 20 —
    identical literal on both engines); the avg goes through a
    DECIMAL(14,4) sum; COUNT(expr) counts only matched rows, making the
    empty-category average NULL identically on both sides. Scale shape:
    two doc_id equi-joins against a two-column split projection, then a
    3-row rollup — the pair table, not the corpus, is the driver."""
    pairs = _truth_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    sp = docs.select(
        "doc_id",
        F.when(bucket % 20 == 0, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    lab = (
        pairs.join(
            sp.select(F.col("doc_id").alias("id1"), F.col("split").alias("s1")),
            "id1",
        )
        .join(
            sp.select(F.col("doc_id").alias("id2"), F.col("split").alias("s2")),
            "id2",
        )
        .select(
            F.concat(
                F.least("s1", "s2"), F.lit("-"), F.greatest("s1", "s2")
            ).alias("split_pair"),
            "jaccard",
        )
    )
    cats = spark.createDataFrame(
        [("test-test",), ("test-train",), ("train-train",)],
        "split_pair string",
    )
    return (
        cats.join(lab, "split_pair", "left")
        .groupBy("split_pair")
        .agg(
            F.coalesce(F.count("jaccard"), F.lit(0))
            .cast("long")
            .alias("n_pairs"),
            # same exact-integer half-up as neardup_source_matrix's avg
            F.when(
                F.count("jaccard") > 0,
                F.expr(
                    "(2 * sum(cast(round(jaccard * 10000) as bigint))"
                    " + count(jaccard)) div (2 * count(jaccard))"
                ).cast("double")
                / F.lit(10000.0),
            ).alias("avg_jaccard"),
        )
        .orderBy("split_pair")
    )


# ---------------------------------------------------------------------------
# MinHash band-geometry sweep (round 7): the (bands × rows) S-curve panel.

_SWEEP_GEOMS = [(2, 8), (4, 4), (8, 2), (16, 1)]


def _band_sweep_oracle() -> str:
    geom_bands = []
    for b, r in _SWEEP_GEOMS:
        geom_bands.append(
            f"""SELECT {b} AS bands, doc_id, j AS band_idx,
             md5(array_to_string(
               list_transform(sig[j*{r}+1:j*{r}+{r}], v -> CAST(v AS VARCHAR)),
               ',')) AS band_key
      FROM sig, range(0, {b}) g{b}(j)"""
        )
    geom_rows = " UNION ALL ".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band" for b, r in _SWEEP_GEOMS
    )
    return f"""
    WITH sh AS ({_SHINGLES}),
    {_MINHASH_SIG_CTES},
    bands_all AS (
      {" UNION ALL ".join(geom_bands)}
    ),
    cand AS (
      SELECT DISTINCT a.bands, a.doc_id AS id1, b.doc_id AS id2
      FROM bands_all a JOIN bands_all b
        ON a.bands = b.bands AND a.band_idx = b.band_idx
       AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    {_EXACT_JACCARD}
    , truth AS (SELECT id1, id2 FROM jacc WHERE jaccard >= 0.8),
    per AS (
      SELECT c.bands,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM cand c LEFT JOIN truth t USING (id1, id2)
      GROUP BY c.bands
    ),
    geoms AS ({geom_rows}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth)
    SELECT g.bands, g.rows_per_band,
           COALESCE(p.n_candidates, 0) AS n_candidates,
           COALESCE(p.n_hits, 0) AS n_hits,
           tot.n_true_pairs,
           CASE WHEN tot.n_true_pairs = 0 THEN 1.0
                ELSE ROUND(COALESCE(p.n_hits, 0)::DOUBLE
                           / tot.n_true_pairs::DOUBLE, 6) END AS recall,
           CASE WHEN COALESCE(p.n_candidates, 0) = 0 THEN 1.0
                ELSE ROUND(COALESCE(p.n_hits, 0)::DOUBLE
                           / p.n_candidates::DOUBLE, 6)
           END AS candidate_precision
    FROM geoms g LEFT JOIN per p ON p.bands = g.bands, tot
    ORDER BY g.bands
    """


@register("minhash_band_sweep", oracle=_band_sweep_oracle())
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-geometry sweep over ONE 16-hash signature table: recall and
    candidate volume at (bands × rows/band) = 2×8, 4×4, 8×2, 16×1 — the
    full LSH S-curve family (catch threshold ≈ (1/b)^(1/r): 0.917, 0.707,
    0.435, 0.0625) priced against the exact-Jaccard ≥0.8 truth. This is
    the panel that TUNES the dedup tier: `minhash_recall_stats` prices the
    production 4×4 point; this shows what the neighboring geometries buy.

    One pipeline: signatures pinned once, every geometry's band keys
    unioned into a single (geometry, band, key) table, ONE self-equi-join
    keyed on all three, one LEFT JOIN against the shared truth pairs —
    never a per-geometry rerun, same rank-trick economy as
    `ivf_nprobe_sweep`. Geometry rows emitted unconditionally (a geometry
    with zero candidates still reports, vacuous precisions mirrored)."""
    sig = _doc_sig16(spark, sf_dir)
    banded_all = None
    for b, _ in _SWEEP_GEOMS:
        part = D._banded(sig, "doc_id", 16, b).withColumn("bands", F.lit(b))
        banded_all = part if banded_all is None else banded_all.unionByName(part)
    a, bb = banded_all.alias("a"), banded_all.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
        )
        .distinct()
    )
    truth = (
        _truth_pairs(spark, sf_dir)
        .select("id1", "id2")
        .withColumn("_t", F.lit(1))
    )
    per = (
        cand.join(truth, ["id1", "id2"], "left")
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("_t").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )
    geoms = spark.createDataFrame(
        _SWEEP_GEOMS, "bands int, rows_per_band int"
    )
    tot = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    return (
        geoms.join(per, "bands", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            "n_true_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.col("n_true_pairs").cast("double"),
                    6,
                )
            )
            .alias("recall"),
            F.when(F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.col("n_candidates").cast("double"),
                    6,
                )
            )
            .alias("candidate_precision"),
        )
        .orderBy("bands")
    )


# ---------------------------------------------------------------------------
# Round 8: sorted-neighborhood method (Hernández & Stolfo 1995) — the
# classic NON-hashing blocking tier: sort the corpus on a key, compare
# only records within a sliding window of the sort order. Complements the
# banding tiers (MinHash/SimHash block on CONTENT-derived keys; SNM blocks
# on SORT adjacency, catching near-dups whose edits preserve a prefix) and
# reuses the TeraSort global-ranking machinery, so the "sort" is a range
# exchange + partition-local row_numbers — never a global window.

_SNM_W = 3        # window: compare rn with rn+1..rn+w
_SNM_KEYLEN = 24  # sort-key prefix length
_SNM_T = 0.8      # exact-Jaccard verification threshold


@register(
    "sorted_neighborhood_stats",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
    k1 AS (SELECT doc_id, substr(t, 1, {_SNM_KEYLEN}) AS k FROM norm),
    r1 AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM k1
    ),
    c1 AS (
      SELECT DISTINCT 'prefix' AS pass,
             LEAST(a.doc_id, b.doc_id) AS id1,
             GREATEST(a.doc_id, b.doc_id) AS id2
      FROM r1 a JOIN r1 b ON b.rn - a.rn BETWEEN 1 AND {_SNM_W}
    ),
    k2 AS (SELECT doc_id, substr(reverse(t), 1, {_SNM_KEYLEN}) AS k FROM norm),
    r2 AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM k2
    ),
    c2 AS (
      SELECT DISTINCT 'reversed' AS pass,
             LEAST(a.doc_id, b.doc_id) AS id1,
             GREATEST(a.doc_id, b.doc_id) AS id2
      FROM r2 a JOIN r2 b ON b.rn - a.rn BETWEEN 1 AND {_SNM_W}
    ),
    cands AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
    sh AS ({_SHINGLES}),
    {_EXACT_JACCARD},
    ver AS (SELECT id1, id2 FROM jacc WHERE jaccard >= {_SNM_T}),
    per_pass AS (
      SELECT pass,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN v.id1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_verified
      FROM cands LEFT JOIN ver v USING (id1, id2)
      GROUP BY pass
    ),
    comb AS (
      SELECT 'combined' AS pass,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN v.id1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_verified
      FROM (SELECT DISTINCT id1, id2 FROM cands) c
      LEFT JOIN ver v USING (id1, id2)
    )
    SELECT pass, n_candidates, n_verified,
           ROUND(n_verified::DOUBLE / n_candidates, 4) AS precision_at_w
    FROM (SELECT * FROM per_pass UNION ALL SELECT * FROM comb)
    ORDER BY pass
    """,
)
def sorted_neighborhood_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup panel: two SNM passes (normalized-text
    prefix key and REVERSED-text prefix key — the multi-pass trick that
    catches edits at either end), window {_SNM_W}, candidates verified by
    exact Jaccard >= {_SNM_T} on the shared shingle sets; per pass and
    combined: candidate volume, verified pairs, precision — the panel
    that compares SNM's cost/recall point against the MinHash band tiers.

    Scale shape: each pass is ONE TeraSort global ranking
    (``quality_q._global_ranks`` — range exchange + partition-local
    row_numbers + broadcast offsets, no global window) and {_SNM_W}
    rn-shifted equi-joins; candidate volume is exactly n·w per pass by
    construction — INDEPENDENT of key skew, the property that makes SNM
    the safe fallback when a banding key explodes."""
    from .quality_q import _global_ranks
    from ..operators.text import normalize_text

    def _build_cands() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        norm = docs.select("doc_id", normalize_text("text").alias("t"))
        passes = [
            ("prefix", F.substring(F.col("t"), 1, _SNM_KEYLEN)),
            ("reversed", F.substring(F.reverse(F.col("t")), 1, _SNM_KEYLEN)),
        ]
        cand_parts = []
        for name, key in passes:
            ranked, _n = _global_ranks(
                norm.select("doc_id", key.alias("k")), "k", "doc_id"
            )
            a = ranked.select(F.col("rn"), F.col("doc_id").alias("ida"))
            for d in range(1, _SNM_W + 1):
                b = ranked.select(
                    (F.col("rn") - d).alias("rn"),
                    F.col("doc_id").alias("idb"),
                )
                cand_parts.append(
                    a.join(b, "rn").select(
                        F.lit(name).alias("pass"),
                        F.least("ida", "idb").alias("id1"),
                        F.greatest("ida", "idb").alias("id2"),
                    )
                )
        cands = cand_parts[0]
        for p in cand_parts[1:]:
            cands = cands.unionByName(p)
        return cands.distinct()

    # the sorted-adjacency candidate table is the SNM blocking artifact —
    # session-shared like the band tables it competes with
    cands = shared(
        ("snm_cands", sf_dir, _SNM_W, _SNM_KEYLEN), spark, _build_cands
    )
    sets = _doc_sets(spark, sf_dir)
    ver = D._verify_jaccard(
        cands.select("id1", "id2").distinct(), sets, "doc_id", _SNM_T
    ).select("id1", "id2", F.lit(1).alias("_v"))
    per_pass = (
        cands.join(ver, ["id1", "id2"], "left")
        .groupBy("pass")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce("_v", F.lit(0))).cast("long").alias("n_verified"),
        )
    )
    comb = (
        cands.select("id1", "id2")
        .distinct()
        .join(ver, ["id1", "id2"], "left")
        .agg(
            F.lit("combined").alias("pass"),
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce("_v", F.lit(0))).cast("long").alias("n_verified"),
        )
    )
    return (
        per_pass.unionByName(comb)
        .withColumn(
            "precision_at_w",
            F.round(
                F.col("n_verified").cast("double")
                / F.col("n_candidates").cast("double"),
                4,
            ),
        )
        .orderBy("pass")
    )


# ---------------------------------------------------------------------------
# Round 11: split-leakage audit — the eval-contamination failure the split
# and dedup panels each miss alone: a deterministic doc-hash train/test
# split (train_test_split_stats' exact rule) puts the two halves of a
# near-duplicate PAIR on opposite sides, so the model is evaluated on
# paraphrases of its training data. The audit counts cross-split pairs
# per near-dup tier under the naive split AND under the cluster-aware
# fix (split by the cluster representative's hash — every member of a
# cluster lands on the same side; singletons hash exactly as before, so
# the fix only moves documents that needed moving).

_SPLIT_MOD = 20  # ~5% test — MUST match train_test_split_stats


def _split_leakage_oracle() -> str:
    split = (
        "CASE WHEN ('0x' || substring(md5(CAST({k} AS VARCHAR)), 1, 4))"
        f"::BIGINT % {_SPLIT_MOD} = 0 THEN 'test' ELSE 'train' END"
    )
    return f"""
    WITH RECURSIVE {_TIER_COMP_SQL},
    pairsets AS (
      SELECT tier, id1, id2 FROM tiered
      UNION ALL
      SELECT 'all', id1, id2 FROM edges
    ),
    assign AS (
      SELECT d.doc_id,
             {split.format(k='d.doc_id')} AS naive,
             {split.format(k='COALESCE(c.cluster_id, d.doc_id)')}
               AS cluster_aware
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    melted AS (
      SELECT 'naive' AS scheme, doc_id, naive AS split FROM assign
      UNION ALL
      SELECT 'cluster_aware', doc_id, cluster_aware FROM assign
    ),
    pairjud AS (
      SELECT m.scheme, p.tier,
             CASE WHEN a.split <> b.split THEN 1 ELSE 0 END AS crossed
      FROM pairsets p
      JOIN (SELECT DISTINCT scheme FROM melted) m ON TRUE
      JOIN melted a ON a.scheme = m.scheme AND a.doc_id = p.id1
      JOIN melted b ON b.scheme = m.scheme AND b.doc_id = p.id2
    ),
    pair_roll AS (
      SELECT scheme, tier,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(crossed) AS BIGINT) AS n_cross_pairs
      FROM pairjud GROUP BY scheme, tier
    ),
    doc_roll AS (
      SELECT scheme,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test_docs,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM melted GROUP BY scheme
    )
    SELECT p.scheme, p.tier, p.n_pairs, p.n_cross_pairs,
           ((2 * p.n_cross_pairs::HUGEINT * 1000000 + p.n_pairs)
            // (2 * p.n_pairs)) / 1000000.0 AS cross_share,
           d.n_test_docs,
           ((2 * d.n_test_docs::HUGEINT * 1000000 + d.n_docs)
            // (2 * d.n_docs)) / 1000000.0 AS test_doc_share
    FROM pair_roll p JOIN doc_roll d ON d.scheme = p.scheme
    ORDER BY p.scheme, p.tier
    """


@register("split_leakage_tier_audit", oracle=_split_leakage_oracle)
def split_leakage_tier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (scheme × tier) leakage panel: near-dup pairs, pairs whose
    endpoints land on opposite sides of the train/test split, the exact
    cross share, and the scheme's test-set size — under the naive
    doc-hash split and the cluster-aware split (hash of the tier-union
    cluster representative). The cluster-aware rows must show ZERO
    cross-split pairs (pinned by test) because every near-dup edge is by
    construction intra-cluster.

    Scale shape: reads the session-shared tiered pair and cluster
    artifacts; the audit itself is two doc-keyed equi-joins per pair set
    plus per-(scheme, tier) rollups — linear, no new quadratic work."""
    return _tier_leakage_panel(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id"),
        _tiered_pairs(spark, sf_dir),
        _tiered_comp(spark, sf_dir),
    )


def _tier_leakage_panel(
    spark: SparkSession, docs: DataFrame, pairs: DataFrame, comp: DataFrame
) -> DataFrame:
    """The (scheme × tier) leakage rollup over ANY (doc list, tiered
    pairs, component labels) — shared by the full audit and the round-12
    sampled scale-gate twin."""
    pairsets = pairs.select("tier", "id1", "id2").unionByName(
        pairs.select(F.lit("all").alias("tier"), "id1", "id2").distinct()
    )

    def _split(key: F.Column) -> F.Column:
        b = F.conv(
            F.substring(F.md5(key.cast("string")), 1, 4), 16, 10
        ).cast("long")
        return F.when(b % _SPLIT_MOD == 0, F.lit("test")).otherwise(
            F.lit("train")
        )

    assign = docs.join(
        comp.select(F.col("id").alias("doc_id"), "cluster_id"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        _split(F.col("doc_id")).alias("naive"),
        _split(F.coalesce("cluster_id", "doc_id")).alias("cluster_aware"),
    )
    melted = assign.select(
        F.lit("naive").alias("scheme"), "doc_id", F.col("naive").alias("split")
    ).unionByName(
        assign.select(
            F.lit("cluster_aware").alias("scheme"),
            "doc_id",
            F.col("cluster_aware").alias("split"),
        )
    )
    a = melted.select(
        "scheme", F.col("doc_id").alias("id1"), F.col("split").alias("s1")
    )
    b = melted.select(
        "scheme", F.col("doc_id").alias("id2"), F.col("split").alias("s2")
    )
    pair_roll = (
        pairsets.join(a, "id1")
        .join(b, ["scheme", "id2"])
        .groupBy("scheme", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("s1") != F.col("s2")).cast("long"))
            .cast("long")
            .alias("n_cross_pairs"),
        )
    )
    doc_roll = F.broadcast(
        melted.groupBy("scheme").agg(
            F.sum((F.col("split") == "test").cast("long"))
            .cast("long")
            .alias("n_test_docs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    return (
        pair_roll.join(doc_roll, "scheme")
        .select(
            "scheme",
            "tier",
            "n_pairs",
            "n_cross_pairs",
            # DECIMAL(38,0) numerators: corpus-scale pair/doc counts
            # would wrap a BIGINT numerator past ~4.6e12 (non-ANSI Spark
            # wraps silently where DuckDB raises — see packs_q._eff_micro)
            F.expr(
                "((2 * cast(n_cross_pairs as decimal(38,0)) * 1000000"
                " + n_pairs) div (2 * n_pairs)) / 1000000.0D"
            ).alias("cross_share"),
            "n_test_docs",
            F.expr(
                "((2 * cast(n_test_docs as decimal(38,0)) * 1000000"
                " + n_docs) div (2 * n_docs)) / 1000000.0D"
            ).alias("test_doc_share"),
        )
        .orderBy("scheme", "tier")
    )


# ---------------------------------------------------------------------------
# Round-12 sampled scale-gate twins for the two heaviest recursive-CTE
# ground-truth mirrors (the round-11 `substring_dedup_removal_sampled`
# pattern): the FULL panels' Spark sides are bucketed and sf1-clean, but
# their DuckDB mirrors are deliberate all-pairs/transitive-closure ground
# truth and stay adjudicated-expensive at sf1. A deterministic
# ``doc_id % 10 == 3`` sub-corpus cuts the mirrors' quadratic terms 100×
# (sf1 sample ≈ sf0.1 mirror cost, which the gate already runs).
#
# Pair semantics are PER-PAIR (a pair's fingerprint match, jaccard, or
# simhash distance never depends on other documents), so pairs over the
# sampled corpus are EXACTLY the full-corpus pairs with both endpoints
# sampled — the Spark side filters the session-shared tier artifacts
# (zero new index builds: the delta-audit shape a production corpus
# would use) and re-resolves components over the sampled graph; the
# mirror replays the identical full pipeline over the filtered corpus.
# Components must be RE-RESOLVED, not filtered: two sampled documents
# linked only through an unsampled intermediary are one cluster in the
# full graph but two in the sample — on both engines alike.

_DEDUP_SAMPLE_MOD, _DEDUP_SAMPLE_REM = 10, 3


def _sampled_docs_sql(sql: str) -> str:
    """The oracle transform: every ``documents`` scan becomes the
    deterministic sub-corpus. Derived-table form WITHOUT an injected
    alias, so it composes with whatever follows at the call site — a
    trailing alias (``FROM documents d``), WHERE, or GROUP BY; none of
    the transformed oracles reference the scan by the table name
    (asserted below)."""
    assert "documents." not in sql  # qualified refs would break unaliased
    return sql.replace(
        "FROM documents",
        f"FROM (SELECT * FROM documents WHERE doc_id % {_DEDUP_SAMPLE_MOD}"
        f" = {_DEDUP_SAMPLE_REM})",
    )


def _sample_pair_filter(pairs: DataFrame) -> DataFrame:
    return pairs.filter(
        (F.col("id1") % _DEDUP_SAMPLE_MOD == _DEDUP_SAMPLE_REM)
        & (F.col("id2") % _DEDUP_SAMPLE_MOD == _DEDUP_SAMPLE_REM)
    )


def _neardup_clusters_sampled_oracle() -> str:
    # lazy: reads the registered full-panel oracle, so the two pipelines
    # can never drift apart
    from ..registry import resolve_oracle

    return _sampled_docs_sql(resolve_oracle("neardup_clusters"))


@register("neardup_clusters_sampled", oracle=_neardup_clusters_sampled_oracle)
def neardup_clusters_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`neardup_clusters` over the deterministic 10% sub-corpus — the
    scale-gate-runnable ground truth for the cluster-resolution family:
    the mirror's recursive closure (and the shingle self-join feeding it)
    runs over 10% of documents, while the Spark side exercises the
    production delta-audit path — filter the session-shared pair
    artifact to sampled endpoints, then re-resolve components on the
    sampled graph (same iterative min-label propagation as the full
    panel). See the section comment for why filtering pairs is exact and
    why components must be re-run."""
    pairs = _truth_pairs(spark, sf_dir)
    comp = D.connected_components(_sample_pair_filter(pairs), "id1", "id2")
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "cluster_id")
        .select(F.col("id").alias("doc_id"), "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


def _tier_attribution_sampled_oracle() -> str:
    from ..registry import resolve_oracle

    return _sampled_docs_sql(resolve_oracle("dedup_tier_attribution"))


@register(
    "dedup_tier_attribution_sampled",
    oracle=_tier_attribution_sampled_oracle,
)
def dedup_tier_attribution_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dedup_tier_attribution` over the deterministic 10% sub-corpus —
    scale-gate ground truth for the cross-tier closure: the mirror's
    three pair tiers + transitive closure run over the sample; the Spark
    side filters the session-shared tiered pair union to sampled
    endpoints, re-resolves components, and reuses the full panel's
    rollup verbatim (``_tier_attribution_rollup``)."""
    tiered = _sample_pair_filter(_tiered_pairs(spark, sf_dir))
    comp = D.connected_components(
        tiered.select("id1", "id2").distinct(), "id1", "id2"
    )
    return _tier_attribution_rollup(tiered, comp)


def _tier_leakage_sampled_oracle() -> str:
    from ..registry import resolve_oracle

    return _sampled_docs_sql(resolve_oracle("split_leakage_tier_audit"))


@register(
    "split_leakage_tier_audit_sampled",
    oracle=_tier_leakage_sampled_oracle,
)
def split_leakage_tier_audit_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`split_leakage_tier_audit` over the deterministic 10% sub-corpus —
    the third sampled scale-gate twin (its full mirror was the single
    most expensive ground truth in the round-11 pair at 88.7 s for
    sf0.1). Same construction as the other twins: filter the shared
    tiered pairs to sampled endpoints, re-resolve components, rerun the
    shared rollup (``_tier_leakage_panel``) over the sampled doc list;
    the mirror replays the full recursive pipeline over the filtered
    corpus. The cluster-aware scheme's zero-leak guarantee holds within
    the sample for the same reason it holds in full: every sampled
    near-dup edge is intra-(sampled-)cluster by construction."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _DEDUP_SAMPLE_MOD == _DEDUP_SAMPLE_REM)
    )
    pairs = _sample_pair_filter(_tiered_pairs(spark, sf_dir))
    comp = D.connected_components(
        pairs.select("id1", "id2").distinct(), "id1", "id2"
    )
    return _tier_leakage_panel(spark, docs, pairs, comp)


def _survivor_sampled_oracle() -> str:
    from ..registry import resolve_oracle

    return _sampled_docs_sql(resolve_oracle("survivor_selection_stats"))


@register(
    "survivor_selection_stats_sampled", oracle=_survivor_sampled_oracle
)
def survivor_selection_stats_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`survivor_selection_stats` over the deterministic 10% sub-corpus —
    the fourth sampled twin (its full mirror: 56.8 s at sf0.1). The
    quality score z is CORPUS-RELATIVE (per-source means/stds), so both
    engines compute it over the SAMPLED corpus — the panel is exactly
    the full panel of the sub-corpus, not a filter of full-corpus
    numbers; `quality_z_df` already takes the doc table as an argument,
    and the mirror's `quality_z_cte` scans transform with the rest."""
    from .text_q import quality_z_df

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _DEDUP_SAMPLE_MOD == _DEDUP_SAMPLE_REM
    )
    pairs = _sample_pair_filter(_tiered_pairs(spark, sf_dir))
    comp = D.connected_components(
        pairs.select("id1", "id2").distinct(), "id1", "id2"
    )
    z = quality_z_df(docs).select(F.col("doc_id").alias("id"), "z")
    return _survivor_rollup(comp, z)
