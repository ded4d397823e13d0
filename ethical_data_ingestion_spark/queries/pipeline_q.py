"""Training-data pipeline queries: deterministic sampling and cross-source
contamination measurement over the documents corpus.

Two operations every large-scale corpus pipeline runs that the round-1
suite didn't cover:

* **Deterministic stratified sampling** — selecting a reproducible p%%
  of documents per stratum WITHOUT an engine RNG. ``rand()`` is
  seed+partitioning dependent (unstable under repartition, and never
  cross-engine comparable); hashing the primary key is the standard
  production trick: ``md5`` is uniform, engine-independent, and makes the
  sample a pure function of the data. Holdout/eval splits use exactly
  this (hash-mod bucketing) so re-runs and backfills land rows in the
  same split.

* **Cross-source contamination** — shared shingle mass between sources,
  the train/test-leak check (e.g. benchmark data leaking into a training
  crawl). Per-source distinct shingle sets → self-equi-join on shingle →
  overlap coefficient. The join key is the shingle, so the comparison
  count is data-dependent (shared vocabulary), never all-pairs; a
  shingle present in d sources contributes at most d·(d−1)/2 pair rows,
  bounded by the source count squared — trivial next to the corpus scan
  at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize, shared, shared_get, shared_publish

from ..registry import register

#: 16-bit hash-bucket threshold for a ~20% sample: 13107/65536 ≈ 0.19999.
_SAMPLE_BUCKETS = 13107

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "stratified_sample_stats",
    oracle=f"""
    WITH tagged AS (
      SELECT source, n_chars,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               < {_SAMPLE_BUCKETS} AS sampled
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN sampled THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_sampled
    FROM tagged
    GROUP BY source
    ORDER BY source
    """,
)
def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20% deterministic sample per source: bucket = first 16 bits of
    ``md5(doc_id)``, keep buckets below the threshold. One linear pass,
    agg map-side combined; the sample membership of a row never changes
    with partitioning, cluster size, or engine — the property that makes
    hash-sampling the production standard over ``rand()``."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    sampled = bucket < _SAMPLE_BUCKETS
    return (
        docs.withColumn("_s", sampled)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_s").cast("long")).alias("n_sampled"),
            F.sum(F.when(F.col("_s"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("chars_sampled"),
        )
        .orderBy("source")
    )


@register(
    "contamination_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT source,
             list_distinct(list_transform(
               range(1, greatest(len(string_split({_NORM}, ' ')) - 2, 1) + 1),
               i -> array_to_string(string_split({_NORM}, ' ')[i:i+2], ' ')))
               AS shingles
      FROM documents
    ),
    srcsh AS (SELECT DISTINCT source, unnest(shingles) AS s FROM sh),
    sizes AS (SELECT source, COUNT(*) AS n FROM srcsh GROUP BY source),
    shared AS (
      SELECT a.source AS src1, b.source AS src2, COUNT(*) AS n_shared
      FROM srcsh a JOIN srcsh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src1, src2, n_shared,
           ROUND(n_shared::DOUBLE / LEAST(s1.n, s2.n), 6) AS overlap_coef
    FROM shared
    JOIN sizes s1 ON src1 = s1.source
    JOIN sizes s2 ON src2 = s2.source
    ORDER BY src1, src2
    """,
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source contamination: |shared 3-gram shingles| and the
    overlap coefficient shared/min(|A|,|B|) for every source pair that
    shares at least one shingle. The per-source distinct shingle table is
    materialized once (same rationale as the dedup pipelines: three
    structurally different consumers), sized |vocab|·|sources| — vocab
    scale, not corpus scale."""
    from .dedup_q import _doc_sets

    docs = load_table(spark, sf_dir, "documents")
    # r12 (guide §2.4): read the session-shared word-3-gram shingle sets
    # instead of re-normalizing + re-shingling the raw text per run — the
    # per-doc arrays are list-distinct, and the (source, s) DISTINCT below
    # collapses doc-level multiplicity identically either way.
    srcsh = materialize(
        _doc_sets(spark, sf_dir)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.explode("sh").alias("s"))
        .distinct()
    )
    sizes = srcsh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = srcsh.alias("a"), srcsh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src1"), F.col("b.source").alias("src2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("source").alias("src1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("source").alias("src2"), F.col("n").alias("n2"))
    return (
        shared.join(F.broadcast(s1), "src1")
        .join(F.broadcast(s2), "src2")
        .select(
            "src1",
            "src2",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("n1", "n2"), 6
            ).alias("overlap_coef"),
        )
        .orderBy("src1", "src2")
    )


@register(
    "train_test_split_stats",
    oracle="""
    WITH tagged AS (
      SELECT source,
             CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 20 = 0
                  THEN 'test' ELSE 'train' END AS split,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM tagged
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def train_test_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split (~5% test): bucket 16 md5 bits of
    the document key mod 20. The split is a pure function of ``doc_id`` —
    stable under repartitioning, backfills, and engine changes, which is
    what makes hash-splitting the production standard for holdout sets
    (an RNG split re-deals the corpus every run and silently contaminates
    the eval set). One linear pass; token totals per (source, split) are
    the sanity panel a pipeline checks before training."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    split = F.when(bucket % 20 == 0, F.lit("test")).otherwise(F.lit("train"))
    return (
        docs.select(
            "source", split.alias("split"), F.split("text", " ").alias("t")
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("t")).cast("long").alias("total_tokens"),
        )
        .orderBy("source", "split")
    )


#: systematic-sampling stride: one sampled doc per ~2,000 chars of
#: cumulative weight within each source.
_SAMPLE_STRIDE = 2000


@register(
    "weighted_sample_stats",
    oracle=f"""
    WITH cum AS (
      SELECT source, doc_id, n_chars,
             SUM(CAST(n_chars AS DECIMAL(18,0))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS c
      FROM documents
    ),
    tagged AS (
      SELECT source, n_chars,
             floor(c / {_SAMPLE_STRIDE}) > floor((c - n_chars) / {_SAMPLE_STRIDE})
               AS sampled
      FROM cum
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE sampled) AS n_sampled,
           CAST(COALESCE(SUM(CASE WHEN sampled THEN n_chars END), 0) AS BIGINT)
             AS chars_sampled
    FROM tagged
    GROUP BY source
    ORDER BY source
    """,
)
def weighted_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted systematic sampling: walk each source's documents
    in key order accumulating n_chars, and take the document that crosses
    each ``stride``-char boundary — long documents are proportionally more
    likely to straddle a boundary, giving weight-proportional inclusion
    with NO random numbers at all (the complement of the md5-uniform
    sampler in ``stratified_sample_stats``: that one is unweighted).

    The cumulative weight runs in DECIMAL, so it is EXACT and the
    boundary test is pure integer logic — bit-identical across engines
    and partitionings, where a double running sum would be
    order-dependent. The window partitions by source, so the scan stays
    parallel across sources; for a single giant stratum the two-phase
    offset trick from exact_order_percentiles applies."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docs.select(
        "source",
        "n_chars",
        F.sum(F.col("n_chars").cast("decimal(18,0)")).over(w).alias("c"),
    )
    sampled = F.floor(F.col("c") / _SAMPLE_STRIDE) > F.floor(
        (F.col("c") - F.col("n_chars")) / _SAMPLE_STRIDE
    )
    return (
        cum.withColumn("_s", sampled)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_s").cast("long")).alias("n_sampled"),
            F.coalesce(
                F.sum(F.when(F.col("_s"), F.col("n_chars"))), F.lit(0)
            )
            .cast("long")
            .alias("chars_sampled"),
        )
        .orderBy("source")
    )


@register(
    "chunk_dedup_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT source,
             unnest(list_transform(
               range(0, CAST(ceil(len(t) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(t[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS ch
      FROM toks
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT ch) AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT ch)::DOUBLE / COUNT(*), 6) AS dup_frac
    FROM chunks
    GROUP BY source
    ORDER BY source
    """,
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (16-token-chunk) exact dedup stats per source — the
    sub-document granularity C4/RefinedWeb-style pipelines dedup at,
    catching boilerplate repeated across documents that document-level
    fingerprints miss. Documents are flat word soup, so the "paragraph"
    is a fixed 16-token window; chunk identity is the md5 of the joined
    window. Explode is |tokens|/16 rows — corpus-linear with a small
    constant; the distinct-count shuffles only (source, chunk-hash)
    pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size("t") / F.lit(16.0)).cast("int") - 1
                ),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i * 16 + 1, 16))),
            )
        ).alias("ch"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("ch").alias("n_unique"),
            F.round(
                1.0 - F.countDistinct("ch").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


@register(
    "corpus_funnel_stats",
    oracle=f"""
    WITH staged AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             (text IS NOT NULL AND length(text) > 0
              AND lang IN ('en','de','es','fr','zh','ja','pt','ru')
              AND n_chars = length(text)
              AND len(string_split(text, ' ')) >= 3) AS valid,
             doc_id,
             md5({_NORM}) AS fp,
             ROUND(length(replace(text, ' ', ''))::DOUBLE
                   / len(string_split(text, ' ')), 6) AS alen
      FROM documents
    ),
    flagged AS (
      SELECT *,
             (valid AND doc_id = MIN(CASE WHEN valid THEN doc_id END)
                          OVER (PARTITION BY fp)) AS uniq
      FROM staged
    ),
    final AS (
      SELECT *,
             (uniq AND n_tok BETWEEN 8 AND 2000 AND alen <= 10) AS quality
      FROM flagged
    )
    SELECT source,
           COUNT(*) AS n_raw,
           COUNT(*) FILTER (WHERE valid) AS n_valid,
           COUNT(*) FILTER (WHERE uniq) AS n_unique,
           COUNT(*) FILTER (WHERE quality) AS n_quality,
           CAST(COALESCE(SUM(CASE WHEN quality THEN n_tok END), 0) AS BIGINT)
             AS tokens_final
    FROM final
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-cleaning funnel in ONE pass: validation gate →
    exact-dedup survivor selection (keep-lowest-id per content
    fingerprint, counted among valid docs only) → quality screen
    (token-count band + mean-token-length cap), with per-source attrition
    counts at every stage — the panel a training-data pipeline reviews
    before a corpus ships.

    Plan shape: every stage is a boolean COLUMN, not a materialized
    intermediate — one window over the content fingerprint (the dedup
    survivor choice) and one aggregation. Two shuffles total at any
    corpus size, versus the naive four-materializations-and-four-scans
    pipeline; nothing leaves the JVM."""
    from ..operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    valid = (
        F.col("text").isNotNull()
        & (F.length("text") > 0)
        & F.col("lang").isin("en", "de", "es", "fr", "zh", "ja", "pt", "ru")
        & (F.col("n_chars") == F.length("text"))
        & (n_tok >= 3)
    )
    alen = F.round(
        F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tok, 6
    )
    staged = docs.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
        valid.alias("valid"),
        F.md5(normalize_text("text")).alias("fp"),
        alen.alias("alen"),
    )
    w = Window.partitionBy("fp")
    flagged = staged.withColumn(
        "uniq",
        F.col("valid")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("valid"), F.col("doc_id"))).over(w)
        ),
    ).withColumn(
        "quality",
        F.col("uniq") & F.col("n_tok").between(8, 2000) & (F.col("alen") <= 10),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.sum(F.col("uniq").cast("long")).alias("n_unique"),
            F.sum(F.col("quality").cast("long")).alias("n_quality"),
            F.coalesce(
                F.sum(F.when(F.col("quality"), F.col("n_tok"))), F.lit(0)
            )
            .cast("long")
            .alias("tokens_final"),
        )
        .orderBy("source")
    )


@register(
    "lexical_diversity_stats",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (
      SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_types,
           COUNT(*) FILTER (WHERE c = 1) AS n_hapax,
           ROUND(COUNT(*)::DOUBLE / SUM(c), 6) AS type_token_ratio
    FROM counts
    GROUP BY source
    ORDER BY source
    """,
)
def lexical_diversity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals per source: vocabulary size
    (type count), hapax legomena count, and type/token ratio — the
    cheap statistical screens for TEMPLATED text (low diversity) and
    GIBBERISH (diversity ≈ 1). Two-level aggregation: word counts
    combine map-side so the first shuffle carries |vocab|·|sources|
    rows, the second |sources| — both vocabulary-bounded, never
    corpus-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
            F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Approximate query processing: answer an expensive aggregate from a
# deterministic 1/64 sample and PRICE the estimator against ground truth.
# Because the sample is hash-defined (md5 bucket, like every sampler in
# this module), the estimate itself is a pure function of the data — both
# engines compute the identical sample, estimate, and error, so even the
# error column is hash-checked rather than asserted statistically.

_AQP_BUCKETS = 1024  # of 65536: a 1/64 row sample


@register(
    "sampled_revenue_estimate",
    oracle=f"""
    WITH tagged AS (
      SELECT l_extendedprice * (1 - l_discount) AS rev,
             ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                    CAST(l_linenumber AS VARCHAR)), 1, 4))::BIGINT
               < {_AQP_BUCKETS} AS sampled
      FROM lineitem
    )
    SELECT COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS revenue_exact,
           ROUND(CAST(SUM(CASE WHEN sampled THEN CAST(rev AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 * 65536.0 / {_AQP_BUCKETS}, 2) AS revenue_est,
           ROUND(abs(CAST(SUM(CASE WHEN sampled THEN CAST(rev AS DECIMAL(18,4))
                                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                     * 65536.0 / {_AQP_BUCKETS}
                     - CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE))
                 / CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS rel_err
    FROM tagged
    """,
)
def sampled_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-based aggregate estimation (the AQP pattern): total revenue
    from a 1/64 hash-sample, Horvitz-Thompson scaled, next to the exact
    total and the realized relative error.

    Shape at 100 TB: the sample predicate is a pure row-local hash — it
    pushes into the scan's evaluated filter, reads every block but
    aggregates 1/64 of the rows, and needs NO sample table, shuffle, or
    coordination; the whole query is one map-side-combined pass producing
    five scalars. Hash sampling (vs rand()) is what makes the estimate
    reproducible across runs, engines, and partitionings — the property
    the oracle hash-check exploits: the ERROR itself is deterministic.
    Both sums accumulate in DECIMAL(18,4) — exact for a 2-decimal price
    times a 2-decimal discount factor — so neither engine's fold order nor
    rounding mode shows."""
    li = load_table(spark, sf_dir, "lineitem")
    # price has 2 decimals and discount 2, so the product has at most 4 —
    # DECIMAL(18,4) is EXACT (no rounding step for engines to disagree on)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    sampled = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        < _AQP_BUCKETS
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = li.select(
        rev.alias("rev"), sampled.alias("sampled")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("sampled").cast("long")).cast("long").alias("n_sampled"),
        F.sum("rev").cast("double").alias("revenue_exact"),
        (
            F.sum(F.when(F.col("sampled"), F.col("rev")).otherwise(zero))
            .cast("double")
            * (65536.0 / _AQP_BUCKETS)
        ).alias("_est_raw"),
    )
    return agg.select(
        "n_total",
        "n_sampled",
        "revenue_exact",
        F.round("_est_raw", 2).alias("revenue_est"),
        F.round(
            F.abs(F.col("_est_raw") - F.col("revenue_exact"))
            / F.col("revenue_exact"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Training-shard layout planning: assign documents (in stable doc_id
# order) to contiguous token-budget shards and emit the shard manifest —
# the step between "corpus is curated" and "write webdataset-style
# shards for the trainer", where each shard's manifest row is what the
# data loader indexes.

_SHARD_TOKENS = 4096  # token budget per shard


@register(
    "training_shard_manifest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS cum_excl
      FROM d
    ),
    tagged AS (
      SELECT doc_id, n_tok,
             CAST(cum_excl // {_SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM c
    )
    SELECT shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM tagged
    GROUP BY shard_id
    ORDER BY shard_id
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sharding by cumulative token offset: a document
    starting at global token offset t lands in shard floor(t / budget),
    so shards are contiguous doc_id ranges of ~budget tokens, and the
    manifest (docs, tokens, id range per shard) is what a loader needs to
    index the corpus without scanning it.

    The global cumulative offset is the same distributed prefix-sum shape
    as ``price_drift_ks``: range-repartition on doc_id, per-partition
    token subtotals (a |partitions|-row histogram to the driver — the
    scalar-stat pattern), broadcast prefix offsets, partition-local
    cumulative windows. No single-partition window, no data-row driver
    traffic; at 100 TB the manifest rollup is |shards| rows, and the
    assignment column is exactly what a downstream
    ``write.partitionBy("shard_id")`` consumes to lay the shards down."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), "\\s+", " ")), " "))
        .cast("long")
        .alias("n_tok"),
    )
    return _shard_manifest_from_counts(spark, d)


def _shard_assignments_from_counts(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Per-document prefix-sum shard assignment (doc_id, n_tok, shard_id)
    over a (doc_id, n_tok) table — the ``tagged`` half of
    :func:`_shard_manifest_from_counts`, split out so the ``curate``
    product path (:mod:`..curate`) can ``write.partitionBy("shard_id")``
    the corpus with exactly the assignment the manifest rolls up."""
    nparts = max(spark.sparkContext.defaultParallelism // 2, 8)
    parts = materialize(
        d.repartitionByRange(nparts, "doc_id").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    hist = {
        r["pid"]: r["s"]
        for r in parts.groupBy("pid").agg(F.sum("n_tok").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(hist):
        offsets[pid] = acc
        acc += hist[pid]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off long"
        )
    )
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parts.join(off_df, "pid").select(
        "doc_id",
        "n_tok",
        (
            (F.sum("n_tok").over(w) + F.col("off") - F.col("n_tok"))
            / F.lit(_SHARD_TOKENS)
        )
        .cast("long")
        .alias("shard_id"),
    )


def _shard_manifest_from_counts(spark: SparkSession, d: DataFrame) -> DataFrame:
    """Prefix-sum shard assignment + manifest rollup over a
    (doc_id, n_tok) table — shared by the whitespace- and BPE-priced
    manifests (the budgets differ only in what a token is)."""
    tagged = _shard_assignments_from_counts(spark, d)
    return (
        tagged.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# Shard integrity: a two-level Merkle manifest over hash-partitioned
# shards — the checksum chain that lets a 100-TB dataset consumer verify
# any single shard (and the whole corpus) without re-reading everything.

_MERKLE_SHARDS = 16  # top-level shards (doc_id mod)
_MERKLE_SUBS = 256  # sub-buckets (doc_id mod); 16 subs chain into a shard


@register(
    "shard_merkle_manifest",
    oracle=f"""
    WITH rows_h AS (
      SELECT doc_id % {_MERKLE_SHARDS} AS shard,
             doc_id % {_MERKLE_SUBS} AS sub,
             n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':' || text) AS rh
      FROM documents
    ),
    lvl0 AS (
      SELECT shard, sub,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS nb,
             md5(string_agg(rh, '' ORDER BY rh)) AS sub_h
      FROM rows_h GROUP BY shard, sub
    ),
    lvl1 AS (
      SELECT shard,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(nb) AS BIGINT) AS n_bytes,
             md5(string_agg(sub_h, '' ORDER BY sub)) AS shard_hash
      FROM lvl0 GROUP BY shard
    ),
    root AS (
      SELECT md5(string_agg(shard_hash, '' ORDER BY shard)) AS root_hash
      FROM lvl1
    )
    SELECT l.shard, l.n_docs, l.n_bytes, l.shard_hash, r.root_hash
    FROM lvl1 l, root r ORDER BY l.shard
    """,
)
def shard_merkle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle manifest over hash-partitioned corpus shards:
    each document hashes to md5(doc_id:text); sub-bucket hashes chain the
    sorted row hashes; shard hashes chain sub-bucket hashes in bucket
    order; one root hash covers the corpus. A consumer re-verifies any
    single downloaded shard against its manifest row, and the root hash
    is the dataset-version fingerprint that goes in the release card —
    the integrity complement of `dataset_snapshot_chain` (which tracks
    WHAT changed; this proves contents are WHAT the manifest claims).

    Exactness: md5 hex is identical across engines; within-level
    ordering is explicit (row hashes sorted lexicographically — set
    semantics, no row-order dependence; levels chained by bucket id).
    Scale shape: this is the reason for TWO levels — each aggregation
    task holds one sub-bucket's sorted hash list (corpus_size/256 rows),
    then 16 sub-hashes per shard, then 16 shard hashes for the root; at
    100 TB you add levels (mod 4096, mod 65536, ...) so per-task state
    stays bounded instead of concatenating a whole shard's hashes in one
    task. The root fan-in is a 16-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return _merkle_chain(
        docs.select(
            (F.col("doc_id") % _MERKLE_SHARDS).alias("shard"),
            "doc_id",
            "text",
            F.col("n_chars").alias("nb"),
        )
    )


def _merkle_chain(rows: DataFrame) -> DataFrame:
    """(shard, n_docs, n_bytes, shard_hash, root_hash) from (shard, doc_id,
    text, nb) rows: row hash md5(doc_id:text), sorted row hashes chained
    per sub-bucket (doc_id mod ``_MERKLE_SUBS``), sub-hashes chained in
    bucket order per shard, shard hashes chained in shard order into one
    root. Shared by ``shard_merkle_manifest`` and the curate mount's
    ``<out>/merkle``."""
    rows_h = rows.select(
        "shard",
        (F.col("doc_id") % _MERKLE_SUBS).alias("sub"),
        "nb",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).alias("rh"),
    )
    lvl0 = rows_h.groupBy("shard", "sub").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nb").cast("long").alias("nb"),
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("rh")))).alias(
            "sub_h"
        ),
    )
    lvl1 = lvl0.groupBy("shard").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("n_bytes"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "sub_h"))),
                    lambda x: x["sub_h"],
                ),
            )
        ).alias("shard_hash"),
    )
    root = F.broadcast(
        lvl1.agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("shard", "shard_hash"))
                        ),
                        lambda x: x["shard_hash"],
                    ),
                )
            ).alias("root_hash")
        )
    )
    return (
        lvl1.crossJoin(root)
        .select("shard", "n_docs", "n_bytes", "shard_hash", "root_hash")
        .orderBy("shard")
    )


#: cross-validation folds for the balance audit.
_KFOLDS = 5


@register(
    "kfold_balance_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 5, 4))::BIGINT
               % {_KFOLDS} AS fold,
             lang,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    cells AS (
      SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_tok) AS BIGINT) AS tok
      FROM tagged GROUP BY fold, lang
    ),
    folds AS (
      SELECT fold, CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             MAX(n) AS maxlang
      FROM cells GROUP BY fold
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM folds)
    SELECT f.fold, f.n_docs, f.n_tokens, f.n_langs,
           ROUND(f.maxlang::DOUBLE / f.n_docs::DOUBLE, 6) AS maxlang_share,
           ROUND(f.n_docs::DOUBLE * {_KFOLDS}.0 / tot.t::DOUBLE, 6)
             AS size_ratio
    FROM folds f, tot ORDER BY f.fold
    """,
)
def kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation fold balance audit: documents dealt into
    {_KFOLDS} folds by a 16-bit md5 residue of doc_id (hex chars 5–8 —
    deliberately a DIFFERENT residue window than the train/test split's
    chars 1–4, so the two assignments are independent), each fold
    scored on size, token mass, language coverage, and the dominant
    language's share. size_ratio is fold size relative to perfect
    balance (1.0 = exact); a fold drifting past ~1.05 or missing a
    language says the hash residue is interacting with the key space
    and the fold count or residue window must change BEFORE anyone
    trusts the cross-validated numbers.

    Exactness: fold assignment is the sampling family's engine-
    independent md5-residue idiom; every cell is an integer; the two
    shares are mirrored double divisions. Scale shape: one linear pass,
    map-side-combined (fold, lang) cells, then {_KFOLDS}-row rollups."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 5, 4), 16, 10
        ).cast("long")
        % _KFOLDS
    )
    cells = materialize(
        docs.select(
            fold.alias("fold"),
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_tok").cast("long").alias("tok"),
        )
    )
    folds = cells.groupBy("fold").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max("n").alias("maxlang"),
    )
    tot = F.broadcast(folds.agg(F.sum("n_docs").cast("long").alias("t")))
    return (
        folds.crossJoin(tot)
        .select(
            "fold",
            "n_docs",
            "n_tokens",
            "n_langs",
            F.round(
                F.col("maxlang").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("maxlang_share"),
            F.round(
                F.col("n_docs").cast("double")
                * float(_KFOLDS)
                / F.col("t").cast("double"),
                6,
            ).alias("size_ratio"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# BPE-priced shard manifest (round-8 verdict item 2, closing note): the
# whitespace manifest budgets shards in the wrong currency — a trainer's
# context window is measured in TOKENIZER tokens. This variant prices
# the same greedy contiguous sharding with the trained tokenizer's
# per-document counts (word -> symbol count via the shared BPE merge
# replay), so shard budgets equal what the data loader will actually
# pack.


def _shard_bpe_oracle() -> str:
    from .strings_q import _BPE_ROUNDS, _bpe_round_ctes

    s2 = "chr(31) || chr(31)"
    return f"""
    WITH {_bpe_round_ctes(_BPE_ROUNDS)},
    wordsym AS (
      SELECT word,
             CAST(len(string_split(substr(seg, 2, length(seg) - 2), {s2}))
                  AS BIGINT) AS n_sym
      FROM seg{_BPE_ROUNDS}
    ),
    dw AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> ''
    ),
    per_doc AS (
      SELECT dw.doc_id, CAST(SUM(ws.n_sym) AS BIGINT) AS n_tok
      FROM dw JOIN wordsym ws USING (word)
      GROUP BY dw.doc_id
    ),
    d AS (
      SELECT doc.doc_id, COALESCE(p.n_tok, 0) AS n_tok
      FROM documents doc LEFT JOIN per_doc p USING (doc_id)
    ),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS cum_excl
      FROM d
    ),
    tagged AS (
      SELECT doc_id, n_tok,
             CAST(cum_excl // {_SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM c
    )
    SELECT shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM tagged
    GROUP BY shard_id
    ORDER BY shard_id
    """


@register("training_shard_manifest_bpe", oracle=_shard_bpe_oracle)
def training_shard_manifest_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`training_shard_manifest` re-priced in TRAINED-BPE tokens: each
    document's cost is the sum of its words' learned segmentation sizes
    (the shared merge-replay artifact), so every shard holds ~budget
    tokenizer tokens — the unit a trainer's sequence packer consumes.
    Same distributed prefix-sum assignment, same manifest columns;
    documents whose every word is empty cost 0 and still appear in the
    id-contiguous chain."""
    from .strings_q import _doc_bpe_counts

    docs = load_table(spark, sf_dir, "documents")
    per_doc = _doc_bpe_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe").alias("n_tok")
    )
    d = docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("n_tok"), F.lit(0).cast("long")).alias("n_tok")
    )
    return _shard_manifest_from_counts(spark, d)


# ---------------------------------------------------------------------------
# The composed deliverable (round 9): the per-family emits above and in
# dedup_q/spans_q materialize ONE stage each; this materializes the whole
# curation pipeline's decision per document — benchmark holdout, ensemble
# quality gate, cross-tier near-dup survivor selection, 8-gram benchmark
# decontamination — with the FIRST failing stage as the reason code, the
# manifest a training run actually consumes (and the audit trail for
# everything it dropped). Mirrors the reference's materialize-the-result
# export surface (`ethical_crawler.py:1072-1096`) composed with its
# validation gate (`ethical_crawler.py:214-260`).


def _curation_lab_ctes() -> str:
    """CTE chain from the raw corpus through the per-document ``lab``
    decision table (the first-failing-stage reason) — shared by the emit
    oracle and the curated shard-manifest oracle. Opens inside a caller's
    ``WITH RECURSIVE``."""
    from .corpus_q import _BENCH_SOURCE, _DECON_K, _sql_shingles
    from .dedup_q import _TIER_COMP_SQL
    from .text_q import QUALITY_Z_CTE, _ENS_TAU

    return f"""{_TIER_COMP_SQL},
    {QUALITY_Z_CTE},
    elig AS (
      SELECT doc_id, z FROM qz
      WHERE source <> '{_BENCH_SOURCE}' AND z >= {_ENS_TAU}
    ),
    ekeep AS (
      SELECT cluster_id, id AS keeper_id FROM (
        SELECT c.cluster_id, c.id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY e.z DESC, c.id) AS rn
        FROM comp c JOIN elig e ON e.doc_id = c.id) WHERE rn = 1
    ),
    dsh AS ({_sql_shingles(_DECON_K)}),
    dshx AS (SELECT doc_id, source, unnest(shingles) AS s FROM dsh),
    dbench AS (SELECT DISTINCT s FROM dshx WHERE source = '{_BENCH_SOURCE}'),
    tainted AS (
      SELECT DISTINCT t.doc_id FROM dshx t JOIN dbench b ON t.s = b.s
      WHERE t.source <> '{_BENCH_SOURCE}'
    ),
    lab AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             q.z,
             CASE
               WHEN d.source = '{_BENCH_SOURCE}' THEN 'benchmark_holdout'
               WHEN q.z < {_ENS_TAU} THEN 'quality'
               WHEN c.id IS NOT NULL AND k.keeper_id <> d.doc_id
                 THEN 'near_duplicate'
               WHEN t.doc_id IS NOT NULL THEN 'contaminated'
             END AS drop_reason
      FROM documents d
      JOIN qz q ON q.doc_id = d.doc_id
      LEFT JOIN comp c ON c.id = d.doc_id
      LEFT JOIN ekeep k ON k.cluster_id = c.cluster_id
      LEFT JOIN tainted t ON t.doc_id = d.doc_id
    )"""


def _curation_emit_oracle() -> str:
    return f"""
    WITH RECURSIVE {_curation_lab_ctes()}
    SELECT doc_id, source, n_tokens, z,
           (drop_reason IS NULL) AS kept, drop_reason
    FROM lab ORDER BY doc_id
    """


_DECISIONS_KEY = ("curation_decisions",)


def _published_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published per-document curation-decision table, building and
    publishing it on first need — the same pipeline-order discipline as
    dedup's published pair table: a production pipeline PERSISTS its
    decision table once (that is literally what ``cli.py curate`` writes)
    and every downstream consumer (the curated shard manifest, the
    product sharder) reads it; only the producer panel
    (``corpus_curation_emit``) always rebuilds, so decision-pass timing
    stays honest (r12, guide §2.4: don't recompute what the pipeline
    already persisted — the rebuild re-ran the full-corpus 8-gram
    decontamination semi-join per consumer)."""
    return shared(
        (*_DECISIONS_KEY, sf_dir), spark,
        lambda: _curation_decisions(spark, sf_dir),
    )


def _curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, z, kept, drop_reason) — the per-document
    pipeline decision, unordered; shared by the emit query and the curated
    shard manifest (consumers read :func:`_published_decisions`)."""
    from .corpus_q import _BENCH_SOURCE
    from .dedup_q import _tiered_comp
    from .text_q import _ENS_TAU, quality_z_df

    docs = load_table(spark, sf_dir, "documents")
    z = quality_z_df(docs).select("doc_id", F.col("source").alias("_zs"), "z")
    comp = _tiered_comp(spark, sf_dir)
    elig = z.filter(
        (F.col("_zs") != _BENCH_SOURCE) & (F.col("z") >= _ENS_TAU)
    ).select(F.col("doc_id").alias("id"), "z")
    ekeep = (
        comp.join(elig, "id")
        .groupBy("cluster_id")
        .agg(
            (
                -F.max(F.struct(F.col("z"), (-F.col("id")).alias("nid")))["nid"]
            ).alias("keeper_id")
        )
    )
    from .corpus_q import _decon_shingles

    sh = _decon_shingles(spark, sf_dir)
    dbench = F.broadcast(
        sh.filter(F.col("source") == _BENCH_SOURCE).select("s").distinct()
    )
    tainted = (
        sh.filter(F.col("source") != _BENCH_SOURCE)
        .join(dbench, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_t", F.lit(1))
    )
    base = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .join(z.select("doc_id", "z"), "doc_id")
        .join(
            comp.select(F.col("id").alias("doc_id"), "cluster_id"),
            "doc_id",
            "left",
        )
        .join(ekeep, "cluster_id", "left")
        .join(tainted, "doc_id", "left")
    )
    reason = (
        F.when(F.col("source") == _BENCH_SOURCE, F.lit("benchmark_holdout"))
        .when(F.col("z") < _ENS_TAU, F.lit("quality"))
        .when(
            F.col("cluster_id").isNotNull()
            & (F.col("keeper_id") != F.col("doc_id")),
            F.lit("near_duplicate"),
        )
        .when(F.col("_t").isNotNull(), F.lit("contaminated"))
    )
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        "z",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
    )


@register("corpus_curation_emit", oracle=_curation_emit_oracle)
def corpus_curation_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE curated-corpus manifest: every document with its keep/drop
    decision through the full pipeline, reason-coded by the FIRST failing
    stage in pipeline order — ``benchmark_holdout`` (the eval source never
    trains), ``quality`` (frozen-weight ensemble z below the calibrated
    tau), ``near_duplicate`` (cross-tier cluster member that is not the
    best-quality survivor AMONG the docs still alive at this stage —
    survivor choice respects pipeline order, so a cluster whose best doc
    failed quality elects its best *surviving* member), ``contaminated``
    (shares a word-8-gram with the benchmark source). The training corpus
    is ``WHERE kept``; the dropped rows are the per-stage audit trail.

    Scale shape: one quality projection (expression-only), the
    session-shared tiered clusters (bucketed candidates, never all-pairs),
    ONE ``max(struct(z, -id))`` groupBy for the eligible-survivor pick,
    a broadcast semi-join against the small benchmark 8-gram set, and
    four linear left equi-joins keyed on doc/cluster id. No window, no
    self-join, nothing leaves the JVM. Oracle: the identical stage
    composition over the recursive-CTE clusters.

    The FIRST build is published for downstream consumers (the curated
    shard manifest and the product sharder read the persisted decision
    table — pipeline order); every call still constructs and runs the
    full decision pass, so repeat timings measure the pipeline, not a
    cache read (same discipline as ``dedup_jaccard_pairs``)."""
    plan = _curation_decisions(spark, sf_dir)
    if shared_get((*_DECISIONS_KEY, sf_dir), spark) is None:
        return shared_publish(
            (*_DECISIONS_KEY, sf_dir), spark, plan
        ).orderBy("doc_id")
    return plan.orderBy("doc_id")


# ---------------------------------------------------------------------------
# The capstone composition: curate -> tokenize -> shard. The curated shard
# manifest is what a training run actually mounts — only pipeline-kept
# documents, budgeted in TRAINED-tokenizer tokens. Composes the three
# artifacts the family queries built: the per-document curation decision
# (`_curation_decisions`), the BPE merge-replay segmentation
# (`strings_q._bpe_word_segs`), and the distributed prefix-sum sharder
# (`_shard_manifest_from_counts`).


def _shard_curated_oracle() -> str:
    from .strings_q import _BPE_ROUNDS, _bpe_round_ctes

    s2 = "chr(31) || chr(31)"
    return f"""
    WITH RECURSIVE {_curation_lab_ctes()},
    keptd AS (SELECT doc_id FROM lab WHERE drop_reason IS NULL),
    {_bpe_round_ctes(_BPE_ROUNDS)},
    wordsym AS (
      SELECT word,
             CAST(len(string_split(substr(seg, 2, length(seg) - 2), {s2}))
                  AS BIGINT) AS n_sym
      FROM seg{_BPE_ROUNDS}
    ),
    dw AS (
      SELECT doc_id, word
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word <> ''
    ),
    per_doc AS (
      SELECT dw.doc_id, CAST(SUM(ws.n_sym) AS BIGINT) AS n_tok
      FROM dw JOIN wordsym ws USING (word)
      GROUP BY dw.doc_id
    ),
    dk AS (
      SELECT k.doc_id, COALESCE(p.n_tok, 0) AS n_tok
      FROM keptd k LEFT JOIN per_doc p USING (doc_id)
    ),
    ck AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS cum_excl
      FROM dk
    ),
    tagged AS (
      SELECT doc_id, n_tok,
             CAST(cum_excl // {_SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM ck
    )
    SELECT shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM tagged
    GROUP BY shard_id
    ORDER BY shard_id
    """


@register("training_shard_manifest_curated", oracle=_shard_curated_oracle)
def training_shard_manifest_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training run's actual mount: the greedy contiguous shard
    manifest over ONLY the curation-kept documents (holdout, low-quality,
    near-duplicate, and contaminated docs never reach a shard), budgeted
    in trained-BPE tokens — the end-to-end composition of the curation
    manifest, the learned tokenizer, and the distributed prefix-sum
    sharder. A user mounts these shards; the dropped docs live in the
    emit query's audit trail.

    Scale shape: each composed piece keeps its own proven shape (bucketed
    cluster candidates, vocabulary-collapsed token pricing, TeraSort-style
    range prefix sums); the composition adds ONE doc-keyed semi-join.
    Oracle: the identical composition — lab CTE -> kept set -> merge-replay
    word costs -> windowed prefix sum."""
    return _shard_manifest_from_counts(
        spark, _curated_token_counts(spark, sf_dir)
    )


def _curated_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok) of every curation-KEPT document priced in
    trained-BPE tokens — the input both the registered manifest rollup
    and the ``curate`` product path (:mod:`..curate`) shard on, factored
    out so the written corpus partitions by EXACTLY the manifest's
    assignment."""
    from .strings_q import _doc_bpe_counts

    kept = _published_decisions(spark, sf_dir).filter(F.col("kept")).select(
        "doc_id"
    )
    per_doc = _doc_bpe_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe").alias("n_tok")
    )
    return kept.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("n_tok"), F.lit(0).cast("long")).alias("n_tok")
    )
