"""Span-level (substring) duplication detection (round 4 widening).

``ngram_span_overlap`` — the span-level complement of the set-level
near-dup family (``dedup_q``): instead of asking "do two documents share
MANY shingles" (Jaccard/MinHash/SimHash), it asks "do they share a LONG
CONSECUTIVE run of tokens" — the signal behind substring-level training-
data deduplication (Lee et al., "Deduplicating Training Data Makes
Language Models Better", ACL 2022, which dedupes on 50-token exact spans).
A pair can have low Jaccard yet contain a verbatim 100-token quote; this
operator finds exactly those.

Method (exact, fully relational — a distributed seed-and-chain):

1. k-gram shingles WITH token positions (``text.shingles_with_pos``).
2. Drop shingles with more than ``_OCC_CAP`` total occurrences — the
   self-join cost bound (Σ occ² ≤ cap·Σ occ = cap·corpus-tokens). Rare
   shingles are precisely the informative ones for span evidence; a
   span's interior match on a common shingle may split an island in two,
   never create a false one, so the cap is conservative (span lengths are
   a lower bound). Mirrored identically in the oracle.
3. Self-join on the shingle → match points (doc_a, doc_b, pa, pb) with
   ``doc_a < doc_b``; a shared span of L tokens is L−k+1 match points on
   one DIAGONAL (pa − pb constant) at consecutive pa.
4. Gaps-and-islands per (pair, diagonal): island id = pa − row_number()
   ordered by pa; island of c points = shared span of c+k−1 tokens.
5. Roll up per pair (longest span, span count, total span tokens), top-25
   under a deterministic total order.

Reference basis: the reference's dedup surface is content-hash only
(``ethical_crawler.py`` stores raw JSON keyed by dataset id); this is part
of the north-star LLM-pipeline extension surface (SURVEY §2 #45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..materialize import materialize, shared, shared_value, unpin
from ..operators.text import normalize_text, shingles_with_pos
from ..registry import register

_SPAN_K = 3  # shingle width; detected spans are ≥ k tokens
_OCC_CAP = 24  # max total occurrences for a shingle to seed matches
_TOPN = 25

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@register(
    "ngram_span_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS s
      FROM toks, unnest(range(1, greatest(len(t) - {_SPAN_K - 1}, 1) + 1)) AS u(i)
      WHERE len(t) >= {_SPAN_K}
    ),
    occ AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_OCC_CAP}),
    rare AS (SELECT sh.doc_id, sh.pos, sh.s FROM sh JOIN occ USING (s)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl_id
      FROM m
    ),
    spans AS (
      SELECT doc_a, doc_b, diag, isl_id,
             COUNT(*) + {_SPAN_K - 1} AS span_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, isl_id
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             MAX(span_tokens) AS max_span_tokens,
             COUNT(*) AS n_spans,
             CAST(SUM(span_tokens) AS BIGINT) AS total_span_tokens
      FROM spans GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, max_span_tokens, n_spans, total_span_tokens
    FROM pairs
    ORDER BY max_span_tokens DESC, doc_a, doc_b
    LIMIT {_TOPN}
    """,
)
def ngram_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{25} document pairs by longest shared consecutive token span.

    Shape at 100 TB: the occurrence filter reuses the explode's hash
    partitioning on the shingle (groupBy s → join on s, one exchange
    serves both), and the match self-join joins on the SAME key again —
    no all-pairs stage anywhere; candidate volume is bounded by
    cap · corpus-token-count by construction. Downstream is ONE
    pair-keyed exchange: match points aggregate straight to their doc
    pair, and a linear fold over the sorted (diag, pa) array computes
    all island stats in-row (see the inline comment). The final top-25
    is TakeOrderedAndProject (no global sort)."""
    # Session-shared occ-filtered positional shingle table (round-4
    # verdict item 5): the explode + occurrence filter is the dominant
    # fixed cost of the panel and is a pure function of (corpus, k, cap)
    # — the same persisted-intermediate pattern as dedup_q's shingle-set
    # table, so repeat consumers (bench's min-of-two, future span-family
    # queries) read the pinned table instead of re-parsing the corpus.
    # Inside the build: the explode is pinned separately first because it
    # feeds the occurrence filter AND the join back, and Catalyst does
    # not share common subtrees across joins — unpinned, it runs 3×.
    # Docs shorter than k produce one TRUNCATED shingle; matching on it
    # would report a "span" of k tokens inside a sub-k document (and tie
    # with genuine k-token spans in the top-25), so sub-k docs are out.
    def _build_rare() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        sh = materialize(
            docs.filter(F.size(F.split(normalize_text("text"), " ")) >= _SPAN_K)
            .select(
                "doc_id",
                F.explode(shingles_with_pos("text", _SPAN_K)).alias("ps"),
            )
            .select(
                "doc_id", F.col("ps.pos").alias("pos"), F.col("ps.s").alias("s")
            )
        )
        rare_keys = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") <= _OCC_CAP)
            .select("s")
        )
        # sh stays pinned for session life alongside the shared result —
        # unpin() is a deliberate no-op in local mode, and in disk mode
        # releasing it here would force the still-lazy join to recompute
        # the explode it exists to pin. Repartitioned ON THE JOIN KEY:
        # AQE would otherwise coalesce the filtered table to ONE
        # partition, serializing the downstream self-join's scan (and on
        # a cluster, the pinned blocks would sit on one executor); 8
        # hash partitions on s both parallelize the scan and let the
        # self-join reuse the co-partitioning.
        return sh.join(rare_keys, "s").repartition(8, "s")

    rare = shared(("span_rare", sf_dir, _SPAN_K, _OCC_CAP), spark, _build_rare)
    a = rare.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "s"
    )
    b = rare.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "s"
    )
    # No distinct needed: (doc, pos) rows are unique, so a joined (pa, pb)
    # pair — and with it (diag, pa) — can never repeat within a doc pair.
    m = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("pa") - F.col("pb")).cast("long").alias("diag"),
            F.col("pa").cast("long").alias("pa"),
        )
    )
    # Gaps-and-islands as ONE pair-keyed aggregation + an in-row fold
    # (round-6 rewrite; was window(pair,diag) → groupBy(…,isl_id) →
    # groupBy(pair), i.e. two exchanges of the full match-point stream
    # plus a per-partition sort under the window). Here the match points
    # shuffle ONCE — straight to their pair group, collected and sorted
    # (diag, pa) per pair — and a linear fold over the sorted array
    # computes every island stat in a single pass: a run continues while
    # diag repeats and pa increments, islands of c points are spans of
    # c+k−1 tokens. Per-pair array size is the pair's match-point count,
    # bounded by the occ cap (the same bound the old shape relied on for
    # its window partitions). Measured at sf0.1: 1.43s → 0.50s.
    g = m.groupBy("doc_a", "doc_b").agg(
        F.sort_array(F.collect_list(F.struct("diag", "pa"))).alias("pts")
    )
    pairs = g.select(
        "doc_a",
        "doc_b",
        F.expr(
            f"""
            aggregate(
              pts,
              named_struct('pd', cast(null as long), 'pp', cast(null as long),
                           'cur', cast(0 as long), 'mx', cast(0 as long),
                           'nr', cast(0 as long), 'np', cast(0 as long)),
              (st, p) -> if(st.pd is not null and p.diag = st.pd
                            and p.pa = st.pp + 1,
                named_struct('pd', p.diag, 'pp', p.pa,
                             'cur', st.cur + 1,
                             'mx', greatest(st.mx, st.cur + 1),
                             'nr', st.nr, 'np', st.np + 1),
                named_struct('pd', p.diag, 'pp', p.pa,
                             'cur', cast(1 as long),
                             'mx', greatest(st.mx, cast(1 as long)),
                             'nr', st.nr + 1, 'np', st.np + 1)),
              st -> named_struct('mx', st.mx + {_SPAN_K - 1}, 'nr', st.nr,
                                'tot', st.np + {_SPAN_K - 1} * st.nr)
            )
            """
        ).alias("r"),
    ).select(
        "doc_a",
        "doc_b",
        F.col("r.mx").alias("max_span_tokens"),
        F.col("r.nr").alias("n_spans"),
        F.col("r.tot").alias("total_span_tokens"),
    )
    return pairs.orderBy(
        F.desc("max_span_tokens"), "doc_a", "doc_b"
    ).limit(_TOPN)


# ---------------------------------------------------------------------------
# Suffix-class doubling (round 7): the prefix-doubling primitive behind
# distributed suffix-array construction, used here to produce the
# duplicated-window profile at exponentially growing widths.

_SDP_ROUNDS = 7  # windows 1, 2, 4, ..., 64 tokens (fixture docs <= 99)


def _sdp_oracle() -> str:
    """Generated CTE chain mirroring the class-doubling rounds: round k's
    class id is md5(prev || '|' || prev at +2^(k-1)), with '$' past the
    document end — the rank-doubling recurrence of suffix-array builders
    (Manber–Myers / Flick–Bader), hash classes instead of ordered ranks
    because the PANEL only consumes equality structure. One LEAD per
    round, windows partitioned by doc (never corpus-wide)."""
    ctes = [
        """toks AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS cls0
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )"""
    ]
    prev = "toks"
    for k in range(1, _SDP_ROUNDS):
        h = 1 << (k - 1)
        ctes.append(
            f"""r{k} AS (
      SELECT doc_id, i, {', '.join(f'cls{j}' for j in range(k))},
             md5(cls{k - 1} || '|' ||
                 COALESCE(LEAD(cls{k - 1}, {h})
                          OVER (PARTITION BY doc_id ORDER BY i), '$'))
               AS cls{k}
      FROM {prev}
    )"""
        )
        prev = f"r{k}"
    melt = "\n      UNION ALL\n      ".join(
        f"SELECT {1 << k} AS window_tokens, cls{k} AS cls FROM {prev}"
        for k in range(_SDP_ROUNDS)
    )
    return f"""
    WITH {','.join(ctes)},
    melt AS (
      {melt}
    ),
    sizes AS (
      SELECT window_tokens, cls, CAST(COUNT(*) AS BIGINT) AS s
      FROM melt GROUP BY window_tokens, cls
    )
    SELECT window_tokens,
           CAST(SUM(s) AS BIGINT) AS n_positions,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN s >= 2 THEN s ELSE 0 END) AS BIGINT)
             AS dup_positions,
           ROUND(SUM(CASE WHEN s >= 2 THEN s ELSE 0 END)::DOUBLE
                 / SUM(s)::DOUBLE, 6) AS dup_share,
           CAST(MAX(s) AS BIGINT) AS max_class_size
    FROM sizes
    GROUP BY window_tokens
    ORDER BY window_tokens
    """


@register("suffix_doubling_profile", oracle=_sdp_oracle())
def suffix_doubling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-window profile at exponentially growing widths (1, 2, 4,
    … 64 tokens), read DIRECTLY off the shared generalized-suffix-array
    artifact (:func:`_suffix_global_ranks`): two positions share rank
    ``k_j`` iff their 2^j-token windows (suffix-truncated, sentinel past
    doc end) are verbatim equal — exactly the hash-class equivalence the
    old standalone doubling build computed, so the per-width class
    profile is a pure projection of the ordered ranks (round-8 verdict
    item 3: the separate 36-job md5-doubling build was strictly
    redundant once the global SA existed). The DuckDB oracle still runs
    the independent md5-class doubling — a cross-ALGORITHM check of the
    ordered-rank construction. Complements `ngram_span_overlap`'s
    fixed-k diagonal islands with the full dup-mass-vs-width curve —
    the panel that picks Lee et al.'s span threshold.

    Scale shape: the SA artifact is built once per session (O(log L)
    linear-shuffle rounds, no doc-partitioned window — see
    :func:`_sag_nxt`); the panel itself is one narrow melt + one
    (width, class) aggregation with map-side combine."""
    fin = _suffix_global_ranks(spark, sf_dir)
    melt = fin.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(1 << k).alias("window_tokens"),
                        F.col(f"k{k}").alias("cls"),
                    )
                    for k in range(_SDP_ROUNDS)
                ]
            )
        ).alias("m")
    ).select("m.window_tokens", "m.cls")
    sizes = melt.groupBy("window_tokens", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    dup = F.sum(F.when(F.col("s") >= 2, F.col("s")).otherwise(F.lit(0)))
    return (
        sizes.groupBy("window_tokens")
        .agg(
            F.sum("s").cast("long").alias("n_positions"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            dup.cast("long").alias("dup_positions"),
            F.round(
                dup.cast("double") / F.sum("s").cast("double"), 6
            ).alias("dup_share"),
            F.max("s").cast("long").alias("max_class_size"),
        )
        .orderBy("window_tokens")
    )


# ---------------------------------------------------------------------------
# Corpus-wide suffix ranking (round-7 verdict item 2): the Lee-et-al exact
# cross-document substring-dedup scale path. suffix_doubling_profile's hash
# classes give EQUALITY structure only; this builds ORDERED global suffix
# ranks (Manber-Myers prefix doubling, the round structure distributed
# suffix-array builders use — cf. Flick & Aluru, "Parallel distributed
# memory construction of suffix and LCP arrays", SC'15) so the corpus has a
# true generalized suffix array: adjacency in that order exposes maximal
# duplicated substrings ACROSS documents, which the span/winnowing tiers
# can only approximate.

_SAG_ROUNDS = 7  # REPORT depth: the profile panels report window widths
                 # 2^0..2^_SAG_ROUNDS, and the REGISTERED DuckDB oracles are
                 # generated at this depth (exact whenever the corpus max doc
                 # length is <= 2^7 = 128 tokens — true for every driver
                 # fixture, whose longest document is 100 tokens). The BUILD
                 # depth is NOT capped here: it adapts to the measured corpus
                 # via _sag_depth (round-9 verdict item 1).

def _sag_depth(spark: SparkSession, sf_dir: str) -> int:
    """Doubling depth for the corpus at ``sf_dir``:
    ``max(_SAG_ROUNDS, ceil(log2(max document tokens)))``.

    rank_R equates suffixes agreeing on their first 2^R tokens, so
    R >= log2(maxlen) makes the final ranks exactly the full-suffix
    order. The old fixed ``_SAG_ROUNDS = 7`` capped the whole SA / LCP /
    ``substring_dedup_emit`` family at 128-token documents and raised on
    anything longer; the depth now GROWS with the corpus — logarithmically
    (14 rounds covers 16k-token documents, 27 covers 100M), so the extra
    rounds stay O(log maxlen) even on pathological concatenated web pages.

    The REGISTERED oracle SQL is still generated at ``_SAG_ROUNDS``; on a
    corpus needing a deeper build the gate would therefore hash-mismatch
    LOUDLY (never silently agree on a shared wrong answer — the failure
    mode the old raise guarded against). ``tests/test_spans_longdoc.py``
    re-generates the oracles at the matching depth via the parametrized
    builders below and proves the deep build on a >=4k-token corpus.

    Fixture parquet is immutable within a process (same assumption as
    ``io._SCHEMA_CACHE``), so the one maxlen scan per corpus is paid once
    per session (a ``shared_value``)."""

    def _depth() -> int:
        maxlen = (
            load_table(spark, sf_dir, "documents")
            .agg(F.max(F.size(F.split("text", " "))).alias("m"))
            .first()["m"]
        )
        return max(_SAG_ROUNDS, int(maxlen - 1).bit_length() if maxlen else 0)

    return shared_value(("sag_depth", sf_dir), spark, _depth)


def _sag_nxt(cur: DataFrame, k: int) -> DataFrame:
    """One doubling round's shift step, unmaterialized (plan-pinnable):
    attach the rank of the suffix 2^(k-1) positions ahead, -1 past the
    document end (a short suffix is a strict prefix of any longer suffix
    sharing its window -> sorts first, the Manber-Myers sentinel rule).

    Implemented as a shifted (doc_id, i+h) SELF-EQUI-JOIN — the same
    shape the LCP levels use — NOT a doc-partitioned LEAD window: a
    window puts each document on ONE task, so a pathological multi-GB
    concatenated web document would serialize every round on a single
    straggler. The equi-join hash-partitions on (doc_id, i), spreading
    even a giant document across the cluster (round-8 verdict item 1)."""
    h = 1 << (k - 1)
    nxt = cur.select(
        "doc_id",
        (F.col("i") - h).alias("i"),
        F.col(f"k{k - 1}").alias("_nxt0"),
    )
    return cur.join(nxt, ["doc_id", "i"], "left").withColumn(
        "_nxt", F.coalesce(F.col("_nxt0"), F.lit(-1).cast("long"))
    ).drop("_nxt0")


def _suffix_global_ranks(
    spark: SparkSession, sf_dir: str, sample: tuple[int, int] | None = None
) -> DataFrame:
    """Session-shared generalized-suffix-array table: one row per corpus
    token position with ordered ranks ``k0..kR`` where
    ``R = _sag_depth(spark, sf_dir)`` (rank ``k_j`` orders/equates
    2^j-token suffix windows) and ``rn``, the 0-based
    position in the GLOBAL suffix order (ties between identical
    cross-document suffixes broken by (doc_id, i)).

    Scale shape per round: one doc-partitioned LEAD (the sort on
    (doc_id, i) is reused across rounds), one distinct over (rank, nxt)
    key pairs (map-side combined), one TeraSort dense-ranking of the
    DISTINCT keys (``quality_q._global_ranks`` — range exchange + per-
    partition row_number + broadcast prefix offsets; never a corpus-wide
    window), and one equi-join back. O(log maxlen) rounds total, every
    shuffle linear in positions, every sort partition-local. Rounds pin
    via ``materialize`` (lineage would otherwise double per round) and
    release their predecessor with ``unpin``."""

    R = _sag_depth(spark, sf_dir)

    def build() -> DataFrame:
        from .quality_q import _global_ranks

        docs = load_table(spark, sf_dir, "documents")
        if sample is not None:
            docs = docs.filter(F.col("doc_id") % sample[0] == sample[1])
        toks = docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
        ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
        # Depth adapts to the corpus (``_sag_depth``): rank_R equates
        # suffixes agreeing on their first 2^R tokens, and R is chosen so
        # 2^R >= the longest document — rank_R classes are therefore
        # exactly the identical-full-suffix classes on ANY corpus, not
        # just the <=128-token fixtures the old fixed cap allowed.
        keys0, _ = _global_ranks(toks.select("tok").distinct(), "tok")
        cur = materialize(
            toks.join(keys0.withColumnRenamed("rn", "k0"), "tok").drop("tok")
        )
        prev = cur
        for k in range(1, R + 1):
            withnxt = _sag_nxt(cur, k)
            keys, _ = _global_ranks(
                withnxt.select(f"k{k - 1}", "_nxt").distinct(),
                f"k{k - 1}",
                "_nxt",
            )
            cur = materialize(
                withnxt.join(
                    keys.withColumnRenamed("rn", f"k{k}"),
                    [f"k{k - 1}", "_nxt"],
                ).drop("_nxt")
            )
            unpin(prev)
            prev = cur
        fin, _ = _global_ranks(cur, f"k{R}", "doc_id", "i")
        return fin

    return shared(("suffix_global_ranks", sf_dir, R, sample), spark, build)


def _sag_ctes(build_rounds: int = _SAG_ROUNDS, doc_where: str = "TRUE") -> str:
    """The shared DuckDB CTE chain of the ordered doubling, through
    ``fin`` (doc_id, i, k0..k{build_rounds}, rn): per-round DENSE_RANK
    over (prev rank, lead-or--1) replicates the ordered rank classes
    (numeric values differ across engines — only the induced order and
    equivalence classes feed any output), ROW_NUMBER over
    (k_R, doc_id, i) replicates the global suffix order. Reused by the
    class panel, the LCP-array mirrors, and the span extractor.
    ``build_rounds`` defaults to the registered/report depth; the
    long-doc gate regenerates at the corpus's ``_sag_depth``.
    ``doc_where`` bounds the corpus (the sampled sf1-gate variant)."""
    ctes = [
        f"""toks AS (
      SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE {doc_where})
    )""",
        """r0 AS (
      SELECT doc_id, i, DENSE_RANK() OVER (ORDER BY tok) AS k0 FROM toks
    )""",
    ]
    prev = "r0"
    for k in range(1, build_rounds + 1):
        h = 1 << (k - 1)
        kept = ", ".join(f"k{j}" for j in range(k))
        ctes.append(
            f"""r{k} AS (
      SELECT doc_id, i, {kept},
             DENSE_RANK() OVER (ORDER BY k{k - 1}, _nxt) AS k{k}
      FROM (
        SELECT doc_id, i, {kept},
               COALESCE(LEAD(k{k - 1}, {h})
                        OVER (PARTITION BY doc_id ORDER BY i), -1) AS _nxt
        FROM {prev}
      )
    )"""
        )
        prev = f"r{k}"
    ctes.append(
        f"""fin AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY k{build_rounds}, doc_id, i) AS rn
      FROM {prev}
    )"""
    )
    return ",".join(ctes)


def _sag_oracle(build_rounds: int = _SAG_ROUNDS) -> str:
    """Class panel + adjacency mirror over the shared doubling chain
    (:func:`_sag_ctes`): the two melts replicate the per-width class
    rollup and the adjacent-pair scan. The build chain runs to
    ``build_rounds`` (corpus-adaptive); the REPORTED widths stay pinned
    at 2^0..2^_SAG_ROUNDS, matching the Spark panel."""
    cls_melt = "\n      UNION ALL\n      ".join(
        f"SELECT {1 << k} AS window_tokens, doc_id, k{k} AS cls FROM fin"
        for k in range(_SAG_ROUNDS + 1)
    )
    adj_melt = "\n      UNION ALL\n      ".join(
        f"SELECT {1 << k} AS window_tokens, (a{k} = b{k}) AS eq, xd FROM adj"
        for k in range(_SAG_ROUNDS + 1)
    )
    a_cols = ", ".join(f"a.k{k} AS a{k}" for k in range(_SAG_ROUNDS + 1))
    b_cols = ", ".join(f"b.k{k} AS b{k}" for k in range(_SAG_ROUNDS + 1))
    return f"""
    WITH {_sag_ctes(build_rounds)},
    adj AS (
      SELECT (a.doc_id <> b.doc_id) AS xd, {a_cols}, {b_cols}
      FROM fin a JOIN fin b ON b.rn = a.rn + 1
    ),
    clsm AS (
      {cls_melt}
    ),
    sizes AS (
      SELECT window_tokens, cls, CAST(COUNT(*) AS BIGINT) AS s,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM clsm GROUP BY window_tokens, cls
    ),
    pos_panel AS (
      SELECT window_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(CASE WHEN s >= 2 THEN s ELSE 0 END) AS BIGINT)
               AS dup_positions,
             CAST(SUM(CASE WHEN nd >= 2 THEN s ELSE 0 END) AS BIGINT)
               AS cross_doc_positions,
             CAST(MAX(s) AS BIGINT) AS max_class_size
      FROM sizes GROUP BY window_tokens
    ),
    adjm AS (
      {adj_melt}
    ),
    adj_panel AS (
      SELECT window_tokens,
             CAST(SUM(CASE WHEN eq THEN 1 ELSE 0 END) AS BIGINT)
               AS adj_dup_pairs,
             CAST(SUM(CASE WHEN eq AND xd THEN 1 ELSE 0 END) AS BIGINT)
               AS adj_cross_doc_pairs
      FROM adjm GROUP BY window_tokens
    )
    SELECT p.window_tokens, n_classes, dup_positions, cross_doc_positions,
           max_class_size, adj_dup_pairs, adj_cross_doc_pairs,
           ROUND(cross_doc_positions::DOUBLE
                 / NULLIF(dup_positions, 0)::DOUBLE, 6) AS cross_doc_share
    FROM pos_panel p JOIN adj_panel a USING (window_tokens)
    ORDER BY p.window_tokens
    """


@register("suffix_array_global_profile", oracle=_sag_oracle())
def suffix_array_global_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring panel off the GLOBAL suffix
    order: per window width 2^k (1..{2 ** _SAG_ROUNDS} tokens) the number
    of distinct window classes corpus-wide, the positions sitting in
    duplicated classes, the positions whose class SPANS >= 2 documents
    (exact cross-document duplication — the signal `ngram_span_overlap`
    and `winnowing_overlap_pairs` only approximate), the largest class,
    and — from suffix-array adjacency — how many ADJACENT suffix pairs
    share a 2^k-window prefix (the power-of-2 floor of the classic LCP
    array) and how many of those adjacencies cross documents.

    The expensive artifact (the ranked position table) is the corpus's
    generalized suffix array — an index a production pipeline builds once
    and persists; it is session-shared here (:func:`_suffix_global_ranks`)
    like the chunk/NSW indexes. The panel itself is two melts + two
    aggregations + one rn-adjacency equi-join, all linear."""
    fin = _suffix_global_ranks(spark, sf_dir)
    ks = list(range(_SAG_ROUNDS + 1))
    melt = fin.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(1 << k).cast("int").alias("window_tokens"),
                        F.col(f"k{k}").alias("cls"),
                    )
                    for k in ks
                ]
            )
        ).alias("m"),
    ).select("doc_id", "m.window_tokens", "m.cls")
    sizes = melt.groupBy("window_tokens", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.countDistinct("doc_id").cast("long").alias("nd"),
    )
    dup = F.sum(F.when(F.col("s") >= 2, F.col("s")).otherwise(F.lit(0)))
    xdoc = F.sum(F.when(F.col("nd") >= 2, F.col("s")).otherwise(F.lit(0)))
    pos_panel = sizes.groupBy("window_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        dup.cast("long").alias("dup_positions"),
        xdoc.cast("long").alias("cross_doc_positions"),
        F.max("s").cast("long").alias("max_class_size"),
    )
    a = fin.select(
        "rn",
        F.col("doc_id").alias("_da"),
        *[F.col(f"k{k}").alias(f"a{k}") for k in ks],
    )
    b = fin.select(
        (F.col("rn") - 1).alias("rn"),
        F.col("doc_id").alias("_db"),
        *[F.col(f"k{k}").alias(f"b{k}") for k in ks],
    )
    adj = a.join(b, "rn").withColumn("xd", F.col("_da") != F.col("_db"))
    adjm = adj.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(1 << k).cast("int").alias("window_tokens"),
                        (F.col(f"a{k}") == F.col(f"b{k}")).alias("eq"),
                        F.col("xd"),
                    )
                    for k in ks
                ]
            )
        ).alias("m")
    ).select("m.window_tokens", "m.eq", "m.xd")
    adj_panel = adjm.groupBy("window_tokens").agg(
        F.sum(F.when(F.col("eq"), 1).otherwise(0)).cast("long")
        .alias("adj_dup_pairs"),
        F.sum(F.when(F.col("eq") & F.col("xd"), 1).otherwise(0)).cast("long")
        .alias("adj_cross_doc_pairs"),
    )
    return (
        pos_panel.join(adj_panel, "window_tokens")
        .withColumn(
            "cross_doc_share",
            F.when(
                F.col("dup_positions") > 0,
                F.round(
                    F.col("cross_doc_positions").cast("double")
                    / F.col("dup_positions").cast("double"),
                    6,
                ),
            ),
        )
        .select(
            "window_tokens", "n_classes", "dup_positions",
            "cross_doc_positions", "max_class_size", "adj_dup_pairs",
            "adj_cross_doc_pairs", "cross_doc_share",
        )
        .orderBy("window_tokens")
    )


# ---------------------------------------------------------------------------
# Exact LCP array over the generalized suffix array — completes the
# Lee-et-al substring-dedup path end to end: SA (above) + LCP (here) +
# duplicated-span extraction (below). The LCP of ADJACENT suffixes in SA
# order bounds every duplicate: a cross-document duplicated substring of
# length L forces some adjacent cross-document pair with LCP >= L (the SA
# interval containing both suffixes changes doc_id somewhere inside it).


def _suffix_lcp_pairs(
    spark: SparkSession, sf_dir: str, sample: tuple[int, int] | None = None
) -> DataFrame:
    """Session-shared LCP-array table: one row per adjacent suffix pair
    in global SA order — (doc_a, pos_a, doc_b, pos_b, xd, lcp) with the
    EXACT token LCP.

    LCP via the Manber-Myers level decomposition: walk k from high to
    low; if the level-k ranks at the SHIFTED positions (pos + acc) exist
    and are equal, the 2^k-token windows there match — advance acc by
    2^k. Rank equality at a TRUNCATED window means the suffix tails are
    identical, which can overshoot acc past the document end, so the
    exact LCP is ``least(acc, min(remaining_a, remaining_b))``. Each
    level is two (doc, shifted-pos) equi-joins against the pinned rank
    table — never a token-by-token scan; O(log L) rounds over a table
    linear in corpus positions, pinned per round like the doubling."""

    R = _sag_depth(spark, sf_dir)

    def build() -> DataFrame:
        fin = _suffix_global_ranks(spark, sf_dir, sample)
        lens = fin.groupBy("doc_id").agg(F.max("i").alias("_len"))
        f = fin.join(F.broadcast(lens), "doc_id")
        a = f.select(
            "rn",
            F.col("doc_id").alias("da"),
            F.col("i").alias("ia"),
            F.col("_len").alias("la"),
        )
        b = f.select(
            (F.col("rn") - 1).alias("rn"),
            F.col("doc_id").alias("db"),
            F.col("i").alias("ib"),
            F.col("_len").alias("lb"),
        )
        pairs = materialize(
            a.join(b, "rn")
            .select("da", "ia", "la", "db", "ib", "lb")
            .withColumn("acc", F.lit(0).cast("long"))
        )
        for k in range(R, -1, -1):
            h = 1 << k
            ra = fin.select(
                F.col("doc_id").alias("_rda"),
                F.col("i").alias("_ja"),
                F.col(f"k{k}").alias("_rka"),
            )
            rb = fin.select(
                F.col("doc_id").alias("_rdb"),
                F.col("i").alias("_jb"),
                F.col(f"k{k}").alias("_rkb"),
            )
            prev = pairs
            pairs = materialize(
                pairs.join(
                    ra,
                    (F.col("_rda") == F.col("da"))
                    & (F.col("_ja") == F.col("ia") + F.col("acc")),
                    "left",
                )
                .join(
                    rb,
                    (F.col("_rdb") == F.col("db"))
                    & (F.col("_jb") == F.col("ib") + F.col("acc")),
                    "left",
                )
                .withColumn(
                    "acc",
                    F.when(
                        F.col("_rka").isNotNull()
                        & F.col("_rkb").isNotNull()
                        & (F.col("_rka") == F.col("_rkb")),
                        F.col("acc") + h,
                    ).otherwise(F.col("acc")),
                )
                .select("da", "ia", "la", "db", "ib", "lb", "acc")
            )
            unpin(prev)
        rem = F.least(
            F.col("la") - F.col("ia"), F.col("lb") - F.col("ib")
        ) + F.lit(1)
        return pairs.select(
            F.col("da").alias("doc_a"),
            F.col("ia").alias("pos_a"),
            F.col("db").alias("doc_b"),
            F.col("ib").alias("pos_b"),
            (F.col("da") != F.col("db")).alias("xd"),
            F.least(F.col("acc"), rem).cast("long").alias("lcp"),
        )

    return shared(("suffix_lcp_pairs", sf_dir, R, sample), spark, build)


def _lcp_pairs_ctes(
    build_rounds: int = _SAG_ROUNDS, doc_where: str = "TRUE"
) -> str:
    """DuckDB LCP mirror computed by a DIFFERENT algorithm — direct
    token-by-token comparison of the two suffixes' arrays (first unequal
    offset via a correlated scan) — so the hash gate cross-checks the
    level-decomposition construction against ground truth, not against a
    re-implementation of itself. The scan cap is 2^build_rounds (the
    longest possible common prefix at that depth), generated from the
    SAME constant as the doubling chain. ``doc_where`` must match the
    :func:`_sag_ctes` bound."""
    return f"""adj AS (
      SELECT a.doc_id AS doc_a, a.i AS pos_a,
             b.doc_id AS doc_b, b.i AS pos_b
      FROM fin a JOIN fin b ON b.rn = a.rn + 1
    ),
    tarr AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE {doc_where}),
    lcp_pairs AS (
      SELECT p.doc_a, p.pos_a, p.doc_b, p.pos_b,
             (p.doc_a <> p.doc_b) AS xd,
             CAST(COALESCE(
               (SELECT MIN(g) - 1
                FROM generate_series(1, {1 << build_rounds}) AS s(g)
                WHERE g <= LEAST(len(ta.t) - p.pos_a,
                                 len(tb.t) - p.pos_b) + 1
                  AND ta.t[p.pos_a + g - 1] <> tb.t[p.pos_b + g - 1]),
               LEAST(len(ta.t) - p.pos_a, len(tb.t) - p.pos_b) + 1
             ) AS BIGINT) AS lcp
      FROM adj p
      JOIN tarr ta ON ta.doc_id = p.doc_a
      JOIN tarr tb ON tb.doc_id = p.doc_b
    )"""


def _lcp_hist_oracle(build_rounds: int = _SAG_ROUNDS) -> str:
    return f"""
    WITH {_sag_ctes(build_rounds)},
    {_lcp_pairs_ctes(build_rounds)}
    SELECT lcp,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN xd THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_doc_pairs
    FROM lcp_pairs
    GROUP BY lcp
    ORDER BY lcp
    """


@register("suffix_lcp_histogram", oracle=_lcp_hist_oracle())
def suffix_lcp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of the exact LCP array (adjacent-suffix common-prefix
    lengths in global SA order), split cross-document — THE curve for
    choosing Lee et al.'s dedup span threshold: the count of adjacent
    pairs with lcp >= L upper-bounds (and the cross-doc column exactly
    witnesses) duplicated spans of length L. Spark computes LCP by the
    O(log L)-round level decomposition over the pinned rank table; the
    oracle recomputes every LCP token-by-token from the raw arrays — two
    independent algorithms, one hash."""
    p = _suffix_lcp_pairs(spark, sf_dir)
    return (
        p.groupBy("lcp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("xd"), 1).otherwise(0)).cast("long")
            .alias("cross_doc_pairs"),
        )
        .orderBy("lcp")
    )


_SPAN_TOPN = 25


def _spans_oracle(build_rounds: int = _SAG_ROUNDS) -> str:
    return f"""
    WITH {_sag_ctes(build_rounds)},
    {_lcp_pairs_ctes(build_rounds)}
    SELECT doc_a, pos_a, doc_b, pos_b, lcp AS lcp_tokens
    FROM lcp_pairs
    WHERE xd AND lcp >= 1
    ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
    LIMIT {_SPAN_TOPN}
    """


@register("suffix_cross_doc_spans", oracle=_spans_oracle())
def suffix_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_SPAN_TOPN} exact cross-document duplicated substrings,
    witnessed by adjacent cross-doc suffix pairs: the maximal
    cross-document duplicate of length L always surfaces here (inside
    its SA interval the doc id changes at some adjacency, and that
    adjacent pair has LCP >= L). The exact-substring complement of
    `ngram_span_overlap`'s seed-and-chain tier: no shingle width to
    pick, no occurrence cap — position-exact evidence off the suffix
    array index."""
    p = _suffix_lcp_pairs(spark, sf_dir)
    return (
        p.filter(F.col("xd") & (F.col("lcp") >= 1))
        .select(
            "doc_a", "pos_a", "doc_b", "pos_b",
            F.col("lcp").alias("lcp_tokens"),
        )
        .orderBy(
            F.desc("lcp_tokens"), "doc_a", "pos_a", "doc_b", "pos_b"
        )
        .limit(_SPAN_TOPN)
        .orderBy(
            F.desc("lcp_tokens"), "doc_a", "pos_a", "doc_b", "pos_b"
        )
    )


# ---------------------------------------------------------------------------
# The removal accounting Lee et al. actually ACT on: given the LCP array,
# a position p's longest substring that also occurs elsewhere has length
# max(LCP with SA-prev, LCP with SA-next) — the suffix-array property that
# nearest neighbors in suffix order maximize LCP. Positions with that max
# >= L start removable spans; the union of their intervals prices the
# dedup pass at each threshold.

_REMOVAL_THRESHOLDS = (4, 8, 16, 32)


def _removal_oracle(build_rounds: int = _SAG_ROUNDS) -> str:
    per_thr = []
    for L in _REMOVAL_THRESHOLDS:
        per_thr.append(
            f"""SELECT {L} AS span_threshold, doc_id, pos, pos + mx - 1 AS e
      FROM lcpmax WHERE mx >= {L}"""
        )
    starts = "\n      UNION ALL\n      ".join(per_thr)
    return f"""
    WITH {_sag_ctes(build_rounds)},
    {_lcp_pairs_ctes(build_rounds)},
    ends AS (
      SELECT doc_a AS doc_id, pos_a AS pos, lcp FROM lcp_pairs
      UNION ALL
      SELECT doc_b AS doc_id, pos_b AS pos, lcp FROM lcp_pairs
    ),
    lcpmax AS (
      SELECT doc_id, pos, MAX(lcp) AS mx FROM ends GROUP BY doc_id, pos
    ),
    starts AS (
      {starts}
    ),
    isl AS (
      SELECT span_threshold, doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY span_threshold, doc_id ORDER BY pos, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_isl
      FROM starts
    ),
    grp AS (
      SELECT span_threshold, doc_id, pos, e,
             SUM(new_isl) OVER (PARTITION BY span_threshold, doc_id
                                ORDER BY pos, e
                                ROWS UNBOUNDED PRECEDING) AS g
      FROM isl
    ),
    islands AS (
      SELECT span_threshold, doc_id, MIN(pos) AS s, MAX(e) AS e
      FROM grp GROUP BY span_threshold, doc_id, g
    ),
    per_doc AS (
      SELECT span_threshold, doc_id,
             SUM(e - s + 1) AS covered,
             COUNT(*) AS n_islands
      FROM islands GROUP BY span_threshold, doc_id
    ),
    tot AS (
      SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_docs
      FROM documents
    )
    SELECT p.span_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_docs_affected,
           CAST(SUM(p.n_islands) AS BIGINT) AS n_spans,
           CAST(SUM(p.covered) AS BIGINT) AS covered_tokens,
           t.total_tokens,
           ROUND(1.0 - SUM(p.covered)::DOUBLE / t.total_tokens::DOUBLE, 6)
             AS retained_share
    FROM per_doc p CROSS JOIN tot t
    GROUP BY p.span_threshold, t.total_tokens
    ORDER BY p.span_threshold
    """


def _merge_intervals(starts: DataFrame, part_cols: list[str]) -> DataFrame:
    """Union of possibly-overlapping [pos, e] intervals → disjoint islands
    (gaps-and-islands: running max-end per partition; a start past it
    opens a new island). Shared by the pricing panel and the emit pass."""
    w = Window.partitionBy(*part_cols).orderBy("pos", "e")
    run_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = starts.withColumn(
        "new_isl",
        F.when(F.col("pos") > F.coalesce(run_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "g",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy(*part_cols, "g").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )


def _removal_panel(
    p: DataFrame, docs: DataFrame, exact_share: bool = False
) -> DataFrame:
    """The pricing-panel body shared by the full and the sampled
    queries: LCP pairs ``p`` + the matching corpus slice ``docs`` →
    per-threshold (docs touched, merged spans, covered mass, retained
    share). ``exact_share=True`` computes retained_share with the
    integer half-up (micro-units) instead of ROUND(double, 6) — the
    sampled sf1-gate variant runs at a scale where the double-round
    boundary class is live."""
    ends = p.select(
        F.col("doc_a").alias("doc_id"), F.col("pos_a").alias("pos"), "lcp"
    ).unionByName(
        p.select(
            F.col("doc_b").alias("doc_id"), F.col("pos_b").alias("pos"), "lcp"
        )
    )
    lcpmax = ends.groupBy("doc_id", "pos").agg(F.max("lcp").alias("mx"))
    starts = lcpmax.select(
        "doc_id",
        "pos",
        (F.col("pos") + F.col("mx") - 1).alias("e"),
        F.explode(
            F.filter(
                F.array(*[F.lit(L) for L in _REMOVAL_THRESHOLDS]),
                lambda L: F.col("mx") >= L,
            )
        ).alias("span_threshold"),
    )
    islands = _merge_intervals(starts, ["span_threshold", "doc_id"])
    per_doc = islands.groupBy("span_threshold", "doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("covered"),
        F.count(F.lit(1)).alias("n_islands"),
    )
    tot = docs.agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens")
    )
    share = (
        # half-up on the RETAINED mass directly (not 1e6 minus the
        # rounded covered share: the two differ by 1 micro-unit when the
        # ratio lands exactly on a .5 boundary)
        F.expr(
            "(((2 * (total_tokens - covered_tokens) * 1000000"
            " + total_tokens) div (2 * total_tokens))) / 1000000.0D"
        )
        if exact_share
        else F.round(
            F.lit(1.0)
            - F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        )
    )
    return (
        per_doc.groupBy("span_threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_affected"),
            F.sum("n_islands").cast("long").alias("n_spans"),
            F.sum("covered").cast("long").alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "span_threshold",
            "n_docs_affected",
            "n_spans",
            "covered_tokens",
            "total_tokens",
            share.alias("retained_share"),
        )
        .orderBy("span_threshold")
    )


@register("substring_dedup_removal_stats", oracle=_removal_oracle())
def substring_dedup_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priced substring-dedup pass at thresholds {_REMOVAL_THRESHOLDS}:
    per threshold L, the documents touched, the merged removable spans,
    the covered token mass (union of [p, p + maxLCP(p) - 1] over
    positions whose longest elsewhere-occurring substring is >= L
    tokens), and the retained share — the go/no-go panel for a Lee-et-al
    removal run, computed exactly from the suffix-array index.

    Scale shape: endpoint melt + one (doc, pos) max-aggregation off the
    pinned LCP pairs, then per-threshold interval union as doc-
    partitioned gaps-and-islands windows (running max-end) — no join
    with data width, no corpus rescan (document totals read off the
    corpus scan once). Thresholds share ONE lcpmax table."""
    return _removal_panel(
        _suffix_lcp_pairs(spark, sf_dir),
        load_table(spark, sf_dir, "documents"),
    )


#: deterministic ~10% document sample for the scale-gate pricing variant:
#: the FULL panel's DuckDB ground-truth mirror (suffix doubling + token-
#: scan LCP over every position) exceeds the box's spill disk at sf1; the
#: sampled sub-corpus prices the identical pipeline at gate-runnable
#: mirror cost. Both engines build their index over the SAME sample, so
#: the hash compare stays exact — this is the production estimator shape
#: too (price a removal run on a sample before paying for the corpus).
_SAMPLE_MOD, _SAMPLE_REM = 10, 3


def _removal_sampled_oracle() -> str:
    where = f"doc_id % {_SAMPLE_MOD} = {_SAMPLE_REM}"
    per_thr = []
    for L in _REMOVAL_THRESHOLDS:
        per_thr.append(
            f"""SELECT {L} AS span_threshold, doc_id, pos, pos + mx - 1 AS e
      FROM lcpmax WHERE mx >= {L}"""
        )
    starts = "\n      UNION ALL\n      ".join(per_thr)
    return f"""
    WITH {_sag_ctes(doc_where=where)},
    {_lcp_pairs_ctes(doc_where=where)},
    ends AS (
      SELECT doc_a AS doc_id, pos_a AS pos, lcp FROM lcp_pairs
      UNION ALL
      SELECT doc_b AS doc_id, pos_b AS pos, lcp FROM lcp_pairs
    ),
    lcpmax AS (
      SELECT doc_id, pos, MAX(lcp) AS mx FROM ends GROUP BY doc_id, pos
    ),
    starts AS (
      {starts}
    ),
    isl AS (
      SELECT span_threshold, doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY span_threshold, doc_id ORDER BY pos, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_isl
      FROM starts
    ),
    grp AS (
      SELECT span_threshold, doc_id, pos, e,
             SUM(new_isl) OVER (PARTITION BY span_threshold, doc_id
                                ORDER BY pos, e
                                ROWS UNBOUNDED PRECEDING) AS g
      FROM isl
    ),
    islands AS (
      SELECT span_threshold, doc_id, MIN(pos) AS s, MAX(e) AS e
      FROM grp GROUP BY span_threshold, doc_id, g
    ),
    per_doc AS (
      SELECT span_threshold, doc_id,
             SUM(e - s + 1) AS covered,
             COUNT(*) AS n_islands
      FROM islands GROUP BY span_threshold, doc_id
    ),
    tot AS (
      SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS total_tokens
      FROM documents WHERE {where}
    )
    SELECT p.span_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_docs_affected,
           CAST(SUM(p.n_islands) AS BIGINT) AS n_spans,
           CAST(SUM(p.covered) AS BIGINT) AS covered_tokens,
           t.total_tokens,
           ((2 * (t.total_tokens - CAST(SUM(p.covered) AS BIGINT))
             * 1000000 + t.total_tokens)
            // (2 * t.total_tokens)) / 1000000.0
             AS retained_share
    FROM per_doc p CROSS JOIN tot t
    GROUP BY p.span_threshold, t.total_tokens
    ORDER BY p.span_threshold
    """


@register("substring_dedup_removal_sampled", oracle=_removal_sampled_oracle())
def substring_dedup_removal_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The removal pricing panel over the deterministic
    ``doc_id % {_SAMPLE_MOD} == {_SAMPLE_REM}`` sample — the
    scale-gate-runnable ground truth for the substring family (round-10
    verdict item 3): both engines build the full SA/LCP pipeline over
    the same ~10% sub-corpus, so the mirror's token-scan cost at sf1
    drops to ~sf0.1 levels (which the gate already runs) while
    exercising the identical index, melt, and island-merge code paths at
    10× document scale. retained_share uses the exact integer half-up
    (micro-units), not ROUND(double, 6) — at gate scale the double-round
    boundary class is live.

    Oracle depth bound (mirrors ``_sag_depth``'s): the REGISTERED oracle
    is generated at the fixed ``_SAG_ROUNDS = 7`` (documents ≤ 2^7 = 128
    tokens), while the Spark side builds at
    ``R = _sag_depth(full corpus)`` ≥ 7. The two agree because every
    fixture document fits in 128 tokens; a SAMPLED document longer than
    that would hash-mismatch LOUDLY (the family-wide documented failure
    mode, never silently wrong). On a corpus that outgrows the bound,
    regenerate the oracle at the sample's own
    ``max(7, ceil(log2(max sampled-doc tokens)))`` — the sample's maxlen
    can differ from the full corpus's, so derive it from the sample."""
    sample = (_SAMPLE_MOD, _SAMPLE_REM)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _SAMPLE_MOD == _SAMPLE_REM
    )
    return _removal_panel(
        _suffix_lcp_pairs(spark, sf_dir, sample), docs, exact_share=True
    )


# ---------------------------------------------------------------------------
# The materialized removal pass (round-8 verdict item 1): every dedup tier
# above ends in a stats panel; a training-data user runs dedup to GET the
# deduplicated corpus. This emits it — the surviving text per document at
# the chosen threshold — with per-doc token accounting that must agree
# exactly with `substring_dedup_removal_stats`' covered-mass pricing
# (pinned in tests/test_spans_emit.py). Mirrors the reference's
# materialize-the-result export surface (`ethical_crawler.py:1072-1096`).

_EMIT_THRESHOLD = 8  # tokens; one of _REMOVAL_THRESHOLDS so the pricing
                     # panel priced exactly this pass


def _retained_tokens(spark: SparkSession, sf_dir: str, L: int) -> DataFrame:
    """(doc_id, i, tok) of every ORIGINAL token position surviving the
    substring-dedup removal at threshold ``L``: positions covered by the
    union of [p, p + maxLCP(p) - 1] intervals (maxLCP >= L) are cut.
    Shared by the emit query and the brute-force round-trip test.

    Scale shape: one endpoint melt + (doc, pos) max off the pinned LCP
    pairs, one gaps-and-islands merge over START positions only, one
    sequence-explode of the merged islands (linear in covered mass), and
    one anti equi-join against the token scan. No range join, no
    corpus-wide window."""
    p = _suffix_lcp_pairs(spark, sf_dir)
    ends = p.select(
        F.col("doc_a").alias("doc_id"), F.col("pos_a").alias("pos"), "lcp"
    ).unionByName(
        p.select(
            F.col("doc_b").alias("doc_id"), F.col("pos_b").alias("pos"), "lcp"
        )
    )
    lcpmax = ends.groupBy("doc_id", "pos").agg(F.max("lcp").alias("mx"))
    starts = lcpmax.filter(F.col("mx") >= L).select(
        "doc_id", "pos", (F.col("pos") + F.col("mx") - 1).alias("e")
    )
    islands = _merge_intervals(starts, ["doc_id"])
    covered = islands.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e"))).alias("i")
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    return toks.join(covered, ["doc_id", "i"], "left_anti")


def _emit_oracle(build_rounds: int = _SAG_ROUNDS) -> str:
    L = _EMIT_THRESHOLD
    return f"""
    WITH {_sag_ctes(build_rounds)},
    {_lcp_pairs_ctes(build_rounds)},
    ends AS (
      SELECT doc_a AS doc_id, pos_a AS pos, lcp FROM lcp_pairs
      UNION ALL
      SELECT doc_b AS doc_id, pos_b AS pos, lcp FROM lcp_pairs
    ),
    lcpmax AS (
      SELECT doc_id, pos, MAX(lcp) AS mx FROM ends GROUP BY doc_id, pos
    ),
    starts AS (
      SELECT doc_id, pos, pos + mx - 1 AS e FROM lcpmax WHERE mx >= {L}
    ),
    isl AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY pos, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_isl
      FROM starts
    ),
    grp AS (
      SELECT doc_id, pos, e,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos, e
                                ROWS UNBOUNDED PRECEDING) AS g
      FROM isl
    ),
    islands AS (
      SELECT doc_id, MIN(pos) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g
    ),
    covered AS (
      SELECT doc_id, unnest(range(s, e + 1)) AS i FROM islands
    ),
    retained AS (
      SELECT t.doc_id, t.i, t.tok FROM toks t
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.i = t.i)
    ),
    per_ret AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS retained_tokens,
             COALESCE(string_agg(tok, ' ' ORDER BY i), '') AS retained_text
      FROM retained GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS orig_tokens
      FROM documents
    )
    SELECT t.doc_id, t.orig_tokens,
           COALESCE(r.retained_tokens, 0) AS retained_tokens,
           t.orig_tokens - COALESCE(r.retained_tokens, 0) AS removed_tokens,
           COALESCE(r.retained_text, '') AS retained_text
    FROM tot t LEFT JOIN per_ret r USING (doc_id)
    ORDER BY t.doc_id
    """


@register("substring_dedup_emit", oracle=_emit_oracle())
def substring_dedup_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deduplicated corpus (Lee et al.'s actual deliverable): per
    document the surviving text after cutting every token position whose
    longest elsewhere-occurring substring is >= {_EMIT_THRESHOLD} tokens
    (the union of [p, p + maxLCP(p) - 1] intervals off the suffix-array
    index), plus the token accounting — original, retained, removed.
    Documents fully covered survive as empty strings (the row is the
    audit trail); untouched documents pass through verbatim.

    The removed mass per threshold is exactly what
    `substring_dedup_removal_stats` priced — pinned by test; the
    brute-force round-trip test proves no duplicated window of
    >= {_EMIT_THRESHOLD} original tokens survives the cut anywhere in
    the emitted corpus."""
    retained = _retained_tokens(spark, sf_dir, _EMIT_THRESHOLD)
    per_ret = retained.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("retained_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("retained_text"),
    )
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("orig_tokens")
    )
    return (
        tot.join(per_ret, "doc_id", "left")
        .select(
            "doc_id",
            "orig_tokens",
            F.coalesce(F.col("retained_tokens"), F.lit(0).cast("long")).alias(
                "retained_tokens"
            ),
            (
                F.col("orig_tokens")
                - F.coalesce(F.col("retained_tokens"), F.lit(0).cast("long"))
            ).alias("removed_tokens"),
            F.coalesce(F.col("retained_text"), F.lit("")).alias(
                "retained_text"
            ),
        )
        .orderBy("doc_id")
    )
