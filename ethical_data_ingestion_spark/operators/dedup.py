"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine.

This is the core LLM-training-data surface the reference gestures at but
never implements (unused `hashlib`/`cosine_similarity` imports,
``ethical_crawler.py:16,31-34``; unwritten ``embedding FLOAT[]`` column,
``:842``). Design rules for 100 TB:

* NEVER all-pairs. Candidate generation is always an equi-join on a derived
  key (fingerprint, shingle, LSH band) so Spark shuffles on that key and
  the comparison count is data-dependent, not O(n²). The brute-force paths
  exist only as oracles/baselines at test scale.
* Hash choice: md5 (hex string) for anything oracle-compared — bit-identical
  in DuckDB. xxhash64 is Spark-private; fine for production-only paths.
* All row-path logic is Catalyst expressions (array higher-order functions,
  bit ops) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, unpin
from .text import normalize_text, shingles, tokens


# --- exact --------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """Per-group exact-duplicate stats over the normalized-text fingerprint:
    hash-groupBy dedup, the O(n) baseline every pipeline runs first."""
    fp = F.md5(normalize_text(text_col))
    return (
        df.withColumn("fp", fp)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dupes"),
        )
        .orderBy(group_col)
    )


def exact_dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivor set: keep the lowest-id row per identical normalized text —
    deterministic (the reference's `INSERT OR IGNORE` keeps an arrival-order
    first; we make the order explicit, SURVEY §7.5 risk 4). Implemented as
    min(id) per fingerprint + semi join, i.e. two shuffles on narrow keys,
    no row explosion."""
    fp = F.md5(normalize_text(text_col)).alias("fp")
    with_fp = df.withColumn("fp", F.md5(normalize_text(text_col)))
    keep = with_fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(keep, ["fp", id_col], "left_semi").drop("fp")


# --- n-gram Jaccard (exact near-dup) ------------------------------------


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int, pin: bool = True
) -> DataFrame:
    """(id, shingles array, size) — the verification-side representation.

    ``pin=True`` (default) materializes the result (policy seam
    :func:`..materialize.materialize`). Two measured reasons (sf0.1,
    5k docs):

    * ``explode`` over the raw shingle *expression* falls off the fast
      Generate path and re-evaluates the normalize/zip/distinct pipeline —
      0.84s vs 0.16s exploding a stored array column (5×).
    * every dedup pipeline consumes the sets from ≥3 structurally
      *different* subplans (docfreq, prefix index, verification join), so
      ReusedExchange cannot dedupe them; materializing once collapsed
      jaccard_pairs 10.3s → 3.4s end-to-end.

    At 100 TB set ``SPARK_GRAFT_MATERIALIZE=disk|checkpoint`` so the
    shingle table persists durably before the candidate join — one linear
    pass over the corpus instead of three."""
    sets = df.select(
        F.col(id_col),
        shingles(text_col, k).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    return materialize(sets) if pin else sets


def _verify_jaccard(
    candidates: DataFrame, sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: join the two shingle arrays
    and intersect — O(|candidates| · shingles), independent of how loose
    candidate generation was."""
    s1 = sets.select(F.col(id_col).alias("id1"), F.col("sh").alias("sh1"), F.col("n_sh").alias("n1"))
    s2 = sets.select(F.col(id_col).alias("id2"), F.col("sh").alias("sh2"), F.col("n_sh").alias("n2"))
    # 4-decimal rounding via EXACT integer arithmetic, not ROUND(double):
    # round(double, 4) is computed differently by Spark (BigDecimal
    # HALF_UP on the exact double) and DuckDB (scale-multiply in float),
    # so a Jaccard landing on an x.xxxx5 boundary flips by one 4th-decimal
    # ulp between engines — invisible at sf<=0.1, caught by the sf1 hash
    # gate (neardup_source_matrix avg off by 0.0001). Half-up of c/d at
    # 4 decimals == (20000*c + d) div (2*d), exact BIGINTs on both sides.
    d = F.col("n1") + F.col("n2") - F.col("c")
    j4 = F.expr("(20000 * cast(c as bigint) + _d) div (2 * _d)")
    return (
        candidates.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("c", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn("_d", d.cast("long"))
        .withColumn("jaccard", j4.cast("double") / F.lit(10000.0))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
        .orderBy("id1", "id2")
    )


def shingle_id_sets(sets: DataFrame, id_col: str) -> DataFrame:
    """Dictionary-encoded twin of a shingle-set table: the string arrays
    replaced by injectively-assigned BIGINT codes (``n_sh`` carried over
    unchanged). Verification on codes computes the SAME intersection
    sizes — the map is injective, so |A ∩ B| is preserved exactly — while
    the candidate join ships ~8-byte longs instead of ~20-byte shingle
    strings and ``array_intersect`` compares longs instead of hashing
    strings (r12, guide §2.3 "narrower types": verification measured
    2.2× faster at sf0.1).

    Codes are dense ranks within hash-blocks of the vocabulary —
    ``block = pmod(xxhash64(s), 4096)``, ``code = block·2⁴⁰ + row_number
    within block ordered by s`` — so no global window is needed and the
    encoding scales to billion-shingle vocabularies (bound: 2⁴⁰ distinct
    shingles per block). Deterministic given the corpus; only
    intersection SIZES feed results, so code values never surface."""
    sh = sets.select(F.col(id_col), F.explode("sh").alias("s"))
    wv = Window.partitionBy(F.pmod(F.xxhash64("s"), F.lit(4096))).orderBy("s")
    vocab = (
        sh.select("s")
        .distinct()
        .select(
            "s",
            (
                F.pmod(F.xxhash64("s"), F.lit(4096)) * F.lit(1 << 40)
                + F.row_number().over(wv)
            ).alias("sid"),
        )
    )
    return (
        sh.join(vocab, "s")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("sid")).alias("sh"),
            F.count(F.lit(1)).cast("int").alias("n_sh"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    sets: DataFrame | None = None,
    verify_sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT word-k-gram Jaccard pairs ≥ threshold, via prefix filtering
    (the PPJoin family): for J ≥ t, two docs must collide within the first
    ⌊(1−t)·|d|⌋+1 shingles of any canonical ordering — order by ascending
    global document frequency so the indexed prefix is the *rarest* part.

    Candidates = equi-join on prefix shingles (tiny fraction of the
    inverted index, and frequency ordering kills the stop-shingle skew a
    naive index join suffers) with PPJoin's length filter (J ≥ t forces
    t·|d1| ≤ |d2| ≤ |d1|/t — cuts candidates 119k → 43k at sf0.1);
    verification = array_intersect on candidate pairs only. Exactness is
    independent of the candidate heuristics — prefix + length filtering
    provably yield a superset of qualifying pairs — so the DuckDB oracle
    can compute the same set its own way.

    Measured at sf0.1 (5k docs, 31-word vocab → brutal co-occurrence):
    naive inverted-index pair counting 12.2s → prefix-filtered 3s.

    ``sets``: optionally pass a precomputed (materialized) shingle-set
    table — pipelines persist it once and feed every dedup family member
    from it (see ``_shingle_sets``). ``verify_sets``: optionally a
    dictionary-encoded twin (:func:`shingle_id_sets`) used for the
    verification joins only — same exact results, cheaper arrays.
    """
    if sets is None:
        sets = _shingle_sets(df, id_col, text_col, k)
    candidates = jaccard_candidates(sets, id_col, threshold)
    return _verify_jaccard(
        candidates, verify_sets if verify_sets is not None else sets,
        id_col, threshold,
    )


def jaccard_candidates(
    sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Candidate (id1, id2) pairs from PPJoin prefix + length filtering
    over a (materialized) shingle-set table — a provable SUPERSET of the
    J ≥ threshold pairs (see :func:`jaccard_pairs`). Exposed separately
    so stress tests can measure the candidate:pair ratio the filters
    actually deliver (the scalability contract: candidates must track
    true pairs, not the all-pairs square)."""
    sh = sets.select(F.col(id_col), F.col("n_sh"), F.explode("sh").alias("s"))
    # broadcast hint: docfreq is one row per DISTINCT shingle — orders of
    # magnitude smaller than the exploded index it joins against. At true
    # corpus scale (vocab > a few GB) drop the hint and let AQE decide;
    # the join stays an equi-join on `s` either way.
    docfreq = F.broadcast(sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")))
    w = Window.partitionBy(id_col).orderBy("df", "s")
    # Prefix length p = n − ⌈t·n⌉ + 1. NOT floor((1−t)·n)+1: in doubles,
    # 1−0.8 = 0.19999999999999996, so floor((1−t)·10) = 1 instead of 2 —
    # one prefix slot short, which silently DROPPED an exact-boundary
    # J=0.8 pair at sf0.1 (the filter must over-approximate, never
    # under). round(…,9) kills the remaining representation epsilon in
    # t·n before the ceil.
    prefix_len = (
        F.col("n_sh") - F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9)) + 1
    )
    prefix = (
        sh.join(docfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select(id_col, "n_sh", "s")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # length filter: J ≥ t requires ⌈t·max(n1,n2)⌉ ≤ min(n1,n2); the same
    # round-before-ceil guard as prefix_len keeps the bound exact at
    # J-threshold boundaries (over-approximate, never under).
    min_len = lambda n: F.ceil(F.round(F.lit(threshold) * n, 9))  # noqa: E731
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("b.n_sh") >= min_len(F.col("a.n_sh")))
            & (F.col("a.n_sh") >= min_len(F.col("b.n_sh"))),
        )
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"))
        .distinct()
    )


# --- MinHash + LSH ------------------------------------------------------


def _minhash_from_sets(sets: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """Signatures from a (materialized) shingle-set table — shared by the
    public entry point and :func:`minhash_lsh_pairs`, which already holds
    the sets for verification and must not re-run the text pipeline.

    Permutations are Carter-Wegman: ONE md5 per shingle split into two
    32-bit halves (h1, h2), permutation *i* = (h1 + i·h2) mod 2³² — the
    standard trick that replaces ``num_hashes`` cryptographic hashes per
    shingle with one plus ``num_hashes`` integer FMAs, and turns the
    min-agg from 32-char string comparisons into long comparisons.
    Measured at sf0.1 (260k shingle rows × 16 permutations): 4.2s → 2.6s
    end-to-end for the LSH pipeline; at corpus scale the md5 count is the
    dominant CPU term, so the saving is ~16×, not ~1.6×."""
    sh = sets.select(F.col(id_col), F.explode("sh").alias("s"))
    md5 = F.md5("s")
    h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    hashed = sh.select(
        id_col,
        *[
            ((h1 + F.lit(i) * h2) % F.lit(4294967296)).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.8,
    sets: DataFrame | None = None,
    verify_sets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Pipeline: signatures (one shuffle) → band keys (band *j* hashes
    signature rows [j*r, (j+1)*r); docs sharing ANY band collide — classic
    banding catches Jaccard ≳ (1/b)^(1/r)) → self-equi-join on (band idx,
    band key) → distinct candidates → exact-Jaccard verification restricted
    to candidates. At 100 TB the band join shuffles |docs|·bands small rows
    and verification touches only candidates — the standard scalable shape.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently drop hashes and weaken the banding "
            "guarantee"
        )
    if sets is None:
        sets = _shingle_sets(df, id_col, text_col, k)
    sig = _minhash_from_sets(sets, id_col, num_hashes)
    candidates = minhash_band_candidates(sig, id_col, num_hashes, bands)
    return _verify_jaccard(
        candidates, verify_sets if verify_sets is not None else sets,
        id_col, threshold,
    )


def _banded(sig: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_idx, band_key) rows from a signature table — band j's key
    is the md5 of its comma-joined signature rows. The single definition
    both candidate generators (self-join and cross) share, so the band-key
    hashing cannot silently diverge between them or from the oracle
    fragment that mirrors it."""
    rows = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"h{j * rows + r}") for r in range(rows)])
        ).alias(f"b{j}")
        for j in range(bands)
    ]
    return sig.select(F.col(id_col), *band_cols).select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"b{j}") for j in range(bands)])).alias(
            "band_idx", "band_key"
        ),
    )


def minhash_band_candidates(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Candidate pairs from LSH banding over a signature table (docs
    sharing ANY band key collide) — exposed separately so stress tests
    can measure band-collision volume against verified pairs."""
    banded = _banded(sig, id_col, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2"))
        .distinct()
    )


def minhash_band_candidates_cross(
    sig_new: DataFrame, sig_index: DataFrame, id_col: str,
    num_hashes: int, bands: int
) -> DataFrame:
    """Band-collision candidates BETWEEN two signature tables — the
    delta-ingest shape: a new batch probes the existing corpus index
    without any index-side self-join. Returns ``(id1, id2)`` with id1
    from ``sig_new`` and id2 from ``sig_index``; the sides are disjoint
    by construction so no id-ordering predicate is needed.

    At 100 TB this is the whole point of keeping the band table as a
    persistent artifact: ingesting a 0.1 % daily delta costs a band join
    of |delta|·bands rows against the stored index bands — not a rebuild
    of the corpus-wide self-join."""
    a = _banded(sig_new, id_col, num_hashes, bands).alias("a")
    b = _banded(sig_index, id_col, num_hashes, bands).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )


# --- SimHash ------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    sets: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """32-bit SimHash signatures over the distinct word-k-gram shingle set,
    computed in ONE narrow pass (zero shuffle): each shingle is md5-hashed
    ONCE (first 8 hex chars as uint32 — oracle-reproducible) into a
    per-row hash array, then a single ``aggregate`` fold accumulates the
    32 signed bit-sums Σ(2·bit_b(h)−1) and its finish lambda packs them
    into the signature. The hash projection lives INSIDE the fold's input
    expression, so it is evaluated once per shingle — unlike the naive
    array form, where Catalyst's projection collapse inlined a signature
    subexpression into every per-bit use and re-ran the md5 pipeline 32×
    (measured 60s → 2s at sf0.01). This fold replaces the round-5
    explode + 32-way groupBy shape: same results, but no explode row
    blow-up and no aggregation exchange (measured 1.21s → 0.53s for the
    multimodal panel's 95k chunks at sf0.1).

    Shingles, not tokens: the fixture vocabulary is ~31 words, so
    distinct-token feature sets are nearly identical across documents and
    token-SimHash degenerates (measured: 15k of 125k pairs within Hamming 3
    at sf0.01).

    ``carry``: extra columns of ``sets`` to keep on the signature rows
    (e.g. a modality tag), so downstream consumers need no join back.
    """
    if sets is None:
        sets = _shingle_sets(df, id_col, text_col, k)
    sig = F.expr(
        """
        aggregate(
          transform(sh, t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as long)),
          array_repeat(cast(0 as long), 32),
          (acc, h) -> zip_with(acc, sequence(0, 31),
                               (a, b) -> a + (shiftright(h, cast(b as int)) & 1) * 2 - 1),
          acc -> aggregate(
                   zip_with(acc, sequence(0, 31),
                            (s, b) -> if(s > 0,
                                         shiftleft(cast(1 as long), cast(b as int)),
                                         cast(0 as long))),
                   cast(0 as long), (x, y) -> x + y)
        )
        """
    )
    # empty shingle sets produce no signature row — identical to the old
    # explode form, where an empty array vanished before the groupBy
    return sets.filter(F.size("sh") > 0).select(
        F.col(id_col), *[F.col(c) for c in carry], sig.alias("sig")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    sets: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation blocks on signature bytes (pigeonhole: distance ≤3
    over 4 blocks ⇒ some block equal) → equi-join per block, then exact
    Hamming check via ``bit_count(xor)``. No n² comparison.

    ``carry`` columns of ``sets`` ride along on each side of the pair as
    ``<col>1`` / ``<col>2`` — candidates stay self-contained, no join back
    to the asset table.
    """
    # Pin the signature table (|docs| rows, 8 B sigs) before the block
    # self-join: the fold pipeline is narrow — no exchange — so without a
    # pin BOTH join sides would recompute it from the raw sets (the old
    # groupBy form got this sharing for free via ReuseExchange on its
    # aggregation shuffle; the fold must buy it with one explicit pin).
    sigs = materialize(
        simhash_signatures(df, id_col, text_col, sets=sets, carry=carry)
    )
    return (
        simhash_block_candidates(sigs, id_col, carry=carry)
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id1", "id2")
    )


def simhash_block_candidates(
    sigs: DataFrame, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Distinct candidate pairs (id1, id2, hamming) from 8-bit block
    pigeonholing over a signature table — pre-threshold, so stress tests
    can measure block-collision volume against surviving pairs."""
    blocks = sigs.select(
        id_col,
        "sig",
        *[F.col(c) for c in carry],
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), j * 8).bitwiseAND(255)
                    for j in range(4)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
            *[F.col(f"a.{c}").alias(f"{c}1") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}2") for c in carry],
        )
        .distinct()
    )


# --- duplicate-cluster resolution (connected components) ----------------


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int = 25,
    n_edges: int | None = None,
) -> DataFrame:
    """Connected components over a pair list via min-label propagation:
    every node ends up labeled with the smallest id reachable from it —
    the canonical cluster id (and survivor choice) for dedup groups.

    Iterative relaxation: each round takes min(own label, neighbors'
    labels); converges in O(component diameter) rounds — near-dup clusters
    are shallow (stars/chains of a few hops), so this terminates in a
    handful of jobs even at corpus scale. Self-loops are folded into the
    adjacency once so each round is exactly ONE equi-join + min-agg
    (shuffle keyed on node id); convergence is detected from the label sum
    (labels only ever decrease, so the sum is strictly monotone until the
    fixpoint) — a cheap agg over the checkpointed labels instead of a
    second join. The materialization seam (default ``localCheckpoint``)
    cuts the plan lineage so round N doesn't replay rounds 1..N-1. The
    driver only sees one scalar per round, never row data.

    ``n_edges``: pass the (approximate) edge count if the caller already
    knows it to skip the sizing ``count()`` — it only sizes partitioning. Raises
    ``RuntimeError`` if the propagation hasn't converged after
    ``max_iter`` rounds (component diameter > ``max_iter``) — a silently
    truncated run would return WRONG cluster ids.
    """
    und = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # size the iteration to the graph, not the session default: near-dup
    # edge lists are typically tiny relative to the corpus, and each
    # iteration pays per-partition task overhead × rounds. ~100k edges per
    # partition; grows with the graph at scale.
    if n_edges is None:
        n_edges = und.count()
    default_par = und.sparkSession.sparkContext.defaultParallelism
    n_parts = max(1, min(default_par, n_edges // 100_000 + 1))
    nodes = und.select(F.col("a").alias("id")).distinct()
    # adjacency + self-loop per node: min over bl then covers own label too,
    # removing the per-round left join against the previous labels
    adj = materialize(
        und.unionByName(nodes.select(F.col("id").alias("a"), F.col("id").alias("b")))
        .repartition(n_parts, "b")
    )
    labels = materialize(nodes.withColumn("label", F.col("id")))
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        prev_labels = labels
        labels = materialize(
            adj.join(
                labels.select(F.col("id").alias("b"), F.col("label").alias("bl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bl").alias("label"))
            .select(F.col("a").alias("id"), "label")
        )
        # the previous round has no consumers once the new pin exists —
        # release it so disk-mode loops stay O(1) in pinned state
        unpin(prev_labels)
        # decimal(38,0) sum: exact at any id magnitude, no overflow
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds (a component's diameter exceeds it); "
            "raise max_iter — a truncated run would return wrong cluster ids"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
