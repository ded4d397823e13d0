"""Text-analysis operators for the documents table.

Realizes the reference's declared-but-unimplemented ML/text surface
(SURVEY #45: `tiktoken`/`SentenceTransformer` imported but never called,
``ethical_crawler.py:31-34``) as first-class columnar operators: language
ID, quality scoring, token counting, fingerprinting. Everything is a
Catalyst expression (split / filter / transform / regexp / md5) — no Python
UDFs, so the hot path stays inside whole-stage codegen and scales linearly
with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram-free language-ID
#: heuristic. Order matters: ties break toward the earlier language.
LANG_STOPWORDS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "to"]),
    ("de", ["der", "die", "das", "und", "ist"]),
    ("es", ["el", "la", "de", "y", "que"]),
    ("fr", ["le", "la", "et", "les", "des"]),
]

#: BPE-ish tokenizer regex: word pieces, digit runs, or single symbols.
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (documents are space-separated)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def n_tokens(col: str | Column) -> Column:
    return F.size(tokens(col))


def n_tokens_bpe(col: str | Column) -> Column:
    """Token count under the BPE-ish regex — the `tiktoken`-shaped counter
    (SURVEY #45) without the model dependency. ``regexp_extract_all`` has
    identical semantics in DuckDB for the oracle mirror."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0)))


def stopword_count(col: str | Column, stopwords: list[str]) -> Column:
    """Number of tokens that are stopwords — array `filter`, JVM-side."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t)))


def stopword_ratio(col: str | Column, stopwords: list[str]) -> Column:
    """Stopword tokens / total tokens, rounded for oracle comparability."""
    return F.round(
        stopword_count(col, stopwords).cast("double") / n_tokens(col).cast("double"), 6
    )


def avg_token_len(col: str | Column) -> Column:
    """Mean token length = (chars - spaces) / tokens; a standard cheap
    quality signal (gibberish and boilerplate skew it)."""
    c = F.col(col) if isinstance(col, str) else col
    non_space = F.length(F.regexp_replace(c, " ", ""))
    return F.round(non_space.cast("double") / n_tokens(col).cast("double"), 6)


def lang_guess(col: str | Column) -> Column:
    """Stopword-vote language ID. Scores each language by stopword hits;
    argmax with ties toward the LANG_STOPWORDS order; 'und' (undetermined)
    when no list scores > 0. Pure `when` chain → identical CASE in SQL."""
    scores = [(lang, stopword_count(col, sws)) for lang, sws in LANG_STOPWORDS]
    best = None
    for lang, score in scores:
        others = [s for lg, s in scores if lg != lang]
        # wins when it scores > 0 and no other language scores higher;
        # the when-chain order gives earlier languages the tie.
        cond = (score > 0) & (score >= F.greatest(*others))
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def normalize_text(col: str | Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def fingerprint(col: str | Column) -> Column:
    """Content fingerprint: md5 of the normalized text (md5 is bit-identical
    across Spark and DuckDB, unlike xxhash64). For near-dup work use the
    shingle pipeline in operators/dedup.py instead."""
    return F.md5(normalize_text(col))


def shingles(col: str | Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct), the MinHash/Jaccard input.

    Built from k FIXED ``slice``s zipped together (shingle i = zip row i
    joined by spaces; ``concat_ws`` drops the nulls arrays_zip pads with,
    which also yields the truncated final shingle for docs shorter than
    k). The obvious per-index form — ``transform(sequence(1, n-k+1),
    i -> array_join(slice(toks, i, k)))`` — materializes a k-array copy
    per position and measured ~1.8 ms/doc at sf0.1 (9 s for 5k docs,
    re-evaluated per branch); this form is ~8× faster.
    """
    toks = tokens(normalize_text(col))
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(1))
    parts = [F.slice(toks, i + 1, length) for i in range(k)]
    zipped = F.arrays_zip(*parts)
    return F.array_distinct(
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(k)]),
        )
    )


def shingles_with_pos(col: str | Column, k: int = 3) -> Column:
    """Ordered word k-gram shingles WITH their 1-based token position:
    ``array<struct<pos:int, s:string>>`` — the input for span-level
    (substring) duplication detection, where WHERE a shingle sits matters
    as much as whether it occurs.

    Same zip-of-k-fixed-slices construction as :func:`shingles` (measured
    ~8× faster than the per-index ``transform``+``slice`` form), but keeps
    order and duplicates and attaches the index: a run of consecutive
    positions matching another document on a constant diagonal is a shared
    token span."""
    toks = tokens(normalize_text(col))
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(1))
    parts = [F.slice(toks, i + 1, length) for i in range(k)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped,
        lambda s, i: F.struct(
            (i + 1).cast("int").alias("pos"),
            F.concat_ws(" ", *[s.getField(str(j)) for j in range(k)]).alias("s"),
        ),
    )


#: PII patterns, applied in order. Deliberately conservative/high-precision
#: shapes (a training-data pipeline prefers false negatives it can catch
#: with a second model-based pass over mangling ordinary numbers): emails,
#: North-American-style phone numbers with separators, SSN-style triples,
#: and 13-19-digit card-like runs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"(?:\+?\d{1,2}[\s.-])?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b(?:\d[ -]?){13,19}\b", "<CARD>"),
]


def redact_pii(col: str | Column) -> Column:
    """Redact PII spans with typed placeholders — the scrubbing pass every
    LLM-training-data pipeline runs before text leaves the quarantine zone.

    A chain of ``regexp_replace`` Catalyst expressions (one per pattern,
    applied in PII_PATTERNS order, so e.g. an email is consumed before the
    phone pattern can see its digits): JVM-side regex over the whole
    corpus, no Python in the row path. The fixture corpus contains no PII
    by construction, so this operator is verified by unit tests on
    adversarial literals rather than a fixture query (same policy as the
    gated multimodal decode)."""
    c = F.col(col) if isinstance(col, str) else col
    for _name, pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_counts(col: str | Column) -> list[Column]:
    """Per-pattern match counts (pre-redaction) for the audit panel:
    ``regexp_count`` per PII class, aliased ``n_<class>``. Run on the SAME
    pass as :func:`redact_pii` so auditing costs no extra scan."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pattern)).alias(f"n_{name}")
        for name, pattern, _token in PII_PATTERNS
    ]


def shingles_raw(col: str | Column, k: int = 2) -> Column:
    """Word k-gram array WITH duplicates over the raw (un-normalized)
    token stream — the input for repetition/frequency analysis, where
    multiplicity is the signal (contrast :func:`shingles`, which
    deduplicates for set-similarity). Same zip construction, no
    ``array_distinct``."""
    toks = tokens(col)
    n = F.size(toks)
    length = F.greatest(n - (k - 1), F.lit(1))
    parts = [F.slice(toks, i + 1, length) for i in range(k)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(k)]),
    )


#: HTML entities worth decoding without a parser dependency — the handful
#: that dominate real crawl text. Applied after tag stripping.
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    # standard entity-decode ordering: '&amp;' LAST, so double-encoded
    # text ('&amp;lt;') decodes to the literal '&lt;', not '<'
    ("&amp;", "&"),
]


def strip_html(col: str | Column) -> Column:
    """Boilerplate-strip an HTML column to text: drop <script>/<style>
    subtrees wholesale (their text is never prose), strip remaining tags
    and comments, decode the common entities, and collapse whitespace.

    The reference imports BeautifulSoup but never calls it
    (ethical_crawler.py:30 — the vestigial HTML-parse surface); crawl
    pipelines need this as a bulk operator, so it is built from chained
    ``regexp_replace`` Catalyst expressions — JVM-side regex, no Python
    worker, stays inside whole-stage codegen. A regex pass is the
    C4/CommonCrawl-style 80% answer; a DOM-accurate extraction would be a
    Pandas-UDF escape hatch on the same column."""
    c = F.col(col) if isinstance(col, str) else col
    # (?is): case-insensitive, dot matches newline. Lazy body up to the
    # matching close tag.
    c = F.regexp_replace(c, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for entity, repl in _HTML_ENTITIES:
        c = F.regexp_replace(c, entity, repl)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def extract_links(col: str | Column) -> Column:
    """All href targets of an HTML column as an array<string> — the
    link-graph edge extractor of a crawl pipeline (feeds the frontier and
    PageRank-ish scoring). ``regexp_extract_all`` with a capture group,
    JVM-side; handles single/double/unquoted attribute values."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(
        c, F.lit(r"""(?i)href\s*=\s*["']?([^"'\s>]+)"""), F.lit(1)
    )
