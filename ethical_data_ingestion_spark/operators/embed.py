"""Model-inference embedder seam: text → ``embedding FLOAT[]``.

The reference creates an ``embedding FLOAT[]`` column it never populates
(``ethical_crawler.py:842``) and imports ``SentenceTransformer`` without
calling it (``ethical_crawler.py:31-34``). This module is that producer
seam, Spark-first: an Arrow-batched ``pandas_udf`` whose model function
is INJECTED — the same injection pattern ``sources/fetch.py`` uses for
its HTTP transport — so tests and the oracle gate run a deterministic
stand-in while a production deployment passes a closure that loads the
real model once per executor (e.g. a sentence-transformers encode).

Scale shape: embedding is a pure map — no shuffle, no driver data path.
Each Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch``) is
one ``model_fn`` call, so GPU/BLAS batching happens naturally; executors
hold one model instance each via lazy closure initialization. Partition
count of the input is the only parallelism knob needed.

The default stand-in, :func:`hashed_projection_model`, is a signed
hashed bag-of-words (feature hashing à la Weinberger et al.): token →
md5 → (bucket, ±1), accumulated into a ``dim``-wide count vector. Two
properties make it the right test double:

* deterministic and engine-mirrorable — every component is a SMALL
  INTEGER (exactly representable in float32), and the identical vector
  is derivable in DuckDB SQL from the same md5 bytes, so downstream
  queries stay HASH-comparable, not just rows-comparable;
* geometry-preserving enough that LSH/IVF recall tests downstream are
  meaningful (duplicate texts map to identical vectors, near-duplicate
  texts to near-collinear ones).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_DIM = 64

# model_fn contract: list[str] -> (n, dim) float ndarray, one row per text.
ModelFn = Callable[[list[str]], np.ndarray]


def hashed_projection_model(dim: int = DEFAULT_DIM) -> ModelFn:
    """Deterministic stand-in model: signed hashed bag-of-words.

    Tokenization is lowercase ASCII-whitespace-split (empties dropped) —
    the exact Python twin of the repo's SQL idiom
    ``string_split(trim(regexp_replace(lower(text),'\\s+',' ','g')),' ')``.
    Per token: ``bucket = int(md5[:8], 16) % dim``,
    ``sign = +1 if int(md5[8], 16) even else -1`` (same hex-slice
    derivations the CMS/LSH oracles already mirror in DuckDB).
    Components are integer counts (cast float32, exact), NOT normalized:
    normalization is left to downstream cosine, keeping every stored
    component engine-exact.
    """

    # ASCII whitespace ONLY, matching what \s means to RE2 (DuckDB) and
    # Java regex (Spark SQL) — Python str.split() would also split on
    # Unicode whitespace (NBSP, U+0085, …) and silently produce different
    # vectors than the SQL twin on such texts (round-5 advice).
    ws = re.compile(r"[ \t\n\r\f\v]+")

    def model(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            for tok in ws.split((t or "").lower()):
                if not tok:
                    continue
                h = hashlib.md5(tok.encode()).hexdigest()
                b = int(h[:8], 16) % dim
                out[i, b] += 1.0 if int(h[8], 16) % 2 == 0 else -1.0
        return out

    return model


def embed_texts(
    df: DataFrame,
    text_col: str = "text",
    model_fn: ModelFn | None = None,
    dim: int = DEFAULT_DIM,
    out_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Append ``out_col: array<float>`` produced by ``model_fn`` over
    ``text_col`` — the producer for the reference's ``embedding FLOAT[]``
    column (``ethical_crawler.py:842``).

    ``model_fn`` is called once per Arrow batch with a list of texts and
    must return an ``(n, dim)`` float array; shape is validated per batch
    so a mis-sized model fails loudly at the first batch, not at an
    unrelated downstream join. ``model_fn=None`` uses the deterministic
    hashed-projection stand-in.

    ``normalize=True`` L2-normalizes JVM-side (``transform`` over the
    array with a fold-computed norm — no second Python hop); zero
    vectors pass through unnormalized rather than dividing by zero.
    """
    model = model_fn or hashed_projection_model(dim)

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        vecs = np.asarray(model(texts.fillna("").tolist()), dtype=np.float32)
        if vecs.shape != (len(texts), dim):
            raise ValueError(
                f"model_fn returned shape {vecs.shape}, expected "
                f"({len(texts)}, {dim})"
            )
        return pd.Series(list(vecs))

    out = df.withColumn(out_col, _embed(F.col(text_col)))
    if normalize:
        emb = F.col(out_col)
        norm = F.sqrt(
            F.aggregate(
                emb.cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        )
        out = out.withColumn(
            out_col,
            F.when(norm > 0, F.transform(emb, lambda x: (x / norm).cast("float")))
            .otherwise(emb),
        )
    return out


def embedding_nnz(col: str | Column) -> Column:
    """Non-zero component count of an embedding array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(c, lambda x: x != 0))


def embedding_norm2(col: str) -> Column:
    """Exact Σx² of column ``col`` as BIGINT — valid for integer-count
    embeddings (the hashed stand-in), where every square is exact in
    double. Built from SQL text: one JVM call instead of one per node of
    the fold."""
    return F.expr(
        f"CAST(aggregate(CAST(`{col}` AS array<double>), 0D, (acc, x) -> acc + x * x) AS BIGINT)"
    )
