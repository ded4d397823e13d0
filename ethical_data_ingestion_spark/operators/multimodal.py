"""Multimodal (binary-column) operators for the training-data pipeline.

The reference's latent ML surface stops at an unwritten ``embedding FLOAT[]``
column (``ethical_crawler.py:842``) and declared-but-unused media/file-format
plumbing (``ethical_crawler.py:20-30``, ``file_format`` values at
``:402,552,661,743``). This module realizes the multimodal half of that
surface Spark-first: image/audio/video payloads are opaque ``binary``
columns with typed metadata, and all per-asset compute (frame sampling,
byte-level features) runs as Arrow-batched ``mapInPandas`` over
whatever partitioning the asset table already has — no shuffle is ever
introduced by these operators, so they scale linearly with executors at
100 TB.

Codec-free by design: no image/audio decoder is used. Schemas, batch
iteration, UDF signatures, frame chunking and feature vectors all operate
on the raw bytes; :func:`byte_features` is the featurization path.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MODALITIES = ("image", "audio", "video")

#: Fixed chunk size for frame sampling: one "frame" = 256 payload bytes.
FRAME_BYTES = 256

#: Byte-histogram feature dimensionality (256 byte values / 16 per bin).
HIST_BINS = 16

ASSET_SCHEMA = (
    "asset_id bigint, modality string, content binary, "
    "size_bytes bigint, content_sha256 string"
)

FRAME_SCHEMA = (
    "asset_id bigint, modality string, n_frames bigint, "
    "first_frame_len bigint, last_frame_len bigint"
)

FEATURE_SCHEMA = (
    f"asset_id bigint, modality string, features array<double>, "
    f"byte_entropy double"
)


def as_assets(docs: DataFrame) -> DataFrame:
    """documents → multimodal asset table.

    Deterministic synthesis (the fixtures carry no real media): payload =
    UTF-8 bytes of ``text``; modality = round-robin on ``doc_id``. Metadata
    (size, content hash) is computed JVM-side from the binary — the exact
    pattern a real ingest would use to type binary blobs coming off a
    parquet/tar scan. ``sha2`` on the bytes doubles as the exact-dedup key
    for media, where text normalization does not apply.
    """
    content = F.encode(F.col("text"), "UTF-8")
    modality = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        content.alias("content"),
        F.octet_length(content).cast("long").alias("size_bytes"),
        F.sha2(content, 256).alias("content_sha256"),
    )


def sample_frames(assets: DataFrame, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Chunk each binary payload into fixed-size frames (video-frame-sample
    / audio-window shape) and report per-asset frame geometry.

    Runs as ``mapInPandas`` over the existing partitioning: narrow, Arrow
    batch in / Arrow batch out, zero shuffle. The chunking touches the real
    bytes (slices the buffer), standing in for a codec's frame iterator; a
    real decoder drops into the same loop body.
    """

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for aid, modality, content in zip(
                pdf["asset_id"], pdf["modality"], pdf["content"]
            ):
                buf = bytes(content)
                chunks = [
                    buf[i : i + frame_bytes]
                    for i in range(0, len(buf), frame_bytes)
                ] or [b""]
                frames.append(
                    (aid, modality, len(chunks), len(chunks[0]), len(chunks[-1]))
                )
            yield pd.DataFrame(
                frames,
                columns=[
                    "asset_id",
                    "modality",
                    "n_frames",
                    "first_frame_len",
                    "last_frame_len",
                ],
            )

    return assets.select("asset_id", "modality", "content").mapInPandas(
        chunk, schema=FRAME_SCHEMA
    )


def byte_features(assets: DataFrame, bins: int = HIST_BINS) -> DataFrame:
    """Per-asset byte-level features: normalized ``bins``-bucket histogram
    over byte values plus Shannon entropy (bits/byte).

    This is the deterministic stand-in for a media feature extractor
    (embedding model / spectral features): same Arrow-batched ``mapInPandas``
    plumbing, same ``array<double>`` output shape, so swapping the body for
    a real model changes nothing upstream or downstream. Entropy over raw
    bytes is itself a useful pipeline signal (compressed/encrypted ≈ 8.0,
    text ≈ 4-5).
    """
    width = 256 // bins

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for aid, modality, content in zip(
                pdf["asset_id"], pdf["modality"], pdf["content"]
            ):
                buf = np.frombuffer(bytes(content), dtype=np.uint8)
                if buf.size == 0:
                    out.append((aid, modality, [0.0] * bins, 0.0))
                    continue
                counts = np.bincount(buf, minlength=256).astype(np.float64)
                hist = counts.reshape(bins, width).sum(axis=1) / buf.size
                p = counts[counts > 0] / buf.size
                entropy = float(-(p * np.log2(p)).sum())
                out.append((aid, modality, hist.tolist(), entropy))
            yield pd.DataFrame(
                out, columns=["asset_id", "modality", "features", "byte_entropy"]
            )

    return assets.select("asset_id", "modality", "content").mapInPandas(
        featurize, schema=FEATURE_SCHEMA
    )


def expected_frames(size_bytes: int, frame_bytes: int = FRAME_BYTES) -> int:
    """Oracle-side arithmetic mirror of :func:`sample_frames` counts."""
    return max(1, math.ceil(size_bytes / frame_bytes))


#: Content-defined chunking parameters: rolling window width (bytes) and
#: the boundary modulus — a cut lands after byte i when the base-256 value
#: of the 4-byte window ending at i is ≡ 0 (mod CDC_MOD), giving ~CDC_MOD
#: expected bytes per chunk. A production CDC (FastCDC) swaps the window
#: polynomial for a gear table and adds min/max bounds; the dataflow — and
#: the shift-resistance property the panel demonstrates — is identical.
CDC_WINDOW = 4
CDC_MOD = 61

CDC_SCHEMA = (
    "asset_id bigint, modality string, chunk_no int, "
    "chunk_bytes bigint, chunk_md5 string"
)


def cdc_chunks(assets: DataFrame) -> DataFrame:
    """Content-defined chunking of binary payloads: boundaries are placed
    where the rolling window value hits the modulus, so an insertion near
    the head re-chunks only its neighborhood instead of shifting every
    fixed-size block — the property that makes chunk-level dedup survive
    edits (rsync/LBFS/FastCDC lineage). Per-chunk md5 (over the lowercase
    hex of the chunk bytes — string-hash on both engines) keys the
    content-addressable store.

    Same scale shape as the other byte operators: Arrow-batched
    ``mapInPandas`` over the existing partitioning, numpy-vectorized
    boundary detection, zero shuffle introduced.
    """
    import hashlib

    import numpy as np

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for aid, modality, content in zip(
                pdf["asset_id"], pdf["modality"], pdf["content"]
            ):
                buf = bytes(content)
                if not buf:
                    continue
                b = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
                if len(b) >= CDC_WINDOW:
                    h = (
                        (b[:-3] << 24) + (b[1:-2] << 16) + (b[2:-1] << 8) + b[3:]
                    )
                    # h[j] is the window ending at byte j+3; cut AFTER it
                    cuts = (np.nonzero(h % CDC_MOD == 0)[0] + CDC_WINDOW).tolist()
                else:
                    cuts = []
                starts = [0] + cuts
                ends = cuts + [len(buf)]
                cno = 0
                for s, e in zip(starts, ends):
                    if e <= s:  # a cut on the final byte: no trailing chunk
                        continue
                    piece = buf[s:e]
                    out.append(
                        (
                            aid,
                            modality,
                            cno,
                            e - s,
                            hashlib.md5(piece.hex().encode()).hexdigest(),
                        )
                    )
                    cno += 1
            yield pd.DataFrame(
                out,
                columns=[
                    "asset_id",
                    "modality",
                    "chunk_no",
                    "chunk_bytes",
                    "chunk_md5",
                ],
            )

    return assets.select("asset_id", "modality", "content").mapInPandas(
        chunk, schema=CDC_SCHEMA
    )


def dct_weights() -> list[list[float]]:
    """63×64 weight matrix of the 8×8 2-D DCT-II AC coefficients over a
    row-major 64-pixel vector: W[j][k] = d[u][r]·d[v][c] for coefficient
    j = u*8+v-1 (DC skipped) and pixel k = r*8+c, with the orthonormal
    basis d[u][r] = sqrt((1 if u==0 else 2)/8)·cos(pi·(2r+1)·u/16).
    Shared by the Spark UDF and the generated DuckDB mirror so both
    engines multiply the SAME doubles."""
    d = [
        [
            math.sqrt((1.0 if u == 0 else 2.0) / 8.0)
            * math.cos(math.pi * (2 * r + 1) * u / 16.0)
            for r in range(8)
        ]
        for u in range(8)
    ]
    return [
        [d[u][r] * d[v][c] for r in range(8) for c in range(8)]
        for u in range(8)
        for v in range(8)
    ][1:]


def phash63_udf():
    """Perceptual (DCT sign) hash of a binary payload as a 63-bit BIGINT.

    Decode stand-in: the 8×8 'grayscale' is the fold of payload bytes
    into 64 bins (pixel k = Σ bytes at positions ≡ k mod 64) — integer-
    exact and mirrorable byte for byte in SQL; a real image pipeline
    swaps ONE line (resize+grayscale via PIL) and keeps everything
    downstream. Bit j = (AC coefficient j of the 2-D DCT > 0). The
    coefficient fold accumulates strictly in pixel order k = 0..63
    (matching DuckDB's sequential ``list_dot_product``), so the sign of
    even a near-zero coefficient agrees across engines — the same
    discipline as ``similarity.lsh_bucket_udf``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(dct_weights(), dtype=np.float64)  # 63 × 64

    @pandas_udf("long")
    def ph(content: pd.Series) -> pd.Series:
        n = len(content)
        PX = np.zeros((n, 64))
        for i, buf in enumerate(content):
            b = np.frombuffer(bytes(buf), dtype=np.uint8)
            if len(b):
                PX[i] = np.bincount(
                    np.arange(len(b)) % 64, weights=b, minlength=64
                )
        acc = np.zeros((n, 63))
        for k in range(64):  # strict pixel-order fold (see docstring)
            acc += PX[:, k : k + 1] * W[:, k]
        bits = acc > 0
        weights = 1 << np.arange(63, dtype=np.int64)
        return pd.Series((bits * weights).sum(axis=1).astype("int64"))

    return ph
