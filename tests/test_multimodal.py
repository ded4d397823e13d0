"""Multimodal binary-column operators: edge cases the oracle can't isolate
(empty payloads, exact frame multiples, entropy extremes, codec stub)."""

from __future__ import annotations

import math

import pytest

from ethical_data_ingestion_spark.operators import multimodal as MM


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def _assets(spark, payloads: dict[int, str]):
    docs = _docs(
        spark, [(i, t, "en", "src0", len(t)) for i, t in payloads.items()]
    )
    return MM.as_assets(docs)


def test_as_assets_schema_and_modality_round_robin(spark):
    assets = _assets(spark, {0: "a", 1: "b", 2: "c", 3: "d"})
    rows = {r.asset_id: r for r in assets.collect()}
    assert [rows[i].modality for i in range(4)] == [
        "image", "audio", "video", "image",
    ]
    assert rows[0].size_bytes == 1
    assert isinstance(rows[0].content, (bytes, bytearray))
    # identical payloads → identical content hash (media exact-dup key)
    dup = _assets(spark, {0: "same", 3: "same"}).collect()
    assert dup[0].content_sha256 == dup[1].content_sha256


def test_frame_geometry_edges(spark):
    fb = MM.FRAME_BYTES
    payloads = {
        0: "",  # empty → one zero-length frame
        1: "x" * fb,  # exact multiple → one full frame
        2: "x" * (fb + 1),  # one byte over → 2 frames, tail len 1
    }
    out = {
        r.asset_id: r
        for r in MM.sample_frames(_assets(spark, payloads)).collect()
    }
    assert (out[0].n_frames, out[0].first_frame_len, out[0].last_frame_len) == (1, 0, 0)
    assert (out[1].n_frames, out[1].first_frame_len, out[1].last_frame_len) == (1, fb, fb)
    assert (out[2].n_frames, out[2].first_frame_len, out[2].last_frame_len) == (2, fb, 1)
    for aid, text in payloads.items():
        assert out[aid].n_frames == MM.expected_frames(len(text))


def test_byte_features_entropy_extremes(spark):
    payloads = {
        0: "aaaaaaaa",  # single byte value → entropy 0
        1: "".join(chr(c) for c in range(128)),  # 128 distinct bytes → 7 bits
        2: "",  # empty → zero vector, entropy 0
    }
    out = {
        r.asset_id: r
        for r in MM.byte_features(_assets(spark, payloads)).collect()
    }
    assert out[0].byte_entropy == pytest.approx(0.0)
    assert out[1].byte_entropy == pytest.approx(7.0)
    assert out[2].byte_entropy == 0.0
    assert len(out[0].features) == MM.HIST_BINS
    assert math.isclose(sum(out[0].features), 1.0)
    assert sum(out[2].features) == 0.0


def test_phash_exact_dups_are_hamming_zero(spark):
    """Identical payloads (same sha256) must pair at Hamming 0 — the
    pHash of equal bytes is equal; and every reported pair is within
    the Hamming bound with id1 < id2."""
    from ethical_data_ingestion_spark import registry
    from ethical_data_ingestion_spark.io import load_table
    from ethical_data_ingestion_spark.operators import multimodal as MM
    from ethical_data_ingestion_spark.queries.multimodal_q import (
        MM_PHASH_MAXH,
    )

    sf = "/root/testdata/sf0.001"
    pairs = registry.QUERIES["multimodal_phash_neardup"](spark, sf).collect()
    got = {(r.id1, r.id2): r.hamming for r in pairs}
    for (i1, i2), hm in got.items():
        assert i1 < i2 and 0 <= hm <= MM_PHASH_MAXH
    assets = MM.as_assets(load_table(spark, sf, "documents"))
    by_sha = {}
    for r in assets.select("asset_id", "content_sha256", "size_bytes").collect():
        if r.size_bytes > 0:
            by_sha.setdefault(r.content_sha256, []).append(r.asset_id)
    for ids in by_sha.values():
        ids = sorted(ids)
        for a in ids:
            for b in ids:
                if a < b:
                    assert got.get((a, b)) == 0, (a, b)


def test_phash_plan_reads_pinned_hash_table(spark):
    """The Arrow DCT pass must not be re-evaluated per join branch: the
    final plan reads the pinned hash table (zero Python evals) and never
    cartesians."""
    from ethical_data_ingestion_spark import registry
    from ethical_data_ingestion_spark.plans.inspect import formatted_plan

    df = registry.QUERIES["multimodal_phash_neardup"](
        spark, "/root/testdata/sf0.001"
    )
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
