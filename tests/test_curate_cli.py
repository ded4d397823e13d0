"""The ``curate`` product path (round-9 verdict item 3): the written
training mount must row-match the oracle-checked emits it composes, and
its Merkle root must recompute from the written files alone."""

from __future__ import annotations

import hashlib

import pytest

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.cli import cmd_curate
from ethical_data_ingestion_spark.queries.pipeline_q import _MERKLE_SUBS

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def mount(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mount"))
    summary = cmd_curate(spark, SF_DIR, out)
    return out, summary


def test_corpus_rows_match_where_kept(spark, mount):
    """The written corpus is exactly the curation-kept doc set, each with
    its substring-deduped text and its manifest shard assignment."""
    out, summary = mount
    corpus = {r.doc_id: r for r in spark.read.parquet(f"{out}/corpus").collect()}
    decisions = registry.QUERIES["corpus_curation_emit"](spark, SF_DIR).collect()
    kept = {r.doc_id for r in decisions if r.kept}
    assert set(corpus) == kept
    assert summary["docs_kept"] == len(kept)
    assert summary["docs_dropped"] == len(decisions) - len(kept)
    deduped = {
        r.doc_id: r.retained_text
        for r in registry.QUERIES["substring_dedup_emit"](spark, SF_DIR).collect()
    }
    for d, row in corpus.items():
        assert row.text == deduped[d], d


def test_manifest_matches_registered_query(spark, mount):
    """<out>/manifest is byte-identical to the oracle-checked
    training_shard_manifest_curated rollup, and the corpus's hive
    partitioning agrees with it per shard."""
    out, _ = mount
    got = sorted(
        (tuple(r) for r in spark.read.parquet(f"{out}/manifest").collect())
    )
    want = sorted(
        tuple(r)
        for r in registry.QUERIES["training_shard_manifest_curated"](
            spark, SF_DIR
        ).collect()
    )
    assert got == want
    per_shard = {}
    for r in spark.read.parquet(f"{out}/corpus").collect():
        a = per_shard.setdefault(r.shard_id, [0, 0])
        a[0] += 1
        a[1] += r.n_tok
    manifest = {t[0]: t for t in want}
    assert set(per_shard) == set(manifest)
    for s, (n_docs, n_tok) in per_shard.items():
        assert manifest[s][1] == n_docs, s
        assert manifest[s][2] == n_tok, s


def test_audit_is_the_decision_table(spark, mount):
    out, _ = mount
    audit = {r.doc_id: r for r in spark.read.parquet(f"{out}/audit").collect()}
    dec = {r.doc_id: r for r in registry.QUERIES["corpus_curation_emit"](spark, SF_DIR).collect()}
    assert set(audit) == set(dec)
    for d in dec:
        assert audit[d].kept == dec[d].kept, d
        assert audit[d].drop_reason == dec[d].drop_reason, d


def test_merkle_root_recomputes_from_written_corpus(spark, mount):
    """Third implementation (pure Python, no Spark plan reuse): chain
    md5(doc_id:text) row hashes sorted per (shard, doc_id % SUBS)
    sub-bucket, sub-hashes in bucket order, shard hashes in shard order —
    must reproduce every stored shard_hash and the stored root_hash."""
    out, summary = mount
    rows = spark.read.parquet(f"{out}/corpus").collect()
    subs: dict[tuple, list] = {}
    sizes: dict[int, list] = {}
    for r in rows:
        rh = hashlib.md5(f"{r.doc_id}:{r.text}".encode()).hexdigest()
        subs.setdefault((r.shard_id, r.doc_id % _MERKLE_SUBS), []).append(rh)
        a = sizes.setdefault(r.shard_id, [0, 0])
        a[0] += 1
        a[1] += len(r.text.encode("utf-8"))  # n_bytes is UTF-8 octets
    shard_subs: dict[int, list] = {}
    for (shard, sub), hs in subs.items():
        sub_h = hashlib.md5("".join(sorted(hs)).encode()).hexdigest()
        shard_subs.setdefault(shard, []).append((sub, sub_h))
    shard_hash = {
        s: hashlib.md5(
            "".join(h for _, h in sorted(pairs)).encode()
        ).hexdigest()
        for s, pairs in shard_subs.items()
    }
    root = hashlib.md5(
        "".join(shard_hash[s] for s in sorted(shard_hash)).encode()
    ).hexdigest()
    stored = {r.shard: r for r in spark.read.parquet(f"{out}/merkle").collect()}
    assert set(stored) == set(shard_hash)
    for s, r in stored.items():
        assert r.shard_hash == shard_hash[s], s
        assert r.n_docs == sizes[s][0], s
        assert r.n_bytes == sizes[s][1], s
        assert r.root_hash == root
    assert summary["root_hash"] == root


def test_cli_smoke(tmp_path, spark):
    """End-to-end through main(): the curate subcommand prints the JSON
    summary with a root hash."""
    import json

    from ethical_data_ingestion_spark.cli import main

    out = tmp_path / "mnt"
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "--warehouse", str(tmp_path / "wh"),
                "curate", "--data", SF_DIR, "--output", str(out),
            ]
        )
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["root_hash"] and len(summary["root_hash"]) == 32
    assert summary["docs_kept"] > 0 and summary["n_shards"] > 0
