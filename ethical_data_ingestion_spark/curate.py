"""The ``curate`` product path: WRITE the curated training mount to disk.

Round-9 verdict item 3: the curation family's emits
(``corpus_curation_emit``, ``substring_dedup_emit``,
``training_shard_manifest_curated``) return DataFrames; a training run
needs them ON DISK. This composes them and persists the full mount:

* ``<out>/corpus``   — the training corpus, ``partitionBy(shard_id)``
  hive layout (one directory per shard — the webdataset-style unit a
  data loader mounts). One row per curation-KEPT document with its
  substring-DEDUPED text (the corpus-wide Lee-et-al removal pass at the
  emit threshold) and its trained-BPE token count.
* ``<out>/manifest`` — the per-shard manifest (docs, BPE tokens, doc-id
  range) — row-identical to the oracle-checked
  ``training_shard_manifest_curated`` query.
* ``<out>/audit``    — every document's keep/drop decision with the
  first-failing-stage reason code (``corpus_curation_emit`` verbatim):
  the provenance trail for the dropped mass.
* ``<out>/merkle``   — a Merkle manifest OVER THE WRITTEN CORPUS
  (per-shard chained row hashes + one root): shard = the training shard
  id (so a consumer verifies exactly the unit it downloads), row hash =
  ``md5(doc_id:text)`` over the deduped text. The root hash is the
  dataset-version fingerprint for the release card; the read-back test
  recomputes it from the written files alone.

Sharding detail: the shard budget is priced in trained-BPE tokens of the
ORIGINAL text — the exact assignment ``training_shard_manifest_curated``
hash-checks — so the manifest on disk is byte-for-byte the audited one.
(The span-dedup pass can only shrink a document, so every shard is at or
under budget in mounted tokens too.)

Reference basis: the reference's ``export`` command
(``ethical_crawler.py:1352-1414``) persists generic filtered tables; this
is its training-pipeline analogue over the north-star curation surface.

Scale shape: every composed piece keeps its proven plan (see the source
queries); the writes are plain distributed sinks. ``partitionBy`` on
shard_id writes one directory per ~4096-token shard — at 100 TB raise
``_SHARD_TOKENS`` (or add a shard→file-group level) so directory count
and per-task open files stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _mount_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard_id, doc_id, source, text, n_tok): the rows the mount
    writes — curation-kept docs, span-deduped text, manifest-exact shard
    assignment."""
    from .queries.pipeline_q import (
        _curated_token_counts,
        _published_decisions,
        _shard_assignments_from_counts,
    )
    from .queries.spans_q import substring_dedup_emit

    kept = (
        _published_decisions(spark, sf_dir)
        .filter(F.col("kept"))
        .select("doc_id", "source")
    )
    deduped = substring_dedup_emit(spark, sf_dir).select(
        "doc_id", F.col("retained_text").alias("text")
    )
    shards = _shard_assignments_from_counts(
        spark, _curated_token_counts(spark, sf_dir)
    )
    return (
        kept.join(deduped, "doc_id")
        .join(shards.select("doc_id", "n_tok", "shard_id"), "doc_id")
        .select("shard_id", "doc_id", "source", "text", "n_tok")
    )


def _mount_merkle(corpus: DataFrame) -> DataFrame:
    """(shard, n_docs, n_bytes, shard_hash, root_hash) over the mount
    rows, keyed by TRAINING shard id: the two-level chain of
    ``shard_merkle_manifest`` (``pipeline_q._merkle_chain``), recomputable
    from the written corpus alone (the read-back test does exactly that)."""
    from .queries.pipeline_q import _merkle_chain

    return _merkle_chain(
        corpus.select(
            F.col("shard_id").alias("shard"),
            "doc_id",
            "text",
            # octet_length: n_bytes is UTF-8 BYTES (release-card size
            # accounting), not characters — they differ on non-ASCII corpora.
            F.octet_length("text").cast("long").alias("nb"),
        )
    )


def write_training_mount(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Curate ``sf_dir``'s corpus and write the full training mount under
    ``out_dir`` (corpus / manifest / audit / merkle — see module
    docstring). Returns the summary dict the CLI prints."""
    from .queries.pipeline_q import (
        _published_decisions,
        training_shard_manifest_curated,
    )

    corpus = _mount_corpus(spark, sf_dir)
    # co-locate each shard on one task before the hive write: without
    # this, partitionBy writes one file per (task × shard) — the sf1 run
    # produced 2,914 files for 208 shards, and every downstream
    # read-back/merkle stage paid one task per file. One file per shard
    # is the webdataset contract; for multi-GB shards at 100 TB, salt
    # the repartition key instead of letting one task own a whole shard.
    corpus.repartition(F.col("shard_id")).write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(f"{out_dir}/corpus")
    manifest = training_shard_manifest_curated(spark, sf_dir)
    manifest.write.mode("overwrite").parquet(f"{out_dir}/manifest")
    audit = _published_decisions(spark, sf_dir).orderBy("doc_id")
    audit.write.mode("overwrite").parquet(f"{out_dir}/audit")
    # hash the mount that was WRITTEN, not the plan that produced it —
    # the manifest must certify the bytes a consumer will actually read.
    # partitionBy inference types the hive shard_id column INT; cast back
    # to BIGINT so merkle/corpus join the manifest without a cross-type
    # seam.
    written = spark.read.parquet(f"{out_dir}/corpus").withColumn(
        "shard_id", F.col("shard_id").cast("long")
    )
    merkle = _mount_merkle(written)
    merkle.write.mode("overwrite").parquet(f"{out_dir}/merkle")
    m = spark.read.parquet(f"{out_dir}/merkle")
    root = m.select("root_hash").first()
    stats = written.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("shard_id").alias("s"),
        F.sum("n_tok").alias("t"),
    ).first()
    n_total = _published_decisions(spark, sf_dir).count()
    return {
        "out": out_dir,
        "docs_kept": stats["n"],
        "docs_dropped": n_total - stats["n"],
        "n_shards": stats["s"],
        "bpe_tokens": stats["t"],
        "root_hash": root["root_hash"] if root else None,
    }
