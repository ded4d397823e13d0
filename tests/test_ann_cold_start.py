"""Cold-start ANN serving (round-9 verdict item 5): an index persisted by
one session must serve IDENTICAL answers from a brand-new process with a
plain driver-style SparkSession — the restart/failover story
session-pinning and same-session reload tests cannot cover."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from conftest import jobs_of

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.ann_store import (
    load_chunk_ann_index,
    save_chunk_ann_index,
    serve_chunk_ann_from_disk,
)

SF_DIR = "/root/testdata/sf0.001"
ROOT = str(Path(__file__).resolve().parents[1])

_COLD_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
from ethical_data_ingestion_spark.ann_store import serve_chunk_ann_from_disk
rows = serve_chunk_ann_from_disk(spark, {sf_dir!r}, {index_dir!r}).collect()
out = [[r.query_id, r.doc_id, r.chunk_idx, r.cos, r.rank] for r in rows]
with open({out_path!r}, "w") as fh:
    json.dump(sorted(out), fh)
"""


def _fresh_rows(df):
    return sorted(
        [r.query_id, r.doc_id, r.chunk_idx, r.cos, r.rank]
        for r in df.collect()
    )


def test_same_session_disk_serve_matches_pinned(spark, tmp_path):
    """Baseline half: save → load → serve inside one session equals the
    session-pinned registered query."""
    idx = str(tmp_path / "idx")
    meta = save_chunk_ann_index(spark, SF_DIR, idx)
    assert meta["n_tables"] == 8 and meta["n_bits"] == 4
    assert {f["name"] for f in meta["base_schema"]["fields"]} == {"ckey", "_bv", "_bn"}
    # the mount reads its schemas from meta: no inference job
    (base, buckets, planes, meta2), jobs = jobs_of(
        spark, lambda: load_chunk_ann_index(spark, idx))
    assert jobs == 0
    assert meta2 == meta
    assert base.columns == ["ckey", "_bv", "_bn"]
    assert len(planes) == 8 and len(planes[0]) == 4
    served = serve_chunk_ann_from_disk(spark, SF_DIR, idx)
    fresh = registry.QUERIES["chunk_embed_topk_ann"](spark, SF_DIR)
    assert _fresh_rows(served) == _fresh_rows(fresh)


def test_cold_start_subprocess_serves_identically(spark, tmp_path):
    """The failover proof: a SUBPROCESS with a brand-new plain
    SparkSession (none of session.py's configs, no session-pinned
    artifacts) mounts the on-disk index and must answer byte-identically
    to the session-pinned path."""
    idx = str(tmp_path / "idx")
    save_chunk_ann_index(spark, SF_DIR, idx)
    out_path = str(tmp_path / "cold.json")
    script = _COLD_SCRIPT.format(
        root=ROOT, sf_dir=SF_DIR, index_dir=idx, out_path=out_path
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(out_path) as fh:
        cold = json.load(fh)
    pinned = [
        list(t)
        for t in _fresh_rows(
            registry.QUERIES["chunk_embed_topk_ann"](spark, SF_DIR)
        )
    ]
    assert cold == pinned
