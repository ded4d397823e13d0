"""Long-document gate for the substring-dedup family (round-9 verdict
item 1): the suffix-array build used to be capped at 128-token documents
(`_SAG_ROUNDS = 7` + a raise guard); the depth now adapts to the measured
corpus (`spans_q._sag_depth`). This module proves the DEEP build on a
corpus with >=4k-token documents by the SAME discipline as the driver
gate: every family query value-hash-compared against its DuckDB oracle
REGENERATED at the matching depth from the same parametrized builders,
plus the brute-force no-surviving-duplicate proof re-run on the long-doc
corpus."""

from __future__ import annotations

import importlib.util
import json
import random
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

import pytest

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.queries import spans_q

_ORACLE_CHECK = Path(__file__).resolve().parents[1] / "tools" / "oracle_check.py"
_spec = importlib.util.spec_from_file_location("oracle_check", _ORACLE_CHECK)
_oc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_oc)
value_hash = _oc.value_hash


def _make_longdoc_corpus() -> list[tuple[int, str]]:
    """Six documents, longest 4100 tokens (depth ceil(log2(4100)) = 13 >
    the 7-round report depth), with planted duplication at every scale
    the family detects: a 300-token cross-doc span, a 12-token cross-doc
    span, a 20-token within-doc repeat, and background near-collisions
    from a small vocabulary."""
    rng = random.Random(42)

    def toks(n: int) -> list[str]:
        return [f"w{rng.randrange(50)}" for _ in range(n)]

    d1 = toks(4100)
    d2 = toks(1200)
    d2[100:400] = d1[1000:1300]  # 300-token cross-doc span
    d3 = toks(900)
    d3[50:62] = d1[2000:2012]  # 12-token cross-doc span
    d4 = toks(700)
    d5 = toks(500)
    d5[300:320] = d5[100:120]  # 20-token within-doc repeat
    d6 = ["a", "b", "c"]
    return [
        (i + 1, " ".join(d))
        for i, d in enumerate([d1, d2, d3, d4, d5, d6])
    ]


@pytest.fixture(scope="module")
def longdoc_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("longdoc")
    spark.createDataFrame(
        _make_longdoc_corpus(), "doc_id long, text string"
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_depth_derived_from_corpus(spark, longdoc_dir):
    assert spans_q._sag_depth(spark, longdoc_dir) == 13  # 2^12 < 4100 <= 2^13


def test_longdoc_family_matches_deep_oracles(spark, longdoc_dir):
    """The full family hash gate at depth 13: Spark query vs DuckDB
    oracle generated from the same parametrized builders the registered
    (depth-7) oracles come from. `suffix_doubling_profile`'s registered
    md5-chain oracle is depth-independent (doc-partitioned LEADs, no
    global order) and runs as-is."""
    depth = spans_q._sag_depth(spark, longdoc_dir)
    oracles = {
        "suffix_doubling_profile": registry.ORACLE_SQL[
            "suffix_doubling_profile"
        ],
        "suffix_array_global_profile": spans_q._sag_oracle(depth),
        "suffix_lcp_histogram": spans_q._lcp_hist_oracle(depth),
        "suffix_cross_doc_spans": spans_q._spans_oracle(depth),
        "substring_dedup_removal_stats": spans_q._removal_oracle(depth),
        "substring_dedup_emit": spans_q._emit_oracle(depth),
    }
    deep = _duckdb_oracles(longdoc_dir, oracles)
    for name in oracles:
        sdf = registry.QUERIES[name](spark, longdoc_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        ocols, n_orows, ohash = deep[name]
        assert len(srows) == n_orows, name
        assert sorted(scols) == sorted(ocols), name
        assert value_hash(scols, srows) == ohash, name
        assert srows, name  # non-vacuous: every panel has rows here


#: Runs in a child process: DuckDB's depth-13 working set is returned to
#: the OS when the child exits instead of staying in the test process.
_ORACLE_CHILD = """
import importlib.util, json, sys
import duckdb
job = json.load(sys.stdin)
spec = importlib.util.spec_from_file_location("oracle_check", job["oc"])
oc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(oc)
con = duckdb.connect()
con.execute("SET threads=1")
con.execute("SET enable_progress_bar=false")
con.execute(
    "CREATE VIEW documents AS SELECT * FROM "
    f"read_parquet('{job['dir']}/documents.parquet/*.parquet')"
)
out = {}
for name, sql in job["oracles"].items():
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [tuple(r) for r in res.fetchall()]
    out[name] = [cols, len(rows), oc.value_hash(cols, rows)]
json.dump(out, sys.stdout)
"""


def _duckdb_oracles(data_dir: str, oracles: dict[str, str]) -> dict:
    """{name: (columns, row count, value_hash)} of each oracle, evaluated
    by DuckDB (one thread) in a child process.

    DuckDB 1.0 inlines every reference to a CTE. The removal-stats oracle
    reaches ``lcp_pairs`` eight times (twice through ``ends``, times the
    four ``starts`` branches), which peaks at 12.9 GB in 130 s on one
    thread of a 4-core host. Marking the CTE MATERIALIZED evaluates it
    once: 2.3 GB in 12 s. Materializing a CTE does not change its rows."""
    sqls = {
        name: sql.replace("lcp_pairs AS (", "lcp_pairs AS MATERIALIZED (")
        for name, sql in oracles.items()
    }
    job = {"oc": str(_ORACLE_CHECK), "dir": data_dir, "oracles": sqls}
    proc = subprocess.run(
        [sys.executable, "-c", _ORACLE_CHILD],
        input=json.dumps(job),
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout)


def test_longdoc_planted_spans_detected(spark, longdoc_dir):
    """The 300-token planted span must surface as the top cross-doc
    span (within-span adjacencies can only shorten, never lengthen it)."""
    top = (
        registry.QUERIES["suffix_cross_doc_spans"](spark, longdoc_dir)
        .collect()
    )
    # >= 300: the common prefix may extend past the planted span by the
    # occasional accidental token match (vocab 50), never shrink below it.
    assert top[0].lcp_tokens >= 300
    assert {top[0].doc_a, top[0].doc_b} == {1, 2}


def test_longdoc_no_duplicated_window_survives(spark, longdoc_dir):
    """Brute force (no suffix machinery): every occurrence of every
    L-token window appearing at >=2 distinct (doc, pos) sites in the
    original long-doc corpus must be fully removed by the emit pass."""
    L = spans_q._EMIT_THRESHOLD
    docs = {d: t.split(" ") for d, t in _make_longdoc_corpus()}
    occ: dict[tuple, list] = defaultdict(list)
    for d, tk in docs.items():
        for p in range(len(tk) - L + 1):
            occ[tuple(tk[p : p + L])].append((d, p + 1))
    dup_positions = set()
    for sites in occ.values():
        if len(sites) >= 2:
            for d, p in sites:
                for j in range(p, p + L):
                    dup_positions.add((d, j))
    assert dup_positions, "long-doc corpus must contain duplicated windows"
    retained = {
        (r.doc_id, r.i)
        for r in spans_q._retained_tokens(spark, longdoc_dir, L).collect()
    }
    survivors = dup_positions & retained
    assert not survivors, f"{len(survivors)} duplicated positions survived"
