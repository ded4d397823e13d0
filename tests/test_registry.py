"""Registry invariants: the driver-contract surface stays well-formed."""

from __future__ import annotations

import inspect
from pathlib import Path

from ethical_data_ingestion_spark import registry

ROOT = str(Path(__file__).resolve().parents[1])


def test_every_oracle_has_a_query():
    assert set(registry.ORACLE_SQL) <= set(registry.QUERIES)


def test_rows_only_set_is_intentional():
    rows_only = set(registry.QUERIES) - set(registry.ORACLE_SQL)
    # round 7: the last two rows-only queries (both LSH top-k paths)
    # graduated to full hash oracles — the deterministic pipeline is
    # mirrored end to end in DuckDB. Every registered query now carries
    # a value-hash oracle; keep it that way.
    assert rows_only == set()


def test_query_callables_take_spark_and_sfdir():
    for name, fn in registry.QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"


def test_oracle_sql_mentions_only_fixture_tables():
    import re

    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, sql in registry.resolved_oracles().items():
        # (?!\.) skips EXTRACT(year FROM x.col)-style qualified columns
        for m in re.finditer(r"\bFROM\s+([a-z_][a-z0-9_]*)\b(?!\.)", sql, re.I):
            t = m.group(1).lower()
            # CTE names and derived tables are fine; raw identifiers that
            # look like tables must be fixture tables or CTEs defined above
            if t in known:
                continue
            assert (
                re.search(rf"\b{t}\b\s*(\(|AS\s*\()", sql, re.I)
                or re.search(rf"(WITH|,)\s*(RECURSIVE\s+)?{t}\s*(\(.*?\))?\s+AS", sql, re.I | re.S)
            ), f"{name}: unknown table '{t}'"


def test_rotation_pins_failed_queries_first(tmp_path, monkeypatch):
    """A query whose most recent driver row was red sorts before never-seen
    and green queries (round-5 verdict item 1)."""
    import json

    import __spark_entry__ as entry

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "green_q": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "spark_rows": 5, "oracle_rows": 5,
                    "err": None},
        "red_q": {"rows_match": True, "schema_match": True,
                  "hash_match": False, "spark_rows": 5, "oracle_rows": 5,
                  "err": None},
        "rowsonly_q": {"rows_match": None, "schema_match": None,
                       "hash_match": None, "spark_rows": 50,
                       "oracle_rows": None, "err": "no_oracle"},
        "err_q": {"rows_match": None, "schema_match": None,
                  "hash_match": None, "spark_rows": None,
                  "oracle_rows": None, "err": "boom"},
    }))
    monkeypatch.setattr(
        entry.os.path, "dirname", lambda _p: str(tmp_path))
    order = entry._rotation_order(
        ["green_q", "red_q", "rowsonly_q", "err_q", "never_q"])
    # red + errored first (registration order within the group), then
    # never-seen, then the greens (rows-only with rows counts as green)
    assert order[:2] == ["red_q", "err_q"]
    assert order[2] == "never_q"
    assert set(order[3:]) == {"green_q", "rowsonly_q"}


def test_rotation_bumps_hash_graduated_rows_only(tmp_path, monkeypatch):
    """A query whose latest driver row was rows-only but which NOW has a
    registered hash oracle counts as never hash-checked: it sorts with
    the never-seen group, ahead of every green query (round-7 verdict
    item 1 — the two graduated LSH queries must re-enter the window)."""
    import json

    import __spark_entry__ as entry

    # knn_cosine_lsh has a real entry in registry.ORACLE_SQL; fabricate a
    # history where its latest row was rows-only while a green sibling was
    # hash-checked the same round.
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "knn_cosine_lsh": {"rows_match": None, "schema_match": None,
                           "hash_match": None, "spark_rows": 50,
                           "oracle_rows": None, "err": "no_oracle"},
        "green_q": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "spark_rows": 5, "oracle_rows": 5,
                    "err": None},
    }))
    monkeypatch.setattr(entry.os.path, "dirname", lambda _p: str(tmp_path))
    order = entry._rotation_order(["green_q", "knn_cosine_lsh", "never_q"])
    # graduated rows-only + never-seen (registration order within the
    # group), green last
    assert order == ["knn_cosine_lsh", "never_q", "green_q"]


def test_rotation_later_green_clears_earlier_red(tmp_path, monkeypatch):
    import json

    import __spark_entry__ as entry

    red = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    green = dict(red, hash_match=True)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"q": red}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"q": green}))
    monkeypatch.setattr(entry.os.path, "dirname", lambda _p: str(tmp_path))
    order = entry._rotation_order(["q", "never_q"])
    assert order == ["never_q", "q"]


def test_any_query_module_imports_first():
    """Every query module must import cleanly as a process's FIRST
    import: registry._load_everything() runs mid-import of whichever
    module came first, so any oracle built AT IMPORT TIME from a sibling
    module's constants reads a partially-initialized module and dies.
    The fix is lazy oracles (``register(oracle=callable)``); this pins
    the property for every module (subprocess each — the failure only
    reproduces on a cold interpreter)."""
    import subprocess
    import sys

    mods = [
        "corpus_q", "dedup_q", "text_q", "strings_q", "pipeline_q",
        "version_q", "mlfit_q", "streaming_q", "quality_q", "hybrid_q",
    ]
    for m in mods:
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import sys; sys.path.insert(0, {ROOT!r}); "
                f"import ethical_data_ingestion_spark.queries.{m}",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert proc.returncode == 0, f"{m} first-import failed:\n{proc.stderr[-2000:]}"


def test_lazy_oracles_resolve_to_sql():
    """Every registered oracle — string or lazy builder — resolves to a
    non-empty SELECT/WITH statement, and resolution is memoized."""
    from ethical_data_ingestion_spark import registry

    resolved = registry.resolved_oracles()
    for name, sql in resolved.items():
        assert isinstance(sql, str) and sql.strip(), name
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), (name, head)
        assert not callable(registry.ORACLE_SQL[name]), name  # memoized


def test_same_module_duplicate_rejected_and_override_allowed():
    """The round-11 collision class: a same-module re-registration is just
    as silent as a cross-module one (a later panel in the same file
    shadowed an earlier one and its test went red while the registry
    stayed quiet). Duplicates now raise regardless of module;
    deliberate shadowing must say so with override=True."""
    import pytest

    from ethical_data_ingestion_spark.registry import QUERIES, register

    name = "split_leakage_audit"  # registered by dedup_q
    original = QUERIES[name]
    with pytest.raises(ValueError, match="already registered"):
        @register(name)
        def split_leakage_audit(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    assert QUERIES[name] is original  # rejection left the registry intact

    try:
        @register(name, override=True)
        def replacement(spark, sf_dir):  # pragma: no cover
            raise AssertionError

        assert QUERIES[name] is replacement
    finally:
        QUERIES[name] = original


def test_bench_headline_is_duplicate_free_and_registered():
    """bench.py's HEADLINE list drives BENCH_r{N}.json: a duplicate entry
    runs a query twice and shrinks the recorded count (round-11 What's
    wrong #1b); an unregistered entry KeyErrors mid-suite."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", f"{ROOT}/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    dupes = [n for n in set(bench.HEADLINE) if bench.HEADLINE.count(n) > 1]
    assert not dupes, f"duplicate HEADLINE entries: {dupes}"
    unregistered = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not unregistered, f"unregistered HEADLINE entries: {unregistered}"
