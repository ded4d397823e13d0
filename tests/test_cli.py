"""End-to-end CLI parity: setup → collect → search/analytics/export/status.

Drives the command functions in-process against the session warehouse —
the same lifecycle a reference user runs through the click CLI
(``ethical_crawler.py:1110-1533``)."""

from __future__ import annotations

import json
import time
import uuid

import pytest

from ethical_data_ingestion_spark import cli

#: Spark jobs one collect of PAYLOADS into an empty catalog may issue. It
#: issues 5 with local[4]: the spool's plan runs once, in the catalog write.
JOBS_PER_COLLECT = 6

#: Spooled fetcher output: one JSON document per line, ``_source`` names
#: the producing adapter (nyc → dataset, sec → data_feed, comtrade →
#: api_endpoint which requires an API key we won't supply).
PAYLOADS = [
    {
        "_source": "NYC Open Data",
        "id": f"nyc-{i}",
        "name": f"Taxi Trips {i}",
        "description": "Yellow taxi trip records",
        "category": "Transportation",
        "tags": '["taxi", "transport"]',
        "updated_at": "2024-01-15T12:00:00Z",
        "file_format": "CSV/JSON",
        "size_bytes": str(1000 + i),
        "columns_count": "19",
        "view_count": "120000",
    }
    for i in range(6)
] + [
    {
        "_source": "SEC EDGAR",
        "id": "company_facts",
        "name": "Company Facts Feed",
        "description": "XBRL company facts",
        "updated_at": "1700000000",
        "file_format": "JSON/ZIP",
        "size_bytes": "999999",
    },
    {
        "_source": "UN Comtrade",
        "id": "goods-metadata",
        "name": "Goods Trade Metadata",
        "description": "Trade statistics endpoints",
    },
]


#: ``cmd_collect`` of PAYLOADS without API keys into an empty catalog.
FIRST_COLLECT = {"NYC Open Data": 6, "SEC EDGAR": 1, "_inserted": 7, "_quarantined": 1}


def write_spool(path) -> str:
    path.write_text("\n".join(json.dumps(p) for p in PAYLOADS))
    return str(path)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    spool = write_spool(tmp_path_factory.mktemp("spool") / "payloads.jsonl")
    for t in ("data_records", "compliance_checks", "data_sources"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    created = cli.cmd_setup(spark)
    assert set(created) == {"data_records", "compliance_checks", "data_sources"}
    counts = cli.cmd_collect(spark, spool)
    return counts


@pytest.fixture
def fresh_db(spark, tmp_path):
    """An empty catalog in its own database, current for one test, so a
    collect starts from ``setup`` without touching the module's tables."""
    name = f"fresh_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {name} LOCATION '{tmp_path / name}'")
    spark.catalog.setCurrentDatabase(name)
    try:
        cli.cmd_setup(spark)
        yield name
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP DATABASE {name} CASCADE")


def test_collect_gates_and_upserts(spark, warehouse):
    # UN Comtrade requires an API key we did not supply → whole source
    # quarantined (ethical_crawler.py:943-948); NYC + SEC pass.
    assert warehouse == FIRST_COLLECT
    assert "UN Comtrade" not in {
        r.source_name for r in spark.table("data_records").select("source_name").distinct().collect()
    }


def group_jobs(sc, group: str) -> list[int]:
    """Job ids of ``group`` once the status listener has caught up: every
    job finished and the count unchanged over two polls."""
    st = sc.statusTracker()
    last = None
    for _ in range(50):
        jobs = sorted(st.getJobIdsForGroup(group))
        done = all((ji := st.getJobInfo(j)) and ji.status != "RUNNING" for j in jobs)
        if done and jobs == last:
            return jobs
        last = jobs
        time.sleep(0.1)
    return last


def test_collect_is_one_pass(spark, fresh_db, tmp_path):
    """One collect writes the spool's plan once: the per-source,
    quarantined and inserted counts and the audit inputs are observed on
    that write, not computed by further actions over the spool."""
    spool = write_spool(tmp_path / "payloads.jsonl")
    sc = spark.sparkContext
    sc.setJobGroup(fresh_db, "one collect")
    try:
        counts = cli.cmd_collect(spark, spool)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == FIRST_COLLECT
    assert len(group_jobs(sc, fresh_db)) <= JOBS_PER_COLLECT


def test_collect_audit_rows(spark, fresh_db, tmp_path):
    cli.cmd_collect(spark, write_spool(tmp_path / "payloads.jsonl"))
    rows = {r.source_name: r for r in spark.table("compliance_checks").collect()}
    # one row per source in the spool; College Scorecard offered nothing
    assert set(rows) == {"NYC Open Data", "SEC EDGAR", "UN Comtrade"}
    assert len({r.check_time for r in rows.values()}) == 1
    assert None not in {r.check_time for r in rows.values()}
    for name, r in rows.items():
        keyed = name != "UN Comtrade"
        assert r.api_key_valid is keyed, name
        assert r.issues == ([] if keyed else ["requires API key but none provided"]), name
        assert r.rate_limit_compliant is True, name
        assert r.robots_txt_compliant is True and r.terms_compliant is True, name
        assert r.recommendations == [], name


def test_collect_idempotent(spark, warehouse, tmp_path):
    counts = cli.cmd_collect(spark, write_spool(tmp_path / "again.jsonl"))
    assert counts["_inserted"] == 0
    assert spark.table("data_records").count() == 7


def test_api_key_unlocks_source(spark, warehouse, tmp_path):
    spool = write_spool(tmp_path / "keyed.jsonl")
    counts = cli.cmd_collect(spark, spool, api_keys={"UN Comtrade"})
    assert counts["_quarantined"] == 0
    assert counts["_inserted"] == 1  # only the Comtrade record is new


def test_search_filters_and_topk(spark, warehouse):
    rows = cli.cmd_search(spark, "taxi", limit=3).collect()
    assert len(rows) == 3
    assert all("Taxi" in r.title for r in rows)
    rows = cli.cmd_search(spark, "facts", source="SEC EDGAR").collect()
    assert [r.record_id for r in rows] == ["company_facts"]
    assert cli.cmd_search(spark, "taxi", data_type="data_feed").count() == 0


def test_analytics_panels(spark, warehouse):
    stats, freq = cli.cmd_analytics(spark)
    by_source = {r.source_name: r.record_count for r in stats.collect()}
    assert by_source["NYC Open Data"] == 6
    assert {r.data_type: r["count"] for r in freq.collect()}["dataset"] == 6


def test_export_and_attribution(spark, warehouse, tmp_path):
    out = tmp_path / "exp"
    attrib = cli.cmd_export(
        spark, "csv", str(out), where="source_name = 'NYC Open Data'"
    )
    assert [r.source_name for r in attrib.collect()] == ["NYC Open Data"]
    assert spark.read.option("header", True).csv(str(out)).count() == 6


def test_status_joins_compliance(spark, warehouse):
    rows = {r.source_name: r for r in cli.cmd_status(spark).collect()}
    assert rows["NYC Open Data"].record_count == 6
    assert rows["NYC Open Data"].compliant
    # latest check (with the API key run) shows Comtrade compliant too
    assert "UN Comtrade" in rows


def test_render_table_and_attribution():
    from ethical_data_ingestion_spark import render

    out = render.format_table(
        ["Source", "Records"],
        [["NYC Open Data", 12345], ["SEC EDGAR", None]],
        title="Collection Results",
    )
    assert "Collection Results" in out
    assert "12,345" in out  # thousands separators, reference-style
    assert "N/A" in out
    # aligned grid: every body row matches the header width
    lines = [ln for ln in out.splitlines() if ln.startswith(("|", "+"))]
    assert len({len(ln) for ln in lines}) == 1
    footer = render.attribution_footer(["SEC EDGAR", "NYC Open Data"])
    assert "Public Domain" in footer and "SEC EDGAR" in footer
    assert "UN Comtrade" not in footer  # only contributing sources


def test_cli_status_renders_footer(spark, tmp_path, capsys):
    import json as _json

    from ethical_data_ingestion_spark import cli

    raw = tmp_path / "spool.jsonl"
    raw.write_text(
        _json.dumps({"_source": "NYC Open Data", "id": "a1", "name": "X"}) + "\n"
    )
    wh = str(tmp_path / "wh")
    cli.main(["--warehouse", wh, "setup"])
    cli.main(["--warehouse", wh, "collect", "--raw", str(raw)])
    capsys.readouterr()
    cli.main(["--warehouse", wh, "status"])
    out = capsys.readouterr().out
    assert "Collection Results" in out
    assert "Data Source Attribution:" in out
    assert "NYC Open Data: Public Domain" in out
