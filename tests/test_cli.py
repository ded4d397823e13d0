"""End-to-end CLI parity: setup → collect → search/analytics/export/status.

Drives the command functions in-process against the session warehouse —
the same lifecycle a reference user runs through the click CLI
(``ethical_crawler.py:1110-1533``)."""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from conftest import jobs_of

from ethical_data_ingestion_spark import catalog, cli

#: Spark jobs one collect of PAYLOADS into an empty catalog may issue: the
#: spool's plan runs once, in the catalog write, and the audit append is
#: one more job.
JOBS_PER_COLLECT = 4
#: jobs of one warm command over the module's catalog: analytics and status
#: collect one summary aggregate (status also reads the latest audit rows);
#: export observes its footer on its one write
JOBS_PER_ANALYTICS = 2
JOBS_PER_STATUS = 4
JOBS_PER_EXPORT = 1

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


def test_collect_is_one_pass(spark, fresh_db, tmp_path):
    """One collect scans and parses the spool once: the per-source,
    quarantined and inserted counts and the audit inputs are observed on
    the catalog write, not computed by further actions over the spool,
    and the compliance context is per-source constants, not a join."""
    spool = write_spool(tmp_path / "payloads.jsonl")
    plans = []
    upsert = catalog.upsert_ignore

    def capture(spark_, new, *args):
        plans.append(new._jdf.queryExecution().executedPlan().toString())
        return upsert(spark_, new, *args)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(catalog, "upsert_ignore", capture)
        counts, jobs = jobs_of(spark, lambda: cli.cmd_collect(spark, spool))
    assert counts == FIRST_COLLECT
    assert jobs <= JOBS_PER_COLLECT
    (plan,) = plans
    assert plan.count("FileScan text") == 1
    assert plan.count("StructField(_source") == 1  # one from_json of the payload
    assert "Join" not in plan


def test_collect_appends_one_audit_file(spark, fresh_db, tmp_path):
    before = len(spark.table("compliance_checks").inputFiles())
    cli.cmd_collect(spark, write_spool(tmp_path / "payloads.jsonl"))
    spark.catalog.refreshTable("compliance_checks")
    assert len(spark.table("compliance_checks").inputFiles()) == before + 1


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


def test_collect_counts_unparseable_and_unregistered_lines(spark, fresh_db, tmp_path):
    spool = tmp_path / "mixed.jsonl"
    spool.write_text("\n".join([
        json.dumps(PAYLOADS[0]),
        "not json",
        json.dumps({**PAYLOADS[1], "_source": "Nowhere", "id": "nowhere-1"}),
    ]))
    assert cli.cmd_collect(spark, str(spool)) == {
        "NYC Open Data": 1, "_inserted": 1, "_quarantined": 2}
    assert [r.record_id for r in spark.table("data_records").collect()] == ["nyc-0"]
    rows = spark.table("compliance_checks").collect()
    assert [(r.source_name, r.issues) for r in rows] == [("NYC Open Data", [])]


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


def test_analytics_job_count(spark, warehouse):
    cli.cmd_analytics(spark)  # warm: the first read of a table lists its files
    _, jobs = jobs_of(spark, lambda: [p.collect() for p in cli.cmd_analytics(spark)])
    assert jobs <= JOBS_PER_ANALYTICS


def test_status_job_count(spark, warehouse):
    cli.cmd_status(spark).collect()
    _, jobs = jobs_of(spark, lambda: cli.cmd_status(spark).collect())
    assert jobs <= JOBS_PER_STATUS


def test_export_job_count(spark, warehouse, tmp_path):
    footer, jobs = jobs_of(spark, lambda: cli.cmd_export(
        spark, "parquet", str(tmp_path / "exp"), "source_name = 'NYC Open Data'").collect())
    assert [r.source_name for r in footer] == ["NYC Open Data"]
    assert jobs <= JOBS_PER_EXPORT


def exported_rows(path, fmt: str) -> int:
    files = glob.glob(os.path.join(path, f"*.{fmt}"))
    if fmt == "parquet":
        return sum(pq.read_metadata(f).num_rows for f in files)
    return sum(len(Path(f).read_text().splitlines()[1:]) for f in files)  # csv: minus header


@pytest.mark.parametrize("fmt,where,want,rows", [
    ("parquet", "1 = 0", [], 0),  # statically false: the write has no input
    ("parquet", "size_bytes < 0", [], 0),  # a scan that matches nothing
    ("csv", "source_name = 'SEC EDGAR'", ["SEC EDGAR"], 1),
])
def test_export_edge_cases(spark, warehouse, tmp_path, fmt, where, want, rows):
    """The footer is right, and observing it on the write never waits
    forever, whether or not the write sees a row."""
    out, got = str(tmp_path / "exp"), []

    def run():
        got.append([r.source_name for r in cli.cmd_export(spark, fmt, out, where).collect()])

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "export blocked"
    assert got == [want]
    assert exported_rows(out, fmt) == rows


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


#: The reference's analytics and status SQL (``ethical_crawler.py:1039-1060,
#: 1425-1451, 1468-1487``) over the catalog's parquet files, with this
#: package's exactness rules: the average divides an exact decimal sum, and
#: its shortest decimal form is rounded half-up, as Spark's ``round`` does.
#: Timestamps compare as epoch microseconds.
PANEL_SQL = {
    "stats": """
        SELECT source_name, COUNT(*) AS record_count,
               COUNT(DISTINCT data_type) AS type_count,
               CAST(ROUND(CAST(CAST(CAST(SUM(CAST(size_bytes AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(size_bytes) AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS avg_size,
               epoch_us(MIN(ingested_at)) AS first_ingested,
               epoch_us(MAX(ingested_at)) AS last_ingested
        FROM dr GROUP BY source_name
        ORDER BY record_count DESC, source_name NULLS FIRST""",
    "freq": """
        SELECT data_type, COUNT(*) AS count FROM dr GROUP BY data_type
        ORDER BY count DESC, data_type NULLS FIRST""",
    "status": """
        WITH stats AS (
            SELECT source_name, data_type, COUNT(*) AS count, MAX(ingested_at) AS last_ingested
            FROM dr GROUP BY source_name, data_type),
        per AS (
            SELECT source_name, SUM(count) AS record_count,
                   COUNT(DISTINCT data_type) AS type_count, MAX(last_ingested) AS last_ingested
            FROM stats GROUP BY source_name),
        latest AS (
            SELECT source_name, len(issues) = 0 AS compliant, issues FROM cc c
            WHERE check_time = (SELECT MAX(check_time) FROM cc c2
                                WHERE c2.source_name = c.source_name))
        SELECT source_name, record_count, type_count, epoch_us(last_ingested) AS last_ingested,
               compliant, issues
        FROM per LEFT JOIN latest USING (source_name)
        ORDER BY record_count DESC, source_name NULLS FIRST""",
}


def duckdb_panels(spark) -> dict[str, tuple[list, list]]:
    duckdb = pytest.importorskip("duckdb")
    out = {}
    with duckdb.connect() as con:
        for view, table in (("dr", "data_records"), ("cc", "compliance_checks")):
            spark.catalog.refreshTable(table)
            files = [f.removeprefix("file:") for f in spark.table(table).inputFiles()]
            con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet({files!r})")
        for name, sql in PANEL_SQL.items():
            cur = con.execute(sql)
            out[name] = ([d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()])
    return out


def spark_panel(df) -> tuple[list, list]:
    def value(v):
        if isinstance(v, datetime.datetime):  # collected in local time
            return int(time.mktime(v.timetuple())) * 10**6 + v.microsecond
        return v

    return df.columns, [tuple(value(v) for v in r) for r in df.collect()]


def test_panels_match_duckdb(spark, fresh_db, tmp_path):
    """Both analytics panels and the status rows, row for row and in
    order, against DuckDB running the reference's SQL. The catalog has
    null sizes (SEC EDGAR has no size at all), a source with two data
    types and one with a null type (appended through ``save_table``),
    tied record and type counts, and an average on a half-point
    (160001 / 160 = 1000.00625)."""
    from ethical_data_ingestion_spark.schemas import DATA_RECORDS

    lines = []
    for i in range(164):
        doc = {"_source": "NYC Open Data", "id": f"n{i}", "name": "n"}
        if i < 160:
            doc["size_bytes"] = 1001 if i == 0 else 1000
        lines.append(doc)
    lines += [{"_source": "SEC EDGAR", "id": f"s{i}", "name": "s"} for i in range(160)]
    lines += [{"_source": "College Scorecard", "id": f"c{i}", "name": "c", "size_bytes": 3 * i + 7}
              for i in range(160)]
    lines += [{"_source": "UN Comtrade", "id": f"u{i}", "name": "u"} for i in range(3)]
    spool = tmp_path / "panels.jsonl"
    spool.write_text("\n".join(json.dumps(d) for d in lines))
    cli.cmd_collect(spark, str(spool), api_keys={"College Scorecard"})
    now = datetime.datetime.now(datetime.timezone.utc)
    extra = [("SEC EDGAR", f"x{i}", "dataset") for i in range(4)]
    extra += [("UN Comtrade", f"u{i}", None) for i in range(2)]
    catalog.save_table(spark.createDataFrame([
        {"source_name": s, "record_id": r, "title": "t", "data_type": t, "ingested_at": now,
         **{f: None for f in DATA_RECORDS.names if f not in ("source_name", "record_id", "title",
                                                            "data_type", "ingested_at")}}
        for s, r, t in extra], DATA_RECORDS), "data_records", "append")

    want = duckdb_panels(spark)
    stats, freq = cli.cmd_analytics(spark)
    assert spark_panel(stats) == want["stats"]
    assert spark_panel(freq) == want["freq"]
    assert spark_panel(cli.cmd_status(spark)) == want["status"]
    # the cases the catalog was built to hold
    nyc = want["stats"][1][0]
    assert nyc[:4] == ("NYC Open Data", 164, 1, 1000.0063)
    assert want["stats"][1][1][:4] == ("SEC EDGAR", 164, 2, None)
    assert want["freq"][1][-1] == (None, 2)
    assert [r[4] for r in want["status"][1]] == [True, True, True, False]


def test_panels_of_empty_catalog(spark, fresh_db):
    want = duckdb_panels(spark)  # over the empty files ``setup`` writes
    stats, freq = cli.cmd_analytics(spark)
    status = cli.cmd_status(spark)
    assert (spark_panel(stats), spark_panel(freq), spark_panel(status)) == (
        want["stats"], want["freq"], want["status"])
    assert (stats.collect(), freq.collect(), status.collect()) == ([], [], [])
    assert stats.columns == ["source_name", "record_count", "type_count", "avg_size",
                             "first_ingested", "last_ingested"]
    assert freq.columns == ["data_type", "count"]
    assert status.columns == ["source_name", "record_count", "type_count", "last_ingested",
                              "compliant", "issues"]


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

    from ethical_data_ingestion_spark import catalog, cli

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
