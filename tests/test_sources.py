"""sources/: robots parsing+gating, compliance rules, adapter mapping."""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import functions as F

from ethical_data_ingestion_spark.sources import adapters, compliance, robots

ROBOTS_TXT = """
# comment
User-agent: *
Disallow: /private
Disallow: /tmp/

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_sections():
    assert robots.parse_robots(ROBOTS_TXT, "friendly") == ["/private", "/tmp/"]
    assert robots.parse_robots(ROBOTS_TXT, "evilbot") == ["/private", "/tmp/", "/"]
    assert robots.parse_robots("") == []


def test_robots_cache_fail_open_and_ttl():
    calls = []

    def fetcher(url):
        calls.append(url)
        raise IOError("network down")

    rc = robots.RobotsCache(fetcher=fetcher)
    # fail-open: unreachable robots.txt ⇒ allowed (ethical_crawler.py:257-266)
    assert rc.can_fetch("https://x.example/anything")
    rc.can_fetch("https://x.example/other")
    assert len(calls) == 1  # second hit served from cache


def test_robots_cache_blocks_prefix():
    rc = robots.RobotsCache(fetcher=lambda url: ROBOTS_TXT)
    assert not rc.can_fetch("https://x.example/private/data.csv")
    assert rc.can_fetch("https://x.example/public/data.csv")


def test_parse_robots_exact_agent_match():
    # exact case-insensitive equality (reference: ua.lower() == user_agent.lower()),
    # NOT substring: "bot" must not inherit evilbot's section
    assert robots.parse_robots(ROBOTS_TXT, "bot") == ["/private", "/tmp/"]
    assert robots.parse_robots(ROBOTS_TXT, "EvilBot") == ["/private", "/tmp/", "/"]


def test_robots_cache_user_agent_sections():
    rc = robots.RobotsCache(fetcher=lambda url: ROBOTS_TXT, user_agent="evilbot")
    # evilbot's section disallows everything
    assert not rc.can_fetch("https://x.example/public/data.csv")
    # per-call UA override re-parses for that UA
    assert rc.can_fetch("https://x.example/public/data.csv", user_agent="friendly")


def test_allowed_urls_filter(spark):
    df = spark.createDataFrame(
        [("https://a.example/private/x",), ("https://a.example/ok",),
         ("https://b.example/private/x",)],
        "url string",
    )
    out = robots.allowed_urls(df, "url", {"a.example": ["/private"]})
    urls = {r.url for r in out.collect()}
    # only a.example's /private is blocked; b.example untouched
    assert urls == {"https://a.example/ok", "https://b.example/private/x"}


def test_compliance_gate_split_and_issues(spark):
    df = spark.createDataFrame(
        [
            ("ok", False, None, True, 1.0),
            ("needs_key", True, False, True, 1.0),
            ("bad_rate", False, None, True, 0.0),
        ],
        "source string, requires_api_key boolean, api_key_present boolean, "
        "robots_txt_compliant boolean, rate_limit_per_second double",
    )
    issues = {
        r.source: r.issues
        for r in compliance.with_issues(df, compliance.standard_rules()).collect()
    }
    assert {s for s, i in issues.items() if not i} == {"ok"}
    assert issues["needs_key"] == ["requires API key but none provided"]
    assert issues["bad_rate"] == ["invalid rate limit"]


def test_rate_limiter_paces():
    rl = adapters.RateLimiter(rate_per_second=50)  # 20ms interval
    t0 = time.time()
    for _ in range(3):
        rl.wait()
    assert time.time() - t0 >= 0.04  # at least 2 intervals


def test_adapter_mapping(spark):
    payload = {
        "id": "abc-123",
        "name": "Taxi Trips",
        "description": "All trips",
        "category": "transport",
        "tags": ["taxi", "nyc"],
        "updated_at": "2024-03-01T12:00:00Z",
        "view_count": 12345,
        "columns_count": 9,
        "file_format": "CSV/JSON",
        "size_bytes": 1024,
    }
    epoch_payload = dict(payload, id="def-456", updated_at="1700000000")
    raw = adapters.make_raw_df(
        spark,
        [("NYC Open Data", json.dumps(payload)),
         ("NYC Open Data", json.dumps(epoch_payload)),
         ("SEC EDGAR", json.dumps({"id": "x"}))],
    )
    recs = adapters.raw_to_records(raw, adapters.NYC_OPEN_DATA)
    rows = {r.record_id: r for r in recs.collect()}
    assert set(rows) == {"abc-123", "def-456"}  # SEC row filtered out
    r = rows["abc-123"]
    assert r.title == "Taxi Trips"
    assert r.tags == ["taxi", "nyc"]
    assert r.last_updated.year == 2024
    assert "Dataset: Taxi Trips" in r.content_summary
    assert "Views: 12,345" in r.content_summary
    assert r.license_info == "Public Domain"
    # epoch-seconds date branch (ethical_crawler.py:472-483)
    assert rows["def-456"].last_updated.year == 2023


def test_fetch_one_point_lookup(spark):
    # fetch_dataset_metadata parity (ethical_crawler.py:416-451): one id
    # in -> at most one DataRecord row out, same mapping as discovery
    payload = {
        "id": "abc-123",
        "name": "Taxi Trips",
        "description": "All trips",
        "tags": ["taxi"],
        "updated_at": "2024-03-01T12:00:00Z",
    }
    raw = adapters.make_raw_df(
        spark,
        [("NYC Open Data", json.dumps(payload)),
         ("NYC Open Data", json.dumps(dict(payload, id="other")))],
    )
    hit = adapters.fetch_one(raw, adapters.NYC_OPEN_DATA, "abc-123").collect()
    assert len(hit) == 1
    assert hit[0].title == "Taxi Trips"
    assert hit[0].url.endswith("/abc-123")
    # miss -> empty, the Optional[None] of the reference
    assert adapters.fetch_one(raw, adapters.NYC_OPEN_DATA, "nope").count() == 0


def test_fetch_one_parses_each_payload_once(spark, tmp_path):
    """Over a text spool, the id filter stays above the payload parse:
    one ``from_json`` of the payload in the optimized plan (a filter
    pushed below the parse would bring a second one)."""
    spool = tmp_path / "payloads.jsonl"
    lines = [json.dumps({"id": f"id-{i}", "name": f"n{i}"}) for i in range(3)]
    lines.append(json.dumps({"name": "no id"}))
    spool.write_text("\n".join(lines) + "\n")
    raw = spark.read.text(str(spool)).selectExpr(
        "'NYC Open Data' AS source_name", "value AS payload")
    hit = adapters.fetch_one(raw, adapters.NYC_OPEN_DATA, "id-1")
    plan = hit._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(StructField(") == 1
    assert [(r.record_id, r.title) for r in hit.collect()] == [("id-1", "n1")]
    # a payload without an id is found by the md5 of its text
    md5 = hashlib.md5(lines[-1].encode()).hexdigest()
    assert [r.title for r in adapters.fetch_one(
        raw, adapters.NYC_OPEN_DATA, md5).collect()] == ["no id"]


def test_raw_to_records_maps_every_source(spark):
    # one mapping for all sources: the per-source constants come from the
    # registry, and the spool's shape (``_source`` inside the payload)
    # maps the same as a (source_name, payload) frame
    items = [
        (s.name, json.dumps({"_source": s.name, "id": f"r{i}", "size_bytes": 7, "view_count": 5}))
        for i, s in enumerate(adapters.ALL_SOURCES)
    ] + [("Nowhere", json.dumps({"_source": "Nowhere", "id": "x"}))]
    named = adapters.raw_to_records(adapters.make_raw_df(spark, items))
    spool = adapters.raw_to_records(adapters.make_raw_df(spark, items).select("payload"))
    rows = {r.source_name: r for r in named.collect()}
    assert sorted(named.drop("ingested_at").collect()) == sorted(spool.drop("ingested_at").collect())
    for s in adapters.ALL_SOURCES:
        r = rows[s.name]
        assert (r.data_type, r.license_info) == (s.data_type, s.data_license)
        assert r.url == s.base_url + "/" + r.record_id
        assert r.size_bytes == 7 and "Views: 5" in r.content_summary
    # an unregistered source maps with null constants
    assert (rows["Nowhere"].data_type, rows["Nowhere"].url) == (None, None)


def test_xml_spool_roundtrip(spark, tmp_path):
    xml = """<?xml version="1.0"?>
<catalog>
  <record><id>xml-1</id><name>Air Quality</name><description>PM2.5 readings</description><size_bytes>2048</size_bytes></record>
  <record><id>xml-2</id><name>Water Use</name><description>Hydrant data</description><size_bytes>4096</size_bytes></record>
</catalog>"""
    p = tmp_path / "spool.xml"
    p.write_text(xml)
    raw = adapters.read_spool_xml(spark, str(p), "NYC Open Data")
    recs = adapters.raw_to_records(raw, adapters.NYC_OPEN_DATA)
    rows = {r.record_id: r for r in recs.collect()}
    assert set(rows) == {"xml-1", "xml-2"}
    assert rows["xml-1"].title == "Air Quality"
    assert rows["xml-2"].size_bytes == 4096
