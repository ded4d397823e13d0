"""CLI — the reference's user surface, re-expressed over Spark.

The reference's entire entry-point layer is a ``click`` CLI group with six
commands — ``setup collect search analytics export status``
(``ethical_crawler.py:1110-1533``; group at ``:1110-1113``, dispatch at
``:1532-1533``). A user of the reference drives everything through these, so
command parity is part of operator parity. This module mirrors each command
over the Spark catalog (argparse, stdlib-only):

* ``setup``     (``:1116-1155``) — create the three declared tables.
* ``fetch``     — the live half of the reference's ``collect``: run every
  source's HTTP discovery (``sources/fetch.py``) and write the JSONL
  spool that ``collect`` consumes. Split from ``collect`` deliberately:
  fetch is driver-side and rate-limited; collect is the distributed half.
* ``collect``   (``:1157-1204``) — spooled payloads → compliance gate →
  dedupe-upsert into ``data_records`` + audit append. The network fetch is
  decoupled by design (SURVEY §3.2): ``fetch`` (or any spooler) writes one
  JSON document per line; ``collect`` does the distributed half.
* ``search``    (``:1206-1272``) — ILIKE search + equality filters + top-k.
* ``analytics`` (``:1274-1350``) — per-source stats + type frequency table.
* ``export``    (``:1352-1414``) — parquet/csv/json sink + attribution.
* ``status``    (``:1416-1530``) — composite stats joined with the latest
  compliance state per source (the reference does this join manually in a
  Python dict, ``:1474-1487``; here it is a real broadcast join).

Each command is a plain function taking an existing ``SparkSession`` so
tests drive them in-process; ``main()`` only parses argv and bootstraps the
session (warehouse dir = the reference's ``--db`` path).
"""

from __future__ import annotations

import argparse
import json
import sys
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import catalog
from . import render
from .export import attribution, export
from .operators.analytics import composite_stats, frequency_table, source_stats
from .operators.search import equality_filters, ilike_any
from .schemas import COMPLIANCE_CHECKS, DATA_RECORDS, DATA_SOURCES
from .sources.adapters import ALL_SOURCES, raw_to_records, union_sources
from .sources.compliance import audit_rows, standard_rules, with_issues

#: data_type emitted per source, matching the adapters
#: (``ethical_crawler.py:387, 540, 650, 732``).
DATA_TYPE_BY_SOURCE = {
    "NYC Open Data": "dataset",
    "UN Comtrade": "api_endpoint",
    "SEC EDGAR": "data_feed",
    "College Scorecard": "api_endpoint",
}

SEARCH_COLUMNS = ["title", "description", "content_summary"]


def sources_df(spark: SparkSession, api_keys: set[str]) -> DataFrame:
    """Source registry as a (tiny, broadcastable) DataFrame — the rows the
    reference hard-codes in its adapter constructors
    (``ethical_crawler.py:347-356, 490-499, 591-600, 684-693``)."""
    rows = [
        {
            "name": s.name,
            "base_url": s.base_url,
            "api_endpoint": s.api_endpoint,
            "terms_of_service_url": None,
            "robots_txt_url": s.base_url + "/robots.txt",
            "data_license": s.data_license,
            "requires_api_key": s.requires_api_key,
            "rate_limit_per_second": s.rate_limit_per_second,
            "last_checked": None,
            "is_compliant": True,
            "compliance_notes": "",
        }
        for s in ALL_SOURCES
    ]
    df = spark.createDataFrame(rows, DATA_SOURCES)
    keys = F.array(*[F.lit(k) for k in sorted(api_keys)]) if api_keys else F.array().cast("array<string>")
    return df.withColumn("api_key_present", F.array_contains(keys, F.col("name")) if api_keys else F.lit(False))


def cmd_setup(spark: SparkSession) -> list[str]:
    """``setup`` (``ethical_crawler.py:1116-1155``): declare the three
    tables (CREATE TABLE IF NOT EXISTS semantics)."""
    created = []
    for name, schema in [
        ("data_records", DATA_RECORDS),
        ("compliance_checks", COMPLIANCE_CHECKS),
        ("data_sources", DATA_SOURCES),
    ]:
        if not catalog.table_exists(spark, name):
            spark.createDataFrame([], schema).write.format("parquet").saveAsTable(name)
            created.append(name)
    return created


def cmd_fetch(
    raw_out: str,
    api_keys: dict[str, str] | None = None,
    base_override: str | None = None,
    rate_multiplier: float = 1.0,
) -> int:
    """``fetch``: live HTTP discovery across all four sources → JSONL
    spool at ``raw_out`` (the file ``cmd_collect --raw`` reads). No
    SparkSession involved — discovery is tiny-metadata, rate-limited
    driver work (SURVEY #1). ``base_override`` redirects every request to
    a test/staging host while keeping real paths; ``rate_multiplier``
    relaxes pacing against such hosts."""
    from .sources.fetch import HttpTransport, fetch_all, spool_jsonl

    transport = HttpTransport(base_override=base_override)
    return spool_jsonl(
        fetch_all(transport, api_keys=api_keys, rate_multiplier=rate_multiplier),
        raw_out,
    )


def cmd_collect(
    spark: SparkSession, raw_path: str, api_keys: set[str] | None = None
) -> dict[str, int]:
    """``collect`` (``ethical_crawler.py:1157-1204``): spooled JSON → per-
    source record mapping → compliance rules → upsert + audit.

    ``raw_path`` holds one JSON document per line with a ``_source`` field
    naming the producing source (what the rate-limited driver-side fetcher
    spools). Returns per-source compliant counts (sources with any), rows
    inserted and rows quarantined.

    Like the reference's one visit per record, the spool's plan runs once:
    the rules flag one batch, and its catalog write is the only action over
    it. The counts and each source's issue union are
    :class:`~pyspark.sql.Observation` metrics of that write; the audit rows
    (one per source in the spool) are built from them on the driver.
    """
    raw = spark.read.text(raw_path).select(
        F.get_json_object("value", "$._source").alias("source_name"),
        F.col("value").alias("payload"),
    )
    per_source = [
        raw_to_records(raw, spec, DATA_TYPE_BY_SOURCE[spec.name])
        for spec in ALL_SOURCES
    ]
    records = union_sources(per_source)

    # Attach the compliance context (requires_api_key / key presence /
    # robots verdict) via broadcast join — 4 rows, never a shuffle.
    srcs = sources_df(spark, api_keys or set()).select(
        F.col("name").alias("source_name"),
        "requires_api_key",
        "api_key_present",
        "rate_limit_per_second",
        F.lit(True).alias("robots_txt_compliant"),  # fail-open (:257-266)
    )
    flagged = with_issues(records.join(F.broadcast(srcs), "source_name", "left"), standard_rules())

    ok, src = F.size("issues") == 0, F.col("source_name")
    names = [spec.name for spec in ALL_SOURCES]
    seen = Observation("collect")
    flagged = flagged.observe(
        seen,
        F.count_if(~ok).alias("_quarantined"),
        *[F.count_if(ok & (src == n)).alias(n) for n in names],
        # per source, the union of its distinct issue arrays (a few values)
        *[F.array_distinct(F.flatten(F.collect_set(F.when(src == n, F.col("issues")))))
          .alias("issues:" + n) for n in names],
    )
    n_inserted = catalog.upsert_ignore(
        spark,
        flagged.filter(ok).drop("issues", *srcs.columns[1:]),
        "data_records",
        ["source_name", "record_id"],
        "record_id",
    )

    # Audit append: one ComplianceCheck row per source in the spool, i.e.
    # with a compliant row or an issue (SURVEY #9/#33).
    m = seen.get  # after the write returned, so a failed write raises
    issues = {n: m["issues:" + n] for n in names if m[n] or m["issues:" + n]}
    now = datetime.now(timezone.utc)
    catalog.append_audit(spark, audit_rows(issues, now), COMPLIANCE_CHECKS, "compliance_checks")
    counts = {n: m[n] for n in names if m[n]}
    return {**counts, "_inserted": n_inserted, "_quarantined": m["_quarantined"]}


def cmd_search(
    spark: SparkSession,
    query: str,
    source: str | None = None,
    data_type: str | None = None,
    limit: int = 10,
) -> DataFrame:
    """``search`` (``ethical_crawler.py:1206-1272``): multi-column ILIKE +
    optional equality filters, newest-first top-k (TakeOrderedAndProject)."""
    df = spark.table("data_records")
    df = df.filter(ilike_any(df, query, SEARCH_COLUMNS))
    df = equality_filters(df, source_name=source, data_type=data_type)
    return df.orderBy(F.desc("ingested_at"), "source_name", "record_id").limit(limit)


def cmd_analytics(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """``analytics`` (``ethical_crawler.py:1274-1350``): the two panels —
    per-source 5-aggregate rollup and data-type frequency table."""
    df = spark.table("data_records")
    return (
        source_stats(df, "source_name", "data_type", "size_bytes", "ingested_at"),
        frequency_table(df, "data_type"),
    )


def cmd_export(
    spark: SparkSession, fmt: str, output: str, where: str | None = None
) -> DataFrame:
    """``export`` (``ethical_crawler.py:1352-1414``): filtered sink write +
    distinct-source attribution footer."""
    df = spark.table("data_records")
    export(df, fmt, output, where=where)
    return attribution(df, "source_name", where=where)


def cmd_status(spark: SparkSession) -> DataFrame:
    """``status`` (``ethical_crawler.py:1416-1530``): per-source composite
    stats joined with the latest compliance verdict. The reference joins
    these in a Python dict on the driver (``:1474-1487``); here it is a
    broadcast hash join on ``source_name``."""
    stats = composite_stats(
        spark.table("data_records"), "source_name", "data_type", "ingested_at"
    )
    per_source = stats.groupBy("source_name").agg(
        F.sum("count").alias("record_count"),
        F.countDistinct("data_type").alias("type_count"),
        F.max("last_ingested").alias("last_ingested"),
    )
    latest = catalog.latest_audit_state(
        spark.table("compliance_checks"), "source_name", "check_time", "api_key_valid"
    ).select(
        "source_name",
        (F.size("issues") == 0).alias("compliant"),
        F.col("issues"),
    )
    return per_source.join(F.broadcast(latest), "source_name", "left").orderBy(
        F.desc("record_count"), "source_name"
    )


def cmd_curate(spark: SparkSession, data_dir: str, output: str) -> dict:
    """``curate`` — the training-pipeline analogue of ``export``
    (``ethical_crawler.py:1352-1414``): compose the curation decision
    manifest, the substring-dedup pass, and the BPE-priced sharder, and
    WRITE the mount (corpus partitioned by shard_id + shard manifest +
    audit trail + Merkle manifest with root hash) — see :mod:`.curate`."""
    from .curate import write_training_mount

    return write_training_mount(spark, data_dir, output)


def main(argv: Sequence[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="ethical_data_ingestion_spark",
        description="PySpark-native ethical data catalog (reference CLI parity)",
    )
    p.add_argument("--warehouse", default="spark-warehouse", help="catalog dir (reference --db)")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("setup")
    f = sub.add_parser("fetch")
    f.add_argument("--out", required=True, help="JSONL spool to write")
    f.add_argument(
        "--api-key", action="append", default=[], metavar="SOURCE=KEY",
        help="per-source API key, e.g. 'College Scorecard=abc123'",
    )
    f.add_argument("--base-url", help="redirect all requests to this host (testing/staging)")
    c = sub.add_parser("collect")
    c.add_argument("--raw", required=True, help="spooled JSONL (one payload per line, _source field)")
    c.add_argument("--api-key", action="append", default=[], help="source name holding an API key")
    s = sub.add_parser("search")
    s.add_argument("--query", required=True)
    s.add_argument("--source")
    s.add_argument("--data-type")
    s.add_argument("--limit", type=int, default=10)
    sub.add_parser("analytics")
    e = sub.add_parser("export")
    e.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    e.add_argument("--output", required=True)
    e.add_argument("--where")
    sub.add_parser("status")
    cu = sub.add_parser("curate")
    cu.add_argument("--data", required=True, help="corpus dir holding documents.parquet")
    cu.add_argument("--output", required=True, help="training-mount dir to write")
    args = p.parse_args(argv)

    if args.cmd == "fetch":
        # no SparkSession: fetch is pure driver-side HTTP + file IO
        bad = [kv for kv in args.api_key if "=" not in kv]
        if bad:
            p.error(
                f"--api-key expects SOURCE=KEY (got {bad[0]!r}); e.g. "
                "--api-key 'College Scorecard=YOURKEY'"
            )
        keys = dict(kv.split("=", 1) for kv in args.api_key)
        n = cmd_fetch(args.out, api_keys=keys, base_override=args.base_url)
        print(json.dumps({"spooled": n, "out": args.out}))
        return 0

    from .session import get_spark

    spark = get_spark("cli", extra_conf={"spark.sql.warehouse.dir": args.warehouse})
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "setup":
        print(json.dumps({"created": cmd_setup(spark)}))
    elif args.cmd == "collect":
        print(json.dumps(cmd_collect(spark, args.raw, set(args.api_key))))
    elif args.cmd == "search":
        print(
            render.render_df(
                cmd_search(spark, args.query, args.source, args.data_type, args.limit),
                title=f"Search Results: '{args.query}'",
            )
        )
    elif args.cmd == "analytics":
        for title, panel in zip(
            ("Data Sources Performance", "Data Types Distribution"),
            cmd_analytics(spark),
        ):
            print(render.render_df(panel, title=title))
    elif args.cmd == "export":
        footer = cmd_export(spark, args.format, args.output, args.where)
        srcs = [r[0] for r in footer.collect()]
        print(render.format_table(footer.columns, [[s] for s in srcs]))
        print(render.attribution_footer(srcs))
        print(f"exported to {args.output}")
    elif args.cmd == "status":
        df = cmd_status(spark)
        print(render.render_df(df, title="Collection Results"))
        print(render.attribution_footer([r[0] for r in df.select(df.columns[0]).collect()]))
    elif args.cmd == "curate":
        print(json.dumps(cmd_curate(spark, args.data, args.output)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
