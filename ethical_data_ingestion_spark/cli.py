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
  JSON document per line; ``collect`` scans and parses it once.
* ``search``    (``:1206-1272``) — ILIKE search + equality filters + top-k.
* ``analytics`` (``:1274-1350``) — per-source stats + type frequency table.
* ``export``    (``:1352-1414``) — parquet/csv/json sink + attribution.
* ``status``    (``:1416-1530``) — per-source counts joined with the latest
  compliance state per source, in a driver dict as the reference does
  (``:1474-1487``).

``analytics`` and ``status`` fold their rows on the driver from one
collected aggregate (``catalog_summary``); driver-built rows (panels,
export footer, audit rows) are local relations (``io.local_frame``).

Each command is a plain function taking an existing ``SparkSession`` so
tests drive them in-process; ``main()`` only parses argv and bootstraps the
session (warehouse dir = the reference's ``--db`` path).
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import Counter
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import catalog
from . import render
from .export import export
from .io import local_frame
from .operators.analytics import catalog_summary
from .operators.search import equality_filters, ilike_any
from .schemas import COMPLIANCE_CHECKS, DATA_RECORDS, DATA_SOURCES
from .sources.adapters import ALL_SOURCES, per_source, raw_to_records
from .sources.compliance import audit_rows, standard_rules, with_issues

SEARCH_COLUMNS = ["title", "description", "content_summary"]

#: the panels' shapes: what ``source_stats``, ``frequency_table`` and the
#: status join over ``composite_stats`` return
STATS_SCHEMA = ("source_name string, record_count long not null, type_count long not null, "
                "avg_size double, first_ingested timestamp, last_ingested timestamp")
FREQ_SCHEMA = "data_type string, count long not null"
STATUS_SCHEMA = ("source_name string, record_count long, type_count long not null, "
                 "last_ingested timestamp, compliant boolean, issues array<string>")


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
            local_frame(spark, [], schema).write.format("parquet").saveAsTable(name)
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
    inserted and rows quarantined: every line the write filters out,
    including lines that are not JSON objects or name no registered
    source (those fail the rate-limit rule and get no audit row).

    Like the reference's one visit per record, the spool is scanned and
    parsed once: one ``from_json`` per line, and the rules' inputs are
    driver constants per source (a CASE on the source name; key presence
    is ``isin`` of the held keys). The catalog write is the only action
    over the batch; the counts and each source's issue union are
    :class:`~pyspark.sql.Observation` metrics of it, and the audit rows
    (one per source in the spool) are built from them on the driver and
    appended as one file.
    """
    records = raw_to_records(spark.read.text(raw_path).select(F.col("value").alias("payload")))
    src = F.col("source_name")
    context = [
        per_source(src, "requires_api_key").alias("requires_api_key"),
        src.isin(sorted(api_keys or ())).alias("api_key_present"),
        per_source(src, "rate_limit_per_second").alias("rate_limit_per_second"),
        F.lit(True).alias("robots_txt_compliant"),  # fail-open (:257-266)
    ]
    flagged = with_issues(records.select("*", *context), standard_rules())

    ok = F.coalesce(F.size("issues") == 0, F.lit(False))  # never null under ANSI
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
        flagged.filter(ok).select(*records.columns),
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


def _summary(spark: SparkSession) -> tuple[dict[int, list], Counter]:
    """``catalog_summary`` of ``data_records``, collected once: its rows by
    grouping set (0 per (source, type), 1 per source, 2 per type), and
    COUNT(DISTINCT data_type) per source."""
    rows = catalog_summary(spark.table("data_records"), "source_name", "data_type",
                           "size_bytes", "ingested_at").collect()
    by_set = {g: [r for r in rows if r.g == g] for g in (0, 1, 2)}
    return by_set, Counter(r.source_name for r in by_set[0] if r.data_type is not None)


def _ranked(rows: list[list]) -> list[list]:
    """ORDER BY <column 1> DESC, <column 0> ASC (nulls first, as in Spark)."""
    return sorted(rows, key=lambda r: (-r[1], r[0] is not None, r[0] or ""))


def cmd_analytics(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """``analytics`` (``ethical_crawler.py:1274-1350``): the two panels —
    per-source 5-aggregate rollup (``source_stats``) and data-type
    frequency table (``frequency_table``) — folded on the driver from one
    collected ``catalog_summary`` and returned as local relations."""
    summary, types = _summary(spark)
    stats = [[r.source_name, r.n, types[r.source_name], r.avg, r.first, r.last] for r in summary[1]]
    freq = [[r.data_type, r.n] for r in summary[2]]
    return (local_frame(spark, _ranked(stats), STATS_SCHEMA),
            local_frame(spark, _ranked(freq), FREQ_SCHEMA))


def cmd_export(
    spark: SparkSession, fmt: str, output: str, where: str | None = None
) -> DataFrame:
    """``export`` (``ethical_crawler.py:1352-1414``): filtered sink write +
    distinct-source attribution footer. The footer's sources are observed
    on the write itself, so the export is one Spark job and the footer a
    local relation."""
    df = spark.table("data_records")
    df = df.filter(F.expr(where)) if where else df
    seen = Observation("export")
    export(df.observe(seen, F.array_sort(F.collect_set("source_name")).alias("s")), fmt, output)
    return local_frame(spark, [(s,) for s in seen.get["s"]], "source_name string")


def cmd_status(spark: SparkSession) -> DataFrame:
    """``status`` (``ethical_crawler.py:1416-1530``): per-source record and
    type counts and latest ingest (the ``composite_stats`` rollup, folded
    from one collected ``catalog_summary``) joined with the latest
    compliance verdict per source. As in the reference (``:1474-1487``),
    the join is a dict lookup on the driver; the result is a local
    relation."""
    summary, types = _summary(spark)
    latest = {
        r.source_name: (r.compliant, r.issues)
        for r in catalog.latest_audit_state(
            spark.table("compliance_checks"), "source_name", "check_time", "api_key_valid"
        ).select("source_name", (F.size("issues") == 0).alias("compliant"), "issues").collect()
    }
    rows = [[r.source_name, r.n, types[r.source_name], r.last, *latest.get(r.source_name, (None, None))]
            for r in summary[1]]
    return local_frame(spark, _ranked(rows), STATUS_SCHEMA)


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
