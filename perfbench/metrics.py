"""Metric names, units and how the traced run derives the per-layer ones.

``E2E`` is printed by untraced runs, ``PER_LAYER`` by traced runs; every
run prints every name of its set, so a metric that a workload does not
exercise reads 0. Span metrics (``*_ms``) are means per call of the
named span; ``*.calls``, ``spark.*`` and ``materialize.pins`` /
``materialize.shared_misses`` are means per traced operation.
"""

from __future__ import annotations

import statistics

from common import percentile, tail

E2E = ["setup_s", "op_p50_ms", "ops_per_s"]

#: modules whose registry queries the workloads call
QUERY_MODULES = [
    "relational", "relational_tpch", "relational_tpch2", "windows_q",
    "timeseries_q", "streaming_q", "text_q", "embed_q", "similarity_q",
]

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_ms", "ms"),
    ("io.preresolve_ms", "ms"),
    ("io.load_table.calls", "count"),
    ("cli.collect_ms", "ms"),
    ("sources.quarantine_ratio", "ratio"),
    ("catalog.upsert_ms", "ms"),
    ("catalog.insert_ratio", "ratio"),
    ("catalog.table_files", "count"),
    ("catalog.table_mb", "MB"),
    ("operators.search.plan_ms", "ms"),
    ("operators.search.exec_ms", "ms"),
    ("operators.analytics.exec_ms", "ms"),
    ("export.write_ms", "ms"),
    ("export.files", "count"),
    ("export.mb", "MB"),
    *[(f"queries.{m}.{p}_ms", "ms") for m in QUERY_MODULES for p in ("plan", "exec")],
    ("streaming.pipeline.drain_ms", "ms"),
    ("materialize.pin_ms", "ms"),
    ("materialize.pin_share", "ratio"),
    ("materialize.pins", "count"),
    ("materialize.shared_misses", "count"),
    ("materialize.shared_hit_ratio", "ratio"),
    ("materialize.pinned_mb", "MB"),
    ("peak_rss_mb", "MB"),
    ("curate.mount_ms", "ms"),
    ("curate.files_written", "count"),
    ("curate.mb_written", "MB"),
    ("ann_store.save_ms", "ms"),
    ("ann_store.index_mb", "MB"),
    ("ann_store.serve_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.gc_ms", "ms"),
    ("tracing.overhead_pct", "%"),
    ("error_rate", "ratio"),
    # the workloads' own end-to-end figures, from the run's untraced cycles
    ("ingest_records_per_s", "1/s"),
    ("search_p50_ms", "ms"),
    ("search_p95_ms", "ms"),
    ("search_samples", "count"),
    ("report_p50_ms", "ms"),
    ("export_p50_ms", "ms"),
    ("queries_per_min", "1/min"),
    ("query_p50_ms", "ms"),
    ("curate_s", "s"),
    ("index_build_s", "s"),
    ("retrieval_p50_ms", "ms"),
    ("op_tail_pct", "%"),
    ("op_tail_ms", "ms"),
    ("op_samples", "count"),
]


def _mean_ms(spans: dict[str, list[float]], name: str) -> float:
    v = spans.get(name)
    return 1000.0 * statistics.fmean(v) if v else 0.0


def _p50_ms(v: list[float]) -> float:
    return 1000.0 * statistics.median(v) if v else 0.0


def per_layer(ctx, extra: dict[str, float]) -> dict[str, tuple[float, str]]:
    tr = ctx.tracer
    tot, own, c = tr.totals(), tr.self_times(), tr.counters
    ops = c.get("ops", 0.0) or 1.0
    roots = sum(t1 - t0 for _, t0, t1, parent, _ in tr.spans if parent is None)
    pins = tot.get("materialize.pin", [])
    hits, misses = c.get("materialize.shared_hits", 0.0), c.get("materialize.shared_misses", 0.0)
    v: dict[str, float] = {
        "io.load_table.calls": c.get("io.load_table.calls", 0.0) / ops,
        "cli.collect_ms": _mean_ms(own, "cli.collect"),
        "catalog.upsert_ms": _mean_ms(tot, "catalog.upsert"),
        "operators.search.plan_ms": _mean_ms(tot, "operators.search.plan"),
        "operators.search.exec_ms": _mean_ms(tot, "operators.search.exec"),
        "operators.analytics.exec_ms": _mean_ms(tot, "operators.analytics.exec"),
        "export.write_ms": _mean_ms(tot, "export.write"),
        "streaming.pipeline.drain_ms": _mean_ms(tot, "streaming.pipeline.drain"),
        "materialize.pin_ms": _mean_ms(tot, "materialize.pin"),
        "materialize.pin_share": sum(pins) / roots if roots else 0.0,
        "materialize.pins": len(pins) / ops,
        "materialize.shared_misses": misses / ops,
        "materialize.shared_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "materialize.pinned_mb": ctx.pinned_peak,
        "peak_rss_mb": ctx.peak_rss_mb(),
        "curate.mount_ms": _mean_ms(tot, "curate.mount"),
        "ann_store.save_ms": _mean_ms(tot, "ann_store.save"),
        "ann_store.serve_ms": _mean_ms(tot, "ann_store.serve"),
        "spark.jobs": c.get("spark.jobs", 0.0) / ops,
        "spark.stages": c.get("spark.stages", 0.0) / ops,
        "spark.tasks": c.get("spark.tasks", 0.0) / ops,
        "spark.gc_ms": c.get("spark.gc_ms", 0.0) / ops,
        "tracing.overhead_pct": ctx.overhead_pct(),
        "error_rate": ctx.failed / max(ctx.attempted, 1),
    }
    for m in QUERY_MODULES:
        v[f"queries.{m}.plan_ms"] = _mean_ms(tot, f"queries.{m}.plan")
        v[f"queries.{m}.exec_ms"] = _mean_ms(tot, f"queries.{m}.exec")

    u = ctx.untraced
    collect, search, report = u("collect"), u("search"), u("analytics") + u("status")
    query, retrieval, allops = u("query"), u("retrieval"), u()
    lines = extra.get("lines_per_batch", 0.0)
    mount = [s[2] for s in ctx.samples if s[0] == "mount"]
    index = [s[2] for s in ctx.samples if s[0] == "index"]
    tq, tv = tail(allops)
    v.update({
        "ingest_records_per_s": lines * len(collect) / sum(collect) if collect else 0.0,
        "search_p50_ms": _p50_ms(search),
        "search_p95_ms": 1000.0 * percentile(search, 95) if search else 0.0,
        "search_samples": len(search),
        "report_p50_ms": _p50_ms(report),
        "export_p50_ms": _p50_ms(u("export")),
        "queries_per_min": 60.0 * len(query) / sum(query) if query else 0.0,
        "query_p50_ms": _p50_ms(query),
        "curate_s": statistics.median(mount) if mount else 0.0,
        "index_build_s": statistics.median(index) if index else 0.0,
        "retrieval_p50_ms": _p50_ms(retrieval),
        "op_tail_pct": tq,
        "op_tail_ms": 1000.0 * tv,
        "op_samples": len(allops),
    })
    v.update({k: x for k, x in extra.items() if k != "lines_per_batch"})
    return {name: (v.get(name, 0.0), unit) for name, unit in PER_LAYER}
