"""``analytics_mix``: stateless registry panels over the fixture tables.

One cycle runs every query in :data:`QUERIES` once, in an order permuted
by the seed. Each call builds a fresh plan and
``materialize.transient_release`` runs after it, so the artifact cache
has nothing to serve: this is the bypass workload for caching changes.
Every result is hashed against the DuckDB oracle.
"""

from __future__ import annotations

import os

import numpy as np

import datagen
from oracle import Oracle

#: Fixed data seed: the run seed permutes call order, not the tables.
DATA_SEED = 20240101

QUERIES = [
    # relational / TPC-H shapes
    "flagship_pricing_summary",
    "top_unshipped_orders",
    "promo_revenue_ratio",
    "nation_market_share",
    "small_quantity_revenue",
    "late_shipment_suppliers",
    # windows_q
    "json_extract_stats",
    "window_tumbling_daily",
    "session_windows_30m",
    # timeseries_q
    "gap_fill_daily",
    "funnel_conversion",
    "moving_avg_7d",
    # streaming_q drains
    "streaming_tumbling_hourly",
    "streaming_dedup_keys",
    # text_q
    "word_frequency_topk",
    "search_bm25_topk",
]


class AnalyticsMix:
    name = "analytics_mix"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf = 0.001 if ctx.small else 0.01
        self.data = ""
        self.oracle: Oracle | None = None

    def prepare(self, rep: int) -> None:
        self.data = os.path.join(self.ctx.work, f"data{rep}")
        datagen.generate(self.data, DATA_SEED, self.sf)

    def load(self) -> None:
        from ethical_data_ingestion_spark import io

        io.preresolve_tables(self.ctx.spark, self.data)

    def prepare_checks(self) -> None:
        self.oracle = Oracle(self.data)
        for q in QUERIES:
            self.oracle.hash(q)

    def warmup(self) -> None:
        for q in QUERIES:
            self.call(q, record=False)

    def call(self, q: str, record: bool = True) -> None:
        from ethical_data_ingestion_spark import materialize, registry

        fn = registry.QUERIES[q]
        layer = "queries." + fn.__module__.rsplit(".", 1)[-1]
        res = self.ctx.op("query", layer, lambda: fn(self.ctx.spark, self.data),
                          name=q, record=record)
        materialize.transient_release(self.ctx.spark)
        if res is not None:
            self.ctx.check(self.oracle.matches(q, res), f"oracle hash {q}")

    def cycle(self, i: int, record: bool = True) -> None:
        order = np.random.default_rng([self.ctx.seed, i + 1]).permutation(len(QUERIES))
        for j in order:
            self.call(QUERIES[j], record=record)

    def finish(self) -> dict[str, float]:
        self.oracle.close()
        return {}
