"""Multi-batch drain equivalence pins (r13).

The registered ``streaming_purchase_click_join`` and
``streaming_knn_serving`` drain in the largest micro-batch availableNow
allows (every extra batch re-pays per-(state store × partition × batch)
commits — the ``streaming_sessions_stateful`` rationale). These tests
keep the CROSS-BATCH property honest at fixture scale: a forced
multi-batch replay (maxFilesPerTrigger=1 → 4 micro-batches) must be
row-identical to the registered single-batch drain — for the join, with
state handed off across batches; for serving, which keeps no state, with
each batch answered on its own.
"""

from __future__ import annotations

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.queries import streaming_q as SQ

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_interval_join_multibatch_equals_registered(spark):
    multi = _rows(SQ._purchase_click_drain(spark, SF_DIR, mfpt=1))
    reg = _rows(registry.QUERIES["streaming_purchase_click_join"](spark, SF_DIR))
    assert multi == reg
    assert multi  # non-vacuous


def test_knn_serving_multibatch_equals_registered(spark):
    multi = _rows(SQ._knn_serving_drain(spark, SF_DIR, mfpt=1))
    reg = _rows(registry.QUERIES["streaming_knn_serving"](spark, SF_DIR))
    assert multi == reg
    assert multi  # non-vacuous
