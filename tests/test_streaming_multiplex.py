"""Shared-artifact streaming panels: one stream pass serving a panel
family must be row-identical to the dedicated single drains.

The registered ingest and window panels read session-shared drained-rows
artifacts (``_drained_doc_rows``, ``_drained_event_rows``,
``_tumbling_table``, published via ``materialize.shared``); the dedicated
engine drains live on as ``single_drain_*`` twins. The test pins the
registered queries to those twins — the row-identity the oracle hash
gate relies on.
"""

from __future__ import annotations

from ethical_data_ingestion_spark import registry
from ethical_data_ingestion_spark.queries import streaming_q as SQ

SF_DIR = "/root/testdata/sf0.001"

#: registered name -> dedicated single-drain twin.
_TWINS = {
    "streaming_quarantine_gate": SQ.single_drain_quarantine_gate,
    "streaming_curation_gate": SQ.single_drain_curation_gate,
    "streaming_anomaly_windows": SQ.single_drain_anomaly_windows,
    "streaming_topk_trending": SQ.single_drain_topk_trending,
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_registered_shared_artifact_panels_match_single_drains(spark):
    """The registered bodies (session-shared drained-rows artifacts)
    must stay row-identical to the dedicated engine drains."""
    for name, twin in _TWINS.items():
        got = _rows(registry.QUERIES[name](spark, SF_DIR))
        want = _rows(twin(spark, SF_DIR))
        assert got == want, name
        assert got, name  # non-vacuous
