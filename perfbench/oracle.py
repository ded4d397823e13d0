"""DuckDB oracle hashes for registry queries over a generated data dir.

The SQL comes from ``registry.resolve_oracle`` and rows are hashed with
``tools/oracle_check.value_hash``, the same order-insensitive hash the
repo's correctness gate uses, so a Spark result is correct exactly when
its hash equals the oracle's.
"""

from __future__ import annotations

import importlib.util
import os

from common import ROOT


def _oracle_check():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, data_dir: str) -> None:
        import duckdb

        from ethical_data_ingestion_spark.schemas import FIXTURE_TABLES

        self.value_hash = _oracle_check().value_hash
        self.con = duckdb.connect()
        for t in FIXTURE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._hashes: dict[str, str] = {}

    def hash(self, query: str) -> str:
        """Oracle hash for ``query``, computed once per run."""
        if query not in self._hashes:
            from ethical_data_ingestion_spark import registry

            res = self.con.execute(registry.resolve_oracle(query))
            cols = [d[0] for d in res.description]
            self._hashes[query] = self.value_hash(cols, res.fetchall())
        return self._hashes[query]

    def matches(self, query: str, result) -> bool:
        cols, rows = result
        return self.value_hash(cols, rows) == self.hash(query)

    def close(self) -> None:
        self.con.close()
