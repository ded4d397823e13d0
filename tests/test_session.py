"""Session factory defaults, checked against a stub builder so no
second SparkSession starts."""

from __future__ import annotations

import pytest

from ethical_data_ingestion_spark import session


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def built(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    monkeypatch.setattr(
        session, "SparkSession",
        type("_Stub", (), {"builder": property(lambda self: _Builder())})(),
    )

    def build(**kw):
        conf = session.get_spark(**kw)
        return conf["master"], conf["spark.sql.shuffle.partitions"]

    return build


def test_defaults_to_host_cpu_count(built, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert built() == ("local[6]", "6")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert built() == ("local[3]", "3")


def test_explicit_partitions_win_over_non_numeric_cpus(built, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert built(shuffle_partitions=5) == ("local[*]", "5")
    assert built() == ("local[*]", "6")
