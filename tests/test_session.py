"""Session factory defaults, checked against a stub builder so no
second SparkSession starts; the per-process scratch root."""

from __future__ import annotations

import atexit
import os
import subprocess
import sys
from pathlib import Path

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


def test_scratch_dirs_share_one_root_and_one_exit_hook(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(session, "_root", None)  # as in a fresh process
    hooks = atexit._ncallbacks()
    a, b = session.scratch_dir("eds_a_"), session.scratch_dir("eds_b_")
    assert os.path.dirname(a) == os.path.dirname(b) == session._root
    assert os.path.dirname(session._root) == str(tmp_path)
    assert atexit._ncallbacks() == hooks + 1
    session.scratch_dir("eds_c_")
    assert atexit._ncallbacks() == hooks + 1


def test_scratch_root_removed_at_interpreter_exit(tmp_path):
    code = (
        "import os\n"
        "from ethical_data_ingestion_spark.session import scratch_dir\n"
        "d = scratch_dir('eds_x_')\n"
        "open(os.path.join(d, 'f'), 'w').close()\n"
        "print(os.path.dirname(d))\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(tmp_path), PYTHONPATH=repo)
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=repo,
                         capture_output=True, text=True, check=True)
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
