from __future__ import annotations

import sys
import time
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ethical_data_ingestion_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


def group_jobs(sc, group: str) -> list[int]:
    """Job ids of ``group`` once the status listener has caught up: every
    job finished and the count unchanged over two polls."""
    st = sc.statusTracker()
    last = None
    for _ in range(50):
        jobs = sorted(st.getJobIdsForGroup(group))
        done = all((ji := st.getJobInfo(j)) and ji.status != "RUNNING" for j in jobs)
        if done and jobs == last:
            return jobs
        last = jobs
        time.sleep(0.1)
    return last


def jobs_of(spark, fn):
    """(result of ``fn()``, number of Spark jobs it issued), counted in a
    job group of its own."""
    sc, group = spark.sparkContext, f"jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(group_jobs(sc, group))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(warehouse),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    """The bench-scale fixture dir, for tests that deliberately pin a
    larger scale factor (sampling error, KS drift) — centralized here so
    a checkout-layout change touches one line."""
    return SF_DIR_MED
