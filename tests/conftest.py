from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from azure_serverless_etl_pipeline_spark.session import get_spark

    # Pinned to local[8]: the suite runs sf0.001 fixtures whose stages
    # hold a handful of rows, so parallelism beyond ~8 only adds
    # per-task scheduling overhead — the identical default gate
    # measured 23:44 on local[32] vs ~14 min on local[8] (r14). The
    # bench/driver sessions keep local[$SPARK_GRAFT_CPUS]; this is the
    # test session only.
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


def run_in_job_group(spark, group: str, fn):
    """Run ``fn`` under the Spark job group ``group`` (a name unique to
    the caller). Returns (fn's result, ids of the jobs launched in the
    group, ids of the jobs launched meanwhile with no group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    settle = sc._jsc.sc().listenerBus().waitUntilEmpty
    settle(30_000)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    settle(30_000)
    return (
        out,
        set(tracker.getJobIdsForGroup(group)),
        set(tracker.getJobIdsForGroup(None)) - ungrouped,
    )


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    return con


# The default gate (pyproject ``addopts = "-m 'not slow'"``) drops the
# slow set without a word; count what it dropped and say so at the end
# of every run, so a green default run never reads as the whole suite.
_deselected_slow: list[str] = []


def pytest_deselected(items):
    _deselected_slow.extend(i.nodeid for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter):
    if _deselected_slow and terminalreporter.config.option.markexpr == "not slow":
        terminalreporter.write_line(
            f"{len(_deselected_slow)} slow test(s) deselected by the default "
            "addopts filter -m 'not slow'; run them with "
            "`pytest tests/ -m slow` (or everything with "
            "`pytest tests/ -o addopts=\"\"`)",
            yellow=True,
        )
