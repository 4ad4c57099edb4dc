"""state: the write-ahead intent pair, and the rule that every Hadoop-FS
call lives in state.py."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "azure_serverless_etl_pipeline_spark"


def test_intent_record_exists_while_body_runs(spark, tmp_path):
    """The record is committed before the body and deleted after it."""
    from azure_serverless_etl_pipeline_spark import state

    d = str(tmp_path / "leaf")
    rec = os.path.join(d, "_pending.json")
    seen = []
    with state.intent(spark, d, "_pending.json", {"steps": [1, 2]}) as payload:
        seen.append(os.path.exists(rec))
        with open(rec) as fh:
            seen.append(json.load(fh))
        assert payload == {"steps": [1, 2]}
    assert seen == [True, {"steps": [1, 2]}]
    assert not os.path.exists(rec)


def test_intent_body_that_raises_keeps_the_record(spark, tmp_path):
    from azure_serverless_etl_pipeline_spark import state

    d = str(tmp_path / "leaf")
    with pytest.raises(RuntimeError, match="crash inside the body"):
        with state.intent(spark, d, "_pending.json", {"n": 3}):
            raise RuntimeError("crash inside the body")
    with open(os.path.join(d, "_pending.json")) as fh:
        assert json.load(fh) == {"n": 3}


def test_resume_repairs_only_a_present_record_then_deletes_it(spark, tmp_path):
    """No record: the repair never runs. A record: the repair runs on its
    payload while the record still exists, and the record goes only
    after the repair returns — a repair that raises keeps it."""
    from azure_serverless_etl_pipeline_spark import state

    d = str(tmp_path / "leaf")
    rec = os.path.join(d, "_pending.json")
    calls = []
    assert state.resume(spark, d, "_pending.json", calls.append) is None
    assert calls == []

    state.write_record(spark, d, {"n": 1}, name="_pending.json")

    def failing(payload):
        calls.append(payload)
        raise RuntimeError("repair crashed")

    with pytest.raises(RuntimeError, match="repair crashed"):
        state.resume(spark, d, "_pending.json", failing)
    assert calls == [{"n": 1}] and os.path.exists(rec)

    def repair(payload):
        calls.append((payload, os.path.exists(rec)))

    assert state.resume(spark, d, "_pending.json", repair) == {"n": 1}
    assert calls[-1] == ({"n": 1}, True)
    assert not os.path.exists(rec)


def test_missing_intent_record_beside_parquet_files_reads_as_absent(spark, tmp_path):
    """A compaction leaf is a directory of part-*.parquet files with no
    intent record: ``resume`` must read that as absent, not raise the
    old-format refusal ``read_record`` keeps for record directories."""
    from azure_serverless_etl_pipeline_spark import state

    leaf = str(tmp_path / "leaf")
    spark.range(10).select(F.col("id")).coalesce(2).write.parquet(leaf)
    assert any(f.startswith("part-") for f in os.listdir(leaf))
    with pytest.raises(ValueError, match="one-row parquet record"):
        state.read_record(spark, leaf, name="_pending.json")
    assert state.resume(spark, leaf, "_pending.json", pytest.fail) is None


def test_only_state_touches_the_hadoop_file_system():
    """Every Hadoop-FS handle is built in state.py: no other package
    module names the ``org.apache.hadoop.fs`` classes or calls
    ``getFileSystem``."""
    offenders = [
        f"{path.relative_to(REPO)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "state.py" or path.parent != PACKAGE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "org.apache.hadoop.fs" in line or "getFileSystem" in line
    ]
    assert not offenders, offenders
