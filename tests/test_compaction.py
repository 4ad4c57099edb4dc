"""operators/compaction: row identity, file-count bound, idempotent
re-run, healthy-file skip, crash-manifest resume."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def fragmented(spark, tmp_path):
    """A directory written as 12 tiny per-'micro-batch' parquet files."""
    path = str(tmp_path / "table")
    for i in range(12):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)
    return path


def _parquet_files(path: str) -> list[str]:
    return [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def test_compact_preserves_rows_and_bounds_files(spark, fragmented):
    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        compact_parquet_dir,
    )

    before = spark.read.parquet(fragmented).toPandas().sort_values("id")
    n_before = len(_parquet_files(fragmented))
    assert n_before >= 12

    stats = compact_parquet_dir(spark, fragmented, target_bytes=1 << 20)
    assert stats["compacted"] and stats["rewritten"] == n_before
    assert len(_parquet_files(fragmented)) == 1  # all tiny -> one bin

    after = spark.read.parquet(fragmented).toPandas().sort_values("id")
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))


def test_compact_rerun_is_noop(spark, fragmented):
    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        compact_parquet_dir,
    )

    compact_parquet_dir(spark, fragmented, target_bytes=1 << 20)
    files = sorted(_parquet_files(fragmented))
    stats = compact_parquet_dir(spark, fragmented, target_bytes=1 << 20)
    assert not stats["compacted"] and stats["rewritten"] == 0
    assert sorted(_parquet_files(fragmented)) == files  # untouched


def test_compact_skips_healthy_files(spark, fragmented):
    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        compact_parquet_dir,
    )

    # with a tiny threshold every existing file counts as healthy
    stats = compact_parquet_dir(
        spark, fragmented, target_bytes=1 << 20, min_file_bytes=10
    )
    assert not stats["compacted"]
    assert len(_parquet_files(fragmented)) >= 12


def test_compact_resumes_pending_manifest(spark, fragmented):
    """A committed manifest left by a crash (moves done, originals not
    yet deleted) is finished before anything else — no duplicate rows."""
    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        _MANIFEST,
        compact_parquet_dir,
    )

    rows_want = spark.read.parquet(fragmented).count()
    # simulate the post-commit crash window: duplicate one file under a
    # compacted- name (its move already happened), manifest still
    # pointing at the original for deletion
    victim = sorted(_parquet_files(fragmented))[0]
    src = os.path.join(fragmented, victim)
    dup = os.path.join(fragmented, f"compacted-deadbeef-{victim}")
    with open(src, "rb") as fh, open(dup, "wb") as out:
        out.write(fh.read())
    mpath = os.path.join(fragmented, _MANIFEST)
    with open(mpath, "w") as fh:
        json.dump(
            {
                "self": mpath,
                "tmp": os.path.join(fragmented, ".compact-deadbeef"),
                "moves": [],
                "originals": [src],
            },
            fh,
        )

    stats = compact_parquet_dir(spark, fragmented, target_bytes=1 << 20)
    assert stats["resumed_deletes"] == 1
    assert not os.path.exists(src)
    assert not os.path.exists(mpath)
    assert spark.read.parquet(fragmented).count() == rows_want


def test_compact_sweeps_uncommitted_staging(spark, fragmented):
    """A staging dir with NO manifest (crash before the commit point)
    must be swept; the data directory is untouched — no duplicates, no
    loss."""
    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        compact_parquet_dir,
    )

    rows_want = spark.read.parquet(fragmented).count()
    n_before = len(_parquet_files(fragmented))
    staging = os.path.join(fragmented, ".compact-0ddba11")
    os.makedirs(staging)
    victim = sorted(_parquet_files(fragmented))[0]
    with open(os.path.join(fragmented, victim), "rb") as fh, open(
        os.path.join(staging, "part-00000.parquet"), "wb"
    ) as out:
        out.write(fh.read())

    stats = compact_parquet_dir(
        spark, fragmented, target_bytes=1 << 20, min_file_bytes=10
    )
    assert not stats["compacted"]
    assert not os.path.exists(staging)
    assert len(_parquet_files(fragmented)) == n_before
    assert spark.read.parquet(fragmented).count() == rows_want


def test_record_round_trip(spark, tmp_path):
    """A record reads back as written; a rewrite replaces it; a named
    record sits beside the default one; the directory holds no temp."""
    from azure_serverless_etl_pipeline_spark.state import (
        read_record,
        write_record,
    )

    rec_dir = str(tmp_path / "state" / "alloc_hw")
    assert read_record(spark, rec_dir) is None
    write_record(spark, rec_dir, {"hw": 3, "cells": [1, 2], "wall_s": 0.5})
    assert read_record(spark, rec_dir) == {"hw": 3, "cells": [1, 2], "wall_s": 0.5}
    write_record(spark, rec_dir, {"hw": 4})
    write_record(spark, rec_dir, {"gen": 2}, name="gen.json")
    assert read_record(spark, rec_dir) == {"hw": 4}
    assert read_record(spark, rec_dir, name="gen.json") == {"gen": 2}
    assert not [f for f in os.listdir(rec_dir) if f.endswith(".tmp")]


def test_record_crash_windows_read_as_absent(spark, tmp_path):
    """Both crash windows of the temp-write + rename commit read as "not
    written": a temp file with no record yet, and a rewrite that deleted
    the old record but did not rename the new one into place. The next
    write commits over the debris."""
    from azure_serverless_etl_pipeline_spark.state import (
        _RECORD,
        read_record,
        write_record,
    )

    def torn_temp(rec_dir):
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f".{_RECORD}.tmp"), "w") as fh:
            json.dump({"txn": 9}, fh)

    first = str(tmp_path / "first" / "rebuild_txn")
    torn_temp(first)
    assert read_record(spark, first) is None

    rewrite = str(tmp_path / "rewrite" / "rebuild_txn")
    write_record(spark, rewrite, {"txn": 8})
    torn_temp(rewrite)
    os.remove(os.path.join(rewrite, _RECORD))
    assert read_record(spark, rewrite) is None

    write_record(spark, rewrite, {"txn": 10})
    assert read_record(spark, rewrite) == {"txn": 10}


def test_record_in_old_parquet_format_raises(spark, tmp_path):
    """A one-row parquet record (the format records had before) is not
    read as "no record": that would silently drop a pending txn."""
    from azure_serverless_etl_pipeline_spark.state import read_record

    rec_dir = str(tmp_path / "append_txn" / "meta")
    spark.createDataFrame([(7,)], "batch long").coalesce(1).write.parquet(rec_dir)
    with pytest.raises(ValueError, match="append_txn/meta holds a one-row parquet"):
        read_record(spark, rec_dir)


def test_write_atomic_failed_rename_raises(spark, tmp_path, monkeypatch):
    """A rename that fails must not drop the file silently: on the local
    file system a destination whose parent is a file raises, and a file
    system that reports the failure by returning False (the HDFS
    contract) raises IOError naming both paths."""
    from azure_serverless_etl_pipeline_spark import state

    root = tmp_path / "root"
    root.mkdir()
    (root / "afile").write_text("x")
    with pytest.raises(Exception):
        state._write_atomic(spark, str(root), "afile/rec.json", b"{}")
    assert (root / "afile").read_text() == "x"

    class RenameReturnsFalse:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def rename(self, src, dst):
            return False

    real_jpath = state._jpath

    def refusing_fs(*args):
        jp, fs = real_jpath(*args)
        return jp, RenameReturnsFalse(fs)

    monkeypatch.setattr(state, "_jpath", refusing_fs)
    with pytest.raises(IOError, match=r"\.rec\.json\.tmp -> .*/rec\.json"):
        state._write_atomic(spark, str(root), "rec.json", b"{}")
    assert not (root / "rec.json").exists()
