"""Small-file compaction for streaming-ingest output (bin-packing OPTIMIZE).

The streaming ingest (streaming/file_ingest.py, reference T-1/T-2) writes
one parquet file set per micro-batch — the standard small-files problem:
at 100 TB a day of per-minute batches yields millions of KB-scale files,
and every downstream scan pays a task + an open/footer-read per file.
This operator is the maintenance half the reference's Cosmos upsert story
delegates to its store (`blob_to_cosmosdb.py:32-38` — re-delivered rows
collapse server-side; a file-based table needs an explicit OPTIMIZE):

- only files BELOW the threshold are rewritten (bin-packed toward
  ``target_bytes``); already-compacted files are never touched, so the
  steady-state cost tracks the new-data rate, not the table size;
- re-run is a no-op once no two undersized files remain (idempotent);
- crash-safe through the package's write-ahead intent
  (``state.intent``/``state.resume``): the compacted files are staged
  in a hidden tmp dir, then the leaf's ``_compaction_pending.json``
  record, naming the staged->final moves AND the originals to delete,
  is committed atomically BEFORE anything in the data directory
  changes; the moves and deletes replay idempotently from it, so a
  crash at any point either leaves the directory untouched (no record
  yet — the orphaned tmp dir is swept on the next run) or resumes to
  the exact post-compaction state. Without a transactional table format
  (Delta/Iceberg) the swap is still not snapshot-isolated — a reader
  overlapping the (short) move/delete window can see a row twice; run
  as an offline maintenance pass, exactly like HDFS-era compaction jobs.

Operates on one leaf directory; a partitioned table compacts per
partition directory (embarrassingly parallel across partitions — the
deployment loop the caller owns). Every file-system call goes through
``state``.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import SparkSession

from .. import state

_MANIFEST = "_compaction_pending.json"


def _apply_manifest(spark: SparkSession, manifest: dict) -> None:
    """Replay the staged moves + deletes. Idempotent: a move whose dest
    already exists (or whose source is gone) was already done; deletes
    skip missing files."""
    for src, dest in manifest["moves"]:
        if not state.exists(spark, dest) and state.exists(spark, src):
            state.rename(spark, src, dest)
    for p in manifest["originals"]:
        state.delete(spark, p)
    state.delete(spark, manifest["tmp"])


def recover_pending_under(spark: SparkSession, root: str) -> int:
    """Finish any interrupted ``compact_parquet_dir`` run one level under
    ``root`` (the ``cells/cell=N`` / ``appends/batch=K`` leaf shape):
    ONE glob for the write-ahead record across the root (never a
    per-leaf listing — the r10 FS-RPC lesson), replaying each hit's
    moves + deletes through ``_recover`` (idempotent). A leaf left
    mid-commit holds BOTH the compacted files and the originals — every
    row duplicated; a maintenance rewrite (cell split, fold, delete)
    that reads it before recovery would bake the duplicates in
    permanently AND wipe the record that could have repaired them, so
    the rewriters call this before touching an index tier. Returns the
    number of records finished."""
    hits = state.glob(spark, root, f"*/{_MANIFEST}")
    for e in hits:
        _recover(spark, e.path.rsplit("/", 1)[0])
    return len(hits)


def _recover(spark: SparkSession, path: str) -> tuple[int, list[tuple[str, int]]]:
    """Finish a committed-but-interrupted run; sweep uncommitted staging.
    Returns (resumed deletes, the leaf's parquet files as (path, bytes))."""
    resumed = 0

    def finish(manifest: dict) -> None:
        nonlocal resumed
        resumed = sum(state.exists(spark, p) for p in manifest["originals"])
        _apply_manifest(spark, manifest)

    state.resume(spark, path, _MANIFEST, finish)
    files = []
    for e in state.ls(spark, path):
        name = e.name
        if e.is_dir:
            # a .compact-* dir with no record means the crash happened
            # BEFORE commit: nothing in the data dir changed, the staging
            # is garbage
            if name.startswith(".compact-"):
                state.delete(spark, e.path)
        elif name.endswith(".parquet") and not name.startswith((".", "_")):
            files.append((e.path, e.size))
    return resumed, files


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
) -> dict:
    """Bin-pack the undersized parquet files of ``path`` toward
    ``target_bytes`` per output file. Returns the action taken:
    {compacted, files_before, files_after, rewritten, bytes_rewritten}.

    ``min_file_bytes`` (default target/2) is the undersized threshold —
    files at or above it are considered healthy and skipped.
    """
    min_file_bytes = min_file_bytes or target_bytes // 2

    resumed, files = _recover(spark, path)
    small = [(p, sz) for p, sz in files if sz < min_file_bytes]
    if len(small) <= 1:
        return {
            "compacted": False,
            "files_before": len(files),
            "files_after": len(files),
            "rewritten": 0,
            "bytes_rewritten": 0,
            "resumed_deletes": resumed,
        }

    total = sum(sz for _, sz in small)
    n_out = max(1, math.ceil(total / target_bytes))
    run_id = uuid.uuid4().hex[:8]
    leaf = path.rstrip("/")
    tmp = f"{leaf}/.compact-{run_id}"
    # One distributed read of ONLY the undersized files -> n_out files.
    # coalesce (not repartition): pure bin-packing, no shuffle.
    spark.read.parquet(*[p for p, _ in small]).coalesce(n_out).write.mode(
        "overwrite"
    ).parquet(tmp)

    moves = []
    for e in state.ls(spark, tmp):
        name = e.name
        if not e.is_dir and name.endswith(".parquet"):
            moves.append([e.path, f"{leaf}/compacted-{run_id}-{name}"])
    manifest = {
        # "self" is no longer read (the intent owns the record's
        # location); it stays so the record's payload is unchanged
        "self": f"{leaf}/{_MANIFEST}",
        "tmp": tmp,
        "moves": moves,
        "originals": [p for p, _ in small],
    }
    # COMMIT POINT: the record lands atomically (temp name + rename)
    # BEFORE any file in the data directory moves — a crash earlier
    # leaves the directory untouched, a crash later replays from here
    with state.intent(spark, path, _MANIFEST, manifest):
        _apply_manifest(spark, manifest)

    return {
        "compacted": True,
        "files_before": len(files),
        "files_after": len(files) - len(small) + len(moves),
        "rewritten": len(small),
        "bytes_rewritten": total,
        "resumed_deletes": resumed,
    }


__all__ = ["compact_parquet_dir", "recover_pending_under"]
