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
- crash-safe by write-ahead manifest: the compacted files are staged in
  a hidden tmp dir, then a manifest recording the staged->final moves
  AND the originals to delete is committed ATOMICALLY (write to a temp
  name + rename) BEFORE anything in the data directory changes; the
  moves and deletes replay idempotently from the manifest, so a crash
  at any point either leaves the directory untouched (no manifest yet —
  the orphaned tmp dir is swept on the next run) or resumes to the
  exact post-compaction state. Without a transactional table format
  (Delta/Iceberg) the swap is still not snapshot-isolated — a reader
  overlapping the (short) move/delete window can see a row twice; run
  as an offline maintenance pass, exactly like HDFS-era compaction jobs.

Operates on one leaf directory; a partitioned table compacts per
partition directory (embarrassingly parallel across partitions — the
deployment loop the caller owns). Uses the Hadoop FileSystem API
throughout, so the same code runs against local paths in tests and
abfss/s3a in production.
"""

from __future__ import annotations

import json
import math
import uuid

from pyspark.sql import SparkSession

_MANIFEST = "_compaction_pending.json"


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _list_parquet(jvm, fs, jdir) -> list[tuple[str, int]]:
    out = []
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet") and not name.startswith((".", "_")):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def _jp(jvm, p: str):
    return jvm.org.apache.hadoop.fs.Path(p)


def _write_atomic(jvm, fs, jdir, name: str, payload: bytes) -> None:
    tmp = jvm.org.apache.hadoop.fs.Path(jdir, f".{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(jdir, name)
    if fs.exists(final):
        fs.delete(final, False)
    # HDFS-style stores report a failed rename (missing or non-directory
    # parent, existing destination) by returning False, not by raising
    if not fs.rename(tmp, final):
        raise IOError(
            f"could not rename {tmp.toString()} -> {final.toString()}: "
            "the file was not written"
        )


def _apply_manifest(jvm, fs, jdir, manifest: dict) -> None:
    """Replay the staged moves + deletes. Idempotent: a move whose dest
    already exists (or whose source is gone) was already done; deletes
    skip missing files."""
    for src, dest in manifest["moves"]:
        sp, dp = _jp(jvm, src), _jp(jvm, dest)
        if not fs.exists(dp) and fs.exists(sp):
            fs.rename(sp, dp)
    for p in manifest["originals"]:
        jp = _jp(jvm, p)
        if fs.exists(jp):
            fs.delete(jp, False)
    tmp = _jp(jvm, manifest["tmp"])
    if fs.exists(tmp):
        fs.delete(tmp, True)
    fs.delete(_jp(jvm, manifest["self"]), False)


def _read_fully(spark: SparkSession, fs, jpath) -> bytes:
    """Read a (small) file through Hadoop's own IOUtils.copyBytes into a
    JDK ByteArrayOutputStream — no dependence on commons-io riding
    Spark's transitive classpath (which varies across Spark/Hadoop
    versions), and no byte[] out-parameter (py4j passes byte arrays by
    VALUE, so a Java-side readFully never reaches Python)."""
    jvm = spark._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    stream = fs.open(jpath)
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 4096, False)
    finally:
        stream.close()
    return bytes(bos.toByteArray())


_RECORD = "_record.json"


def write_record(spark: SparkSession, path: str, obj, name: str = _RECORD) -> None:
    """Commit a small JSON-serializable record as ``{path}/{name}``: one
    Hadoop-FS create of a temp file, then a rename into place — no Spark
    job. The record's directory is its identity (listings such as
    ``batch=K`` keep their meaning); ``name`` defaults to the one record
    file a record directory holds, and names a sibling file for records
    that sit beside other state (``pq_gen.json``). Crash model: a crash
    before the rename leaves only the temp file, and one between the
    delete of an older record and the rename leaves neither — both read
    as "not written" (``read_record`` returns None)."""
    jvm, jdir, fs = _fs_for(spark, path)
    _write_atomic(jvm, fs, jdir, name, json.dumps(obj).encode("utf-8"))


def read_record(spark: SparkSession, path: str, name: str = _RECORD):
    """The record ``write_record`` committed at ``{path}/{name}``, or None
    when none was committed. Records used to be one-row parquet datasets
    in the same directories; a directory holding such a ``part-*.parquet``
    file and no record raises ``ValueError`` naming it, so state written
    in the old format fails loudly instead of reading as "no record" (a
    pending txn silently dropped)."""
    jvm, jdir, fs = _fs_for(spark, path)
    jp = jvm.org.apache.hadoop.fs.Path(jdir, name)
    if fs.exists(jp):
        return json.loads(_read_fully(spark, fs, jp).decode("utf-8"))
    if fs.exists(jdir) and any(
        st.getPath().getName().startswith("part-")
        and st.getPath().getName().endswith(".parquet")
        for st in fs.listStatus(jdir)
    ):
        raise ValueError(
            f"{path} holds a one-row parquet record and no {name}: it was "
            "written in the parquet record format this version no longer "
            "reads — rebuild the state (re-fold the stream, or re-save the "
            "index) with this version"
        )
    return None


def recover_pending_under(spark: SparkSession, root: str) -> int:
    """Finish any interrupted ``compact_parquet_dir`` run one level under
    ``root`` (the ``cells/cell=N`` / ``appends/batch=K`` leaf shape):
    ONE globStatus for the write-ahead manifest across the root (never a
    per-leaf listing — the r10 FS-RPC lesson), replaying each hit's
    moves + deletes through ``_recover`` (idempotent). A leaf left
    mid-commit holds BOTH the compacted files and the originals — every
    row duplicated; a maintenance rewrite (cell split, fold, delete)
    that reads it before recovery would bake the duplicates in
    permanently AND wipe the manifest that could have repaired them, so
    the rewriters call this before touching an index tier. Returns the
    number of manifests finished."""
    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jroot):
        return 0
    # the ROOT portion is a literal path, not a pattern (glob-metachar
    # bypass closed the same way as dedup_stream's modulus gate)
    esc = "".join("\\" + c if c in "*?[]{}\\" else c for c in root)
    hits = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{esc}/*/{_MANIFEST}")
    )
    n = 0
    for st in hits or []:
        jdir = st.getPath().getParent()
        _recover(spark, jvm, fs, jdir)
        n += 1
    return n


def _recover(spark: SparkSession, jvm, fs, jdir) -> tuple[int, int]:
    """Finish a committed-but-interrupted run; sweep uncommitted staging.
    Returns (resumed_deletes, swept_tmp_dirs)."""
    mpath = jvm.org.apache.hadoop.fs.Path(jdir, _MANIFEST)
    resumed = 0
    if fs.exists(mpath):
        raw = _read_fully(spark, fs, mpath)
        manifest = json.loads(raw.decode("utf-8"))
        resumed = sum(
            1 for p in manifest["originals"] if fs.exists(_jp(jvm, p))
        )
        _apply_manifest(jvm, fs, jdir, manifest)
    # a .compact-* dir with no manifest means the crash happened BEFORE
    # commit: nothing in the data dir changed, the staging is garbage
    swept = 0
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(".compact-"):
            fs.delete(st.getPath(), True)
            swept += 1
    return resumed, swept


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
    jvm, jdir, fs = _fs_for(spark, path)
    min_file_bytes = min_file_bytes or target_bytes // 2

    resumed, _ = _recover(spark, jvm, fs, jdir)
    files = _list_parquet(jvm, fs, jdir)
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
    tmp = f"{path.rstrip('/')}/.compact-{run_id}"
    # One distributed read of ONLY the undersized files -> n_out files.
    # coalesce (not repartition): pure bin-packing, no shuffle.
    spark.read.parquet(*[p for p, _ in small]).coalesce(n_out).write.mode(
        "overwrite"
    ).parquet(tmp)

    jtmp = _jp(jvm, tmp)
    moves = []
    for st in fs.listStatus(jtmp):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            dest = jvm.org.apache.hadoop.fs.Path(jdir, f"compacted-{run_id}-{name}")
            moves.append([st.getPath().toString(), dest.toString()])
    manifest = {
        "self": jvm.org.apache.hadoop.fs.Path(jdir, _MANIFEST).toString(),
        "tmp": tmp,
        "moves": moves,
        "originals": [p for p, _ in small],
    }
    # COMMIT POINT: the manifest lands atomically (temp name + rename)
    # BEFORE any file in the data directory moves — a crash earlier
    # leaves the directory untouched, a crash later replays from here
    _write_atomic(jvm, fs, jdir, _MANIFEST, json.dumps(manifest).encode("utf-8"))
    _apply_manifest(jvm, fs, jdir, manifest)

    return {
        "compacted": True,
        "files_before": len(files),
        "files_after": len(files) - len(small) + len(moves),
        "rewritten": len(small),
        "bytes_rewritten": total,
        "resumed_deletes": resumed,
    }


__all__ = ["compact_parquet_dir", "read_record", "write_record"]
