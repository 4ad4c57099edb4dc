"""Every Hadoop-FS call the package makes, and its one write-ahead record
protocol.

Paths go in and come out as plain strings; the Hadoop ``Path`` and
``FileSystem`` handles never leave this module. The same code therefore
runs against local paths in tests and abfss/s3a/hdfs in production.

Records. ``write_record`` commits a small JSON document as one file: a
temp write, then a rename into place, and no Spark job. ``read_record``
reads it back, or returns None when none was committed.

Intents. The package's crash-safe multi-step writes share one shape:
write a durable record naming the steps, run the steps (each one
idempotent), delete the record; on the next entry, finish any record
still present. ``intent`` is the writing half and ``resume`` the
finishing half::

    resume(spark, d, name, finish)          # on entry
    ...
    with intent(spark, d, name, payload):   # the commit
        finish(payload)

The users are compaction's per-leaf ``_compaction_pending.json``, the
vector fold's ``appends/_fold_pending.json``, the cell split's
``codes/_split_pending.json`` and the codes-only refit's
``_refit_commit.json``.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import SparkSession

_RECORD = "_record.json"


@functools.lru_cache(maxsize=16)
def _jclass(jvm, name: str):
    """The py4j handle of the JVM class ``name``. py4j resolves a dotted
    name with one gateway round trip per segment (five for
    ``org.apache.hadoop.fs.Path``, against one to construct a Path), so
    each of the three classes used here is resolved once per gateway."""
    return functools.reduce(getattr, name.split("."), jvm)


def _jpath(spark: SparkSession, path: str, child: str | None = None):
    """(Hadoop Path, its FileSystem) for ``path``, or ``path/child``."""
    cls = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")
    jp = cls(path) if child is None else cls(path, child)
    return jp, jp.getFileSystem(spark._jsc.hadoopConfiguration())


class Entry:
    """One listing entry. Each field costs one JVM round trip and is read
    only when asked for."""

    __slots__ = ("_st",)

    def __init__(self, st):
        self._st = st

    @property
    def name(self) -> str:
        return self._st.getPath().getName()

    @property
    def path(self) -> str:
        return self._st.getPath().toString()

    @property
    def is_dir(self) -> bool:
        return bool(self._st.isDirectory())

    @property
    def size(self) -> int:
        return int(self._st.getLen())

    @property
    def mtime(self) -> int:
        return int(self._st.getModificationTime())


def exists(spark: SparkSession, path: str) -> bool:
    jp, fs = _jpath(spark, path)
    return bool(fs.exists(jp))


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` and everything under it; a missing path is a no-op."""
    jp, fs = _jpath(spark, path)
    fs.delete(jp, True)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename ``src`` to ``dst``; False when the file system refused."""
    sp, fs = _jpath(spark, src)
    return bool(fs.rename(sp, _jpath(spark, dst)[0]))


def mkdirs(spark: SparkSession, path: str) -> None:
    jp, fs = _jpath(spark, path)
    fs.mkdirs(jp)


def ls(spark: SparkSession, path: str) -> list[Entry]:
    """The entries directly under ``path``; [] when it does not exist."""
    jp, fs = _jpath(spark, path)
    if not fs.exists(jp):
        return []
    return [Entry(st) for st in fs.listStatus(jp)]


def glob(spark: SparkSession, root: str, pattern: str) -> list[Entry]:
    """The entries matching ``root/pattern`` in ONE call, however many
    directories the pattern spans; [] when ``root`` does not exist.
    ``root`` is a literal path: its glob metacharacters are escaped, so a
    directory name holding ``{}``, ``[]`` or ``*`` cannot rewrite the
    match."""
    esc = "".join("\\" + c if c in "*?[]{}\\" else c for c in root)
    jp, fs = _jpath(spark, f"{esc}/{pattern}")
    return [Entry(st) for st in fs.globStatus(jp) or []]


def list_batches(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """(K, path) for every ``batch=K`` subdirectory of ``root``, sorted
    NUMERICALLY: a lexicographic order would rank batch=10 before
    batch=2 and hand a caller the wrong 'latest' layer past 9 batches."""
    out = []
    for e in ls(spark, root):
        name = e.name
        if name.startswith("batch=") and e.is_dir:
            try:
                out.append((int(name.split("=", 1)[1]), e.path))
            except ValueError:
                continue
    return sorted(out)


def _read(spark: SparkSession, fs, jp) -> bytes:
    """Read a (small) file through Hadoop's own IOUtils.copyBytes into a
    JDK ByteArrayOutputStream: no dependence on commons-io riding
    Spark's transitive classpath (which varies across Spark/Hadoop
    versions), and no byte[] out-parameter (py4j passes byte arrays by
    VALUE, so a Java-side readFully never reaches Python)."""
    jvm = spark._jvm
    bos = _jclass(jvm, "java.io.ByteArrayOutputStream")()
    stream = fs.open(jp)
    try:
        _jclass(jvm, "org.apache.hadoop.io.IOUtils").copyBytes(stream, bos, 4096, False)
    finally:
        stream.close()
    return bytes(bos.toByteArray())


def _write_atomic(spark: SparkSession, path: str, name: str, payload: bytes) -> None:
    """Write ``payload`` as ``path/name``: a temp file, then a rename."""
    tmp, fs = _jpath(spark, path, f".{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    final, _ = _jpath(spark, path, name)
    if fs.exists(final):
        fs.delete(final, False)
    # HDFS-style stores report a failed rename (missing or non-directory
    # parent, existing destination) by returning False, not by raising
    if not fs.rename(tmp, final):
        raise IOError(
            f"could not rename {tmp.toString()} -> {final.toString()}: "
            "the file was not written"
        )


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
    _write_atomic(spark, path, name, json.dumps(obj).encode("utf-8"))


def read_record(spark: SparkSession, path: str, name: str = _RECORD):
    """The record ``write_record`` committed at ``{path}/{name}``, or None
    when none was committed. Records used to be one-row parquet datasets
    in the same directories; a directory holding such a ``part-*.parquet``
    file and no record raises ``ValueError`` naming it, so state written
    in the old format fails loudly instead of reading as "no record" (a
    pending txn silently dropped)."""
    jp, fs = _jpath(spark, path, name)
    if fs.exists(jp):
        return json.loads(_read(spark, fs, jp))
    names = (e.name for e in ls(spark, path))
    if any(n.startswith("part-") and n.endswith(".parquet") for n in names):
        raise ValueError(
            f"{path} holds a one-row parquet record and no {name}: it was "
            "written in the parquet record format this version no longer "
            "reads — rebuild the state (re-fold the stream, or re-save the "
            "index) with this version"
        )
    return None


@contextmanager
def intent(spark: SparkSession, path: str, name: str, payload: dict):
    """Write-ahead record ``{path}/{name}`` around the ``with`` body: it is
    committed (atomically) before the body runs, and deleted only after
    the body returns. A body that raises leaves the record in place for
    ``resume`` to finish. Yields ``payload``."""
    write_record(spark, path, payload, name=name)
    yield payload
    delete(spark, f"{path}/{name}")


def resume(
    spark: SparkSession, path: str, name: str, repair: Callable[[dict], object]
) -> dict | None:
    """Finish an interrupted ``intent``: when ``{path}/{name}`` holds a
    record, run ``repair(record)`` and only then delete the record.
    Returns the record, or None when there was none (one ``exists`` call).
    Intent records never had a parquet format, so a missing one reads as
    absent even in a directory of ``part-*.parquet`` files (a compaction
    leaf) — ``read_record``'s old-format refusal does not apply."""
    jp, fs = _jpath(spark, path, name)
    if not fs.exists(jp):
        return None
    rec = json.loads(_read(spark, fs, jp))
    repair(rec)
    fs.delete(jp, False)
    return rec


__all__ = [
    "Entry",
    "delete",
    "exists",
    "glob",
    "intent",
    "list_batches",
    "ls",
    "mkdirs",
    "read_record",
    "resume",
    "rename",
    "write_record",
]
