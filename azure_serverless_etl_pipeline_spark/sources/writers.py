"""Sinks: partitioned columnar writes + upsert emulation.

The reference's write surface is per-row document inserts/upserts into
Cosmos (S-6/S-7 — ``blobToCosmos.py:77``, ``blob_to_cosmosdb.py:32-38``),
RU-throttled to ~40-80 writes/s. The Spark-native equivalents are bulk
partitioned parquet writes and a MERGE-style upsert.

Scale notes:
- ``write_partitioned`` partitions by the reference's partition key
  (HomeID analog): equality predicates prune partitions at read, the
  same role Cosmos's ``/HomeID`` partition key plays.
- Without Delta in this image, ``upsert_parquet`` emulates MERGE with
  anti-join + union + full rewrite; on a Delta/Iceberg deployment this
  function body is one ``MERGE INTO`` (noted inline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("HomeID",),
    mode: str = "append",
) -> None:
    """Bulk partitioned write — replaces the per-row create_item loop."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str = "id",
) -> None:
    """Idempotent upsert by key (reference T-3: ``upsert_item`` makes
    re-delivered blob triggers safe).

    Emulation of ``MERGE INTO target USING updates ON t.key = s.key WHEN
    MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *`` for plain
    parquet: keep target rows whose key is absent from updates
    (left_anti), union the updates, rewrite. On Delta/Iceberg, replace
    the body with the real MERGE (transactional, no full rewrite).
    """
    from pyspark.errors import AnalysisException

    try:
        target = spark.read.parquet(path)
    except AnalysisException as e:
        # ONLY a missing path means "first write". Any other read failure
        # (corrupt footer, permissions, transient IO) must propagate —
        # falling through to mode("overwrite") would silently replace the
        # whole existing dataset with just the updates.
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        if cond != "PATH_NOT_FOUND" and "Path does not exist" not in str(e):
            raise
        merged = updates
    else:
        keep = target.join(updates.select(key).distinct(), key, "left_anti")
        merged = keep.unionByName(updates)
    # materialize before overwrite (lazy plans must not read the path
    # they're overwriting)
    staged = merged.localCheckpoint(eager=True)
    staged.write.mode("overwrite").parquet(path)


def write_json_records(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON records sink (S-5, ``process_etl.py:14-17``)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 16,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table write: pre-shuffle the data ONCE at write time so
    every later join/aggregation on ``bucket_by`` is exchange-free.

    This is the 100 TB answer to "the same join key shuffles every
    query": fact tables bucketed by their join key co-locate with each
    other (bucket counts equal or multiples), and Spark elides both
    Exchanges in the join plan. Requires saveAsTable (bucket metadata
    lives in the catalog, not the files).
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str] | tuple[str, ...],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet write: repartitionByRange on the cluster
    keys, then sort within each partition, so every output file covers a
    narrow, non-overlapping key range.

    This is what makes parquet min/max row-group statistics *selective*:
    a range or equality predicate on the leading cluster key skips whole
    files/row-groups instead of scanning them (Delta/Iceberg call the
    same idea ZORDER/sort-clustering; single- or few-column clustering
    needs no bit-interleaving). At 100 TB the difference is a scan of
    ~1/files of the data for a point query vs all of it — before any
    executor even runs, from footer stats alone.
    """
    cols = list(cluster_by)
    part = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    part.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def _hash_partition_remap(spark: SparkSession, n: int) -> list[int]:
    """For bucket ids 0..n-1, find n long values whose Spark hash-partition
    id ``pmod(murmur3(value), n)`` covers 0..n-1 exactly once, so routing
    bucket b through value remap[b] makes ``repartition(n, col)`` place
    each bucket in its OWN output partition — a deterministic bijection,
    where hashing the raw bucket id would collide tiles into one file
    (~n!/n^n chance of a collision-free draw). Computed with the engine's
    own hash (one tiny local job), so it is correct by construction."""
    from pyspark.sql import functions as F

    remap: list[int | None] = [None] * n
    lo, found = 0, 0
    while found < n:
        rows = (
            spark.range(lo, lo + 64 * n)
            .select("id", F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"))
            .collect()
        )
        for r in rows:
            if remap[r["p"]] is None:
                remap[r["p"]] = r["id"]
                found += 1
        lo += 64 * n
    return remap  # type: ignore[return-value]


def write_zordered(
    df: DataFrame,
    path: str,
    dim_x,
    dim_y,
    n_files: int = 8,
    mode: str = "overwrite",
    curve: str = "morton",
) -> None:
    """Z-order-clustered parquet write: attach the Morton key
    (``operators.layout.with_zorder_key``), tile it into ``n_files``
    files by the DETERMINISTIC top-bits bucket ``zkey >> (32 -
    log2(n_files))`` — the same geometry ``operators.layout`` models —
    sort within each file, drop the key.

    Where `write_clustered` makes footer stats selective on the LEADING
    key only, this makes them selective on BOTH dimensions at once —
    each file covers a square-ish tile of the (dim_x, dim_y) plane, so
    a range predicate on either column skips ~all non-tile files. Cost
    at 100 TB: one bounds pass + one hash exchange, same as a linear
    clustered write. ``dim_x`` / ``dim_y`` are Column expressions over
    ``df``.

    Why not ``repartitionByRange(n_files, zkey)``: RangePartitioner
    boundaries are SAMPLE-based — nondeterministic and free to straddle
    Z-curve tile seams, which widens a file's per-dimension min/max to
    cover two tiles and destroys the two-dimensional pruning this write
    exists to provide (observed: a mid-range probe touching 6/8 files
    instead of <=4). The shift bucket has reproducible edges; routing it
    through `_hash_partition_remap` gives every tile its own file."""
    from pyspark.sql import functions as F

    from ..operators.layout import with_zorder_key

    if n_files & (n_files - 1) or n_files <= 0:
        raise ValueError(f"n_files must be a power of two, got {n_files}")
    log2n = n_files.bit_length() - 1
    remap = _hash_partition_remap(df.sparkSession, n_files)
    # curve="hilbert" swaps the Morton interleave for the Hilbert walk —
    # same 32-bit key domain, same shift-bucket tiling, tighter per-file
    # spans on seam-straddling data (curve continuity)
    keyed = with_zorder_key(df, dim_x, dim_y, key_col="_zorder_key", curve=curve)
    bucket = F.shiftright(F.col("_zorder_key"), 32 - log2n)
    # the remap was computed over LongType values — the route column must
    # be LongType too (murmur3 of int(v) differs from long(v))
    route = F.element_at(
        F.array(*[F.lit(int(v)).cast("long") for v in remap]),
        bucket.cast("int") + 1,
    )
    (
        keyed.withColumn("_zroute", route)
        .repartition(n_files, "_zroute")
        .sortWithinPartitions("_zorder_key")
        .drop("_zorder_key", "_zroute")
        .write.mode(mode)
        .parquet(path)
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    ts_col: str,
    attrs: list[str] | tuple[str, ...] = (),
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: the history-preserving
    variant of ``upsert_parquet``'s overwrite-by-key (reference S-7,
    ``blob_to_cosmosdb.py:32-38`` — Cosmos upsert_item keeps only the
    last version; SCD2 keeps them all with validity intervals).

    ``current`` rows carry (key, attrs..., valid_from, valid_to) with
    ``valid_to`` NULL marking the open version; ``updates`` carry
    (key, attrs..., ts_col). Per key, only the LATEST update applies
    (max ts, deterministic). Row fates:

    - open row, update with CHANGED attrs  -> closed (valid_to = update
      ts) and a new open row appended from the update;
    - open row, update with IDENTICAL attrs -> untouched (no churn —
      re-delivered updates are idempotent, the reference T-3 property);
    - open row, no update                   -> untouched;
    - already-closed rows                   -> untouched (history is
      immutable);
    - update for an unseen key              -> new open row.

    Plan shape: one per-key window on the (small) update batch, one
    equi-join of the OPEN slice against it (AQE broadcasts a small
    batch), history rows pass through untouched — at 100 TB the closed
    history is never rewritten, which is the entire point of SCD2 over
    MERGE-overwrite. On Delta/Iceberg the same frame feeds MERGE WHEN
    MATCHED/NOT MATCHED; on plain parquet pair it with upsert_parquet's
    staged overwrite.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    attrs = list(attrs)
    latest = (
        updates.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy(key).orderBy(F.col(ts_col).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    open_rows = current.filter(F.col(valid_to).isNull())
    closed_rows = current.filter(F.col(valid_to).isNotNull())

    u = latest.select(
        F.col(key),
        F.col(ts_col).alias("__u_ts"),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
    )
    joined = open_rows.join(u, key, "left")
    changed = F.col("__u_ts").isNotNull() & ~F.struct(
        *[F.col(a) for a in attrs]
    ).eqNullSafe(F.struct(*[F.col(f"__u_{a}") for a in attrs]))

    kept_open = joined.filter(~changed).select(*current.columns)
    closed_now = joined.filter(changed).select(
        *[
            F.col("__u_ts").alias(valid_to) if c == valid_to else F.col(c)
            for c in current.columns
        ]
    )
    new_versions = joined.filter(changed).select(
        F.col(key),
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        F.col("__u_ts").alias(valid_from),
        F.lit(None).cast(current.schema[valid_to].dataType).alias(valid_to),
    ).select(*current.columns)
    inserts = (
        latest.join(current.select(key).distinct(), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(a) for a in attrs],
            F.col(ts_col).alias(valid_from),
            F.lit(None).cast(current.schema[valid_to].dataType).alias(valid_to),
        )
        .select(*current.columns)
    )
    return (
        closed_rows.unionByName(kept_open)
        .unionByName(closed_now)
        .unionByName(new_versions)
        .unionByName(inserts)
    )


def scd2_foreach_batch(
    spark: SparkSession,
    dim_path: str,
    key: str,
    ts_col: str,
    attrs: list[str] | tuple[str, ...],
):
    """Streaming dimension maintenance: a foreachBatch sink that applies
    each micro-batch of updates to a parquet dimension through
    ``scd2_apply`` (read current -> merge -> staged overwrite, the
    upsert_parquet pattern). Identical re-deliveries are SCD2 no-ops and
    per-key latest-ts wins inside a batch, so the maintained dimension's
    OPEN state converges to exactly what one combined batch application
    yields; intermediate versions that a coarser batching would skip are
    additionally recorded as (finer, correctly nested) history —
    asserted in test_streaming's parity test. On Delta/Iceberg, swap the
    body for a transactional MERGE and drop the staged rewrite.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        current = spark.read.parquet(dim_path)
        merged = scd2_apply(current, batch_df, key, ts_col, list(attrs))
        staged = merged.localCheckpoint(eager=True)
        staged.write.mode("overwrite").parquet(dim_path)

    return _apply


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """ORC sink — columnar interchange with ORC-native warehouses; same
    partition-directory layout semantics as write_partitioned."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
