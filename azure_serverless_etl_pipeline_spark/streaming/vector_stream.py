"""Streaming vector ingestion into the persisted IVF index.

The batch half of the vector-store lifecycle lives in
``operators/ann_index``: build (k-means fit, amortized), append
(map-side quantize + cell-dir append), delete (sliver rewrite). This
module is the STREAMING ingestion front end — arriving embedding files
fold into the standing index per micro-batch with exactly-once
semantics, the same availableNow + idempotent-per-epoch discipline as
``dedup_stream`` (reference T-1/T-3: blob-trigger ingestion with safe
re-delivery, `function_app.py:16-29` / `blob_to_cosmosdb.py:32-38`).

Design (LSM-ish, two tiers):

- ``start_vector_ingest_stream``: each micro-batch is cell-assigned
  against the CACHED codebook (read once at stream start; one map-side
  Arrow-GEMM projection — no k-means, no shuffle; refreshed only by
  the split_occupancy maintenance cadence, which grows k between
  folds) and written to
  ``{index}/appends/batch={epoch}`` with
  ``mode=overwrite`` — a replayed epoch overwrites its own directory,
  so re-delivery is idempotent by construction.
- ``load_live_index``: the standing ``cells`` tier UNION the append
  tier, deduped by id. The dedup is what makes the maintenance fold
  crash-tolerant: in the one crash window where a fold has committed
  its cells rewrite but not yet deleted the folded append dirs, a row
  exists in both tiers — the reader still serves it exactly once.
- ``fold_appends``: maintenance pass that merges the append tier into
  the cell-partitioned standing tier (dynamic partition overwrite of
  ONLY the affected cells, survivors staged first), then removes the
  folded append dirs. Crash-safe via a write-ahead delete manifest
  (the ``operators/compaction`` pattern): the manifest naming the
  folded dirs is committed atomically BEFORE any deletion; a fold that
  finds a pending manifest finishes those deletes first and replays
  idempotently.

Scale shape: the recurring per-batch cost is one map-side projection
plus one small write (measured flat at the 10x probe — SCALE.md); the
fold touches only cells the appends land in; probe cost over the live
index is cells-partition-pruned plus the (small, bounded by fold
cadence) append tier.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.compaction import _read_fully, _write_atomic
from .dedup_stream import _list_batches

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"

_FOLD_MANIFEST = "_fold_pending.json"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


_EPOCH_BASE = "__ivfpq_epoch_base__.json"


def _epoch_base(spark: SparkSession, index_dir: str, checkpoint_dir: str) -> int:
    """The IVFADC stream's batch-key base, pinned INSIDE the checkpoint
    dir (so discarding the checkpoint discards the pin with it — the
    two lifecycles that must stay glued). First start over an index:
    base = 1 + the max committed batch key already in the index (0 on a
    fresh index), written atomically before the stream runs; resumes of
    the same checkpoint read the pin back, so a replayed epoch maps to
    the SAME key and the commit-record no-op stays exact. Spark's
    checkpoint machinery only reads its own known subpaths (metadata/
    offsets/commits/sources/state), so the extra file is inert."""
    from .dedup_stream import _list_batches

    jvm, jdir, fs = _fs(spark, checkpoint_dir)
    pin = jvm.org.apache.hadoop.fs.Path(jdir, _EPOCH_BASE)
    if fs.exists(pin):
        return int(json.loads(_read_fully(spark, fs, pin).decode("utf-8"))["base"])
    committed = _list_batches(spark, f"{index_dir}/append_commits")
    base = 1 + max((b for b, _ in committed), default=-1)
    if not fs.exists(jdir):
        fs.mkdirs(jdir)
    _write_atomic(
        jvm, fs, jdir, _EPOCH_BASE,
        json.dumps({"base": int(base)}).encode("utf-8"),
    )
    return int(base)


def append_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_dir: str,
    vec_col: str = "embedding",
    centroids=None,
) -> None:
    """Assign the batch against the frozen codebook and write it to its
    own epoch directory (overwrite -> idempotent per epoch). Pass
    ``centroids`` (the codebook matrix) to skip the per-call read of
    the centroids parquet — the stream sink reads it once at start and
    refreshes it only at maintenance events (a split_occupancy cell
    split, or an offline refit); between those the codebook is frozen
    by design.

    A NULL embedding gets a NULL cell from assign_cells (no nearest
    centroid); such rows are QUARANTINED to
    ``{index_dir}/quarantine/batch={epoch}`` (overwrite — idempotent
    under replay, like the append tier itself) rather than written to
    the appends dir: a NULL-cell row in the append tier would crash
    every subsequent fold's affected-cell derivation and permanently
    wedge maintenance on one bad record. The null count is measured
    with an Observation riding the main write — zero extra jobs on a
    clean batch (the common case); the dirty path writes the offending
    INPUT rows, one source-scan filter, no second assignment pass
    (ann_index._write_quarantining_nulls — shared with the batch
    path)."""
    from ..operators.ann_index import (
        _load_centroid_matrix,
        _write_quarantining_nulls,
        assign_cells,
    )

    if centroids is None:
        centroids = _load_centroid_matrix(spark, index_dir)
    assigned = assign_cells(batch_df, centroids, vec_col=vec_col)
    _write_quarantining_nulls(
        assigned,
        batch_df,
        vec_col,
        lambda valid: valid.write.mode("overwrite").parquet(
            f"{index_dir}/appends/batch={int(epoch_id)}"
        ),
        f"{index_dir}/quarantine/batch={int(epoch_id)}",
        "overwrite",
        mark_root=index_dir,
    )
    from ..operators.ann_index import _mark_dirty

    # the epoch dir joins the compaction dirty set (consumed when a
    # fold deletes it, or compacted if it outlives the fold cadence)
    _mark_dirty(
        spark, index_dir, leaves=[f"appends/batch={int(epoch_id)}"]
    )


def _refresh_books_if_stale(
    spark: SparkSession, index_dir: str, cache: dict
) -> bool:
    """Compare the index's PQ codebook generation stamp against the
    cached one and reload the subcodebooks on mismatch (ADVICE r12: the
    out-of-band-refit cache-invalidation path — a committed refit's
    roll-forward bumps ``pq_gen.json``, and a long-lived sink must not
    keep encoding against the retired generation). Returns True iff the
    cache was refreshed. Cost when fresh (every epoch): one tiny
    driver-side file read, no Spark job."""
    from ..operators.ann_index import _pq_generation, load_pq_codebooks

    gen = _pq_generation(spark, index_dir)
    if gen == cache.get("gen"):
        return False
    cache["books"] = load_pq_codebooks(spark, index_dir)
    cache["gen"] = gen
    return True


def start_vector_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    fold_every: int | None = None,
    split_occupancy: int | None = None,
    ivfpq: bool = False,
    compact_every: int | None = None,
    refit_check_every: int | None = None,
    drift_threshold: float = 1.5,
    auto_refit: bool = False,
    refit_weight_by_error: bool = False,
):
    """Tail a landing directory of embedding parquet files; every
    micro-batch quantizes against the standing codebook and lands in
    the append tier. ``fold_every=N`` runs the ``fold_appends``
    maintenance pass after every Nth batch (the between-batches window
    is the one moment without a concurrent writer — the same cadence
    ownership as ``dedup_stream``'s compaction).

    ``split_occupancy=T`` chains cell-split maintenance onto the fold
    cadence: right after a fold (the append tier is empty — exactly
    the state split_cells requires) any cell grown past T residents is
    2-means'd until the occupancy target holds, and the sink's cached
    codebook is REFRESHED so subsequent batches quantize against the
    grown codebook (a stale cache would starve every new child cell:
    appends keep landing in the retained ids and occupancy re-accrues
    there). This is how a long-lived stream keeps k growing with the
    corpus instead of paying the frozen-k occupancy term measured in
    SCALE.md round 9 table 2 / flattened in round 10 table 3. Requires
    ``fold_every`` (the split can only run on a drained append tier).

    ``ivfpq=True`` (verdict r10 item 3) ingests into a persisted IVFADC
    index (``save_ivfpq_index`` layout) instead of the flat two-tier
    one: each epoch runs ``append_to_ivfpq_index`` with the epoch id as
    its batch key, so both the full-vector cells tier AND the 8-byte
    ADC codes tier receive the batch exactly once — a foreachBatch
    replay no-ops on the epoch's commit record, and a crash between the
    two tier writes is rolled back by the replay's txn resolution. No
    separate append tier exists in this mode (the txn IS the staging),
    so ``fold_every`` anchors only the maintenance cadence: the
    (PQ-aware) cell split relocates hot cells' codes alongside their
    vectors. Both codebooks are cached at stream start — the PQ
    subcodebooks are frozen for the index's lifetime; the coarse
    centroids refresh after a split exactly as in flat mode. Codebook
    drift under the frozen quantizers is measured per batch
    (``ann_index.needs_refit``) rather than repaired here.

    ``compact_every=N`` runs ``ann_index.compact_ivf_index`` after
    every Nth batch (after the same epoch's fold/split): per-batch
    appends leave one small file set per landing cell per batch — the
    streaming small-files problem — and the between-batches window is
    the one moment without a concurrent writer, the cadence ownership
    compaction's non-snapshot-isolated rewrite requires.

    ``refit_check_every=N`` (verdict r11 item 2) puts the codebook
    DRIFT CHECK on the maintenance cadence too: after every Nth batch,
    ``ann_index.needs_refit`` pools the last N epochs' quantization-
    error records (the check cadence is its natural window) against the
    build baseline. The verdict is surfaced where a deployment can act
    on it: every check writes ``{index}/drift/last_check.json``; a
    TRIPPED check (``ratio > drift_threshold``) additionally commits
    ``{index}/drift/alert.json`` (atomic — the state file an operator
    or an external controller watches) and logs a warning. With
    ``auto_refit=True`` the stream REPAIRS instead of alerting: a
    tripped check runs ``ann_index.refit_pq_codebooks`` (the codes-only
    subcodebook refit — bounded by the codes tier, never the full
    rebuild; ``refit_weight_by_error=True`` selects the error-weighted
    capacity-aware fit — the minority-mixture remedy), refreshes the
    sink's cached PQ codebooks (stale cached books would encode every
    subsequent batch against the retired generation), and clears any
    standing alert. Requires ``ivfpq=True`` — only the IVFADC append
    path records per-batch drift stats.

    WITHOUT ``auto_refit`` the alert workflow invites an operator to
    run ``refit_pq_codebooks`` out-of-band; the sink therefore checks
    the index's ``pq_gen.json`` generation stamp every epoch (one tiny
    driver-side read) and refreshes its cached subcodebooks when a
    refit committed since the cache was filled (ADVICE r12) — the
    out-of-band refit must still run in the between-batches window (the
    single-writer discipline every index mutator shares): an epoch that
    lands while the refit's staging is up refuses loudly rather than
    racing it."""
    if split_occupancy is not None and not fold_every:
        raise ValueError(
            "split_occupancy requires fold_every: cell splits can only "
            "run on a drained append tier, i.e. right after a fold"
        )
    if refit_check_every is not None and not ivfpq:
        raise ValueError(
            "refit_check_every requires ivfpq=True: drift records ride "
            "the IVFADC keyed append's codes write — the flat two-tier "
            "index has no PQ codebooks to drift"
        )
    if refit_check_every is not None and int(refit_check_every) < 1:
        # ADVICE r12: 0 passed the None-only check but the sink's falsy
        # cadence guard then silently never ran a drift check — the
        # same falsy-zero trap the compaction retention params validate
        # against; there is no 'check never' spelling other than None
        raise ValueError(
            f"refit_check_every must be >= 1 (got {refit_check_every}): "
            "it is the drift-check cadence in epochs — pass None to "
            "disable the check entirely"
        )
    if auto_refit and refit_check_every is None:
        raise ValueError(
            "auto_refit requires refit_check_every: the repair runs on "
            "the drift-check cadence"
        )
    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    from ..operators.ann_index import _load_centroid_matrix

    cache = {}
    if ivfpq:
        from ..operators.ann_index import (
            _pq_generation,
            _pq_residual,
            _resolve_refit,
            load_pq_codebooks,
        )

        # finish a torn refit BEFORE caching any codebook (review r12):
        # a crash between the refit's commit manifest and its swap would
        # otherwise let this cache pin the RETIRED books for the
        # stream's whole lifetime — every batch's codes and drift
        # records measured against the wrong generation. Mode (review
        # r12 pass 2): an auto_refit stream OWNS its refits, so it
        # reclaims crashed staging and restarts cleanly; without
        # auto_refit the refit role belongs to an external operator and
        # uncommitted staging REFUSES the start — silently deleting a
        # live out-of-band refit's staging would let it 'commit'
        # nothing
        _resolve_refit(
            spark, index_dir, mode="owner" if auto_refit else "writer"
        )
        cache["books"] = load_pq_codebooks(spark, index_dir)
        # the codebook GENERATION the cache holds (ADVICE r12): an
        # out-of-band refit committed while this stream is live bumps
        # the index's pq_gen stamp, and the sink compares + refreshes
        # per epoch — a stale cache would encode every subsequent batch
        # against the retired books
        cache["gen"] = _pq_generation(spark, index_dir)
        # the residual flag is immutable for the index's lifetime —
        # cache it with the books so the per-epoch append skips the
        # per-call pq_meta read (review r12)
        cache["residual"] = _pq_residual(spark, index_dir)
        # foreachBatch epoch ids are unique PER CHECKPOINT, not per
        # index: a retired stream's append_commits/batch=0..N would make
        # a NEW stream's epochs 0..N silently no-op as "already
        # committed" (review r11). Pin a batch-key base inside THIS
        # checkpoint (so it dies with it): first stream start reads the
        # index's max committed key and starts above it; resumes of the
        # same checkpoint reuse the pin, keeping replay no-ops exact.
        cache["base"] = _epoch_base(spark, index_dir, checkpoint_dir)
    # the coarse codebook is frozen between maintenance events: read it
    # once here (not per micro-batch) and refresh only after a split.
    # It loads AFTER any refit resolution (a refit never touches
    # centroids/, but keeping every cached artifact behind the resolve
    # reads as one invariant)
    cache["centroids"] = _load_centroid_matrix(spark, index_dir)

    def _run_splits() -> None:
        import logging

        from ..operators.ann_index import split_cells

        grew, converged = False, False
        for _ in range(8):
            rep = split_cells(
                spark, index_dir,
                target_occupancy=int(split_occupancy),
            )
            if rep.count() == 0:
                converged = True
                break
            grew = True
        if grew and not converged:
            # no silent caps: a cell splitting pathologically
            # (n -> n-1, 1) can outlast the per-fold round
            # budget; the next fold retries, but probes pay
            # the occupancy term until then — say so
            logging.getLogger(__name__).warning(
                "split maintenance hit its per-fold round "
                "budget with cells still over %d residents; "
                "continuing next fold",
                int(split_occupancy),
            )
        if grew:
            cache["centroids"] = _load_centroid_matrix(spark, index_dir)

    _ALERT = "alert.json"

    def _run_drift_check(epoch_id: int) -> None:
        import logging

        from ..operators.ann_index import needs_refit, refit_pq_codebooks
        from ..operators.compaction import _write_atomic

        verdict = needs_refit(
            spark, index_dir, threshold=float(drift_threshold),
            recent_batches=int(refit_check_every),
        )
        jvm, drift_jp, fs = _fs(spark, f"{index_dir}/drift")
        if not fs.exists(drift_jp):
            fs.mkdirs(drift_jp)
        payload = dict(verdict, epoch=int(epoch_id))
        _write_atomic(
            jvm, fs, drift_jp, "last_check.json",
            json.dumps(payload).encode("utf-8"),
        )
        alert_jp = jvm.org.apache.hadoop.fs.Path(drift_jp, _ALERT)
        if not verdict["needs_refit"]:
            # a PASSING check retires any standing alert (review r12):
            # the operator's out-of-band refit brought the ratio back
            # under threshold, and a stale alert.json would keep an
            # external controller re-triggering refits forever
            if fs.exists(alert_jp):
                fs.delete(alert_jp, False)
            return
        if auto_refit:
            out = refit_pq_codebooks(
                spark, index_dir, weight_by_error=refit_weight_by_error
            )
            # the refit retired the cached subcodebooks: every later
            # batch must encode against the NEW generation (the refit's
            # roll-forward bumped pq_gen, so the stamp compare refreshes)
            _refresh_books_if_stale(spark, index_dir, cache)
            if fs.exists(alert_jp):
                fs.delete(alert_jp, False)
            logging.getLogger(__name__).info(
                "drift ratio %.3f tripped threshold %.3f at epoch %d; "
                "codes-only refit applied (baseline %.4g -> %.4g)",
                verdict["ratio"], float(drift_threshold), int(epoch_id),
                out["baseline_qerr_old"], out["baseline_qerr_new"],
            )
        else:
            _write_atomic(
                jvm, fs, drift_jp, _ALERT,
                json.dumps(payload).encode("utf-8"),
            )
            logging.getLogger(__name__).warning(
                "codebook drift: pooled qerr ratio %.3f over the last "
                "%d batches exceeds %.3f (epoch %d) — refit advised "
                "(refit_pq_codebooks, or rebuild via save_ivfpq_index); "
                "alert committed to %s/drift/%s",
                verdict["ratio"], int(refit_check_every),
                float(drift_threshold), int(epoch_id), index_dir, _ALERT,
            )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if ivfpq:
            from ..operators.ann_index import (
                _resolve_refit,
                append_to_ivfpq_index,
            )

            # finish (or refuse over — same modes as stream start) any
            # out-of-band refit BEFORE this epoch encodes, then compare
            # the generation stamp and refresh the cached books if a
            # refit committed since the cache was filled (ADVICE r12:
            # without this the sink encodes every batch after an
            # operator's refit against the retired codebooks — silent
            # ADC recall decay, drift records measured against the
            # wrong generation)
            _resolve_refit(
                spark, index_dir,
                mode="owner" if auto_refit else "writer",
            )
            _refresh_books_if_stale(spark, index_dir, cache)
            append_to_ivfpq_index(
                batch_df,
                index_dir,
                batch_id=cache["base"] + int(epoch_id),
                centroids=cache["centroids"],
                books=cache["books"],
                residual=cache["residual"],
            )
        else:
            append_batch(spark, batch_df, int(epoch_id), index_dir,
                         centroids=cache["centroids"])
        if fold_every and (int(epoch_id) + 1) % fold_every == 0:
            if not ivfpq:
                fold_appends(spark, index_dir)
            if split_occupancy is not None:
                _run_splits()
        if compact_every and (int(epoch_id) + 1) % compact_every == 0:
            from ..operators.ann_index import compact_ivf_index

            compact_ivf_index(spark, index_dir)
        if (
            refit_check_every
            and (int(epoch_id) + 1) % refit_check_every == 0
        ):
            _run_drift_check(int(epoch_id))

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _appends_deduped(
    spark: SparkSession,
    index_dir: str,
    batches: list[tuple[int, str]],
    columns: list[str],
) -> DataFrame:
    """The append tier as exactly one row per vec_id, LATEST epoch
    winning: cross-epoch blob re-delivery (the same vector landing in
    two different epoch batch dirs) would otherwise survive twice in
    the union and a fold would bake both copies into the standing tier.
    Reading the epoch dirs through ``basePath`` surfaces the ``batch=K``
    directory name as a partition column, so the winner rule is one
    row_number window over the (small, fold-cadence-bounded) append
    tier — the standing tier is never touched here. Within one epoch
    the stream sink delivers each id once, but ``append_batch`` is also
    a public API (x145, tests, scale scripts) with no uniqueness guard,
    so the window carries a SECONDARY deterministic key — the xxhash64
    of the full payload row — making the winner a pure function of the
    stored data: a duplicated id within one epoch picks the same row on
    every read and in the fold (rows tying on the hash are, outside
    adversarial collisions, identical rows, where winner identity is
    moot)."""
    raw = spark.read.option("basePath", f"{index_dir}/appends").parquet(
        *[p for _, p in batches]
    )
    w = W.partitionBy("vec_id").orderBy(
        F.desc("batch"), F.desc(F.xxhash64(*raw.columns))
    )
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*columns)
    )


def load_live_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The standing cells tier UNION any unfolded append batches,
    exactly-once per id: the append tier is first deduped against
    ITSELF (latest epoch wins — cross-epoch re-delivery), then the
    standing tier anti-joins away ids the appends superseded (which
    also covers the fold's post-commit / pre-delete crash window, where
    a row transiently exists in both tiers). Column order matches
    ``load_ivf_index``."""
    cells = spark.read.parquet(f"{index_dir}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    batches = _list_batches(spark, f"{index_dir}/appends")
    if not batches:
        return cells
    appends = _appends_deduped(spark, index_dir, batches, cells.columns)
    # appends win on id collision, deterministically, without a
    # corpus-wide dedup shuffle: the append tier is small (bounded by
    # fold cadence), so it broadcasts into an anti-join on the standing
    # tier
    survivors = cells.join(
        F.broadcast(appends.select("vec_id")), "vec_id", "anti"
    )
    return survivors.unionByName(appends)


def fold_appends(spark: SparkSession, index_dir: str) -> dict:
    """Merge the append tier into the cell-partitioned standing tier.

    Order of operations (each step idempotent under replay):
    1. finish any PENDING delete manifest from a prior crashed fold;
    2. stage (affected standing cells ∪ appends), deduped by id, via
       an eager localCheckpoint (the rewrite overwrites directories
       this plan reads);
    3. dynamic-partition-overwrite ONLY the affected cells;
    4. atomically commit a manifest naming the folded append dirs;
    5. delete them; remove the manifest.
    A crash before 4 leaves the appends in place — the committed cell
    rewrite already contains them, and ``load_live_index``'s id-dedup
    keeps reads exactly-once until the next fold's step 1/5 cleans up.
    """
    from ..operators.compaction import recover_pending_under

    # finish any compaction that crashed mid-commit in a leaf this fold
    # is about to read/rewrite — a half-committed leaf holds duplicates
    # the fold would otherwise bake in (review r11)
    recover_pending_under(spark, f"{index_dir}/cells")
    recover_pending_under(spark, f"{index_dir}/appends")

    jvm, approot, fs = _fs(spark, f"{index_dir}/appends")
    manifest_path = jvm.org.apache.hadoop.fs.Path(approot, _FOLD_MANIFEST)
    if fs.exists(manifest_path):
        raw = _read_fully(spark, fs, manifest_path)
        pending = json.loads(raw.decode("utf-8"))
        for d in pending["folded_dirs"]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
        fs.delete(manifest_path, False)

    batches = _list_batches(spark, f"{index_dir}/appends")
    if not batches:
        return {"folded_batches": 0, "affected_cells": 0}
    # an IVFADC index has no flat append tier: folding one INTO it would
    # land rows in cells/ that the codes tier never received — silently
    # invisible to every ADC shortlist. Refuse while there is something
    # to fold (the empty no-op above keeps delete_from_live_index's
    # fold-first composition working on two-tier indexes).
    _, codes_jp, codes_fs = _fs(spark, f"{index_dir}/codes")
    if codes_fs.exists(codes_jp) and list(codes_fs.listStatus(codes_jp)):
        raise ValueError(
            f"{index_dir} carries a PQ codes tier: the flat append tier "
            "does not feed it — ingest with append_to_ivfpq_index (or "
            "start_vector_ingest_stream(ivfpq=True)) instead of "
            "append_batch + fold_appends"
        )

    cells = spark.read.parquet(f"{index_dir}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    # eagerly materialize the deduped append tier: the frame is
    # fold-cadence-bounded and feeds FOUR consumers below (landing
    # cells, the stale semi-join's broadcast build, the anti-join
    # build, the union side) — without this the windowed dedup subplan
    # (parquet scan + row_number exchange) re-executes per consumer
    appends = _appends_deduped(
        spark, index_dir, batches, cells.columns
    ).localCheckpoint(eager=True)
    # The affected set is (cells the appends LAND in) UNION (standing
    # cells that already HOLD an appended id): a re-delivered vector
    # whose changed embedding quantizes to a different cell leaves a
    # stale standing copy in its OLD cell — that cell must join the
    # rewrite so the anti-join can evict the stale row, or the fold
    # would change what a reader serves (pre-fold the corpus-wide
    # anti-join hid it). The stale-cell lookup is one semi-join over
    # the standing tier column-pruned to (vec_id, cell) — two long-ish
    # columns, a metadata-weight scan paid once per fold, not per read.
    landing = appends.select("cell")
    stale = cells.join(
        F.broadcast(appends.select("vec_id")), "vec_id", "semi"
    ).select("cell")
    affected = sorted(
        r.cell for r in landing.union(stale).distinct().collect()
    )
    standing = cells.filter(F.col("cell").isin([int(c) for c in affected]))
    # appends win on id collision (a re-delivered vector carries the
    # newest payload) — same deterministic anti-join rule as
    # load_live_index, so a fold never changes what a reader serves.
    # Only the SURVIVORS need staging (their scan reads the directories
    # the write below overwrites); the appends side is already
    # checkpoint-backed, so the union stays lazy — the fold pins
    # exactly one copy of each tier's rows, not a second merged copy.
    survivors = standing.join(
        F.broadcast(appends.select("vec_id")), "vec_id", "anti"
    ).localCheckpoint(eager=True)
    merged = survivors.unionByName(appends)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(f"{index_dir}/cells")
    )
    # dynamic overwrite cannot replace a partition with zero rows: an
    # affected cell the merge drained (its only rows were superseded
    # ids) keeps its old files unless removed outright — same guard as
    # delete_from_ivf_index's empty-cell cleanup.
    present = {r.cell for r in merged.select("cell").distinct().collect()}
    for c in affected:
        if c not in present:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{index_dir}/cells/cell={int(c)}"
                ),
                True,
            )
    from ..operators.ann_index import _mark_dirty

    # the affected cell dirs were just rewritten (multi-file dynamic
    # overwrite) — they join the compaction dirty set; the folded
    # append dirs are deleted below, so their own dirty records resolve
    # to nonexistent leaves and drop out at the next compaction
    _mark_dirty(
        spark,
        index_dir,
        leaves=[f"cells/cell={int(c)}" for c in affected if c in present],
    )
    payload = json.dumps(
        {"folded_dirs": [p for _, p in batches]}
    ).encode("utf-8")
    _write_atomic(jvm, fs, approot, _FOLD_MANIFEST, payload)
    for _, p in batches:
        fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
    fs.delete(manifest_path, False)
    return {"folded_batches": len(batches), "affected_cells": len(affected)}


def delete_from_live_index(
    spark: SparkSession,
    index_dir: str,
    deleted_ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """RTBF on a LIVE (two-tier) index: ``ann_index.
    delete_from_ivf_index`` only rewrites the standing cells tier, so
    an erased id still sitting in an unfolded append batch would
    survive it. This wrapper folds the append tier first (after which
    the standing tier is the whole index) and then runs the sliver
    delete — the composition a deployment's erasure endpoint calls.
    Returns the per-cell audit report."""
    from ..operators.ann_index import delete_from_ivf_index

    fold_appends(spark, index_dir)
    return delete_from_ivf_index(spark, index_dir, deleted_ids, id_col=id_col)


__all__ = [
    "append_batch",
    "start_vector_ingest_stream",
    "load_live_index",
    "fold_appends",
    "delete_from_live_index",
]
