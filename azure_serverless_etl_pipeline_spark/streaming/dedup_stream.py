"""Streaming incremental near-dup maintenance: arriving document files
fold into a persistent cluster map, micro-batch by micro-batch.

This wires the round-5 materialized-state dedup (x117b's operators)
into the event-driven ingest shape the reference uses for its ETL
(blob-trigger -> per-file transform, ``blobToCosmos.py:28``): each
micro-batch of documents is shingled, probed against the accumulated
posting lists, exact-verified, and star-merged into the standing
cluster map — the old corpus is never re-paired, so per-batch cost
tracks batch size while the map stays equal to what a one-shot batch
run over everything-so-far would produce (asserted in tests).

State layout under ``state_dir``. The layers are parquet, in per-batch
subdirectories, so every write is an IDEMPOTENT overwrite keyed by the
checkpointed batch id — a crash-rerun of batch k rewrites exactly
batch k's artifacts. The small records (``meta/``, ``bloom/``,
``rebuild_txn/``, ``alloc_hw/``, ``epoch_map/epoch=E/``) are one JSON
file per directory, committed by ``state.write_record`` (a
Hadoop-FS temp write + rename, no Spark job); a torn record reads as
absent:

- ``base/batch=k/``  — (doc_id, shingles) for batch k's docs, id-sorted
- ``postings/batch=k/bucket=j/`` — batch k's LAYER of the bucketed
  inverted index: (doc_id, shingle, shingle_h) partitioned by
  ``pmod(xxhash64(shingle), B)``, sorted by shingle_h — the same
  layout ``materialize_incremental_state`` writes once, produced
  incrementally (round 9)
- ``df/batch=k/bucket=j/`` — batch k's per-shingle counts, same layout
- ``ids/batch=k/``   — every first-delivered id (the re-delivery
  guard's registry), id-sorted
- ``map/batch=k/``   — the FULL cluster map after folding batch k
- ``meta/``          — the bucket modulus, pinned by the first fold
  (``{"posting_buckets": B}``)
- ``redelivered/batch=k/`` — rows diverted by the first-delivery-wins
  guard (an id arriving again in a later batch; see fold_batch) —
  written only when non-empty
- ``bloom/`` — the membership Bloom artifact over all first-delivered
  ids (rebuilt by compact_state; the base64 bitmap and its hash
  parameters in one record); the fold's re-delivery probe
  consults it map-side and pays the exact ``ids/`` probe only for
  maybe-hits
- ``tombstones/batch=K/`` — (doc_id, replaced_below) rows written by
  ``rebuild_updated``'s txn layers: posting/base readers mask rows a
  rebuild superseded (``apply_tombstones`` folds the mask in
  physically and drops this root)
- ``rebuild_txn/`` — the write-ahead undo record of an in-flight
  rebuild txn (``{"txn": K}``; folds refuse while it exists; the next
  rebuild rolls the partial txn back)
- ``epoch_map/epoch=E/`` — the stream epoch's allocated layer id
  (``{"batch": K}``): epochs and rebuild txns draw from ONE allocator
  (highest id ever claimed + 1) so a txn layer can never collide with
  a resumed stream's next epoch; replays reuse their pin
- ``alloc_hw/`` — the allocator's high-water mark (``{"hw": K}``)

The probe for batch k reads layers with batch < k only (a partition
filter on the discovered ``batch`` column), so reprocessing is
insensitive to its own partial output. Candidate generation runs the
CAP-FIRST bucketed lookup (`ngram_jaccard_pairs_incremental_bucketed`
with the layered frames): union document frequency resolves from the
pruned per-batch df layers SUMMED per shingle — exactly what a
one-shot run over old+new counts, because the re-delivery guard keeps
ids unique across layers — and only cap-surviving shingles touch the
posting layers, so per-fold I/O tracks the batch and its matches, not
the standing corpus (the round-8 residual, closed for the stream too).

At 100 TB: every layer is append-only (no rewrite of history), the
pruned lookups bound bytes per fold, and the map rewrite per batch is
|docs in any near-dup edge| — the accumulating per-batch files are the
same artifacts a nightly OPTIMIZE compacts (compact_state bin-packs
all six layered roots — redelivered/ included — bucket leaves too).
"""

from __future__ import annotations

import base64

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..operators.dedup import (
    _pinned_buckets,
    _shingle_base,
    cache_scope,
    dup_clusters,
    incremental_dup_clusters,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_incremental_bucketed,
    write_bucketed_df,
    write_bucketed_layer,
)
from ..state import list_batches, read_record, write_record

DOC_SCHEMA = "doc_id long, text string"

# explicit layer schemas (batch/bucket are the discovered partition
# columns): layers written from empty batches commit no parquet footer,
# so root reads must never depend on schema inference
_BASE_SCHEMA = "doc_id long, shingles array<string>"
_POST_SCHEMA = (
    "doc_id long, shingle string, shingle_h long, batch int, bucket int"
)
_DF_SCHEMA = "shingle string, df long, shingle_h long, batch int, bucket int"


def _batches_below(spark: SparkSession, root: str, k: int) -> list[str]:
    """Batch subdir paths with id < k, in batch order."""
    return [p for b, p in list_batches(spark, root) if b < k]


_LAYER_ROOTS = (
    "base", "ids", "map", "redelivered", "postings", "df", "tombstones",
)


def _max_allocated(spark: SparkSession, state_dir: str) -> int:
    """Highest layer id any writer has ever claimed. O(1) once the
    ``alloc_hw/`` high-water file exists: every allocation (fold pin or
    rebuild txn) bumps it BEFORE writing anything under its id, so
    hw >= every claimed id by construction — the alternative (reading
    every epoch_map entry per fold) is an O(total epochs) tiny-file
    scan on the hot ingest path, the same class of unbounded per-fold
    cost the bucket-audit globStatus fix removed (review r10, second
    pass). Layer ids can exceed hw only on states that predate the
    allocator; the one-time full scan below seeds them."""
    hw = read_record(spark, f"{state_dir}/alloc_hw")
    if hw is not None:
        return int(hw["hw"])
    top = max(
        (
            b
            for r in _LAYER_ROOTS
            for b, _ in list_batches(spark, f"{state_dir}/{r}")
        ),
        default=-1,
    )
    for e in state.ls(spark, f"{state_dir}/epoch_map"):
        if e.name.startswith("epoch="):
            pin = read_record(spark, e.path)
            if pin is not None:
                top = max(top, int(pin["batch"]))
    return top


def _bump_alloc_hw(spark: SparkSession, state_dir: str, value: int) -> None:
    """Record a claimed layer id. MUST run before anything is written
    under the id (pin, marker, or layer): hw >= every claimed id is the
    invariant that lets _max_allocated skip the full scan; a crash
    right after the bump merely burns the id (a harmless gap).

    MONOTONE by construction (advice r10): the written value is clamped
    to max(value, current _max_allocated). A legacy replay pins the
    literal epoch id, which on a pre-allocator state can sit BELOW
    already-claimed layer ids — writing it raw would seed alloc_hw under
    the true maximum, _max_allocated would then short-circuit on the
    poisoned hw forever, and the next allocation could reuse an existing
    legacy layer id (its overwrite destroying that layer's data). When
    alloc_hw does not exist yet, _max_allocated runs its one-time full
    layer scan here, so the very first write is seeded correctly."""
    clamped = max(int(value), _max_allocated(spark, state_dir))
    write_record(spark, f"{state_dir}/alloc_hw", {"hw": int(clamped)})


def _fold_id_for(
    spark: SparkSession, state_dir: str, epoch_id: int
) -> tuple[int, bool]:
    """(layer id for this epoch, already-pinned?). Stream epoch ids and
    rebuild txn ids share ONE allocator (next id = highest ever claimed
    + 1, persisted per epoch under ``epoch_map/epoch=E``) so they can
    never collide: the round-10 review found that a rebuild txn at
    max+1 is exactly the id a resumed stream's next epoch would fold,
    and the fold's per-batch overwrite would silently destroy the txn's
    layers (the updated docs' only live copies) while its tombstones
    kept masking every older copy. Replays of a pinned epoch reuse the
    pinned id (the crash-rerun idempotence contract); states written
    before the allocator existed (no epoch_map entries, layer dirs AT
    the epoch id) replay against their legacy id."""
    pin = read_record(spark, f"{state_dir}/epoch_map/epoch={int(epoch_id)}")
    if pin is not None:
        return int(pin["batch"]), True
    no_entries = not any(
        e.name.startswith("epoch=")
        for e in state.ls(spark, f"{state_dir}/epoch_map")
    )
    if no_entries:
        # legacy replay: pre-allocator folds wrote their dirs AT the
        # epoch id. Probe ONLY ids/ — it is the one root every legacy
        # fold writes that a rebuild txn never does; probing base/ or
        # map/ here would misread a legacy-state rebuild's txn layer
        # (txn = max+1 = the resumed stream's next epoch) as this
        # epoch's own and re-open the overwrite collision for exactly
        # the states the allocator cannot protect yet (review r10,
        # second pass).
        if state.exists(spark, f"{state_dir}/ids/batch={int(epoch_id)}"):
            return int(epoch_id), False
    return _max_allocated(spark, state_dir) + 1, False


def _pin_fold_id(
    spark: SparkSession, state_dir: str, epoch_id: int, batch_id: int
) -> None:
    """Persist the epoch->layer-id assignment. MUST run before the
    fold's first layer write: a replay after any layer landed must find
    the pin and reuse the id (otherwise _max_allocated would hand the
    replay a fresh id and duplicate the batch)."""
    _bump_alloc_hw(spark, state_dir, batch_id)
    write_record(
        spark, f"{state_dir}/epoch_map/epoch={int(epoch_id)}",
        {"batch": int(batch_id)},
    )


_TOMB_SCHEMA = "doc_id long, replaced_below int"


def _read_tombstones(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Union of every rebuild txn's tombstones, or None before the first
    ``rebuild_updated``. A tombstone (doc_id, replaced_below) means: the
    doc's layer rows with batch < replaced_below are STALE — a newer
    text for the id was appended at layer ``replaced_below`` by a
    rebuild. History is never rewritten (append-only layers, the 100 TB
    contract); readers mask instead."""
    layers = list_batches(spark, f"{state_dir}/tombstones")
    if not layers:
        return None
    return spark.read.schema(_TOMB_SCHEMA).parquet(*[p for _, p in layers])


def _mask_tombstoned(frame: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """Drop rows superseded by a rebuild: keep a (doc_id, ..., batch)
    row unless some tombstone for its id has replaced_below > batch.
    The tombstone set is bounded by the total ids ever updated, so it
    broadcasts; max(replaced_below) per id selects the LIVE copy when an
    id has been updated more than once. A None tombstone frame (no
    rebuild ever ran — the common stream) is a passthrough: zero plan
    change, zero cost."""
    if tombs is None:
        return frame
    latest = tombs.groupBy("doc_id").agg(
        F.max("replaced_below").alias("__rb")
    )
    return (
        frame.join(F.broadcast(latest), "doc_id", "left")
        .filter(F.col("__rb").isNull() | (F.col("batch") >= F.col("__rb")))
        .drop("__rb")
    )


def build_membership_bloom(
    spark: SparkSession, state_dir: str, fpp: float = 1e-5
) -> dict | None:
    """Build (or rebuild) the membership Bloom artifact over every
    first-delivered id registered so far, and persist it to
    ``{state_dir}/bloom`` (one JSON record: the base64 bitmap, the hash
    parameters and the highest batch id it covers, committed in one
    atomic rename). The artifact is a PRUNE, never truth (the x80
    discipline): the per-fold re-delivery probe consults it map-side
    and pays the exact id-layer probe only for maybe-hits — a CLEAN
    batch (no re-deliveries, the append-mostly stream's common case)
    whose maybe set is empty skips the covered layers' probe ENTIRELY,
    zero files touched, which is what keeps membership-probe bytes flat
    as batches accumulate past compaction (SCALE.md round 10 measured
    the plain probe's bytes growing ~3x from 16 to 256 layers while the
    bloomed clean fold reads nothing).

    SIZE ``fpp`` AGAINST THE BATCH, not per-key intuition: a clean
    batch of B ids skips the probe with probability (1-fpp)^B, so pick
    fpp << 1/B (the 1e-5 default keeps 10k-id clean batches probe-free
    ~90% of the time; each factor of 10 costs ~0.6 bytes/key — 1e-5 is
    ~3.6 B/key, still 2.2x smaller than the raw ids). Past ~10^8
    registered ids a single broadcast bitmap stops being the right
    shape regardless of fpp; shard the registry (one state per id
    range) before that point. Sized at build time from the actual
    registered-id count; the write is an idempotent overwrite, so the
    natural owner is the same maintenance cadence as ``compact_state``
    (which calls this after every bin-pack). Returns the artifact
    dict, or None when no ids are registered yet."""
    from ..operators.dedup import _bloom_build_bitmap, _bloom_params

    layers = list_batches(spark, f"{state_dir}/ids")
    if not layers:
        return None
    covered_max = max(b for b, _ in layers)
    ids = spark.read.schema("doc_id long").parquet(*[p for _, p in layers])
    n_items = int(ids.count())
    n_bits, n_bytes, n_hashes = _bloom_params(max(n_items, 1), fpp)
    bitmap = _bloom_build_bitmap(ids, "doc_id", n_bits, n_bytes, n_hashes)
    write_record(
        spark,
        f"{state_dir}/bloom",
        {
            "bitmap": base64.b64encode(bitmap.tobytes()).decode("ascii"),
            "n_bits": int(n_bits),
            "n_hashes": int(n_hashes),
            "covered_max": int(covered_max),
            "n_items": n_items,
        },
    )
    return {
        "bitmap": bitmap,
        "n_bits": n_bits,
        "n_hashes": n_hashes,
        "covered_max": covered_max,
        "n_items": n_items,
    }


def _read_membership_bloom(spark: SparkSession, state_dir: str) -> dict | None:
    """The persisted bloom artifact, or None before the first build."""
    rec = read_record(spark, f"{state_dir}/bloom")
    if rec is None:
        return None
    return dict(
        rec, bitmap=np.frombuffer(base64.b64decode(rec["bitmap"]), dtype=np.uint8)
    )


def fold_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = 50,
    posting_buckets: int = 16,
) -> None:
    """Fold one micro-batch into the state. Idempotent per batch_id.

    CROSS-BATCH re-delivery guard (round 9): the incremental pair
    generator's contract requires ids disjoint between the batch and
    the standing corpus — a doc_id arriving again in a LATER batch
    would leave two copies in the base union (double-counted document
    frequencies: cap recall loss vs one-shot; fanned-out verify rows;
    and for CHANGED text, stale-shingle edges the star-edge map fold
    can only ever ADD, never retract — min-label propagation cannot
    split a component, so an update is not expressible in this state
    design at all). The fold therefore enforces FIRST-DELIVERY-WINS:
    arriving rows whose id already exists in a prior batch are
    diverted to ``redelivered/batch=k`` (visible, reprocessable — not
    silently dropped) and the map stays the one-shot truth over first
    copies. For the realistic re-delivery (same bytes re-triggered)
    first-wins and latest-wins are indistinguishable; a genuine UPDATE
    workload needs the map rebuilt for the affected component — the
    quarantine dir is exactly the work list for that job. Within-batch
    replay (same batch_id) was already idempotent via per-batch
    overwrite.

    The membership registry is the ``ids/batch=k`` sidecar (EVERY
    first-delivered id, including docs too short to shingle — the
    base dirs alone would miss those and accept their re-delivery as
    new), written id-sorted so the per-fold probe reads it through
    ``_keys_pruned_capped``: a micro-batch's ids push as an In filter
    and parquet row-group stats skip everything but matching groups —
    bytes read track the batch, not the standing corpus — while a
    large batch (> 2048 distinct ids, detected by a capped LocalLimit
    probe, ids never collected) prunes through the broadcast semi-join
    with O(1) driver payload. The per-file footer cost
    still grows one file per batch; ``compact_state`` bin-packs the
    sidecars with the rest of the state AND rebuilds the membership
    bloom artifact (``build_membership_bloom``) — once it exists, the
    covered layers' exact probe runs only for the batch's bloom-maybe
    ids, so probe bytes stay flat as batches accumulate past
    compaction (bit-identical output: the bloom is a prune, never
    truth). States written before the sidecar existed fall back to
    a doc_id-column scan of the base dirs (which cannot see
    zero-shingle first deliveries — re-fold or backfill ids/ to close
    that)."""
    from ..operators.dedup import _keys_pruned_capped

    base_root = f"{state_dir}/base"
    df_root = f"{state_dir}/df"
    post_root = f"{state_dir}/postings"
    ids_root = f"{state_dir}/ids"
    map_root = f"{state_dir}/map"

    # epoch -> layer id: stream epochs and rebuild txns share one
    # allocator so a rebuild's txn layer can never be overwritten by
    # the resumed stream's next epoch (see _fold_id_for); the pin is
    # persisted only after every gate below has passed
    epoch_id = int(batch_id)
    batch_id, id_pinned = _fold_id_for(spark, state_dir, epoch_id)

    # one listing per root, reused everywhere below
    prior_base = _batches_below(spark, base_root, batch_id)
    prior_ids_dirs = _batches_below(spark, ids_root, batch_id)

    # ---- state-shape gates run BEFORE any write (advice r9): a refused
    # fold must leave the state byte-identical — in particular it must
    # NOT pin this call's posting_buckets into meta, because the
    # recovery path (backfilling legacy layers) has to agree with
    # whatever modulus the state ends up pinning, and a half-written
    # meta would make that agreement a guess.
    meta_path = f"{state_dir}/meta"
    # the bucket modulus is a property of the STATE, not the call: the
    # first fold pins it in meta; later folds (and any caller passing a
    # different posting_buckets) follow the pinned value — mixed moduli
    # across layers would mis-prune every bucketed read. A record torn
    # by a crash reads as absent, and the rerun pins it again.
    pinned = _pinned_buckets(spark, state_dir)
    has_meta = pinned is not None
    if has_meta:
        posting_buckets = pinned
    # pre-round-9 states carry flat df layers and no postings root —
    # folding a bucketed layer next to them would leave conflicting
    # partition depths and a standing corpus the reader cannot see;
    # refuse loudly instead of corrupting the state. The message names
    # the modulus the backfill MUST use: the pinned one if meta exists,
    # else the value this fold would pin.
    if prior_base and not state.exists(spark, post_root):
        raise ValueError(
            f"{state_dir} predates the bucketed layout (base/ layers "
            "without postings/): re-fold the state from the landing "
            "data, or backfill per-batch layers with "
            "dedup.write_bucketed_layer / write_bucketed_df using "
            f"n_buckets={int(posting_buckets)} ("
            + (
                "the modulus pinned in meta/"
                if has_meta
                else "the modulus this state will pin on its next fold"
            )
            + " — every layer must agree with it exactly)"
        )
    # layer/meta consistency: a backfilled or hand-written layer whose
    # bucket dirs exceed the pinned modulus can NEVER be read correctly
    # (the reader prunes on pmod(hash, pinned) and would skip those
    # dirs silently — missed duplicate pairs with no error). Catch the
    # detectable half of the mismatch loudly; an FS-metadata pass over
    # the layer dirs, no data read.
    if has_meta:
        # ONE globStatus per root (review r10: the per-batch listStatus
        # audit was an O(accumulated layers) FS-RPC pass on the hot
        # ingest path — thousands of calls per fold on object stores
        # after a day of per-minute batches)
        for root in (post_root, df_root):
            # the ROOT portion is a literal path, not a pattern
            # (state.glob escapes it): a state_dir containing glob
            # metachars ({}, [], *) would otherwise rewrite the match and
            # silently BYPASS this loud gate (review r10, second pass)
            for e in state.glob(spark, root, "batch=*/bucket=*"):
                bucket = int(e.name.split("=", 1)[1])
                if bucket >= posting_buckets:
                    bpath = e.path.rsplit("/", 1)[0]
                    raise ValueError(
                        f"{bpath} holds bucket={bucket} but the state "
                        f"pins posting_buckets={int(posting_buckets)} "
                        f"({meta_path}): this layer was written with a "
                        "different modulus and every bucketed read "
                        "would silently mis-prune. Rewrite the layer "
                        "with the pinned modulus."
                    )
    # an interrupted rebuild_updated leaves partially-committed txn
    # layers this fold would read as standing state — refuse until the
    # txn is rolled back or completed (rebuild_updated does either on
    # its next call); the refusal runs before any write, like the gates
    if _rebuild_marker(spark, state_dir) is not None:
        raise ValueError(
            f"{state_dir} has a pending rebuild_updated txn "
            "(rebuild_txn marker present): run rebuild_updated to roll "
            "back or complete it before folding further batches"
        )
    if not has_meta:
        write_record(spark, meta_path, {"posting_buckets": int(posting_buckets)})
    if not id_pinned:
        # every gate passed: pin the epoch's layer id BEFORE any layer
        # write so a crash-replay reuses it (see _pin_fold_id)
        _pin_fold_id(spark, state_dir, epoch_id, batch_id)

    if prior_base or prior_ids_dirs:
        from pyspark.sql import Observation

        arriving = batch_df
        if len(prior_ids_dirs) >= len(prior_base):
            # capped probe (VERDICT r9 item 6): <= 2049 ids ever reach
            # the driver — a large batch drives the membership prune
            # through the broadcast semi-join without collecting ids.
            # When a bloom artifact covers a prefix of the layers
            # (built by compact_state), the COVERED layers are probed
            # exactly only for the batch's bloom-maybe ids — no false
            # negatives by construction, false positives fall through
            # to the exact probe, so output is bit-identical with or
            # without the artifact while the standing layers' probe
            # bytes track true re-deliveries + fpp, not layer count.
            # Layers NEWER than the artifact (folds since the last
            # compaction) keep the full exact probe; a replay of a
            # batch the bloom already covers (batch_id <= covered_max)
            # skips the bloom entirely — its own ids are IN the bitmap
            # and must not count as prior deliveries.
            arr_ids = arriving.select("doc_id").distinct()
            bloom = _read_membership_bloom(spark, state_dir)
            if bloom is not None and bloom["covered_max"] < batch_id:
                from ..operators.dedup import (
                    _bloom_hash_cols,
                    _bloom_might_contain,
                )

                id_layers = [
                    (b, p)
                    for b, p in list_batches(spark, ids_root)
                    if b < batch_id
                ]
                covered = [
                    p for b, p in id_layers if b <= bloom["covered_max"]
                ]
                recent = [
                    p for b, p in id_layers if b > bloom["covered_max"]
                ]
                might = _bloom_might_contain(
                    spark, bloom["bitmap"], bloom["n_bits"], bloom["n_hashes"]
                )
                h1, h2 = _bloom_hash_cols("doc_id")
                maybe = arr_ids.filter(might(h1, h2))
                parts = []
                if covered:
                    pruned, vals = _keys_pruned_capped(
                        spark.read.schema("doc_id long").parquet(*covered),
                        "doc_id",
                        maybe,
                        2048,
                    )
                    # the clean-batch fast path: an EMPTY maybe set means
                    # every arriving id is provably absent from the
                    # covered layers — skip their probe outright (zero
                    # files touched; this is the bytes-flat claim)
                    if vals != []:
                        parts.append(pruned)
                if recent:
                    parts.append(
                        _keys_pruned_capped(
                            spark.read.schema("doc_id long").parquet(*recent),
                            "doc_id",
                            arr_ids,
                            2048,
                        )[0]
                    )
                if parts:
                    prior_ids = parts[0]
                    for extra in parts[1:]:
                        prior_ids = prior_ids.unionByName(extra)
                else:  # all layers covered, nothing maybe-present
                    prior_ids = spark.createDataFrame([], "doc_id long")
            else:
                prior_ids, _ = _keys_pruned_capped(
                    spark.read.schema("doc_id long").parquet(*prior_ids_dirs),
                    "doc_id",
                    arr_ids,
                    2048,
                )
        else:  # pre-sidecar state: column-pruned base scan (see docstring)
            prior_ids = spark.read.schema(_BASE_SCHEMA).parquet(
                *prior_base
            ).select("doc_id")
        obs = Observation()
        # the arrival count rides the anti-join's checkpoint — the
        # diverted count is then arithmetic, no second standing scan on
        # the (common) clean-batch path
        batch_df = (
            arriving.observe(obs, F.count(F.lit(1)).alias("n_arrived"))
            .join(prior_ids, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if int(obs.get["n_arrived"]) > batch_df.count():
            (
                arriving.join(prior_ids, "doc_id", "left_semi")
                .write.mode("overwrite")
                .parquet(f"{state_dir}/redelivered/batch={batch_id}")
            )

    # id-sorted sidecar: the guard's pushed-In probe needs tight
    # row-group min/max stats; includes zero-shingle docs by design
    (
        batch_df.select("doc_id")
        .coalesce(1)
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(f"{ids_root}/batch={batch_id}")
    )
    # id-RANGE-sorted base: the bucketed verify re-fetch pushes
    # In(doc_id) and min/max-skips row groups across the ranged files
    # (repartitionByRange stays parallel for the big one-shot first
    # layer; AQE coalesces the tiny micro-batch case to few files)
    base = _shingle_base(batch_df, "text", "doc_id", n)
    (
        base.repartitionByRange(F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(f"{base_root}/batch={batch_id}")
    )
    base = spark.read.schema(_BASE_SCHEMA).parquet(
        f"{base_root}/batch={batch_id}"
    )
    # per-batch LAYER of the bucketed posting index + df table, written
    # through the SAME helpers as materialize_incremental_state (one
    # source of truth for hash/modulus/sort — reader correctness depends
    # on every writer agreeing exactly); sh is cached so the two layer
    # writes pay one explode, not two
    with cache_scope() as cache:
        sh = cache(
            base.select(F.col("doc_id"), F.explode("shingles").alias("shingle"))
        )
        write_bucketed_layer(
            sh, posting_buckets, f"{post_root}/batch={batch_id}"
        )
        write_bucketed_df(sh, posting_buckets, f"{df_root}/batch={batch_id}")

    prior_maps = _batches_below(spark, map_root, batch_id)
    if not prior_base or not prior_maps:
        # first effective batch: the one-shot builder IS the fold
        pairs = ngram_jaccard_pairs(
            batch_df,
            threshold=threshold,
            n=n,
            max_shingle_freq=max_shingle_freq,
        )
        new_map = dup_clusters(pairs)
    else:
        # standing layers = every batch < k, selected by a partition
        # filter on the discovered batch column (reading the ROOT keeps
        # reprocessing insensitive to batch k's own just-written layer).
        # Schemas are EXPLICIT: an all-zero-shingle batch's partitionBy
        # write commits no data file, and schema inference over a root
        # whose only layers are footerless would fail the whole fold.
        old_map = spark.read.parquet(prior_maps[-1])
        # tombstone masking (rebuild_updated): postings and base rows a
        # rebuild superseded are dead — the df layers need NO mask, the
        # rebuild's signed delta layer already sums to the live counts
        tombs = _read_tombstones(spark, state_dir)
        inc = ngram_jaccard_pairs_incremental_bucketed(
            spark,
            batch_df,
            threshold=threshold,
            n=n,
            max_shingle_freq=max_shingle_freq,
            postings=_mask_tombstoned(
                spark.read.schema(_POST_SCHEMA)
                .parquet(post_root)
                .filter(F.col("batch") < batch_id),
                tombs,
            ),
            shingle_df=spark.read.schema(_DF_SCHEMA)
            .parquet(df_root)
            .filter(F.col("batch") < batch_id),
            old_base=_mask_tombstoned(
                spark.read.schema(_BASE_SCHEMA + ", batch int")
                .parquet(base_root)
                .filter(F.col("batch") < batch_id),
                tombs,
            ),
            n_buckets=posting_buckets,
        )
        new_map = incremental_dup_clusters(old_map, inc)
    new_map.write.mode("overwrite").parquet(f"{map_root}/batch={batch_id}")


def compact_state(
    spark: SparkSession,
    state_dir: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
    bloom_fpp: float = 1e-5,
) -> dict:
    """OPTIMIZE pass over the dedup state: bin-pack every per-batch leaf
    directory — the flat roots (base/ids/map/redelivered x batch=K) and
    the bucketed roots' leaves (df/postings x batch=K/bucket=J) —
    through operators.compaction.compact_parquet_dir. The redelivered/
    quarantine is a work list, not probe state, but it accumulates one
    small file set per dirty batch exactly like the others and its
    consumer (rebuild_updated) scans it whole — same bin-pack, same
    cadence. Per-batch writes produce
    one file set per micro-batch — the standard streaming small-files
    problem; at scale a day of per-minute batches is thousands of
    KB-scale files and every probe of the posting lists pays a task +
    footer read per file. Compaction preserves row identity (read ->
    coalesce -> rename-commit; crash-safe via the operator's write-ahead
    manifest), so the folded map and every future probe are unchanged —
    asserted end-to-end in test_dedup_stream. Run between batches (the
    operator is not snapshot-isolated against concurrent readers of the
    same leaf), exactly like an offline OPTIMIZE job."""
    from ..operators.compaction import compact_parquet_dir

    def leaves() -> list[str]:
        # flat per-batch roots, plus the bucketed roots whose leaves sit
        # one level deeper (batch=K/bucket=J)
        out: list[str] = []
        for sub in ("base", "ids", "map", "redelivered", "tombstones"):
            out += [p for _b, p in list_batches(spark, f"{state_dir}/{sub}")]
        for sub in ("df", "postings"):
            # one glob per root finds every bucket leaf; a batch dir
            # without bucket subdirs is its own leaf
            root = f"{state_dir}/{sub}"
            buckets = [e.path for e in state.glob(spark, root, "batch=*/bucket=*")]
            bucketed = {p.rsplit("/", 1)[0] for p in buckets}
            out += buckets + [
                p for _b, p in list_batches(spark, root) if p not in bucketed
            ]
        return out

    out = {"dirs": 0, "compacted": 0, "rewritten": 0}
    for path in leaves():
        stats = compact_parquet_dir(
            spark, path, target_bytes=target_bytes,
            min_file_bytes=min_file_bytes,
        )
        out["dirs"] += 1
        out["compacted"] += int(stats["compacted"])
        out["rewritten"] += stats["rewritten"]
    # membership bloom refresh rides the same cadence: the artifact
    # covers every batch folded so far, so the next folds' exact id
    # probes shrink to maybe-hits over the (just bin-packed) layers
    bloom = build_membership_bloom(spark, state_dir, fpp=bloom_fpp)
    out["bloom_covered_max"] = -1 if bloom is None else bloom["covered_max"]
    return out


def _rebuild_marker(spark: SparkSession, state_dir: str) -> int | None:
    """The interrupted-rebuild undo record: txn batch id, or None."""
    rec = read_record(spark, f"{state_dir}/rebuild_txn")
    return None if rec is None else int(rec["txn"])


def rebuild_updated(
    spark: SparkSession,
    state_dir: str,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = 50,
    max_in_pushdown: int = 2048,
) -> dict:
    """Consume the ``redelivered/`` quarantine as an UPDATE workload:
    rebuild the cluster map (and the standing index state) so both equal
    what a one-shot run over (first-delivered corpus \\ updated ids) UNION
    (latest redelivered text per id) would produce — including component
    SPLITS, which the fold's star-edge map can never express (min-label
    propagation only ever adds reachability; see fold_batch's guard
    docstring). ``threshold``/``n``/``max_shingle_freq`` must match the
    stream's fold parameters.

    History is never rewritten (the append-only 100 TB contract).
    The update lands as a normal-looking txn layer ``batch=K`` — the
    latest text's base rows + postings, and a SIGNED df delta layer
    (new counts minus the superseded copies' counts, so the per-shingle
    layer SUM stays the exact corpus-prime document frequency with no
    masking) — plus TOMBSTONES (doc_id, replaced_below=K) that every
    posting/base reader applies as a broadcast mask
    (``_mask_tombstoned``). Work is bounded by the update and what it
    touches, not the corpus:

    1. latest text per updated id (max redelivery batch, payload-hash
       tiebreak — the vector stream's ``_appends_deduped`` discipline);
    2. pair DISCOVERY for the new texts through the same bucketed
       pruned-lookup generator the fold uses (stale copies excluded by
       its own live-row algebra);
    3. cap-FLIP analysis: shingles whose corpus-prime document
       frequency crosses ``max_shingle_freq`` in either direction
       (update added/removed occurrences) can create or destroy
       candidacy between docs that were never updated — their holders
       join the affected set (also covers the generator's df estimate
       diverging for ids whose NEW text has no shingles);
    4. the affected set closes over the old map's components (retracted
       edges can split them), and the members' pairs are recomputed
       one-shot-style with corpus-prime df resolved from the persisted
       layers + the update's delta — so the cap rule is the CORPUS
       rule, not a local undercount;
    5. the new map = untouched components' rows + freshly clustered
       members, written as ``map/batch=K``.

    CRASH SAFETY is write-ahead: ``rebuild_txn`` records K before any
    write; an interrupted txn is rolled back (its batch=K dirs deleted)
    on the next call, and the marker is cleared only after the map
    lands — so a re-run always starts from a CONSISTENT state and the
    redelivered dirs (deleted last) still hold the work list.
    fold_batch refuses to fold while a marker is pending. Run between
    folds, like compact_state.

    Returns {"updated", "affected_clusters", "members", "txn_batch"}.
    """
    from pyspark.sql import Window

    from ..operators.dedup import (
        _explode_shingles,
        _keys_pruned_capped,
        _shingle_base,
        _verify_jaccard,
        ngram_jaccard_pairs_incremental_bucketed,
        write_bucketed_layer,
    )

    # ---- roll back an interrupted txn (write-ahead undo record) ----
    stale_txn = _rebuild_marker(spark, state_dir)
    if stale_txn is not None:
        for root in ("base", "postings", "df", "map", "tombstones"):
            state.delete(spark, f"{state_dir}/{root}/batch={stale_txn}")

    red_layers = list_batches(spark, f"{state_dir}/redelivered")
    if not red_layers:
        # nothing to consume; clear a leftover marker (its txn is now
        # rolled back) and report the no-op
        if stale_txn is not None:
            state.delete(spark, f"{state_dir}/rebuild_txn")
        return {
            "updated": 0,
            "affected_clusters": 0,
            "members": 0,
            "txn_batch": None,
        }

    posting_buckets = _pinned_buckets(spark, state_dir)
    if posting_buckets is None:
        raise ValueError(f"{state_dir}/meta pins no posting_buckets")
    # shared allocator with the stream's epoch pins (_max_allocated):
    # the txn id is strictly above every id any fold has ever claimed,
    # INCLUDING pinned-but-unwritten epochs, and future epochs allocate
    # above the txn in turn — no collision in either direction; hw is
    # bumped before the marker so a crash can never leave txn layers
    # above the recorded high water
    txn = 1 + _max_allocated(spark, state_dir)
    _bump_alloc_hw(spark, state_dir, txn)
    write_record(spark, f"{state_dir}/rebuild_txn", {"txn": int(txn)})

    # ---- 1. latest delivered text per updated id ----
    red = None
    for b, p in red_layers:
        part = (
            spark.read.schema(DOC_SCHEMA)
            .parquet(p)
            .withColumn("batch", F.lit(int(b)))
        )
        red = part if red is None else red.unionByName(part)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("batch"), F.desc(F.xxhash64("text"))
    )
    u_new = (
        red.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    u_ids = u_new.select("doc_id")
    n_updated = u_new.count()

    # ---- 2. live standing frames (txn layers can't exist yet) ----
    tombs = _read_tombstones(spark, state_dir)
    std_post = _mask_tombstoned(
        spark.read.schema(_POST_SCHEMA)
        .parquet(f"{state_dir}/postings")
        .filter(F.col("batch") < txn),
        tombs,
    )
    std_df = (
        spark.read.schema(_DF_SCHEMA)
        .parquet(f"{state_dir}/df")
        .filter(F.col("batch") < txn)
    )
    std_base = _mask_tombstoned(
        spark.read.schema(_BASE_SCHEMA + ", batch int")
        .parquet(f"{state_dir}/base")
        .filter(F.col("batch") < txn),
        tombs,
    )

    # ---- 3. discovery: corpus-prime pairs touching the new texts ----
    inc_pairs = ngram_jaccard_pairs_incremental_bucketed(
        spark,
        u_new,
        threshold=threshold,
        n=n,
        max_shingle_freq=max_shingle_freq,
        max_in_pushdown=max_in_pushdown,
        postings=std_post,
        shingle_df=std_df,
        old_base=std_base,
        n_buckets=posting_buckets,
    )

    # the updated docs' LIVE rows (the copies being superseded) — both
    # the df delta and the cap-flip analysis derive from them
    u_old_rows, _ = _keys_pruned_capped(
        std_base.select("doc_id", "shingles"), "doc_id", u_ids,
        max_in_pushdown,
    )
    u_old_sh = u_old_rows.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    u_shingled = _shingle_base(u_new, "text", "doc_id", n)
    # computed (not stored) shingles: explode through the outer+isNotNull
    # shape so the zip_with chain is evaluated once per doc (dedup.
    # _explode_shingles — the other explode sites here read materialized
    # arrays, where the inferred filter costs one size(), not a chain)
    u_new_sh = _explode_shingles(u_shingled, "doc_id")

    affected = u_ids.unionByName(
        inc_pairs.select(F.col("id_a").alias("doc_id"))
    ).unionByName(inc_pairs.select(F.col("id_b").alias("doc_id")))

    sdf_all = u_old_sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    ndf = u_new_sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("ndf"))
    if max_shingle_freq is not None:
        # ---- 4. cap-flip shingles and their holders ----
        shingled_ids = u_shingled.select("doc_id")
        sdf_gen = (
            u_old_sh.join(F.broadcast(shingled_ids), "doc_id", "semi")
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("sdf_gen"))
        )
        delta_sh = (
            sdf_all.join(ndf, "shingle", "full")
            .join(sdf_gen, "shingle", "left")
            .select(
                "shingle",
                F.coalesce("sdf", F.lit(0)).alias("sdf"),
                F.coalesce("ndf", F.lit(0)).alias("ndf"),
                F.coalesce("sdf_gen", F.lit(0)).alias("sdf_gen"),
            )
            .withColumn("shingle_h", F.xxhash64("shingle"))
            .localCheckpoint(eager=True)
        )
        hashes = delta_sh.select("shingle_h").distinct()
        buckets = sorted(
            r.b
            for r in delta_sh.select(
                F.pmod("shingle_h", F.lit(int(posting_buckets)))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        df_scan = std_df.filter(F.col("bucket").isin(buckets))
        pruned_df, _ = _keys_pruned_capped(
            df_scan, "shingle_h", hashes, max_in_pushdown
        )
        df0 = pruned_df.groupBy("shingle").agg(F.sum("df").alias("df0"))
        cap = int(max_shingle_freq)
        flips = (
            delta_sh.join(df0, "shingle", "left")
            .withColumn("df0", F.coalesce("df0", F.lit(0)))
            .withColumn("df_true", F.col("df0") - F.col("sdf") + F.col("ndf"))
            .withColumn(
                "df_gen", F.col("df0") - F.col("sdf_gen") + F.col("ndf")
            )
            .filter(
                ((F.col("df0") <= cap) != (F.col("df_true") <= cap))
                | ((F.col("df_gen") <= cap) != (F.col("df_true") <= cap))
            )
            .select("shingle_h")
            .distinct()
            .localCheckpoint(eager=True)
        )
        flip_buckets = sorted(
            r.b
            for r in flips.select(
                F.pmod("shingle_h", F.lit(int(posting_buckets)))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        if flip_buckets:
            post_scan = std_post.filter(F.col("bucket").isin(flip_buckets))
            holders, _ = _keys_pruned_capped(
                post_scan, "shingle_h", flips, max_in_pushdown
            )
            # hash-level match: a colliding shingle admits extra
            # holders, which only ENLARGES the affected set — the
            # member recompute below is exact regardless
            affected = affected.unionByName(holders.select("doc_id"))

    affected = affected.distinct().localCheckpoint(eager=True)

    # ---- 5. close over old components; recompute member pairs ----
    old_map_layers = list_batches(spark, f"{state_dir}/map")
    old_map = (
        spark.read.parquet(old_map_layers[-1][1]).localCheckpoint(eager=True)
        if old_map_layers
        else spark.createDataFrame([], "doc_id long, cluster_id long")
    )
    aff_clusters = (
        old_map.join(F.broadcast(affected), "doc_id", "semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    members = (
        old_map.join(F.broadcast(aff_clusters), "cluster_id", "semi")
        .select("doc_id")
        .unionByName(affected)
        .distinct()
        .localCheckpoint(eager=True)
    )
    mem_old_rows, _ = _keys_pruned_capped(
        std_base.select("doc_id", "shingles"), "doc_id", members,
        max_in_pushdown,
    )
    mem_base = (
        mem_old_rows.join(F.broadcast(u_ids), "doc_id", "left_anti")
        .unionByName(u_shingled)
        .localCheckpoint(eager=True)
    )
    mem_sh = mem_base.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    if max_shingle_freq is not None:
        # corpus-prime df per member shingle: persisted sums (pruned)
        # adjusted by the update's delta — the CORPUS cap rule
        msh = mem_sh.select("shingle").distinct().withColumn(
            "shingle_h", F.xxhash64("shingle")
        )
        mbuckets = sorted(
            r.b
            for r in msh.select(
                F.pmod("shingle_h", F.lit(int(posting_buckets)))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        )
        mdf_scan = std_df.filter(F.col("bucket").isin(mbuckets))
        pruned_mdf, _ = _keys_pruned_capped(
            mdf_scan, "shingle_h", msh.select("shingle_h"), max_in_pushdown
        )
        mdf0 = pruned_mdf.groupBy("shingle").agg(F.sum("df").alias("df0"))
        surviving = (
            msh.select("shingle")
            .join(mdf0, "shingle", "left")
            .join(F.broadcast(sdf_all), "shingle", "left")
            .join(F.broadcast(ndf), "shingle", "left")
            .filter(
                F.coalesce("df0", F.lit(0))
                - F.coalesce("sdf", F.lit(0))
                + F.coalesce("ndf", F.lit(0))
                <= int(max_shingle_freq)
            )
            .select("shingle")
        )
        mem_sh_c = mem_sh.join(F.broadcast(surviving), "shingle")
    else:
        mem_sh_c = mem_sh
    a, b2 = mem_sh_c.alias("a"), mem_sh_c.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    member_pairs = _verify_jaccard(cand, mem_base, "doc_id", threshold)

    # ---- 6. the rebuilt map, materialized BEFORE any state write ----
    keep = old_map.join(F.broadcast(aff_clusters), "cluster_id", "left_anti")
    rebuilt = dup_clusters(member_pairs).select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long")
    )
    new_map = (
        keep.select(F.col("doc_id").cast("long"), F.col("cluster_id").cast("long"))
        .unionByName(rebuilt)
        .localCheckpoint(eager=True)
    )
    n_members = members.count()
    n_aff = aff_clusters.count()

    # ---- 7. persist the txn (every write overwrite-idempotent) ----
    (
        u_shingled.repartitionByRange(F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(f"{state_dir}/base/batch={txn}")
    )
    write_bucketed_layer(
        u_new_sh, posting_buckets, f"{state_dir}/postings/batch={txn}"
    )
    delta_df = (
        sdf_all.join(ndf, "shingle", "full")
        .select(
            "shingle",
            (
                F.coalesce("ndf", F.lit(0)) - F.coalesce("sdf", F.lit(0))
            ).cast("long").alias("df"),
        )
        .filter(F.col("df") != 0)
    )
    write_bucketed_layer(
        delta_df, posting_buckets, f"{state_dir}/df/batch={txn}"
    )
    u_ids.withColumn("replaced_below", F.lit(int(txn))).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{state_dir}/tombstones/batch={txn}")
    new_map.write.mode("overwrite").parquet(f"{state_dir}/map/batch={txn}")

    # txn complete: clear the undo record FIRST (the committed layers
    # must never be rolled back), then consume the work list
    state.delete(spark, f"{state_dir}/rebuild_txn")
    for _b, p in red_layers:
        state.delete(spark, p)
    return {
        "updated": int(n_updated),
        "affected_clusters": int(n_aff),
        "members": int(n_members),
        "txn_batch": int(txn),
    }


def apply_tombstones(spark: SparkSession, state_dir: str) -> dict:
    """Physical OPTIMIZE for the update path: fold the tombstone mask
    into the layers — rewrite every base/postings layer directory that
    still holds superseded rows WITHOUT them, then drop the tombstone
    store, returning every future fold to the unmasked fast path (the
    broadcast mask costs little, but it grows with total ids ever
    updated and every reader pays it forever otherwise).

    The df layers are deliberately NOT touched: the rebuild's signed
    delta layers already make the per-shingle SUM the live count, and
    that algebra stays true whether or not the superseded posting/base
    ROWS physically exist — so the rewrite here never has to keep two
    artifact families transactionally consistent. Crash safety follows:
    each layer rewrite is an idempotent overwrite that only ever
    removes already-masked rows (a half-done pass leaves the mask
    correct — masking a missing row is a no-op), and the tombstone
    store is deleted LAST, only after every affected layer is clean.
    Work is bounded by the layers that contain updated ids (pruned
    discovery per layer), not the corpus. Run between folds, like
    compact_state. Returns {"tombstoned_ids", "layers_rewritten"}."""
    from ..operators.dedup import _keys_pruned_capped

    # an in-flight rebuild's tombstones are UNCOMMITTED: physically
    # applying them here and then letting the next rebuild roll the txn
    # back would delete the updated ids' only remaining copies (review
    # r10) — refuse like fold_batch does until the txn is resolved
    if _rebuild_marker(spark, state_dir) is not None:
        raise ValueError(
            f"{state_dir} has a pending rebuild_updated txn "
            "(rebuild_txn marker present): run rebuild_updated to roll "
            "back or complete it before applying tombstones"
        )
    tombs = _read_tombstones(spark, state_dir)
    if tombs is None:
        return {"tombstoned_ids": 0, "layers_rewritten": 0}
    latest = (
        tombs.groupBy("doc_id")
        .agg(F.max("replaced_below").alias("__rb"))
        .localCheckpoint(eager=True)
    )
    n_ids = latest.count()
    rewritten = 0
    for root in ("base", "postings"):
        for b, path in list_batches(spark, f"{state_dir}/{root}"):
            dead_ids = latest.filter(F.col("__rb") > int(b)).select(
                "doc_id"
            )
            if root == "postings":
                # bucket is a partition column of the LAYER dir; read
                # it as data so the rewrite preserves the layout
                layer = spark.read.schema(
                    "doc_id long, shingle string, shingle_h long, bucket int"
                ).parquet(path)
            else:
                layer = spark.read.schema(_BASE_SCHEMA).parquet(path)
            hit, vals = _keys_pruned_capped(
                layer.select("doc_id"), "doc_id", dead_ids, 2048
            )
            if vals == [] or hit.limit(1).count() == 0:
                continue  # no superseded rows in this layer
            survivors = layer.join(
                F.broadcast(dead_ids), "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
            if root == "postings":
                (
                    survivors.repartition("bucket")
                    .sortWithinPartitions("bucket", "shingle_h")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(path)
                )
            else:
                (
                    survivors.repartitionByRange(F.col("doc_id"))
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(path)
                )
            rewritten += 1
    state.delete(spark, f"{state_dir}/tombstones")
    return {"tombstoned_ids": int(n_ids), "layers_rewritten": rewritten}


def start_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    n: int = 3,
    max_shingle_freq: int | None = 50,
    compact_every: int | None = None,
    posting_buckets: int = 16,
):
    """Tail a landing directory of document parquet files; every
    micro-batch folds into the standing cluster map. availableNow gives
    batch parity (drain-then-stop); drop it for continuous tailing.

    ``compact_every=N`` runs the ``compact_state`` maintenance pass
    after every Nth fold — the between-batches window is the one moment
    the state has no concurrent reader, so the streaming job is the
    natural owner of its own OPTIMIZE cadence (the same pattern Delta's
    auto-compaction uses). A crash between fold and compact is safe:
    the fold is already durable, and a half-finished compact replays
    from its manifest on the next pass."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        fold_batch(
            spark,
            batch_df,
            int(epoch_id),
            state_dir,
            threshold=threshold,
            n=n,
            max_shingle_freq=max_shingle_freq,
            posting_buckets=posting_buckets,
        )
        if compact_every and (int(epoch_id) + 1) % compact_every == 0:
            compact_state(spark, state_dir)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def current_map(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest folded cluster map."""
    batches = list_batches(spark, f"{state_dir}/map")
    return spark.read.parquet(batches[-1][1])


__all__ = [
    "start_dedup_stream",
    "fold_batch",
    "current_map",
    "compact_state",
    "build_membership_bloom",
    "rebuild_updated",
    "apply_tombstones",
]
