"""Streaming incremental dedup (streaming/dedup_stream): the folded
cluster map after draining N micro-batches must equal the one-shot
batch run over everything, and re-folding a batch must be idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_serverless_etl_pipeline_spark.state import write_record


def _truth(docs):
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    m = dup_clusters(
        ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    ).toPandas()
    return dict(zip(m["doc_id"], m["cluster_id"]))


@pytest.mark.slow
def test_stream_folds_to_batch_truth(spark, tmp_path):
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        start_dedup_stream,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    landing = str(tmp_path / "landing")
    # three arrival files; maxFilesPerTrigger=1 -> three micro-batches
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    q = start_dedup_stream(
        spark,
        landing,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = current_map(spark, str(tmp_path / "state")).toPandas()
    got_map = dict(zip(got["doc_id"], got["cluster_id"]))
    assert got_map == _truth(docs)


@pytest.mark.slow
def test_fold_batch_is_idempotent(spark, tmp_path):
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    fold_batch(spark, b0, 0, state)
    fold_batch(spark, b1, 1, state)
    want = current_map(spark, state).toPandas()
    want_map = dict(zip(want["doc_id"], want["cluster_id"]))

    # crash-rerun of the LAST batch: same inputs, same batch id — the
    # overwrite-keyed layout must land on the identical map
    fold_batch(spark, b1, 1, state)
    got = current_map(spark, state).toPandas()
    got_map = dict(zip(got["doc_id"], got["cluster_id"]))
    assert got_map == want_map == _truth(docs)


@pytest.mark.slow
def test_stream_with_compaction_preserves_truth(spark, tmp_path):
    """E2E: drain the stream with compact_every=1 (OPTIMIZE after every
    fold) — the folded map must still equal batch truth, the compaction
    must actually rewrite the per-batch small files, and base-row
    identity must survive the rewrite."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        start_dedup_stream,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    landing = str(tmp_path / "landing")
    for part in range(3):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    state = str(tmp_path / "state")
    q = start_dedup_stream(
        spark,
        landing,
        state,
        str(tmp_path / "ckpt"),
        compact_every=1,
    )
    q.awaitTermination(300)

    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(docs)
    # compaction really ran somewhere: the shuffle-written leaves (df /
    # map, one file per reducer) get bin-packed to compacted- files;
    # single-file leaves (base, one file per arriving batch) are
    # correctly left alone
    import os

    compacted = [
        os.path.join(sub, d, f)
        for sub in ("base", "df", "map")
        for d in os.listdir(os.path.join(state, sub))
        if d.startswith("batch=")
        for f in os.listdir(os.path.join(state, sub, d))
        if f.startswith("compacted-")
    ]
    assert compacted, "no leaf was compacted"
    # base-row identity survived the rewrite
    base = spark.read.parquet(os.path.join(state, "base"))
    assert base.select("doc_id").distinct().count() == docs.count()


@pytest.mark.slow
def test_compact_state_crash_resume(spark, tmp_path):
    """A compaction crash mid-swap (committed manifest, deletes pending)
    must replay on the next maintenance pass, and a crash-rerun of the
    last FOLD over the compacted state must still be idempotent — the
    row-identity + cluster-map contract the reference's idempotent
    upsert story (blob_to_cosmosdb.py:32-38) delegates to its store."""
    import json
    import os

    from azure_serverless_etl_pipeline_spark.operators.compaction import (
        _MANIFEST,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        compact_state,
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0).repartition(4)
    b1 = docs.filter(F.col("doc_id") % 2 == 1).repartition(4)
    fold_batch(spark, b0, 0, state)
    fold_batch(spark, b1, 1, state)
    want = _truth(docs)

    # simulate the post-commit crash window in base/batch=0: one file
    # already duplicated under its compacted- name, manifest still
    # pointing at the original for deletion (same shape as
    # test_compaction.py's resume test)
    leaf = os.path.join(state, "base", "batch=0")
    victim = sorted(
        f for f in os.listdir(leaf)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )[0]
    src = os.path.join(leaf, victim)
    dup = os.path.join(leaf, f"compacted-deadbeef-{victim}")
    with open(src, "rb") as fh, open(dup, "wb") as out:
        out.write(fh.read())
    mpath = os.path.join(leaf, _MANIFEST)
    with open(mpath, "w") as fh:
        json.dump(
            {
                "self": mpath,
                "tmp": os.path.join(leaf, ".compact-deadbeef"),
                "moves": [],
                "originals": [src],
            },
            fh,
        )

    stats = compact_state(spark, state)
    # flat leaves (base/ids/map/redelivered x batch) + the two bucketed
    # roots' OBSERVED bucket leaves — counted on disk, not assumed 16
    # per batch: a shingle distribution that leaves a bucket empty (or
    # a future bucket-count change) is not a product defect (advice r9)
    import glob

    expected = 0
    for sub in ("base", "ids", "map", "redelivered"):
        expected += len(glob.glob(os.path.join(state, sub, "batch=*")))
    for sub in ("df", "postings"):
        for bdir in glob.glob(os.path.join(state, sub, "batch=*")):
            buckets = glob.glob(os.path.join(bdir, "bucket=*"))
            expected += len(buckets) if buckets else 1
    assert expected >= 3 * 2  # sanity: the flat roots are all there
    assert stats["dirs"] == expected
    assert not os.path.exists(mpath)  # pending manifest replayed
    assert not os.path.exists(src)  # original deleted exactly once

    # row identity through crash + compact
    base = spark.read.parquet(os.path.join(state, "base"))
    assert base.select("doc_id").distinct().count() == docs.count()
    assert base.count() == base.select("doc_id").distinct().count()

    # crash-rerun of the last fold over the COMPACTED state: idempotent,
    # still batch truth
    fold_batch(spark, b1, 1, state)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want


@pytest.mark.slow
def test_streamed_state_serves_governance_across_crash_resume(spark, tmp_path):
    """E2E governance on the STREAMED state (round-7): file arrivals ->
    dedup_stream(compact_every=2) -> crash (stream stops after draining
    two files) -> a third file lands -> a RESUMED stream on the same
    checkpoint folds it -> current_map -> propagate_deletes. The delete
    propagation computed from the streamed/compacted/resumed state must
    equal the one computed from one-shot batch truth — the RTBF path
    must not depend on how the state was built."""
    from azure_serverless_etl_pipeline_spark.operators import text as text_ops
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
        propagate_deletes,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        start_dedup_stream,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # two files land; the stream drains them (availableNow) and stops —
    # the "crash" point, with a compaction pass already behind it
    for part in range(2):
        docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    q = start_dedup_stream(spark, landing, state, ckpt, compact_every=2)
    q.awaitTermination(300)

    # a third file lands; a NEW stream on the SAME checkpoint resumes
    # exactly where the dead one stopped (no refold of files 0-1)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q2 = start_dedup_stream(spark, landing, state, ckpt, compact_every=2)
    q2.awaitTermination(300)

    streamed = current_map(spark, state)
    truth_clusters = dup_clusters(
        ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    )

    scores = text_ops.quality_score(docs).select("doc_id", "quality")
    deletes = docs.filter(F.col("doc_id") % 17 == 5).select("doc_id")

    def report(clusters):
        out = propagate_deletes(clusters, deletes, scores).toPandas()
        return sorted(map(tuple, out.fillna(-1).values.tolist()))

    assert report(streamed) == report(truth_clusters)
    assert report(streamed), "erase list must affect at least one cluster"


@pytest.mark.slow
def test_random_batch_splits_fold_to_batch_truth(spark, tmp_path):
    """Randomized fold contract (the vector-stream LSM test's text
    twin): a SEEDED random partition of the corpus into uneven batches,
    folded one at a time with compaction injected at random points,
    must serve current_map == one-shot batch truth over everything
    delivered so far AFTER EVERY FOLD — not just at drain. Catches
    prefix-state bugs (stale df sums, wrong 'latest map' pick) that an
    end-only comparison can mask."""
    import numpy as np

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        compact_state,
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    rng = np.random.default_rng(11)
    n_batches = 4
    # uneven random assignment, engine-side (hash of doc_id + seed)
    assign = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(11)), F.lit(n_batches))
    state = str(tmp_path / "state")
    delivered = None
    for b in range(n_batches):
        batch = docs.filter(assign == b)
        fold_batch(spark, batch, b, state)
        delivered = batch if delivered is None else delivered.unionByName(batch)
        if rng.random() < 0.5:
            compact_state(spark, state)
        got = current_map(spark, state).toPandas()
        got_map = dict(zip(got["doc_id"], got["cluster_id"]))
        assert got_map == _truth(delivered), f"diverged after batch {b}"


@pytest.mark.slow
def test_cross_batch_redelivery_first_wins_and_quarantines(spark, tmp_path):
    """An id arriving AGAIN in a later batch (the cross-batch
    re-delivery the within-batch overwrite cannot cover) must be
    diverted by the first-delivery-wins guard: the standing base holds
    exactly one copy per id, the map equals the one-shot truth over
    FIRST copies, and the diverted rows are visible under
    redelivered/batch=k — never silently dropped. Without the guard
    the duplicate copy double-counts document frequencies (cap recall
    loss vs one-shot) and, for changed text, plants stale-shingle
    edges the star-edge fold can never retract."""
    import os

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        start_dedup_stream,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    landing = str(tmp_path / "landing")
    first = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1)
    first.coalesce(1).write.mode("append").parquet(landing)
    second.coalesce(1).write.mode("append").parquet(landing)
    # third file re-delivers a slice of the FIRST file with changed
    # text (an upstream update) plus genuinely new docs
    changed = first.filter(F.col("doc_id") % 2 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" totally changed suffix"))
    )
    third = docs.filter(F.col("doc_id") % 3 == 2).unionByName(changed)
    third.coalesce(1).write.mode("append").parquet(landing)

    state = str(tmp_path / "state")
    q = start_dedup_stream(
        spark, landing, state, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    # invariant: one standing copy per id
    base = spark.read.parquet(f"{state}/base")
    assert base.count() == base.select("doc_id").distinct().count()
    # the map is the one-shot truth over FIRST copies (= docs verbatim)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(docs)
    # the diverted copies are visible, with their re-delivered payload
    redeliv_root = f"{state}/redelivered"
    assert os.path.isdir(redeliv_root)
    red = spark.read.parquet(redeliv_root)
    want_ids = {r.doc_id for r in changed.select("doc_id").collect()}
    assert {r.doc_id for r in red.collect()} == want_ids
    assert red.filter(~F.col("text").endswith("changed suffix")).count() == 0


def test_fold_releases_only_its_own_caches(spark, tmp_path):
    """fold_batch releases exactly what it pinned: a frame the caller
    cached in the shared session survives a first-batch fold and an
    incremental fold, and afterwards it is the only CacheManager
    entry."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    spark.catalog.clearCache()  # isolate from other tests' entries
    mine = docs.filter(F.col("doc_id") % 7 == 0).cache()
    mine.createOrReplaceTempView("caller_cached_docs")
    mine.count()
    for b in (0, 1):  # first-batch fold, then an incremental fold
        fold_batch(spark, docs.filter(F.col("doc_id") % 2 == b), b, state)
        assert spark.catalog.isCached("caller_cached_docs"), f"batch {b}"
    mine.unpersist(blocking=True)
    spark.catalog.dropTempView("caller_cached_docs")
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "fold left its own caches behind"


def test_rebuild_and_tombstones_keep_the_callers_caches(spark, tmp_path):
    """rebuild_updated and apply_tombstones release only what they
    cached: a frame the caller cached in the shared session survives
    each call, and afterwards it is the only CacheManager entry."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        apply_tombstones,
        fold_batch,
        rebuild_updated,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    fold_batch(spark, b0, 0, state)
    updates = b0.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" an entirely new suffix"))
    )
    fold_batch(spark, updates, 1, state)
    spark.catalog.clearCache()  # isolate from other tests' entries
    mine = docs.filter(F.col("doc_id") % 7 == 0).cache()
    mine.createOrReplaceTempView("caller_cached_docs")
    mine.count()
    assert rebuild_updated(spark, state)["updated"] == updates.count()
    assert spark.catalog.isCached("caller_cached_docs"), "rebuild_updated"
    assert apply_tombstones(spark, state)["layers_rewritten"] >= 2
    assert spark.catalog.isCached("caller_cached_docs"), "apply_tombstones"
    mine.unpersist(blocking=True)
    spark.catalog.dropTempView("caller_cached_docs")
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "rebuild or tombstone pass left caches behind"


def test_fully_redelivered_batch_is_a_noop_fold(spark, tmp_path):
    """A later file consisting ENTIRELY of already-seen ids must fold
    to a no-op: map unchanged, base unchanged, every row quarantined."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    fold_batch(spark, half, 0, state)
    before = current_map(spark, state).toPandas()
    fold_batch(spark, half, 1, state)  # same rows again, new batch id
    after = current_map(spark, state).toPandas()
    assert dict(zip(after["doc_id"], after["cluster_id"])) == dict(
        zip(before["doc_id"], before["cluster_id"])
    )
    base = spark.read.parquet(f"{state}/base")
    assert base.count() == base.select("doc_id").distinct().count()
    red = spark.read.parquet(f"{state}/redelivered/batch=1")
    assert red.count() == half.count()


@pytest.mark.slow
def test_zero_shingle_first_batches_fold_cleanly(spark, tmp_path):
    """An all-too-short first file (every doc under the shingle width)
    commits NO data file into the partitioned posting/df layers; later
    folds must still read the roots (explicit layer schemas — inference
    over footerless layers would kill the stream) and produce batch
    truth, and re-delivery of a short doc must still be diverted (the
    ids sidecar registers zero-shingle first deliveries)."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    short = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [9_000_001, 9_000_002], "text": ["one two", "ha"]}
        )
    )
    fold_batch(spark, short, 0, state)
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 1, state)
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 2, state)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(docs)
    # the short doc's re-delivery (changed text) is diverted, not folded
    fold_batch(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [9_000_001], "text": ["one two three"]})
        ),
        3,
        state,
    )
    red = spark.read.parquet(f"{state}/redelivered/batch=3")
    assert {r.doc_id for r in red.collect()} == {9_000_001}
    after = current_map(spark, state).toPandas()
    assert dict(zip(after["doc_id"], after["cluster_id"])) == _truth(docs)


def test_pre_bucketed_state_is_refused_loudly(spark, tmp_path):
    """Folding into a state whose base layers predate the bucketed
    postings/df layout must fail with a clear migration message, not
    silently hide the standing corpus from candidate generation."""
    import shutil

    import pytest

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    shutil.rmtree(f"{state}/postings")  # simulate a pre-round-9 state
    with pytest.raises(ValueError, match="bucketed layout") as exc:
        fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    # the recovery instruction names the modulus the backfill must use
    # (the pinned value — NOT whatever the failing call passed)
    assert "n_buckets=16" in str(exc.value)
    # the refused fold left the state byte-identical: no new sidecar,
    # no new layers (advice r9 — a refusal that first pinned meta or
    # wrote artifacts would leave recovery guessing)
    import os

    assert not os.path.exists(f"{state}/ids/batch=1")
    assert not os.path.exists(f"{state}/base/batch=1")


def test_refusal_before_first_meta_pin_leaves_state_untouched(
    spark, tmp_path
):
    """The legacy refusal must fire BEFORE the first fold pins meta
    (advice r9): a pre-bucketed state with NO meta yet (the actual
    pre-round-9 shape) gets the refusal with meta still absent, so the
    backfill + the retried fold agree on one modulus by construction."""
    import os

    import pytest

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        word_shingles,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    # hand-build the pre-round-9 shape: a base layer, nothing else
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id"), word_shingles(F.col("text"), 3).alias("shingles")
        )
        .write.mode("overwrite")
        .parquet(f"{state}/base/batch=0")
    )
    with pytest.raises(ValueError, match="bucketed layout") as exc:
        fold_batch(
            spark, docs.filter(F.col("doc_id") % 2 == 1), 1, state,
            posting_buckets=8,
        )
    assert "n_buckets=8" in str(exc.value)
    assert not os.path.exists(f"{state}/meta")  # nothing was pinned
    assert not os.path.exists(f"{state}/ids")


def test_mismatched_layer_bucket_modulus_refused(spark, tmp_path):
    """A backfilled layer whose bucket dirs contradict the pinned
    modulus must be refused at the next fold, not silently mis-pruned
    (advice r9: the reader prunes on pmod(hash, pinned) and would skip
    out-of-range buckets forever — missed duplicate pairs, no error)."""
    import os

    import pytest

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    fold_batch(spark, docs.filter(F.col("doc_id") % 3 == 0), 0, state)
    # a layer written with a LARGER modulus (e.g. the 64-bucket default
    # of materialize_incremental_state) leaves bucket dirs the pinned
    # 16-modulus reader can never probe
    os.makedirs(f"{state}/postings/batch=5/bucket=33")
    with pytest.raises(ValueError, match="bucket=33") as exc:
        fold_batch(spark, docs.filter(F.col("doc_id") % 3 == 1), 6, state)
    assert "posting_buckets=16" in str(exc.value)


@pytest.mark.slow
def test_membership_bloom_probes_bit_identical(spark, tmp_path):
    """Folds AFTER a compaction (which builds the membership bloom)
    must produce the exact map and quarantine a no-bloom state would:
    the artifact is a prune in front of the exact ids/ probe, never
    truth. The fold mixes genuinely new docs with re-deliveries of
    ids the bloom covers, so both the maybe-hit fall-through and the
    provably-absent skip are exercised."""
    import os

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        compact_state,
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    redelivered = batches[0].filter(F.col("doc_id") % 2 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" changed later"))
    )
    last = batches[2].unionByName(redelivered)

    def run(state: str, compact: bool) -> dict:
        fold_batch(spark, batches[0], 0, state)
        fold_batch(spark, batches[1], 1, state)
        if compact:
            stats = compact_state(spark, state)
            assert stats["bloom_covered_max"] == 1
            assert os.path.isdir(f"{state}/bloom")
        fold_batch(spark, last, 2, state)
        got = current_map(spark, state).toPandas()
        return dict(zip(got["doc_id"], got["cluster_id"]))

    with_bloom = run(str(tmp_path / "with_bloom"), compact=True)
    without = run(str(tmp_path / "without"), compact=False)
    assert with_bloom == without == _truth(docs)
    # the guard still diverted the re-deliveries through the bloom path
    red = spark.read.parquet(f"{tmp_path}/with_bloom/redelivered/batch=2")
    want = {r.doc_id for r in redelivered.select("doc_id").collect()}
    assert {r.doc_id for r in red.collect()} == want


@pytest.mark.slow
def test_membership_bloom_saturated_falls_through_exactly(spark, tmp_path):
    """A near-useless bloom (fpp ~= 1: tiny bitmap, nearly every probe
    a maybe-hit) must cost recall NOTHING: every maybe falls through to
    the exact ids/ probe, so the map and the quarantine stay identical
    to batch truth — the knob moves cost, never output (the x80
    discipline)."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        compact_state,
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    compact_state(spark, state, bloom_fpp=0.99)
    # second fold: new ids plus a full re-delivery of batch 0
    fold_batch(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1).unionByName(
            docs.filter(F.col("doc_id") % 2 == 0)
        ),
        1,
        state,
    )
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(docs)
    red = spark.read.parquet(f"{state}/redelivered/batch=1")
    assert red.count() == docs.filter(F.col("doc_id") % 2 == 0).count()


def test_membership_bloom_has_no_false_negatives(spark, tmp_path):
    """Every registered id must probe as a maybe-hit — a false negative
    would let a re-delivery through as a first delivery (duplicate
    standing copies, the exact corruption the guard exists to stop)."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        _bloom_hash_cols,
        _bloom_might_contain,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        _read_membership_bloom,
        build_membership_bloom,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    fold_batch(spark, docs, 0, state)
    built = build_membership_bloom(spark, state)
    assert built["n_items"] == docs.count()
    art = _read_membership_bloom(spark, state)
    assert art["covered_max"] == 0 and art["n_items"] == built["n_items"]
    might = _bloom_might_contain(
        spark, art["bitmap"], art["n_bits"], art["n_hashes"]
    )
    h1, h2 = _bloom_hash_cols("doc_id")
    n_maybe = docs.select("doc_id").filter(might(h1, h2)).count()
    assert n_maybe == docs.count()


def test_clean_fold_after_compaction_records_launch_no_jobs(
    spark, tmp_path, monkeypatch
):
    """A clean fold after compact_state reads and writes its allocator,
    epoch pin, meta and bloom records through Hadoop-FS, with no Spark
    job."""
    from azure_serverless_etl_pipeline_spark.operators import dedup
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming import dedup_stream
    from tests.conftest import SF_ORACLE, record_jobs, run_in_job_group

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    for b in (0, 1):
        dedup_stream.fold_batch(spark, docs.filter(F.col("doc_id") % 3 == b), b, state)
    dedup_stream.compact_state(spark, state)

    calls = record_jobs(spark, monkeypatch, dedup, dedup_stream)
    _, grouped, ungrouped = run_in_job_group(
        spark,
        "test:clean_fold_records",
        lambda: dedup_stream.fold_batch(
            spark, docs.filter(F.col("doc_id") % 3 == 2), 2, state
        ),
    )
    assert grouped and not ungrouped
    touched = {(fn, path[len(state) + 1 :]) for fn, path, _ in calls}
    assert {
        ("read_record", "meta"),
        ("read_record", "bloom"),
        ("read_record", "alloc_hw"),
        ("read_record", "epoch_map/epoch=2"),
        ("write_record", "alloc_hw"),
        ("write_record", "epoch_map/epoch=2"),
    } <= touched
    assert [c for c in calls if c[2]] == []


@pytest.mark.slow
def test_membership_bloom_skipped_on_covered_replay(spark, tmp_path):
    """A crash-rerun of a batch the bloom already covers must NOT
    consult the artifact: the batch's own ids are in the bitmap, and
    counting them as prior deliveries would divert the entire batch on
    replay. The guard's covered_max < batch_id condition routes the
    replay through the plain exact path — idempotent, no quarantine."""
    import os

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        compact_state,
        current_map,
        fold_batch,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    fold_batch(spark, b0, 0, state)
    fold_batch(spark, b1, 1, state)
    compact_state(spark, state)  # bloom now covers batches 0-1
    want = current_map(spark, state).toPandas()

    fold_batch(spark, b1, 1, state)  # crash-rerun of the covered batch
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == dict(
        zip(want["doc_id"], want["cluster_id"])
    )
    base1 = spark.read.parquet(f"{state}/base/batch=1")
    assert base1.count() > 0
    assert not os.path.isdir(f"{state}/redelivered/batch=1")


def _truth_p(docs, threshold, n, cap):
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    m = dup_clusters(
        ngram_jaccard_pairs(
            docs, threshold=threshold, n=n, max_shingle_freq=cap
        )
    ).toPandas()
    return dict(zip(m["doc_id"], m["cluster_id"]))


def _apply_updates(docs, updates):
    """corpus-prime: first-delivered docs with the updated ids' text
    replaced by the latest redelivered version."""
    return docs.join(
        updates.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(updates)


@pytest.mark.slow
def test_rebuild_updated_split_and_merge(spark, tmp_path):
    """The UPDATE path the star-edge fold cannot express: an updated
    bridge doc must SPLIT its component, and an update copying another
    doc's text must MERGE two components — the rebuilt map equals the
    one-shot truth over (old \\ updated) UNION updated, the quarantine
    is consumed, and a LATER fold over the tombstoned state still lands
    on one-shot truth (masked postings/base + signed df delta)."""
    import os

    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n, cap = 0.3, 3, 50
    # a-u-b: u bridges a and b (shares a third of its shingles with
    # each); a-b share nothing -> one component {a,u,b} via u
    a_txt = "w1 w2 w3 w4 w5"
    b_txt = "x1 x2 x3 x4 x5"
    u_txt = a_txt + " " + b_txt
    # c,d unrelated; the update copies d's text into c -> merge
    c_txt = "m1 m2 m3 m4 m5"
    d_txt = "k1 k2 k3 k4 k5"
    first = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [a_txt, u_txt, b_txt, c_txt, d_txt],
            }
        )
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=cap)
    got0 = current_map(spark, state).toPandas()
    assert dict(zip(got0["doc_id"], got0["cluster_id"])) == _truth_p(
        first, thr, n, cap
    )
    # batch 1 redelivers u (bridge destroyed) and c (copies d)
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 4], "text": ["z1 z2 z3", d_txt]})
    )
    fold_batch(
        spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=cap
    )
    stats = rebuild_updated(
        spark, state, threshold=thr, n=n, max_shingle_freq=cap
    )
    assert stats["updated"] == 2
    corpus_prime = _apply_updates(first, updates)
    want = _truth_p(corpus_prime, thr, n, cap)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    # split happened: 1 and 3 are no longer clustered; merge: {4,5}
    assert 1 not in want and 3 not in want and want[4] == want[5] == 4
    # the work list is consumed; the txn left tombstones
    assert not os.path.isdir(f"{state}/redelivered/batch=1")
    assert os.path.isdir(f"{state}/tombstones/batch={stats['txn_batch']}")
    # later fold over the tombstoned state: e pairs with u's NEW text,
    # f pairs with a's (unchanged) text — both must resolve one-shot
    later = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [6, 7], "text": ["z1 z2 z3 z4", "w1 w2 w3 w4 w9"]}
        )
    )
    fold_batch(
        spark, later, 3, state, threshold=thr, n=n, max_shingle_freq=cap
    )
    want2 = _truth_p(corpus_prime.unionByName(later), thr, n, cap)
    got2 = current_map(spark, state).toPandas()
    assert dict(zip(got2["doc_id"], got2["cluster_id"])) == want2


@pytest.mark.slow
def test_rebuild_updated_cap_flips_propagate_to_untouched_docs(
    spark, tmp_path
):
    """An update can flip a shingle's document frequency across the cap
    and change candidacy between docs that were NEVER updated: pairs
    must APPEAR when the update drops a boilerplate shingle under the
    cap, and VANISH when it pushes one over — both directions in one
    rebuild, plus the generator-divergence case (a zero-shingle new
    text hides its stale counts from the discovery pass; the flip
    analysis must still route the holders into the rebuild)."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n, cap = 0.3, 3, 4
    S = "c1 c2 c3"  # boilerplate shingle S
    T = "t1 t2 t3"
    first = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 10, 11, 12, 13, 20],
                "text": [
                    f"{S} a1", f"{S} a2", f"{S} a3", f"{S} a4",  # S: df=5
                    f"{T} b1", f"{T} b2", f"{T} b3", f"{T} b4",  # T: df=4
                    f"{S} a9",  # doc 20: the 5th S holder, later updated
                ],
            }
        )
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=cap)
    before = current_map(spark, state).toPandas()
    want0 = _truth_p(first, thr, n, cap)
    assert dict(zip(before["doc_id"], before["cluster_id"])) == want0
    # initially: S over cap (df=5) -> docs 1-4,20 unpaired; T at cap
    # (df=4) -> docs 10-13 clustered
    assert 1 not in want0 and want0[10] == 10
    # the single update: doc 20 drops S (df 5->4: pairs among 1-4
    # APPEAR) and picks up T (df 4->5: pairs among 10-13 VANISH)
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [20], "text": [f"{T} q9"]})
    )
    fold_batch(
        spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=cap
    )
    rebuild_updated(spark, state, threshold=thr, n=n, max_shingle_freq=cap)
    corpus_prime = _apply_updates(first, updates)
    want = _truth_p(corpus_prime, thr, n, cap)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    assert want[1] == want[2] == want[3] == want[4] == 1  # appeared
    assert 10 not in want and 11 not in want  # vanished


@pytest.mark.slow
def test_rebuild_updated_generator_divergence_zero_shingle(spark, tmp_path):
    """df-estimate divergence: u2's new text has no shingles (its stale
    counts vanish from the discovery pass's subtraction) while u1's new
    text picks up the boilerplate shingle — discovery alone would deem
    S over-cap and miss u1's pairs; the flip analysis' second disjunct
    (df_gen vs df_true) must catch it."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n, cap = 0.3, 3, 4
    S = "c1 c2 c3"
    first = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 30, 40],
                "text": [
                    f"{S} a1", f"{S} a2", f"{S} a3",  # stay put
                    f"{S} a4",      # u2: S holder -> zero-shingle text
                    "m1 m2 m3 m4",  # u1: unrelated -> S holder
                ],
            }
        )
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=cap)
    want0 = _truth_p(first, thr, n, cap)
    got0 = current_map(spark, state).toPandas()
    assert dict(zip(got0["doc_id"], got0["cluster_id"])) == want0
    assert want0[1] == want0[30] == 1  # S at cap: all four clustered
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [30, 40], "text": ["ha", f"{S} zz"]})
    )
    fold_batch(
        spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=cap
    )
    rebuild_updated(spark, state, threshold=thr, n=n, max_shingle_freq=cap)
    corpus_prime = _apply_updates(first, updates)
    want = _truth_p(corpus_prime, thr, n, cap)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    # u1 replaced u2 in the S cluster; u2 dropped out entirely
    assert want[40] == want[1] and 30 not in want


@pytest.mark.slow
def test_rebuild_updated_idempotent_and_rollback(spark, tmp_path):
    """A second rebuild with an empty work list is a no-op; a pending
    txn marker (interrupted rebuild) makes folds refuse loudly, and the
    next rebuild rolls the orphaned txn layers back before proceeding."""
    import os

    import pandas as pd
    import pytest

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    fold_batch(spark, b0, 0, state)
    updates = b0.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" an entirely new suffix"))
    )
    fold_batch(spark, updates, 1, state)
    stats = rebuild_updated(spark, state)
    assert stats["updated"] == updates.count()
    want = current_map(spark, state).toPandas()
    # idempotent: nothing left to consume
    again = rebuild_updated(spark, state)
    assert again["updated"] == 0 and again["txn_batch"] is None
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == dict(
        zip(want["doc_id"], want["cluster_id"])
    )
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(
        _apply_updates(b0, updates)
    )
    # simulate an interrupted txn: marker + orphaned layer dirs
    write_record(spark, f"{state}/rebuild_txn", {"txn": 99})
    spark.createDataFrame(
        [(999_999, ["junk junk junk"])], "doc_id long, shingles array<string>"
    ).write.mode("overwrite").parquet(f"{state}/base/batch=99")
    with pytest.raises(ValueError, match="pending rebuild_updated txn"):
        fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 5, state)
    rolled = rebuild_updated(spark, state)  # no work list -> rollback only
    assert rolled["updated"] == 0
    assert not os.path.isdir(f"{state}/base/batch=99")
    assert not os.path.isdir(f"{state}/rebuild_txn")
    # folds proceed and land on one-shot truth over corpus-prime + batch
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    fold_batch(spark, b1, 5, state)
    got2 = current_map(spark, state).toPandas()
    want2 = _truth(_apply_updates(b0, updates).unionByName(b1))
    assert dict(zip(got2["doc_id"], got2["cluster_id"])) == want2


@pytest.mark.slow
def test_rebuild_updated_randomized_matches_one_shot(spark, tmp_path):
    """Breadth: random update workload over the documents table —
    texts swapped between docs (merges), mutated suffixes, unique
    replacements (splits), an id updated TWICE across batches (latest
    wins) — the rebuilt map must equal the one-shot truth over
    corpus-prime under the stream's default parameters."""
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0, state)
    fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1, state)
    # batch 2: three mutation classes over ids 0 mod 5
    shifted = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("t2")
    )
    upd2 = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .join(shifted, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, F.coalesce("t2", "text"))
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(F.col("text"), F.lit(" tail tail tail")),
            )
            .otherwise(
                F.concat(F.lit("uniq "), F.col("doc_id").cast("string"))
            )
            .alias("text"),
        )
    )
    fold_batch(spark, upd2, 2, state)
    # batch 3: a second update for ids 0 mod 10 (must win over batch 2)
    upd3 = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.lit("final version "), F.col("text")).alias("text"),
    )
    fold_batch(spark, upd3, 3, state)
    rebuild_updated(spark, state)
    latest = upd2.join(
        upd3.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(upd3)
    corpus_prime = _apply_updates(docs, latest)
    got = current_map(spark, state).toPandas()
    assert dict(zip(got["doc_id"], got["cluster_id"])) == _truth(corpus_prime)


@pytest.mark.slow
def test_apply_tombstones_physical_rewrite_preserves_semantics(
    spark, tmp_path
):
    """Folding the tombstone mask into the layers must change NOTHING
    observable: the map stands, a post-OPTIMIZE fold still lands on
    one-shot truth (the df delta algebra is independent of whether the
    superseded rows physically exist), the standing base holds exactly
    one live copy per id, and the tombstone store is gone — future
    readers take the unmasked fast path."""
    import os

    from azure_serverless_etl_pipeline_spark.sources import load_table
    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        apply_tombstones,
        current_map,
        fold_batch,
        rebuild_updated,
    )
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    fold_batch(spark, b0, 0, state)
    updates = b0.filter(F.col("doc_id") % 4 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" an entirely new suffix"))
    )
    fold_batch(spark, updates, 1, state)
    rebuild_updated(spark, state)
    before = current_map(spark, state).toPandas()

    stats = apply_tombstones(spark, state)
    assert stats["tombstoned_ids"] == updates.count()
    assert stats["layers_rewritten"] >= 2  # batch-0 base + its postings
    assert not os.path.isdir(f"{state}/tombstones")
    # map untouched; one live copy per id with the UPDATED text live
    after = current_map(spark, state).toPandas()
    assert dict(zip(after["doc_id"], after["cluster_id"])) == dict(
        zip(before["doc_id"], before["cluster_id"])
    )
    base = spark.read.parquet(f"{state}/base")
    assert base.count() == base.select("doc_id").distinct().count()
    # a SECOND call is a no-op
    again = apply_tombstones(spark, state)
    assert again == {"tombstoned_ids": 0, "layers_rewritten": 0}
    # and the post-OPTIMIZE state folds on: one-shot truth over
    # corpus-prime + the new batch
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    fold_batch(spark, b1, 5, state)
    got = current_map(spark, state).toPandas()
    want = _truth(_apply_updates(b0, updates).unionByName(b1))
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want


@pytest.mark.slow
def test_rebuild_updated_uncapped_exact_semantics(spark, tmp_path):
    """max_shingle_freq=None: no cap, no flip analysis — discovery is
    exact and the rebuild must still equal the one-shot uncapped truth
    (exercises the flip-free branch end to end, including the signed
    df delta layer which is written regardless)."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n = 0.3, 3
    a, b, u = "w1 w2 w3 w4 w5", "x1 x2 x3 x4 x5", "w1 w2 w3 w4 w5 x1 x2 x3 x4 x5"
    first = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, u, b]})
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=None)
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["z1 z2 z3 z4"]})
    )
    fold_batch(spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=None)
    rebuild_updated(spark, state, threshold=thr, n=n, max_shingle_freq=None)
    got = current_map(spark, state).toPandas()
    want = _truth_p(_apply_updates(first, updates), thr, n, None)
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    assert 1 not in want and 3 not in want  # the bridge retracted


@pytest.mark.slow
def test_stream_epoch_after_rebuild_does_not_destroy_txn(spark, tmp_path):
    """REGRESSION (round-10 review): rebuild_updated's txn layer id was
    max(batch)+1 — exactly the id the resumed stream's next epoch would
    fold, and the fold's per-batch overwrite silently destroyed the
    txn's layers (the updated docs' only live copies) while the
    tombstones kept masking every older copy. The shared epoch/txn
    allocator must route the colliding EPOCH to a fresh layer id: the
    txn layers survive, the map stays one-shot truth over corpus-prime
    plus the new batch, and a replay of that epoch reuses its pin."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n = 0.3, 3
    a, b, u = "w1 w2 w3 w4 w5", "x1 x2 x3 x4 x5", "w1 w2 w3 w4 w5 x1 x2 x3 x4 x5"
    first = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, u, b]})
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=50)
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["z1 z2 z3 z4"]})
    )
    fold_batch(spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=50)
    stats = rebuild_updated(spark, state, threshold=thr, n=n, max_shingle_freq=50)
    txn = stats["txn_batch"]
    assert txn == 2  # the collision-prone id: the stream's next epoch

    # the resumed stream's next epoch IS 2 — it must not land on the
    # txn's layers; doc 4 pairs with u's NEW text
    later = spark.createDataFrame(
        pd.DataFrame({"doc_id": [4], "text": ["z1 z2 z3 z4 z5"]})
    )
    fold_batch(spark, later, 2, state, threshold=thr, n=n, max_shingle_freq=50)
    # txn layers intact: the updated doc's live base row is still there
    txn_base = spark.read.parquet(f"{state}/base/batch={txn}").toPandas()
    assert set(txn_base["doc_id"]) == {2}
    corpus_prime = _apply_updates(first, updates).unionByName(later)
    got = current_map(spark, state).toPandas()
    want = _truth_p(corpus_prime, thr, n, 50)
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    assert want[2] == want[4] == 2  # u's new text found its neighbor
    # crash-rerun of the colliding epoch reuses its pinned layer id:
    # the map is unchanged and no duplicate layers appeared
    fold_batch(spark, later, 2, state, threshold=thr, n=n, max_shingle_freq=50)
    again = current_map(spark, state).toPandas()
    assert dict(zip(again["doc_id"], again["cluster_id"])) == want
    import glob as _g

    assert len(_g.glob(f"{state}/base/batch=*")) == 4  # 0,1,txn,epoch2


def test_apply_tombstones_refuses_pending_txn(spark, tmp_path):
    """Physically applying an UNCOMMITTED txn's tombstones and then
    rolling the txn back would delete the updated ids' only copies —
    the OPTIMIZE must refuse while a rebuild marker is pending."""
    import pandas as pd
    import pytest

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        apply_tombstones,
        fold_batch,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "e f g h"]})
    )
    state = str(tmp_path / "state")
    fold_batch(spark, docs, 0, state)
    write_record(spark, f"{state}/rebuild_txn", {"txn": 9})
    with pytest.raises(ValueError, match="pending rebuild_updated txn"):
        apply_tombstones(spark, state)


@pytest.mark.slow
def test_legacy_state_rebuild_then_colliding_epoch(spark, tmp_path):
    """Second-pass review regression: on a PRE-ALLOCATOR state (no
    epoch_map), the legacy-replay detection must probe only ids/ —
    every legacy fold writes it, a rebuild txn never does. Probing
    base/ or map/ would misread the txn's layers (txn = max+1 = the
    resumed stream's next epoch) as the epoch's own and re-open the
    overwrite collision for exactly the states the allocator cannot
    protect. Also pins that a GENUINE legacy replay (ids/ present at
    the epoch id) still reuses its literal id."""
    import glob as _g
    import shutil

    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    thr, n = 0.3, 3
    a, b, u = "w1 w2 w3 w4 w5", "x1 x2 x3 x4 x5", "w1 w2 w3 w4 w5 x1 x2 x3 x4 x5"
    first = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [a, u, b]})
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n, max_shingle_freq=50)
    updates = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["z1 z2 z3 z4"]})
    )
    fold_batch(spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=50)
    # strip the allocator artifacts: the state now looks pre-allocator
    shutil.rmtree(f"{state}/epoch_map", ignore_errors=True)
    shutil.rmtree(f"{state}/alloc_hw", ignore_errors=True)

    # legacy replay first: epoch 1's ids/ layer exists -> literal id
    fold_batch(spark, updates, 1, state, threshold=thr, n=n, max_shingle_freq=50)
    assert len(_g.glob(f"{state}/base/batch=*")) == 2  # no duplicate layer
    shutil.rmtree(f"{state}/epoch_map", ignore_errors=True)
    shutil.rmtree(f"{state}/alloc_hw", ignore_errors=True)

    stats = rebuild_updated(
        spark, state, threshold=thr, n=n, max_shingle_freq=50
    )
    txn = stats["txn_batch"]
    assert txn == 2  # max+1 on the legacy state: the next epoch's id

    # the resumed legacy stream's next epoch IS 2: base/batch=2 is the
    # txn's layer, ids/batch=2 does not exist -> must allocate fresh
    later = spark.createDataFrame(
        pd.DataFrame({"doc_id": [4], "text": ["z1 z2 z3 z4 z5"]})
    )
    fold_batch(spark, later, 2, state, threshold=thr, n=n, max_shingle_freq=50)
    txn_base = spark.read.parquet(f"{state}/base/batch={txn}").toPandas()
    assert set(txn_base["doc_id"]) == {2}  # txn layer survived
    corpus_prime = _apply_updates(first, updates).unionByName(later)
    got = current_map(spark, state).toPandas()
    want = _truth_p(corpus_prime, thr, n, 50)
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
    assert want[2] == want[4] == 2


@pytest.mark.slow
def test_legacy_replay_cannot_poison_alloc_hw(spark, tmp_path):
    """Advice r10 regression: replaying a LOW epoch on a pre-allocator
    state pins the literal epoch id, and an unclamped _bump_alloc_hw
    would seed alloc_hw BELOW already-claimed layer ids. _max_allocated
    then short-circuits on the poisoned hw forever, so the next
    allocation (fresh epoch or rebuild txn) collides with an existing
    legacy layer and its per-batch overwrite silently destroys it. The
    clamp must seed hw with the pre-allocator maximum instead."""
    import glob as _g
    import shutil

    import pandas as pd

    from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
        _max_allocated,
        current_map,
        fold_batch,
    )

    thr, n = 0.3, 3
    first = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["w1 w2 w3 w4", "x1 x2 x3 x4"]})
    )
    second = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "text": ["y1 y2 y3 y4"]})
    )
    state = str(tmp_path / "state")
    fold_batch(spark, first, 0, state, threshold=thr, n=n)
    fold_batch(spark, second, 1, state, threshold=thr, n=n)
    # strip the allocator artifacts: the state now looks pre-allocator
    shutil.rmtree(f"{state}/epoch_map", ignore_errors=True)
    shutil.rmtree(f"{state}/alloc_hw", ignore_errors=True)

    # legacy replay of the LOW epoch: pins literal id 0 — the bump must
    # not seed hw below layer 1
    fold_batch(spark, first, 0, state, threshold=thr, n=n)
    assert _max_allocated(spark, state) >= 1

    # a fresh epoch must allocate ABOVE every legacy layer, never
    # overwrite batch=1
    third = spark.createDataFrame(
        pd.DataFrame({"doc_id": [4], "text": ["z1 z2 z3 z4"]})
    )
    fold_batch(spark, third, 2, state, threshold=thr, n=n)
    assert len(_g.glob(f"{state}/base/batch=*")) == 3
    surviving = spark.read.parquet(f"{state}/base/batch=1").toPandas()
    assert set(surviving["doc_id"]) == {3}  # layer 1 not destroyed
    got = current_map(spark, state).toPandas()
    want = _truth_p(
        first.unionByName(second).unionByName(third), thr, n, 50
    )
    assert dict(zip(got["doc_id"], got["cluster_id"])) == want
