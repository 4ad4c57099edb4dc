"""The composed ingest pipeline must be batch-equivalent, idempotent
across re-runs, and stable in its split assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


@pytest.fixture()
def arrivals(spark, tmp_path):
    """documents staged as three arrival files (simulating three uploads),
    with batch 3 re-delivering some of batch 1's docs (duplicate text)."""
    from azure_serverless_etl_pipeline_spark.sources import load_table

    import glob
    import shutil

    docs = load_table(spark, SF_ORACLE, "documents")
    src = tmp_path / "src"
    src.mkdir()
    # batch 3: the rest + re-delivered copies of batch-1 docs under new ids
    redelivered = (
        docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 60))
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2).unionByName(redelivered),
    ]
    # the streaming file source lists flat files: stage each arrival as a
    # single parquet file directly inside src/
    for i, b in enumerate(batches, 1):
        staging = tmp_path / f"stage{i}"
        b.coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"b{i}.parquet"))
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    return str(src), schema, docs


def test_pipeline_batch_equivalent_and_idempotent(spark, arrivals, tmp_path):
    from azure_serverless_etl_pipeline_spark.operators.corpus_pipeline import (
        quality_gate,
        run_corpus_pipeline,
    )

    src, schema, docs = arrivals
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    run_corpus_pipeline(spark, src, store, ck, schema)

    got = spark.read.parquet(store)
    # 1. no duplicate content survived (cross-batch or in-batch)
    assert got.count() == got.select("fp").distinct().count()
    # 2. batch-equivalent content: same fingerprint set as a single-pass
    #    batch run over all arrivals
    batch_fps = (
        quality_gate(spark.read.parquet(f"{src}/*.parquet"))
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    assert got.select("fp").distinct().join(batch_fps, "fp", "left_anti").count() == 0
    assert batch_fps.join(got.select("fp"), "fp", "left_anti").count() == 0
    # 3. split column is present, partition-pruned layout on disk
    assert set(
        r["split"] for r in got.select("split").distinct().collect()
    ) <= {"train", "val", "test"}
    # 4. re-run with same checkpoint: no new files processed, store unchanged
    n_before = got.count()
    run_corpus_pipeline(spark, src, store, ck, schema)
    assert spark.read.parquet(store).count() == n_before


def test_pipeline_split_stable_vs_direct(spark, arrivals, tmp_path):
    """Split assignment in the store matches deterministic_split applied
    directly — the pipeline adds no ordering/partitioning dependence."""
    from azure_serverless_etl_pipeline_spark.operators.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from azure_serverless_etl_pipeline_spark.operators.sampling import (
        deterministic_split,
    )

    src, schema, docs = arrivals
    store = str(tmp_path / "store2")
    run_corpus_pipeline(spark, src, store, str(tmp_path / "ck2"), schema)
    got = spark.read.parquet(store).select("doc_id", "split")
    direct = deterministic_split(
        spark.read.parquet(f"{src}/*.parquet")
    ).select("doc_id", F.col("split").alias("split_d"))
    merged = got.join(direct, "doc_id")
    assert merged.count() == got.count()
    assert merged.filter(F.col("split") != F.col("split_d")).count() == 0


def test_prepare_training_corpus_stage_equivalence(spark):
    """The composed x99 plan must equal applying the five stages one at a
    time — the refactoring-safety contract for the pipeline."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators import decontam, dsir
    from azure_serverless_etl_pipeline_spark.operators.corpus_pipeline import (
        prepare_training_corpus,
        quality_gate,
    )
    from azure_serverless_etl_pipeline_spark.operators.dedup import exact_dedup
    from azure_serverless_etl_pipeline_spark.operators.packing import chunk_documents
    from azure_serverless_etl_pipeline_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tgt = docs.filter(F.col("lang") == "en")

    got = prepare_training_corpus(docs, ev, tgt, keep_fraction=0.5).collect()

    g = quality_gate(docs)
    r = exact_dedup(g).select("doc_id", "text")
    c = decontam.decontaminate(r, ev, n=5)
    s = dsir.importance_scores(c, tgt, n_buckets=1000)
    p = dsir.select_top_fraction(s, 0.5)
    sel = c.join(p.select("doc_id"), "doc_id")
    want = chunk_documents(sel, chunk_tokens=64).collect()

    key = lambda r: tuple(r)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_prepare_training_corpus_pool_keeps_callers_job_group(spark):
    """The DSIR target-count thread launches its jobs under the caller's
    job group: no job of the call lands with an empty group id."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.corpus_pipeline import (
        prepare_training_corpus,
    )
    from azure_serverless_etl_pipeline_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE, run_in_job_group

    docs = load_table(spark, SF_SMOKE, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tgt = docs.filter(F.col("lang") == "en")
    rows, grouped, ungrouped = run_in_job_group(
        spark,
        "test:prepare_training_corpus:pool",
        lambda: prepare_training_corpus(docs, ev, tgt, keep_fraction=0.5).collect(),
    )
    assert rows and grouped
    assert not ungrouped
