"""Training-sequence assembly operators (north-star extension).

The last mile of an LLM data pipeline turns a cleaned document corpus
into model-ready token sequences: split over-long documents into
overlapping context windows (``chunk_documents``), pack short documents
into fixed token budgets (``pack_sequences``), and resample sources to a
target mixture (``mixture_sample``).

All three are deterministic and engine-stable by construction:
- chunking is pure map-side column arithmetic (explode + slice), no
  shuffle, no UDF — it fuses into the scan's codegen span;
- packing shards by the same md5 hash as the split operator (stable
  under repartition/backfill) and does one window pass per shard — at
  100 TB the shard count scales with the cluster and each shard's
  packing is independent, so the operator is embarrassingly parallel
  with exactly one shuffle;
- mixture sampling derives per-source keep rates from the largest
  achievable total under the target weights (rate_s = w_s·N/c_s with
  N = min_s c_s/w_s), then filters with the md5 bucket — no RNG, no
  resample when partitioning changes, and the rate computation is two
  tiny broadcast frames, never a shuffle of the corpus.

The real tokenizer is a training-stack dependency; token counts here are
whitespace tokens (functions.tokens), the same convention as the text
operators, swappable for a BPE count column computed upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import tokens
from .sampling import hash_bucket


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token windows.

    Chunk c starts at token offset c·stride (0-based) and spans up to
    ``chunk_tokens`` tokens; every start offset < n_tokens yields a
    chunk, so trailing chunks may be shorter (and with stride <
    chunk_tokens, consecutive chunks overlap by chunk_tokens - stride
    tokens). Empty documents yield no chunks.

    Pure map-side: tokenize -> explode the start-offset sequence ->
    slice. No shuffle at any scale.
    """
    toks = tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_tokens") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = (
        df.select(
            F.col(id_col),
            toks.alias("_toks"),
            F.size(toks).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= 1)
        .select(
            id_col,
            "n_tokens",
            "_toks",
            F.explode(starts).alias("chunk_start"),
        )
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "n_tokens",
        (F.col("chunk_start") / stride).cast("int").alias("chunk_id"),
        "chunk_start",
        F.size(chunk).alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 256,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence.

    Documents are sharded by the stable md5 bucket of their id, ordered
    by id within the shard, and laid head-to-tail; a document belongs to
    the sequence where its start offset lands (seq_id = start_offset DIV
    budget). Sequences at shard boundaries never mix documents from
    different shards, so packing is reproducible regardless of
    partitioning and each shard packs independently — one shuffle total.

    This is streaming-fill packing (documents stay in id order and a
    sequence may spill past the budget by part of its last document),
    not bin-packing — the deterministic contract matters more than the
    last few percent of fill efficiency for incremental 100 TB runs.
    """
    n = F.size(tokens(F.col(text_col)))
    sharded = df.select(
        F.col(id_col),
        hash_bucket(F.col(id_col), n_shards).alias("shard"),
        n.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return sharded.select(
        id_col,
        "shard",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / budget_tokens).cast("bigint").alias("seq_id"),
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministically resample sources to a target mixture.

    Solves for the largest total N such that every source can supply its
    share (N = min_s count_s / w_s), then keeps rows whose md5 bucket
    falls under rate_s = w_s·N / count_s. The bottleneck source keeps
    everything; the rest downsample. Sources absent from ``targets`` are
    dropped. All rate arithmetic is double division of identical
    operands on both engines; the per-row filter is the same
    partitioning-stable hash as deterministic_split.

    Returns the kept rows with ``keep_rate`` attached.
    """
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        f"{strata_col} string, target_w double",
    )
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_source"))
    # checkpoint the <=|sources|-row frame: both the scale aggregate and
    # the rate projection read it, and unstaged each branch re-scans the
    # full corpus to recount — two extra 100 TB scans
    j = counts.join(F.broadcast(tdf), strata_col).localCheckpoint(eager=True)
    scale = j.agg(F.min(F.col("n_source") / F.col("target_w")).alias("scale"))
    rates = j.join(F.broadcast(scale)).select(
        strata_col,
        "n_source",
        (F.col("target_w") * F.col("scale") / F.col("n_source")).alias("keep_rate"),
    )
    return df.join(F.broadcast(rates), strata_col).filter(
        hash_bucket(F.col(id_col), buckets) < F.col("keep_rate") * buckets
    )


def temperature_mixture(
    df: DataFrame,
    strata_cols: list[str] | tuple[str, ...] = ("source", "lang"),
    alpha: float = 0.7,
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-scaled mixture weights per stratum (q_s ∝ p_s^alpha —
    the multilingual-LM sampling rule: alpha<1 upweights tail strata,
    alpha=1 is proportional, alpha=0 is uniform). Returns per stratum:
    raw share p, tempered share q, target_n for ``budget`` docs, and the
    <=1-capped keep_rate a downstream hash-bucket sampler consumes.

    One corpus scan to stratum counts; the corpus total and the Z
    normalizer are GLOBAL-WINDOW aggregates over the stratum frame —
    deliberately single-partition, safe because that frame is
    |distinct strata| rows (KB) at any corpus size, and the window
    avoids the agg-and-join-back shape that re-executes the scan
    (see PLANS.md single-pass sweep). Decimal term sums keep the Z fold
    FP-order-proof, so the output hash-checks against a SQL oracle.
    """
    from pyspark.sql import Window as W

    cnt = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("n_docs"))
    wall = W.partitionBy()
    with_p = cnt.withColumn(
        "p", F.col("n_docs") / F.sum("n_docs").over(wall).cast("double")
    )
    with_pow = with_p.withColumn(
        "p_alpha", F.round(F.pow(F.col("p"), F.lit(alpha)), 12)
    ).withColumn(
        "z", F.sum(F.col("p_alpha").cast("decimal(38,12)")).over(wall)
    )
    zd = F.col("z").cast("double")
    # left-associated exactly as the SQL oracle parses it:
    # (budget * p_alpha) / z  [/ n_docs] — FP evaluation order is part
    # of the hash-check contract
    return with_pow.select(
        *strata_cols,
        "n_docs",
        F.round("p", 12).alias("p"),
        F.round(F.col("p_alpha") / zd, 12).alias("q"),
        F.round(F.lit(budget) * F.col("p_alpha") / zd, 6).alias("target_n"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(budget) * F.col("p_alpha") / zd / F.col("n_docs"),
            ),
            12,
        ).alias("keep_rate"),
    )
