"""DSIR-style importance reweighting (north-star extension).

Data Selection via Importance Resampling (Xie et al., 2023) scores every
raw-corpus document by how target-like it is: hash token features into a
fixed number of buckets, fit bag-of-buckets unigram models over the
target corpus and the raw corpus, and score each document by the
log-likelihood ratio sum_tokens log(p_target[b] / p_raw[b]). Documents
with high scores are kept (resampled) to shift the training mixture
toward the target distribution. The reference app has no notion of this;
it is a standard component of modern pretraining-data pipelines.

Scale shape (the part that matters at 100 TB):
 1. the bucket-count tables are bounded by `n_buckets` (fixed, e.g. 10k)
    regardless of corpus size — two corpus-wide hash aggregations that
    reduce map-side to at most n_buckets rows per partition before the
    shuffle;
 2. the per-bucket log-ratio table is therefore tiny and AQE will pick a
    broadcast join for the scoring pass (not forced — the planner sees
    the real size, per the round-3 verdict on data-dependent hints);
 3. scoring is one (doc_id, bucket) stream joined against that table and
    re-aggregated by doc_id — the same inverted-stream shape as the
    TF-IDF and unigram-LM operators.
No UDFs; hashing is md5-fold (engine-portable, same convention as
operators/sampling.hash_bucket), so the whole score is reproducible
bit-for-bit in any engine with md5 — the DuckDB oracle proves it.

Determinism contract: per-token log-ratios are rounded to 9 decimals and
summed as DECIMAL(38,12), so the per-document sum is order-independent
and safe to hash-check (same dsum convention as plans/queries.dsum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import tokens


def feature_bucket(tok: Column, n_buckets: int) -> Column:
    """Stable [0, n_buckets) bucket for a token (md5 first-8-hex fold)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint") % n_buckets
    )


def _bucket_stream(df: DataFrame, id_col: str, text_col: str, n_buckets: int) -> DataFrame:
    """(id_col, bucket) — one row per token occurrence."""
    return df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).select(F.col(id_col), feature_bucket(F.col("tok"), n_buckets).alias("bucket"))


def bucket_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 10_000,
    text_col: str = "text",
) -> DataFrame:
    """Per-bucket log(p_target / p_raw) with add-one smoothing.

    p_X[b] = (count_X[b] + 1) / (total_X + n_buckets). Output is at most
    `n_buckets` rows: (bucket, log_ratio) with log_ratio rounded to 9
    decimals (double log differs across engines only in the last ULP;
    9 decimals is ~1e6 ULPs of margin at these magnitudes).
    """
    rc = _bucket_counts(raw, "c_r", n_buckets, text_col)
    return _log_ratios_from_counts(rc, target, n_buckets, text_col)


def _bucket_counts(
    df: DataFrame, alias: str, n_buckets: int, text_col: str
) -> DataFrame:
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(feature_bucket(F.col("tok"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias(alias))
    )


def _log_ratios_from_counts(
    rc: DataFrame,
    target: DataFrame,
    n_buckets: int,
    text_col: str,
    target_counts: DataFrame | None = None,
) -> DataFrame:
    """bucket_log_ratios taking the RAW side as a precomputed (bucket,
    c_r) count table — lets importance_scores derive it from the same
    sufficient statistic the scoring pass uses instead of tokenizing
    the raw corpus a second time (r13 opt; identical counts, identical
    ratios). ``target_counts`` optionally supplies the TARGET side the
    same way (same (bucket, c_t) schema as ``_bucket_counts``) — the
    r14 overlap hook: a pipeline whose target corpus is independent of
    its raw-side stages can tokenize the target concurrently with them
    (guide §2.6) and hand the finished statistic in here."""
    tc = (
        target_counts
        if target_counts is not None
        else _bucket_counts(target, "c_t", n_buckets, text_col)
    )
    joined = tc.join(rc, "bucket", "full_outer").select(
        F.col("bucket"),
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
    )
    # Checkpoint the (<= n_buckets)-row bucket table: the totals row below
    # is derived FROM it, so unstaged each corpus would be scanned twice.
    # The token totals are just the column sums of this table — no extra
    # corpus pass.
    joined = joined.localCheckpoint(eager=True)
    tot = joined.agg(
        F.sum("c_t").alias("tot_t"), F.sum("c_r").alias("tot_r")
    )
    p_t = (F.col("c_t") + 1) / (F.col("tot_t") + n_buckets).cast("double")
    p_r = (F.col("c_r") + 1) / (F.col("tot_r") + n_buckets).cast("double")
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket", F.round(F.log(p_t) - F.log(p_r), 9).alias("log_ratio")
    )


def importance_scores(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-raw-document DSIR importance score.

    Returns (id_col, n_tokens, importance): importance = sum over the
    document's tokens of the bucket log-ratio (decimal-summed, so
    order-independent). Zero-token documents score 0.0. Positive =
    more target-like than raw-average; downstream selection keeps the
    top fraction by (importance, id) — see `select_top_fraction`.
    """
    # Sufficient statistic: per-(doc, bucket) occurrence counts, computed
    # ONCE and localCheckpoint-ed (eager, inside the caller's timed
    # region — re-executed per invocation, never reused across runs).
    # Both the raw-side bucket totals (formerly a SECOND full
    # tokenization inside bucket_log_ratios) and the scoring join now
    # derive from this bounded table, so the raw corpus is tokenized
    # exactly once per call (r13 opt, guide §1.2/§2.3: don't compute
    # things twice; shuffle the reduced statistic, not the token
    # stream).
    doc_bucket = (
        _bucket_stream(raw, id_col, text_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("occ"))
        .localCheckpoint()
    )
    rc = doc_bucket.groupBy("bucket").agg(F.sum("occ").alias("c_r"))
    lr = _log_ratios_from_counts(
        rc, target, n_buckets, text_col, target_counts=target_counts
    )
    # importance = sum over token occurrences of round(log_ratio, 9),
    # decimal-summed. With per-bucket occurrence counts that is
    # sum(occ * lr): lr is exact at scale 9 in decimal(25,9) and
    # occ < 1e12 in decimal(12,0), so the product decimal(38,9) and the
    # widening cast to the original decimal(38,12) accumulator are both
    # EXACT — bit-identical to the per-occurrence sum.
    scored = (
        doc_bucket.join(lr, "bucket")  # AQE broadcasts the <=n_buckets side
        .groupBy(id_col)
        .agg(
            F.sum("occ").cast("long").alias("n_tokens"),
            F.sum(
                (
                    F.col("log_ratio").cast("decimal(25,9)")
                    * F.col("occ").cast("decimal(12,0)")
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("importance"),
        )
    )
    # Keep zero-token docs (score 0) so output covers the full corpus.
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("importance", F.lit(0.0)).alias("importance"),
        )
    )


def select_top_fraction(
    scores: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-`fraction` selection by (importance desc, id).

    Uses a global rank over the score column — acceptable because the
    scores frame is one row per document (already reduced); at 100 TB
    the equivalent is an approx-quantile threshold + filter, which
    avoids the single-partition window entirely. Both are provided:
    this exact variant for small outputs, and the threshold path is the
    one-liner `scores.filter(F.col('importance') >= cutoff)` once the
    cutoff is read from approxQuantile.
    """
    from pyspark.sql import Window as W

    n = scores.count()
    k = max(1, int(n * fraction))
    w = W.orderBy(F.col("importance").desc(), F.col(id_col))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
