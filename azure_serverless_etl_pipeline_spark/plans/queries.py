"""The named query corpus (driver contract: ``__spark_entry__.queries``).

G1..G10 re-express the reference's complete query surface (SURVEY.md §7);
x01.. are the north-star LLM-data-pipeline operators; m01.. are the ML
scorers (rows-only — no SQL oracle).

Cross-engine exactness conventions (shared with plans/oracles.py):
- Sums of doubles are aggregated as DECIMAL(18,4) then cast back to double:
  decimal addition is associative, so Spark's partial-aggregate tree and
  DuckDB's parallel sum produce bit-identical results regardless of row
  order. Plain double sums would differ in late ULPs and can flip a
  round().
- Averages are sum(decimal)/count computed as double division of
  bit-identical operands.
- Ratios of integers (Jaccard, token stats) are exact doubles — safe to
  threshold and round.
- Cosine similarity is a sequential double fold in both engines (see
  functions.dot / oracles.COSINE_SQL).
- Every computed column is aliased identically on both sides; the driver
  sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import weekday_mon0
from ..operators import dedup, similarity, text
from ..operators.timeseries import densify_daily, rolling_features
from ..sources.catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent sum of a double column (decimal-exact)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def davg(col: str, alias: str) -> Column:
    """Order-independent mean: decimal-exact sum / count, double division."""
    return (
        F.sum(F.col(col).cast("decimal(18,4)")).cast("double") / F.count(F.col(col))
    ).alias(alias)


def drevenue(alias: str = "revenue") -> Column:
    """sum(extendedprice * (1 - discount)) with decimal-exact arithmetic."""
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    return F.sum(price * disc).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# G1..G10 — the reference surface (SURVEY.md §7 canonical set)
# ---------------------------------------------------------------------------


@query("g01_scan_filter")
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + projection + pushed-down predicates (P-1/P-6/P-8).

    The reference pushes only the HomeID equality to the store and filters
    the date range client-side (``ml_forecast_anomaly.py:162-187``); here
    both predicates reach the parquet scan (PushedFilters).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")


@query("g02_groupby_sum")
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by sum per category (A-1/A-2 — per-appliance totals analog)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(dsum("l_quantity", "sum_qty"))


@query("g03_multikey_agg")
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key agg with named outputs + distinct count (A-4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        drevenue("revenue"),
        davg("l_discount", "avg_disc"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query("g04_global_kpis")
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global scalar KPIs, no grouping keys (A-5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        dsum("l_quantity", "total_qty"),
        drevenue("revenue"),
        davg("l_extendedprice", "avg_price"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query("g05_topk")
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by revenue (O-1). Revenue is decimal-exact, so the
    ranking is deterministic; id tiebreak guards equal revenues. Spark
    plans TakeOrderedAndProject — true top-k, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(drevenue("revenue"))
    return agg.orderBy(F.desc("revenue"), F.asc("l_partkey")).limit(5)


@query("g06_join_global_avg")
def g06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity totals joined to global per-category averages (J-1).

    The global-average side is tiny -> broadcast hash join (no shuffle of
    the fact side beyond its own groupBy)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey", "o_orderpriority").agg(
        dsum("o_totalprice", "cust_total")
    )
    global_avg = o.groupBy("o_orderpriority").agg(davg("o_totalprice", "global_avg"))
    joined = per_cust.join(F.broadcast(global_avg), "o_orderpriority")
    return joined.select(
        "o_custkey",
        "o_orderpriority",
        "cust_total",
        "global_avg",
        (F.col("cust_total") > F.col("global_avg")).alias("above_avg"),
    )


@query("g07_date_spine")
def g07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key daily densification with zero-fill (W-3/W-4) — replaces the
    reference's per-home Python reindex loop with one distributed plan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        dsum("value", "total_value")
    )
    dense = densify_daily(daily, "date", ["user_id"], ["total_value"])
    # date emitted as timestamp: Spark DateType maps to pandas object
    # (datetime.date) while DuckDB DATE maps to datetime64 — timestamps
    # render identically in both engines (cf. g01 l_shipdate).
    return dense.select(
        "user_id", F.col("date").cast("timestamp").alias("date"), "total_value"
    )


@query("g08_rolling_features")
def g08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-7 mean + Monday=0 day-of-week over the densified series
    (W-1/W-2 — the anomaly-detection feature frame)."""
    daily = g07(spark, sf_dir)  # date already cast to timestamp (midnight)
    feats = rolling_features(daily, "date", "total_value", ["user_id"])
    return feats.select(
        "user_id",
        "date",
        "total_value",
        F.round("rolling_7_mean", 4).alias("rolling_7_mean"),
        F.col("dow").cast("int").alias("dow"),
    )


@query("g09_grouping_sets")
def g09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS consolidating the dashboard's per-category/global
    aggregates into one pass (SURVEY.md §2.4 'absent' note)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query("g10_ingest_validation")
def g10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation-split ingest counters (P-9/A-6/T-4): total vs valid vs
    skipped, computed in one pass over the source (the reference tallies
    these per-row in Python — ``blobToCosmos.py:49-81``)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    valid = (
        F.col("value").between(0, 400)
        & k.isNotNull()
        & F.col("event_type").isNotNull()
    )
    agg = ev.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(valid, 1)).alias("valid_rows"),
    )
    return agg.select(
        "total_rows",
        "valid_rows",
        (F.col("total_rows") - F.col("valid_rows")).alias("skipped_rows"),
    )


# ---------------------------------------------------------------------------
# x01.. — north-star extension operators
# ---------------------------------------------------------------------------


@query("x01_dedup_exact")
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query("x02_dedup_ngram_jaccard")
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@query("x03_dedup_minhash_lsh")
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band geometry CALIBRATED TO THE THRESHOLD (SCALE.md round-6):
    with r rows/band and b bands the LSH S-curve midpoint sits at
    (1/b)^(1/r), so r=4/b=16 puts it exactly at the 0.5 target. The
    previous r=2/b=32 midpoint was 0.18 — tuned for recall far below
    threshold, which on a corpus with a high pairwise-similarity noise
    floor (this tiny-vocab synthetic: random-pair J ~ 0.05) makes
    banding non-selective and candidate volume quadratic (measured
    190s/27.9x-shuffle at a 10x slice vs 10.7s with r=4, recall 99%).
    max_bucket_size=200 additionally guards boilerplate mega-buckets
    in either geometry."""
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5,
        num_perm=64, bands=16, max_bucket_size=200,
    )


@query("x04_dedup_simhash")
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@query("x05_embedding_near_dup")
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dup(emb, threshold=0.25, block_col="label")
    # Round the emitted similarity (threshold + ordering stay full-precision)
    # so the driver's value hash doesn't depend on bit-identical float fold
    # order between Spark `aggregate` and DuckDB `list_reduce`.
    return out.select(
        "id_a", "id_b", "label", F.round("cos_sim", 12).alias("cos_sim")
    )


@query("x06_ann_cosine_topk")
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x07_text_stats")
def x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@query("x08_text_quality")
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


@query("x09_lang_profile")
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_profile(load_table(spark, sf_dir, "documents"))


@query("x10_sessionize")
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — lag + running sum,
    the batch analog of streaming session windows."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros requires TIMESTAMP; parquet timestamps may arrive as
    # TIMESTAMP_NTZ (round-3 testdata). The session runs UTC, so the cast
    # is the identity on the stored instant (same guard as profile.py:31).
    ts = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value", "total_value"),
    )


@query("x11_event_hourly")
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time aggregation (batch form of the streaming
    windowed agg; same plan shape as readStream + window())."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query("x12_ann_ivf_topk")
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x13_doc_fingerprint")
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


@query("x14_lang_id")
def x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@query("x15_ann_lsh_topk")
def x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query("x16_window_suite")
def x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/lead/lag/running-sum window suite over orders per customer
    (operators absent from the reference — SURVEY.md §2.5 'absent' note)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("double"),
            4,
        ).alias("running_total"),
    )


@query("x17_pivot_status")
def x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status. Manual CASE form — the
    portable shape of df.groupBy().pivot() with fixed values."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
    )


@query("x18_set_ops")
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT (SURVEY.md §2.7 — absent in reference, engine
    built-ins): customers with both open and finished orders, excluding
    any with pending ones."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    pend = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return open_.intersect(fin).exceptAll(pend.distinct())


@query("x19_asof_join")
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each purchase event matched
    to the user's latest click at-or-before it. One pass: RANGE-framed
    running max over the interleaved event stream — no self-join, no
    per-key driver work; DuckDB oracle uses a correlated subquery."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    # RANGE frame (not ROWS): ties on ts must all be visible, matching
    # the oracle's c.ts <= p.ts semantics
    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
        )
    )


@query("x20_topk_per_group")
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue within each return flag — the window top-k
    pattern (partial top-k per partition under codegen)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_partkey").agg(drevenue("revenue"))
    w = W.partitionBy("l_returnflag").orderBy(F.desc("revenue"), F.asc("l_partkey"))
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_returnflag", "l_partkey", "revenue", F.col("rk").cast("int").alias("rk"))
    )


@query("x21_price_histogram")
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound histogram of order totals. Bucket formula is written
    out (floor(x/width)+1 with clamps) so the oracle evaluates the exact
    same double arithmetic — width_bucket internals differ per engine."""
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    b = (
        F.when(x < 0.0, F.lit(0))
        .when(x >= 600000.0, F.lit(13))
        .otherwise((F.floor(x / 50000.0) + 1).cast("int"))
    )
    return o.groupBy(b.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "bucket_total"),
    )


@query("x22_dedup_pipeline")
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus clean: drop near-duplicates (keep the
    smaller doc_id of each Jaccard>=0.5 pair) then keep high-quality docs.
    The canonical composition of the dedup + quality operators.

    max_shingle_freq=50 is the stop-shingle skew guard (bounds every
    posting list in the candidate self-join). At test scales the max
    shingle doc-frequency is 25, so the cap drops nothing and the DuckDB
    oracle stays exact; at corpus scale it is what keeps a boilerplate
    shingle from generating O(f²) candidates."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    dupes = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = docs.join(dupes, "doc_id", "left_anti")
    # quality_score is a pure per-row projection: carry the output columns
    # through extra_cols instead of join-ing the scored frame back onto
    # ``kept`` — the old self-join re-executed the whole pair-mining
    # subtree a second time (r13 opt: 2 evaluations -> 1, one join
    # exchange removed; identical rows/values).
    q = text.quality_score(kept, extra_cols=("lang", "source", "n_chars"))
    return (
        q.filter(F.col("is_high_quality"))
        .select("doc_id", "lang", "source", "n_chars", "quality")
    )


@query("x23_corpus_stats")
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count/quality rollup per source — the corpus accounting
    query every training-data pipeline runs."""
    docs = load_table(spark, sf_dir, "documents")
    stats = text.text_stats(docs)
    q = text.quality_score(docs)
    joined = docs.select("doc_id", "source").join(stats, "doc_id").join(q, "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.count(F.when(F.col("is_high_quality"), 1)).alias("n_high_quality"),
    )


# ---------------------------------------------------------------------------
# m01.. — ML scoring (rows-only: model-dependent, no SQL oracle)
# ---------------------------------------------------------------------------


@query("m01_anomaly_scores")
def m01(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.scoring import score_anomalies

    return score_anomalies(g08(spark, sf_dir))


@query("x25_scalar_functions")
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/date scalar-function sampler (engine inherits the full
    pyspark.sql.functions namespace — SURVEY.md §2.8 'absent' note); every
    expression has an exact ANSI twin."""
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    parts = p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devowel"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 2).alias("price_dist"),
        F.ceil(F.col("p_retailprice") / 100.0).cast("long").alias("price_bucket"),
    )
    dates = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return parts.join(
        F.broadcast(dates.agg(F.count(F.lit(1)).alias("n_year_months"))), how="cross"
    )


@query("x26_json_extraction")
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events props column (semi-structured
    data handling the reference's schemaless Cosmos documents imply)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    # sign-preserving % (not pmod): DuckDB's k % 10 keeps the sign, and the
    # two sides must agree if a negative k ever appears in props
    return ev.groupBy((k % F.lit(10)).cast("int").alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        dsum("value", "total_value"),
    )


@query("x27_tpch_q1")
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) — the canonical OLAP agg."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    tax = F.lit(1).cast("decimal(18,4)") + F.col("l_tax").cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.sum(price * disc * tax).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query("x28_tpch_q3")
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): 3-way join + agg + top-10."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    joined = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > "1996-01-01")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(price * disc).cast("double").alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


@query("x29_tpch_q6")
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-agg —
    the pushdown/codegen showcase."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
    )


@query("x30_approx_aggregates")
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct/quantile sketches — the 100 TB toolkit where
    exact counts/sorts don't pay (rows-only: sketch internals are
    engine-specific; accuracy asserted vs exact in pytest).

    Quantiles are emitted as SCALAR columns (one percentile_approx per
    quantile — Catalyst still computes one shared sketch per group when
    the accuracy matches): the driver's rows-only canonicalizer can't
    hash array cells."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 10_000).alias("p95_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 10_000).alias("p99_approx"),
    )


@query("x31_dup_clusters")
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: Jaccard pairs -> connected components
    via iterative min-label propagation (the oracle is a recursive CTE —
    same fixpoint, computed declaratively). Pairs use the max_shingle_freq
    stop-shingle cap (no-op at test scales — see x22)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    return dedup.dup_clusters(pairs)


@query("x24_ann_ivf_kmeans")
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a real k-means codebook (MLlib): build index, probe 3 of
    8 cells per query. Rows-only (cluster assignment is engine-specific);
    recall vs brute force is pytest-asserted in test_ann_index."""
    from ..operators.ann_index import build_ivf_index, probe_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    indexed, centroids = build_ivf_index(emb, k=8)
    return probe_ivf(indexed, emb.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=3)


@query("m03_media_features")
def m03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over the documents table: text bytes stand in
    for media blobs (no binary column in testdata); decode-metadata +
    feature extraction via mapInPandas. Rows-only (stub decode)."""
    from ..operators.multimodal import decode_media, extract_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    meta = decode_media(media).select("media_id", "width", "height", "decode_ok")
    feats = extract_features(media)
    return meta.join(feats, "media_id").select(
        "media_id", "width", "height", "decode_ok", F.size("feature").alias("feature_dim")
    )


@query("m02_forecast")
def m02(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.forecast import forecast_daily

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("date")).agg(dsum("value", "total_value"))
    dense = densify_daily(daily, "date", [], ["total_value"])
    return forecast_daily(dense, periods=14)


@query("x32_session_window")
def x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization over batch events. One shuffle
    on user_id; Spark merges sessions inside the aggregation, no
    window-function second pass. Boundary semantics differ from x10 by
    design: session_window's end is EXCLUSIVE (a gap of exactly 30min
    starts a new session) while x10's lag/cumsum splits only on gap >
    30min; the oracle mirrors the >= boundary."""
    from ..streaming.event_stream import session_window_agg

    return session_window_agg(load_table(spark, sf_dir, "events"))


@query("x33_tpch_q5")
def x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 6-table join. region→nation
    collapse to one broadcast dim; lineitem⋈orders shuffles on orderkey
    (the only big-big join); supplier/customer broadcast under AQE."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    dims = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
            "n_nationkey", "n_name"
        )
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(dims, F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(drevenue()).orderBy(F.desc("revenue"))


def _q18(c: DataFrame, o: DataFrame, li: DataFrame) -> DataFrame:
    """TPC-H Q18 body (shared by the plain and bucketed-layout variants):
    lineitem aggregates once to find big orders, semi-joins orders (no
    row blow-up), then the detail join + final agg reuse the orderkey
    partitioning."""
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big, F.col("o_orderkey") == big["l_orderkey"], "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@query("x34_tpch_q18")
def x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large volume customer) — see _q18."""
    return _q18(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@query("x35_attribution_join")
def x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event attribution via range join: purchases by the same user within
    1 hour after each click. The user_id equi-key carries the shuffle (a
    hash join, not a cartesian); the time-range predicate filters inside
    the join. Left join keeps zero-purchase clicks (NULL-sum → NULL)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("value").alias("buy_value"),
    )
    cond = (
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") > F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        clicks.join(buys, cond, "left")
        .groupBy("click_id", "user_id", "click_ts")
        .agg(
            F.count("buy_ts").alias("n_purchases"),
            dsum("buy_value", "attributed_value"),
        )
    )


@query("x36_tfidf_top_terms")
def x36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — distributed term weighting
    (explode → tf agg → vocab-sized df agg broadcast → windowed top-k)."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@query("x37_deterministic_split")
def x37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 train/val/test split via md5 bucketing: per-row
    predicate, no shuffle, no RNG — rows never migrate between splits on
    repartition/backfill. Output: per-split corpus profile."""
    from ..operators.sampling import deterministic_split

    docs = deterministic_split(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("bucket").alias("min_bucket"),
        F.max("bucket").alias("max_bucket"),
        F.sum("n_chars").alias("total_chars"),
    )


@query("x38_stratified_sample")
def x38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (rebalancing a skewed
    corpus): keep-rate per stratum, md5-bucket predicate, broadcast rate
    table. Output: surviving doc counts per language."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 1.0, "zh": 1.0}
    kept = stratified_sample(docs, "lang", rates)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.countDistinct("source").alias("n_sources"),
    )


@query("x39_decile_stats")
def x39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value deciles per priority class: ntile(10) over a
    per-priority range sort (keyed partitions — not a single global
    sort), then per-decile distribution stats."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    decile = F.ntile(10).over(
        W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    )
    return (
        o.withColumn("decile", decile)
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice", "total_price"),
        )
    )


@query("x40_bigram_counts")
def x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram count table (LM-style n-gram statistics): zip-shifted
    token arrays, explode, map-side-combined hash agg."""
    return text.bigram_counts(load_table(spark, sf_dir, "documents"))


@query("x41_redact_pii")
def x41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub with match accounting. The synthetic corpus has no
    PII, so the query plants a deterministic email + phone per doc (from
    doc_id) and redacts them — end-to-end proof the scrubber fires and
    counts. All regexp_replace/extract: JVM codegen, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return text.redact_pii(planted).select("doc_id", "n_emails", "n_phones", "text")


@query("x42_dup_ngram_ratio")
def x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition score: duplicate-bigram fraction per doc —
    the boilerplate/low-quality filter signal."""
    return text.dup_ngram_ratio(load_table(spark, sf_dir, "documents"))


@query("x43_tpch_q10")
def x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): 4-table join, quarter date
    window, top-20 customers by lost revenue. nation broadcasts; the
    date filter prunes orders before the lineitem join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(drevenue())
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query("x44_tpch_q14")
def x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): join + conditional-aggregate ratio.
    One month of lineitem joins part on partkey; both sums share one
    aggregation pass (no second scan)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    rev = price * disc
    # when() without otherwise: non-PROMO rows are NULL, which SUM skips —
    # same decimal type as rev, no zero-literal type gymnastics
    promo = F.when(F.col("p_type") == "PROMO", rev)
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


@query("x45_incremental_dedup")
def x45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a 'new batch' (doc_id >= 250) keeps only
    docs whose content hash is unseen in the existing corpus (< 250) —
    left_anti on md5(text). This is the per-batch arrival path of x01's
    full-corpus dedup: the anti join touches the fingerprint index, not
    the corpus bytes. Output: surviving new docs per language."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    existing = docs.filter(F.col("doc_id") < 250).select(fp.alias("fp"))
    new = docs.filter(F.col("doc_id") >= 250).withColumn("fp", fp)
    survivors = new.join(existing, "fp", "left_anti")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new_unique"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query("x46_quality_filter")
def x46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus quality gate (Gopher-rule style): token-count
    band + alpha ratio + stopword presence + repetition ceiling, each
    rule accounted separately so the drop reasons are auditable. One
    map-side pass — the signals fuse into the scan's codegen span."""
    from ..functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    # stage the token + bigram arrays as their own projections so each
    # interpreted chain runs once per row instead of once per rule
    # reference (r14 — see text.quality_rules; same rule expressions,
    # same oracle)
    staged = docs.withColumn("_toks", tokens(F.col("text"))).withColumn(
        "_grams", text._bigrams_of(F.col("_toks"))
    )
    rule_cols = text.quality_rules(
        "text", toks=F.col("_toks"), grams=F.col("_grams")
    )
    rules = staged.select(
        "doc_id",
        "lang",
        *[c.alias(name) for name, c in rule_cols.items()],
    )
    return rules.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ok_length").cast("int")).alias("pass_length"),
        F.sum(F.col("ok_alpha").cast("int")).alias("pass_alpha"),
        F.sum(F.col("ok_stopwords").cast("int")).alias("pass_stopwords"),
        F.sum(F.col("ok_repetition").cast("int")).alias("pass_repetition"),
        F.sum(
            (
                F.col("ok_length")
                & F.col("ok_alpha")
                & F.col("ok_stopwords")
                & F.col("ok_repetition")
            ).cast("int")
        ).alias("pass_all"),
    )


@query("x47_heavy_hitters")
def x47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: exact top-20 tokens by occurrence + document
    frequency. Map-side partial agg carries (token, count) — the shuffle
    is vocabulary-sized; the top-k is TakeOrderedAndProject. (The sketch
    alternative for unbounded vocabularies is x30's approx toolkit.)"""
    from ..functions import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(20)
    )


@query("x48_cross_source_overlap")
def x48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check: distinct 3-gram shingles shared between
    source pairs (benchmark-leakage detection). Shingle sets are distinct
    per source BEFORE the self-join, so the join input is
    vocabulary-sized, not corpus-sized; the pair aggregation is
    |sources|²-bounded."""
    from ..functions import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source", F.explode(word_shingles(F.col("text"), 3)).alias("shingle")
        )
        .distinct()
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.source") < F.col("b.source")),
    )
    return pairs.groupBy(
        F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared_shingles"))


@query("x49_exact_percentiles")
def x49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, bit-identical interpolation). The exact
    variant pairs with x30's sketch-based percentile_approx — exact when
    groups fit a sort, approx for unbounded streams."""
    li = load_table(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of percentages: a single
    # per-group value buffer + one sort instead of three (3x less agg
    # state; same interpolation, bit-identical results)
    pcts = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("ps"),
        F.count(F.lit(1)).alias("n"),
    )
    return pcts.select(
        "l_returnflag",
        F.col("ps")[0].alias("p50"),
        F.col("ps")[1].alias("p90"),
        F.col("ps")[2].alias("p99"),
        "n",
    )


@query("x50_user_adoption")
def x50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative adoption curve: users by first-seen day, running total.
    Two hash aggs (user -> first day, day -> new users) then a running
    window over the tiny per-day frame — the heavy lifting is all
    partial-aggregated; the unpartitioned window sees |days| rows, not
    |events|."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily_new = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = W.orderBy("first_day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily_new.select(
        F.col("first_day").cast("timestamp").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query("x51_full_outer_reconcile")
def x51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily clicks-vs-purchases reconciliation via FULL OUTER join —
    days present on either side survive, absent sides zero-fill
    (completes the registry's join-type coverage: inner/left/semi/anti/
    asof/range + full outer). Both inputs are day-level aggregates, so
    the outer join runs on tiny frames after partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_purchases"), dsum("value", "purchase_value"))
    )
    return (
        clicks.join(buys, "day", "full_outer")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
    )


def _bucketed_q18_tables(spark: SparkSession, sf_dir: str):
    """Materialize lineitem/orders as bucketed tables (once per sf_dir):
    bucketBy(16, orderkey) + sortBy, so every orderkey join/agg in q18 is
    exchange- and sort-free. This is the write-once-join-forever layout a
    100 TB fact table should live in; the one-time write cost amortizes
    over every subsequent orderkey query."""
    import re
    import shutil
    from pathlib import Path

    from ..sources.writers import write_bucketed

    tag = re.sub(r"[^a-z0-9]+", "_", sf_dir.strip("/").lower())
    li_t, o_t = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    warehouse = Path(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    )
    for table, source, key in (
        (li_t, "lineitem", "l_orderkey"),
        (o_t, "orders", "o_orderkey"),
    ):
        if spark.catalog.tableExists(table):
            continue
        # bucket METADATA lives in the session catalog (in-memory here):
        # files left by a previous session are unusable as a bucketed
        # table, so clear the stale location and rewrite
        loc = warehouse / table
        if loc.exists():
            shutil.rmtree(loc)
        write_bucketed(
            load_table(spark, sf_dir, source), table, key, 16, sort_by=key
        )
    return spark.table(li_t), spark.table(o_t)


@query("x34_bucketed_q18")
def x34_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 reading the bucketed layout: the lineitem self-agg, the
    orders semi-join, the detail join, and the final agg all reuse the
    bucket partitioning — zero Exchange on orderkey in the whole plan
    (asserted in test_plan_quality). Same results as x34 (EXTRA_ORACLES
    twin); benched side-by-side in bench.py to quantify the layout win."""
    li, o = _bucketed_q18_tables(spark, sf_dir)
    return _q18(load_table(spark, sf_dir, "customer"), o, li)


# ---------------------------------------------------------------------------
# x52.. — the rest of the TPC-H suite, adapted to the trimmed testdata
# schema (no partsupp table, no commit/receipt dates, no comment/phone
# columns — predicates on the missing columns are substituted with
# equivalent-shape predicates on existing ones; each docstring notes the
# substitution). Registered past the driver window: oracle parity runs in
# pytest (EXTRA_ORACLES, sf0.001) like the other demoted entries.
# ---------------------------------------------------------------------------


@query("x52_tpch_q4")
def x52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted: the EXISTS correlation
    "l_commitdate < l_receiptdate" becomes "shipped >60 days after order"
    (the schema has no commit/receipt dates). Physical shape preserved:
    orders filtered by quarter, EXISTS -> left-semi join on orderkey with
    the extra non-equi predicate, then a tiny priority rollup."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query("x53_tpch_q7")
def x53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping) between NATION_1 and NATION_2, faithful.
    lineitem⋈orders is the only big-big shuffle; supplier/customer joins
    broadcast under AQE; the two nation lookups are explicit broadcasts.
    The nation-pair disjunction is applied after both names are bound."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.withColumnRenamed("n_name", "supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n.withColumnRenamed("n_name", "cust_nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(drevenue())
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query("x54_tpch_q8")
def x54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share), adapted: part filter is
    p_type = 'ECONOMY' (schema has no p_mfgr). Share of NATION_5 suppliers
    in AMERICA-customer revenue by order year. The share is a double
    division of two decimal-exact sums (numerator CASE inside the sum),
    so it is bit-stable across engines and partitionings."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = load_table(spark, sf_dir, "nation")
    cust_nations = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select("n_nationkey")
    )
    c = load_table(spark, sf_dir, "customer").join(
        cust_nations, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    joined = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query("x55_tpch_q12")
def x55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / priority), adapted: the schema has no
    l_shipmode, so lines are bucketed by ship delay (days from order to
    ship: <=30 FAST, <=90 NORMAL, else SLOW) — same conditional-count
    shape over the orders⋈lineitem join."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    delay = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = (
        F.when(delay <= 30, "FAST").when(delay <= 90, "NORMAL").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


@query("x56_tpch_q13")
def x56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution), adapted: the anti-predicate on
    o_comment becomes o_orderpriority <> '5-LOW' (no comment column).
    customer LEFT JOIN orders with the predicate in the join condition
    (not a pre-filter of customers), then the two-level count rollup."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query("x57_tpch_q15")
def x57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, return the
    supplier(s) at the max. The scalar max is a 1-row broadcast crossJoin
    (no second scan of lineitem); the equality comparison happens in the
    exact DECIMAL domain, cast to double only for output."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    rev = li.groupBy("l_suppkey").agg(F.sum(price * disc).alias("rev_dec"))
    top = rev.agg(F.max("rev_dec").alias("max_rev"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query("x58_tpch_q17")
def x58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted: part filter is
    p_brand = 'Brand#23' (schema has no p_container). The correlated
    per-part AVG subquery becomes a window over the already-joined frame
    (one shuffle on partkey serves both the avg and the filter); the avg
    is the exact decimal-sum / count double division on both engines."""
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    joined = li.join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = (
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).over(w).cast("double")
        / F.count("l_quantity").over(w)
    )
    return (
        joined.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0
            ).alias("avg_yearly")
        )
    )


@query("x59_tpch_q19")
def x59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates), adapted:
    the shipmode/container legs become (brand, size, quantity) branches.
    The part side of each branch is pushed to the broadcast part scan via
    the OR of the part-only conjuncts; the mixed branches apply post-join
    — the same split Catalyst does for the real Q19."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(drevenue())
    )


@query("x60_tpch_q21")
def x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: with no
    commit/receipt dates, the "blamed" supplier is the strictly-last
    shipper in a multi-supplier finalized order. EXISTS -> left-semi,
    NOT EXISTS -> left-anti, both on orderkey equality plus non-equi
    side predicates (suppkey inequality / later shipdate)."""
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    ).select("s_suppkey", "s_name")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    blamed = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("l2_orderkey"))
        & (F.col("l_suppkey") != F.col("l2_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("l3_orderkey"))
        & (F.col("l_suppkey") != F.col("l3_suppkey"))
        & (F.col("l3_shipdate") > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        blamed.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query("x61_tpch_q22")
def x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the phone-prefix
    filter becomes a mktsegment filter, and "has no orders" becomes "no
    orders since 2000-01-01" (the testdata has no order-less customers).
    Scalar avg subquery -> 1-row broadcast crossJoin; NOT EXISTS ->
    left-anti against the date-filtered orders."""
    segs = ("BUILDING", "AUTOMOBILE", "MACHINERY")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment").isin(*segs))
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("c_mktsegment")
    )


def _supplier_part(li: DataFrame) -> DataFrame:
    """The supplier-part relation derived from lineitem (the testdata has
    no partsupp table): one row per observed (l_partkey, l_suppkey) with
    the min observed unit price as the supply-cost stand-in. MIN over
    doubles is order-independent, so the derived relation is exact."""
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )


@query("x62_tpch_q2")
def x62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (min-cost supplier), adapted: partsupp is the
    lineitem-derived supplier-part relation (_supplier_part) and
    ps_supplycost its min observed unit price. The correlated min
    subquery (min cost among EUROPE suppliers for the part) becomes a
    window min over the EUROPE-filtered relation — one shuffle on
    partkey serves both the min and the equality filter."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
            "n_nationkey", "n_name"
        )
    )
    s = load_table(spark, sf_dir, "supplier").join(
        eur, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    sp = _supplier_part(li).join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    best = sp.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").isin(15, 25, 35)
    )
    return (
        best.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query("x63_tpch_q9")
def x63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: supply cost is
    0.6 × p_retailprice per unit (no ps_supplycost). Revenue and cost are
    summed as SEPARATE decimal-exact aggregates and subtracted as doubles
    — a single decimal subtraction of (38,8) and (26,5) would overflow
    38-digit precision and round differently per engine."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    cost = (
        F.col("p_retailprice").cast("decimal(18,4)")
        * F.lit(0.6).cast("decimal(2,1)")
        * F.col("l_quantity").cast("decimal(4,0)")
    )
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(rev).cast("double") - F.sum(cost).cast("double")).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query("x64_tpch_q11")
def x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important inventory), adapted: per-part value held by
    NATION_3 suppliers = decimal sum of l_extendedprice over the nation's
    lineitems; "important" = value > 2× the average part value (the real
    query's fixed fraction goes empty as the part count grows with SF —
    the average-relative threshold is scale-free). The scalar (total, n)
    is a 1-row broadcast crossJoin; the comparison runs on doubles both
    engines derive identically from the exact decimal sums."""
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").join(
        s, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("val_dec")
    )
    total = per_part.agg(
        F.sum("val_dec").cast("double").alias("tot"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("val_dec").cast("double") * F.col("n_parts")
            > 2.0 * F.col("tot")
        )
        .select("l_partkey", F.col("val_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query("x65_tpch_q16")
def x65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier-part relationship counts), adapted: the
    supplier-part pairs come from DISTINCT lineitem (no partsupp); the
    excluded-supplier NOT IN subquery (complaint comments in the real
    query) becomes s_acctbal < 1000 -> left-anti join."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select("l_partkey", "l_suppkey").distinct()
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 1000
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        sp.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query("x66_tpch_q20")
def x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers with excess stock), adapted: NATION_9
    suppliers who shipped MORE THAN HALF of some bolt-part's total 1996
    volume (the 0.5 × sum correlated subquery of the real query, with
    lineitem volume standing in for partsupp availqty). The half
    comparison is 2×sq > total in the exact DECIMAL domain."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey")
    vol = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sq"))
    )
    tot = vol.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominant = (
        vol.join(tot.withColumnRenamed("l_partkey", "t_partkey"),
                 F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    return (
        s.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# x67.. — training-sequence assembly (operators/packing.py)
# ---------------------------------------------------------------------------


@query("x67_chunk_documents")
def x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (chunk_tokens=32, stride=24)
    over documents. Map-side only — tokenize/explode/slice fuse into the
    scan; no shuffle (asserted in test_plan_quality)."""
    from ..operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


@query("x68_pack_sequences")
def x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (budget=256, 8 md5 shards): stable
    shard -> in-shard offset cumsum -> seq assignment. One shuffle."""
    from ..operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget_tokens=256, n_shards=8).orderBy("doc_id")


@query("x69_mixture_sample")
def x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture resampling (src0:0.5, src1:0.3, src2:0.2): per-source
    keep counts + rates. The corpus never shuffles — rates ride a
    two-stage broadcast."""
    from ..operators.packing import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_sample(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.first("n_source").alias("n_source"),
            F.round(F.first("keep_rate"), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


@query("x70_tpch_q21_onescan")
def x70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21, single-scan variant (identical result set to x60 —
    the same EXISTS-form DuckDB oracle pins both).

    x60's textbook EXISTS/NOT-EXISTS plan scans lineitem three times and
    shuffles it twice for the fact-to-fact semi/anti joins. This
    formulation scans lineitem ONCE: aggregate to (order, supplier)
    keeping max shipdate + the (small, order-bounded) sorted shipdate
    list, window over the order for top-1 / tie-count / runner-up
    supplier maxima, and derive
        max_other = m1 if (mine < m1 or tie at m1) else m2
    A lineitem qualifies iff its shipdate >= max_other, counted with an
    array filter — no second scan, no fact-to-fact join. Locally x60 is
    ~2× faster (codegen'd merge joins beat ObjectHashAggregate + window
    constants when everything is in RAM); at IO-bound 100 TB scale the
    single scan + single fact shuffle wins — PLANS.md quantifies the
    trade."""
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    ).select("s_suppkey", "s_name")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window

    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max"),
        F.sort_array(F.collect_list("l_shipdate")).alias("ships"),
    )
    w = Window.partitionBy("l_orderkey")
    stats = (
        per_os.withColumn("m1", F.max("supp_max").over(w))
        .withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "cnt_m1",
            F.sum(
                F.when(F.col("supp_max") == F.col("m1"), 1).otherwise(0)
            ).over(w),
        )
        .withColumn(
            "m2",
            F.max(
                F.when(F.col("supp_max") < F.col("m1"), F.col("supp_max"))
            ).over(w),
        )
    )
    max_other = F.when(
        (F.col("supp_max") < F.col("m1")) | (F.col("cnt_m1") >= 2), F.col("m1")
    ).otherwise(F.col("m2"))
    qual = (
        stats.filter(F.col("n_supp") >= 2)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .withColumn("mo", max_other)
        .select(
            "s_name",
            F.size(
                F.filter("ships", lambda x: x >= F.col("mo"))
            ).alias("n_blamed"),
        )
    )
    return (
        qual.groupBy("s_name")
        .agg(F.sum("n_blamed").alias("numwait"))
        .filter(F.col("numwait") > 0)
        .orderBy(F.desc("numwait"), "s_name")
    )



@query("x71_table_profile")
def x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of lineitem (operators/profile.py):
    row count, nulls, exact distinct cardinality, value/length/epoch
    ranges — all in ONE aggregate pass over one scan, unpivoted with
    stack to |columns| rows. This is the EXACT oracle-parity twin
    (COUNT(DISTINCT) Expand multiplies the scan |columns|x); the scale
    default — and the bench headline entry — is x78's HLL variant."""
    from ..operators.profile import profile_table

    return profile_table(
        load_table(spark, sf_dir, "lineitem"), approx_distinct=False
    ).orderBy("column")


@query("x78_table_profile_approx")
def x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_table's default (100 TB) path: HLL approx_count_distinct
    keeps the profile a single partial+final hash aggregate over one scan
    — no Expand, no |columns|x row multiplication. Rows-only (HLL
    estimates are engine-specific); pytest pins the 5% tolerance and the
    schema against the exact twin x71."""
    from ..operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "lineitem")).orderBy("column")


@query("x72_unigram_logprob")
def x72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (text.unigram_logprob): avg negative log
    probability per document under the corpus unigram distribution —
    the perplexity-proxy ranking signal. Vocabulary-bounded shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_logprob(docs).orderBy("doc_id")


@query("x73_line_dedup")
def x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (C4/RefinedWeb boilerplate removal,
    dedup.line_dedup): spans appearing verbatim in >=2 distinct docs are
    removed from every doc, survivors re-joined in original order. Span
    mode (10-token aligned chunks) because the testdata documents are
    single-line. Map-side explode -> one hash agg -> broadcast anti-join
    -> per-doc regroup: two bounded shuffles at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.line_dedup(docs, chunk_tokens=10, min_docs=2)


@query("x74_embedding_dup_clusters")
def x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive clusters over embedding-cosine near-dup pairs: x05's
    blocked pair list resolved into connected components by the same
    iterative min-label propagation as x31 (dedup.dup_clusters). The
    semantic-dedup endgame: keep one representative per cluster, not per
    pair. Oracle: recursive CTE over the exact pair SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup(emb, threshold=0.25, block_col="label")
    return dedup.dup_clusters(pairs.select("id_a", "id_b")).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id")
    )


@query("x75_ann_pq_topk")
def x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/ann_index): 64-dim float
    vectors compress to 8 uint8 codes (32x), ADC table-lookup scoring
    prunes the corpus to a shortlist, exact cosine re-ranks it. Rows-only
    (quantization is engine-specific); recall vs brute force and
    bit-exact re-rank scores asserted in test_ann_index."""
    from ..operators.ann_index import encode_pq, search_pq, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=8, k=16)
    encoded = encode_pq(emb, books)
    return search_pq(
        encoded, emb, emb.filter(F.col("vec_id") < 10), books, k=5, shortlist=50
    )


@query("x75b_ann_pq_exact_rerank")
def x75b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x75's ADC + exact-re-rank machinery PINNED to a hash-checkable
    truth: with the shortlist covering the whole corpus, the exact
    cosine re-rank (the standard production refine step) determines
    top-k regardless of quantization error, so the result equals brute
    force bit for bit — the nprobe == k trick applied to PQ. The
    distributed shape under test is x75's end to end: bucketed cogroup
    ADC scan (per-query LUTs from broadcast codebooks, table-lookup
    scoring, per-bucket argpartition), shortlist merge window, exact
    re-rank join. x75 keeps the approximate path benched for the
    recall curve (RECALL.md); this row proves the scorer, merge, and
    re-rank are exact when quantization is taken out of the verdict."""
    from ..operators.ann_index import encode_pq, search_pq, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=8, k=16)
    encoded = encode_pq(emb, books)
    out = search_pq(
        encoded,
        emb,
        emb.filter(F.col("vec_id") < 10),
        books,
        k=5,
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x80_bloom_incremental_dedup")
def x80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x45's incremental ingest dedup routed through the Bloom prune
    (dedup.bloom_incremental_dedup): a bloom_filter_agg over the seen
    fingerprints broadcasts, arriving rows test might_contain map-side,
    and only the bloom-positive slice pays the exact anti-join. Output
    is bit-identical to the plain anti-join (no false negatives + exact
    verify), so the oracle is the same SQL as x45's — the Bloom is a
    physical optimization, not a semantics change."""
    from ..operators.dedup import bloom_incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    seen = docs.filter(F.col("doc_id") < 250).select(fp.alias("fp"))
    new = docs.filter(F.col("doc_id") >= 250).withColumn("fp", fp)
    survivors = bloom_incremental_dedup(new, seen, key="fp",
                                        expected_items=10_000)
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new_unique"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query("x83_token_counts")
def x83(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-regime token counting (text.token_count_bpe): whitespace
    tokens + GPT-2-style BPE pre-tokens + chars-per-pre-token, the
    budget-planning signal a packing pipeline needs before a real
    tokenizer pass. Map-side only."""
    return text.token_count_bpe(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


@query("x82_bigram_pmi")
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation extraction (text.bigram_pmi): top-50 adjacent
    token pairs by pointwise mutual information, min count 3 — the
    multiword-expression signal, computed as a sum of logs mirrored
    term-for-term in the oracle."""
    return text.bigram_pmi(load_table(spark, sf_dir, "documents"))


@query("x81_scd2_merge")
def x81(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history-preserving merge (sources/writers.scd2_apply — the
    audited variant of the reference's Cosmos upsert S-7): an update
    batch against an all-open customer dimension closes changed rows at
    the update timestamp, appends new versions, passes identical updates
    through untouched (idempotent re-delivery), and inserts unseen keys.
    Deterministic synthetic batch: every 7th key gets +100.00 acctbal
    (every 14th re-sends IDENTICAL attrs -> must be a no-op), every 50th
    key re-appears shifted +1,000,000 as a brand-new key."""
    from ..sources.writers import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    t0 = F.lit("1990-01-01 00:00:00").cast("timestamp")
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    current = c.select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 14 == 0, F.col("c_acctbal")
            ).otherwise(F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            "c_mktsegment",
            t1.alias("ts"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                "c_acctbal", "c_mktsegment", t1.alias("ts"),
            )
        )
    )
    out = scd2_apply(
        current, updates, key="c_custkey", ts_col="ts",
        attrs=["c_acctbal", "c_mktsegment"],
    )
    return out.orderBy("c_custkey", "valid_from")


@query("x84_decontaminate")
def x84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam): flag every
    training document sharing a 5-token n-gram with the held-out eval
    slice (doc_id % 10 == 0 stands in for the benchmark suite). The
    GPT-3/PaLM/Pile decontamination rule as one gram-keyed semi-join —
    the eval side is tiny, so AQE broadcasts it and the corpus is
    scanned once."""
    from ..operators import decontam

    docs = load_table(spark, sf_dir, "documents")
    return decontam.contamination_report(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=5,
    )


@query("x85_repetition_stats")
def x85(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition suite (text.repetition_stats): per-doc top
    bigram + its positional fraction + duplicate-5-gram fraction,
    map-only via higher-order functions (zero shuffles — the whole
    operator is one codegen'd scan)."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


@query("x86_hashed_classifier")
def x86(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (text.hashed_classifier_score):
    fasttext-style mean-of-hashed-token-weights logit + decision label,
    JVM-side md5 weights, zero shuffles."""
    return text.hashed_classifier_score(load_table(spark, sf_dir, "documents"))


@query("x79_semantic_dedup")
def x79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/dedup.semantic_dedup): k-means
    cells -> within-cell cosine pairs -> transitive clusters -> one
    deterministic representative per cluster. Since round 5 the cells
    come from the PERSISTED IVF index x125 serves (the deployment
    shape: dedup and similarity search share one vector-store index,
    and the k-means fit is paid once per corpus, not per run). Rows-only
    (cell assignment is engine-specific); cluster-consistency and
    representative properties pytest-asserted in test_dedup_text."""
    import os

    from ..operators import ann_index
    from ..operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _ivf_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "centroids")):
        ann_index.save_ivf_index(emb, idx, k=16)
    indexed, _ = ann_index.load_ivf_index(spark, idx)
    return semantic_dedup(emb, threshold=0.25, indexed=indexed).orderBy("vec_id")


@query("x79b_semantic_dedup_hyperplane")
def x79b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x79's ENTIRE blocked downstream pinned to a hash-checkable truth
    (the x75b/x77b conversion pattern, VERDICT r9 item 2): semantic_dedup
    runs the SAME code path — within-cell cosine pairs (block_col join)
    -> transitive dup clusters -> min-id representative per cluster —
    but the coarse quantizer is a deterministic sign-bit HYPERPLANE
    blocking (cell = 4 sign bits of the first 4 embedding dims, i.e.
    axis-aligned random-hyperplane LSH with fixed planes) instead of
    the MLlib k-means fit. The cell table is therefore SQL-expressible,
    so the oracle reproduces cells + blocked pairs + recursive-CTE
    components + representatives end to end and the driver hash covers
    everything x79's rows-only check could not: which pairs a cell
    admits, cluster transitivity across shared members, and the kept
    rule. x79 keeps the k-means deployment shape registered (rows-only;
    cell-consistency pytest in test_dedup_text) — the hyperplane twin
    is the same operator with the engine-specific fit taken out of the
    verdict, exactly as nprobe==k takes quantization out of x125's."""
    from ..operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    cell = sum(
        F.when(e.getItem(i) >= 0, 1 << (3 - i)).otherwise(0)
        for i in range(4)
    )
    indexed = emb.withColumn("cell", cell.cast("int"))
    return semantic_dedup(emb, threshold=0.25, indexed=indexed).orderBy(
        "vec_id"
    )


@query("x76_sketch_rollup")
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (operators/sketches): daily HLL/KLL state
    re-aggregated to weekly estimates WITHOUT rescanning events — the
    continuous-aggregate pattern for 100 TB fact tables. Rows-only
    (sketch estimates are engine-specific); accuracy vs exact and
    merge-equals-direct asserted in test_approx."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    return sketches.weekly_rollup(sketches.daily_sketches(ev)).orderBy("week")


@query("x76b_sketch_rollup_exact")
def x76b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x76's daily->weekly sketch rollup EXACTNESS-PINNED (the x77b
    recipe applied to the MERGE path — verdict r12 item 2): the user
    sketch is THETA at lg_k=16 (65536 nominal entries vs ~1.5k distinct
    users per week at sf0.1 — exact mode throughout agg AND union), the
    value sketch is KLL at k=32767 (>= the ~24k values per week at
    sf0.1, so no level-0 compaction ever fires and the merged quantile
    is the exact inclusive-rank order statistic == SQL percentile_disc).
    The IDENTICAL daily-state -> weekly-merge plan therefore returns
    exact values, and the oracle is plain weekly SQL over raw events —
    the driver hash covers the whole re-aggregation algebra (per-day agg,
    cross-day theta union, order-pinned KLL merge fold, quantile read)
    that x76's tolerance tests could only bound. x76 (engine-default
    HLL/KLL sizes, the 100 TB shape where sketches actually estimate)
    stays registered and benched."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    return sketches.weekly_rollup(
        sketches.daily_sketches(
            ev, kll_k=32767, theta_users_lg_k=16
        ),
        theta_users_lg_k=16,
    ).orderBy("week")


@query("x77_theta_overlap")
def x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x48's contamination check with theta-sketch set algebra: one
    kilobyte sketch per source, pairwise scalar intersections — no
    vocabulary-sized self-join. Rows-only; estimate-vs-exact tolerance
    asserted in test_approx. x77b pins the same pipeline bit-exactly in
    the sketches' exact mode."""
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    return sketches.theta_overlap(docs).orderBy("source_a", "source_b")


@query("x77b_theta_overlap_exact")
def x77b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x77's sketch pipeline EXACTNESS-PINNED (the nprobe==k trick,
    sketch edition — VERDICT r8 item 6): a theta sketch is exact while
    its per-group distinct count stays under its nominal-entries bound,
    so with lg_k=16 (65536 nominal vs ~40k distinct shingles per source
    at sf0.1) the identical agg -> merge -> intersection -> estimate
    plan returns exact counts and the ORACLE is x48's exact
    distinct-shingle SQL — the driver hash covers the whole sketch
    algebra, which x77's tolerance test can only bound. x77 (engine
    default lg_k, the 100 TB shape where sketches actually estimate)
    stays registered and benched."""
    from ..operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    return sketches.theta_overlap(docs, lg_k=16).orderBy(
        "source_a", "source_b"
    )


@query("x87_dsir_importance")
def x87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance reweighting (operators/dsir): hashed bag-of-buckets
    unigram models over target (lang='en') vs the raw corpus, per-doc
    log-likelihood-ratio score. Bucket tables are bounded by n_buckets so
    the model fit is two fixed-size hash aggs; scoring is one inverted
    stream joined against the (tiny, AQE-broadcast) log-ratio table."""
    from ..operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    return dsir.importance_scores(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=1000
    )


@query("x88_session_concurrency")
def x88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time-binning (operators/intervals):
    per-session count of other sessions whose active windows overlap.
    The naive range join is a nested-loop cartesian; the binned plan is
    a plain equi-join on the bin key (AQE-skew-splittable) with an exact
    first-shared-bin dedup — no distinct over the pair stream."""
    from ..operators import intervals

    ev = load_table(spark, sf_dir, "events")
    return intervals.session_concurrency(ev)


@query("x89_fuzzy_join")
def x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance self-join (operators/fuzzy): all document
    pairs within Levenshtein 3 on the normalized 64-char key, via the
    exact q-gram bound (Gravano et al.) + rare-gram prefix filter
    (AllPairs/PPJoin) + levenshtein verify on the survivors only.
    q=10: the synthetic corpus draws from a tiny vocabulary, so short
    grams are corpus-common; longer grams restore selectivity (375k
    candidates vs 1.4M at q=5, same exact result — q is a pure
    performance knob)."""
    from ..operators import fuzzy

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy.fuzzy_pairs(docs, max_dist=3, q=10, key_len=64)


@query("x90_source_drift")
def x90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram drift detection (operators/drift): per-source
    total-variation distance between the source's n_chars histogram and
    the whole-corpus histogram — one scan to (slice, bin) counts, all
    distances computed on the reduced table."""
    from ..operators import drift

    docs = load_table(spark, sf_dir, "documents")
    return drift.histogram_drift(docs, "source", "n_chars", 50)


@query("x91_bitext_margin")
def x91(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (similarity.margin_topk_match): for
    every English document's embedding, the best Spanish-document match
    by cosine with the Artetxe-Schwenk margin score (best / mean of
    top-4). Broadcast source side, target scanned map-side by the block
    scorer — no corpus shuffle; per-source aggregate over <= k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = emb.join(docs, emb.vec_id == docs.doc_id).select("vec_id", "embedding", "lang")
    src = joined.filter(F.col("lang") == "en").drop("lang")
    tgt = joined.filter(F.col("lang") == "es").drop("lang")
    return similarity.margin_topk_match(src, tgt, k=4)


@query("x92_containment_pairs")
def x92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment join (dedup.containment_pairs): pairs where
    |A cap B| / min(|A|,|B|) >= 0.4 — catches small-doc-quoted-in-big
    relations that symmetric Jaccard (x02) structurally misses. Same
    cached inverted-index pair-count plan as x02; the capped variant's
    sound upper-bound prune is pytest-covered."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.4, n=3)


@query("x93_event_funnel")
def x93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (operators/funnel): signup -> click ->
    purchase with first-qualifying-time semantics; per-step reached-user
    counts + mean hours from the previous step. Every aggregate/join is
    user-keyed, so one shuffle's partitioning serves the whole cascade."""
    from ..operators import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel.funnel_summary(ev, ["signup", "click", "purchase"])


@query("x94_source_entropy")
def x94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix diagnostics: Shannon entropy of the lang
    distribution (0 = monolingual source, ln(5) = uniform over 5 langs).
    One scan to (source, lang) counts; entropy computed on the reduced
    table with decimal-exact term sums."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    # per-source total as a window over the (source, lang) frame — the
    # former groupBy+join-back re-ran the corpus scan (no shared
    # exchange); the window rides the same source partitioning the
    # final aggregate needs anyway
    n_docs = F.sum("c").over(W.partitionBy("source"))
    p = F.col("c") / n_docs.cast("double")
    term = F.round(-p * F.log(p), 12)
    return (
        cnt.select(
            "source", n_docs.alias("n_docs"), "lang", term.alias("term")
        )
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.sum(F.col("term").cast("decimal(38,12)"))
            .cast("double")
            .alias("lang_entropy"),
        )
    )


@query("x101_cohort_retention")
def x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, then
    for every (cohort_week, weeks_since) the distinct users still active
    and the retained fraction of the cohort. Two user-keyed aggregates +
    one broadcastable cohort-size join — the analytics twin of x50's
    adoption curve, completing the funnel/retention/adoption trio."""
    from pyspark.sql import Window as W  # noqa: F401  (parity with x50 style)

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    wk = F.date_trunc("week", ts)
    first_seen = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    joined = ev.join(first_seen, "user_id").select(
        "user_id",
        "cohort_week",
        F.floor(
            (F.unix_micros(wk) - F.unix_micros(F.col("cohort_week")))
            / (7 * 24 * 3600 * 1_000_000)
        ).cast("int").alias("weeks_since"),
    )
    active = joined.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    # Every cohort member is active in week 0 (their first event defines
    # the cohort), so cohort_size == n_active at weeks_since=0 — lift it
    # to the whole cohort via a window instead of re-aggregating
    # first_seen (which re-ran the user-keyed scan: 0 ReusedExchange).
    cohort_size = F.max(
        F.when(F.col("weeks_since") == 0, F.col("n_active"))
    ).over(W.partitionBy("cohort_week"))
    return active.select(
        "cohort_week",
        "weeks_since",
        "n_active",
        cohort_size.alias("cohort_size"),
        F.round(
            F.col("n_active") / cohort_size.cast("double"), 12
        ).alias("retained_pct"),
    )


@query("x100_time_range_window")
def x100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window (the frame type x16's ROWS suite lacks):
    per event, the count and decimal-exact sum of the same user's events
    in the closed interval [ts - 1h, ts] — ordered by the TIME VALUE, so
    the frame holds however many events fall in the hour (a ROWS frame
    cannot express this). Per-user partitioning keeps the window
    distributed; at 100 TB the same frame runs on the sessionize
    layout."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    us = F.unix_micros(ts)
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double"), 4
        ).alias("sum_1h"),
    )


@query("x99_corpus_prep")
def x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full batch training-data prep chain as one lazy plan
    (operators/corpus_pipeline.prepare_training_corpus): quality gate ->
    exact dedup -> decontamination vs the eval slice -> DSIR top-50%
    selection toward English -> fixed-budget chunking. HASH-checked
    since round 9: the composed oracle is the concatenation of the five
    already-verified stage oracles (x46 gate rules, x01 min-id dedup,
    x84 5-gram decontam, x87 DSIR log-ratios + select_top_fraction's
    max(1, int(n*f)) cut, x67 chunk slices at 64/48) as one CTE chain;
    stage-equivalence additionally pytest-asserted."""
    from ..operators.corpus_pipeline import prepare_training_corpus

    docs = load_table(spark, sf_dir, "documents")
    return prepare_training_corpus(
        docs,
        eval_df=docs.filter(F.col("doc_id") % 10 == 0),
        target=docs.filter(F.col("lang") == "en"),
        keep_fraction=0.5,
    ).orderBy("doc_id", "chunk_id")


@query("x98_mergeable_topk")
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items rollup (sketches.daily_top_items ->
    weekly_top_items): per-day exact top-20 + threshold summaries merged
    to weekly top-10 with sound error bounds — the deterministic
    (bit-exact-checkable) counterpart of a SpaceSaving/CMS rollup; the
    raw events are scanned exactly once."""
    from ..operators import sketches

    ev = load_table(spark, sf_dir, "events")
    return sketches.weekly_top_items(sketches.daily_top_items(ev, m=20), k=10)


@query("x97_contrastive_triplets")
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (operators/contrastive): near-dup pairs
    become (anchor, positive, hard-negative) training triplets, negatives
    circular-shifted within the coarse cell (deterministic — the triplet
    set is stable across reruns/engines). cos_pos/cos_neg travel with
    the triplet for margin-based curricula."""
    from ..operators import contrastive

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup(emb, threshold=0.25, block_col="label")
    out = contrastive.mine_triplets(pairs, emb)
    return out.withColumn("cos_pos", F.round("cos_pos", 12))


# The on-disk format of every cached query state under spark-warehouse/
# (layouts, and the JSON records of operators.compaction.write_record).
# Change it whenever that format changes: every kind is then rebuilt once
# instead of being read (or refused) by newer code.
_STATE_FORMAT = "json-records"


def _state_dir(sf_dir: str, src_table: str, kind: str) -> str:
    """Per-sf_dir cache dir for a materialized query state (pair frame,
    cluster map, index), keyed by the source file's (mtime, size) — a
    stale artifact can never be served after the input changes — and by
    ``_STATE_FORMAT``, so state in an older format is rebuilt."""
    import os

    src = os.path.join(sf_dir, f"{src_table}.parquet")
    st = os.stat(src)
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{int(st.st_mtime)}-{st.st_size}-{_STATE_FORMAT}"
    )
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
        kind,
        tag,
    )


def _pair_state_dir(sf_dir: str) -> str:
    """Materialized embedding near-dup pair frame (x97b's mining stage)."""
    return _state_dir(sf_dir, "embeddings", "dup_pairs")


@query("x97b_contrastive_triplets_materialized")
def x97b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x97's triplet mining reading the MATERIALIZED near-dup pair frame
    — the deployment split: pair mining (the blocked O(sum cell^2)
    stage) runs once when the dedup pipeline materializes its pairs,
    and every downstream consumer (triplets here; canonical selection
    and leakage-safe splits are the same pattern) reads the persisted
    parquet instead of re-mining per run. Raw cos_sim doubles roundtrip
    parquet bit-exactly, so the oracle is UNCHANGED from x97 — the
    driver hash proves materialized == recomputed."""
    import os

    from ..operators import contrastive

    emb = load_table(spark, sf_dir, "embeddings")
    state = _pair_state_dir(sf_dir)
    if not os.path.exists(os.path.join(state, "_SUCCESS")):
        dedup.embedding_near_dup(
            emb, threshold=0.25, block_col="label"
        ).write.mode("overwrite").parquet(state)
    pairs = spark.read.parquet(state)
    out = contrastive.mine_triplets(pairs, emb)
    return out.withColumn("cos_pos", F.round("cos_pos", 12))


@query("x96_pagerank")
def x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph (operators/graph):
    nodes = embeddings with >= 1 same-label cosine>=0.25 neighbor, 10
    fixed rounds in exact fixed-point integer arithmetic (1e-12 units) —
    bit-reproducible in any engine; the DuckDB oracle unrolls the
    identical iterations as a CTE chain. The canonical-copy-selection
    signal for duplicate clusters."""
    from ..operators import graph

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup(emb, threshold=0.25, block_col="label")
    out = graph.pagerank(pairs.select("id_a", "id_b"), damping_pct=85, iterations=10)
    return out.select(F.col("node").alias("vec_id"), "pagerank")


@query("x95_event_transitions")
def x95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type) with counts. One lag window per
    user (the sessionize partitioning) then a tiny (|types|^2) aggregate
    — the sequence-feature extraction a behavioral model trains on."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # row-normalizer as a window over the |types|^2 frame (the former
    # groupBy+join-back duplicated the lag-window pass over the corpus)
    n_from = F.sum("n").over(W.partitionBy("prev_type"))
    return cnt.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / n_from.cast("double"), 12).alias("p"),
    )


@query("x121_type_cooccurrence")
def x121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence of event types within sessions:
    support and lift for every type pair (lift>1 = the behaviors travel
    together). Sessions are x10's 30-min-gap assignment; the session
    frame reduces to distinct (user, session, type) rows, so the
    within-session pair join fans out at most |types| per session.
    Integer-ratio lift -> bit-exact."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    st = (
        ev.withColumn(
            "session_id",
            F.sum(new_sess).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .select("user_id", "session_id", "event_type")
        .distinct()
        # feeds three branches (total, per-type, pair join); checkpoint so
        # the sessionize window runs once. The session total stays a
        # 1-row FRAME (broadcast cross join) — no driver-side count().
        .localCheckpoint(eager=True)
    )
    ns = (
        st.select("user_id", "session_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_s"))
    )
    per_type = st.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    a = st.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = st.select("user_id", "session_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    pa = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(ns))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab") / F.col("n_s").cast("double"), 12
            ).alias("support"),
            F.round(
                (F.col("n_ab") * F.col("n_s"))
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                12,
            ).alias("lift"),
        )
    )


@query("x120_chi_square")
def x120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (source, lang) contingency
    table — are languages distributed independently of sources (uniform
    crawl) or coupled (per-source language bias)? One scan to cell
    counts; margins via windows over the cell frame (single-pass, same
    discipline as x102); per-cell terms rounded to 12 and decimal-summed
    so the statistic is FP-order-proof. Output: one row (chi2, dof, n,
    cells) — the drift-dependence diagnostic x90 complements."""
    docs = load_table(spark, sf_dir, "documents")
    # the cell frame is KB-bounded but feeds four branches (margins,
    # total, grid, observed): checkpoint it so the corpus scans once —
    # the standard chi2 includes EMPTY grid cells ((0-e)^2/e = e), so
    # the full margins cross-product is rebuilt and left-joined
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("o")
    ).localCheckpoint(eager=True)
    srcs = cells.groupBy("source").agg(F.sum("o").alias("rm"))
    lngs = cells.groupBy("lang").agg(F.sum("o").alias("cm"))
    tot = cells.agg(F.sum("o").alias("n"))
    grid = srcs.crossJoin(F.broadcast(lngs)).crossJoin(F.broadcast(tot))
    obs = grid.join(cells, ["source", "lang"], "left").withColumn(
        "o", F.coalesce("o", F.lit(0))
    )
    e = (F.col("rm") * F.col("cm")) / F.col("n").cast("double")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 12)
    return obs.select(
        "source", "lang", "o", "n", term.alias("term")
    ).agg(
        F.sum(F.col("term").cast("decimal(38,12)"))
        .cast("double")
        .alias("chi2"),
        (
            (F.countDistinct("source") - F.lit(1))
            * (F.countDistinct("lang") - F.lit(1))
        ).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@query("x119_daily_trend")
def x119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity trend: closed-form OLS of daily event counts
    over day index (slope/intercept/R²) — exact regression from INTEGER
    power sums (n, Σx, Σy, Σxy, Σx², Σy²), no MLlib, no iteration, and
    therefore bit-exact against a SQL oracle. The is-this-type-growing
    diagnostic a monitoring layer computes continuously; one scan to
    daily counts, day index via a per-type min-date window, |types|-row
    output."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    daily = ev.groupBy(
        "event_type", F.to_date(ts).alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    x = F.datediff(
        F.col("day"), F.min("day").over(W.partitionBy("event_type"))
    ).cast("long")
    pts = daily.select("event_type", x.alias("x"), "y")
    agg = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # Degenerate series (single day, or zero count variance) zero a
    # denominator; Spark's non-ANSI division would yield NULL while
    # DuckDB's IEEE float ops yield Inf/NaN — pin the case to NULL
    # EXPLICITLY on both sides so the oracles agree bit-for-bit.
    x_ok = (n > 1) & ((n * sxx - sx * sx) != 0)
    y_ok = (n * syy - sy * sy) != 0
    slope = F.when(
        x_ok, (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx)
    )
    intercept = F.when(x_ok, sy.cast("double") / n - slope * (sx.cast("double") / n))
    r2 = F.when(
        x_ok & y_ok,
        (n * sxy - sx * sy).cast("double")
        * (n * sxy - sx * sy)
        / ((n * sxx - sx * sx).cast("double") * (n * syy - sy * sy)),
    )
    return agg.select(
        "event_type",
        n.alias("n_days"),
        F.round(slope, 12).alias("slope_per_day"),
        F.round(intercept, 12).alias("intercept"),
        F.round(r2, 12).alias("r2"),
    )


@query("x118_audience_overlap")
def x118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard of distinct-user sets for every
    event-type pair (which behaviors share an audience — the
    segmentation/cannibalization diagnostic). One distinct pass to
    (type, user), a user-keyed self-join for pairwise intersections,
    per-type distincts from the same frame; |types|² output. Integer
    ratio -> bit-exact."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                12,
            ).alias("audience_jaccard"),
        )
    )


@query("x117_incremental_clusters")
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup cluster maintenance (dedup.
    ngram_jaccard_pairs_incremental + incremental_dup_clusters): the
    even-id half plays the existing corpus (its cluster map already
    built), the odd-id half arrives as a batch; only touching-new pairs
    are generated and old connectivity folds in as star edges. The
    ORACLE is the one-shot recursive-CTE components over the WHOLE
    corpus (x31's SQL) — the driver hash-check proves the incremental
    path reproduces the batch truth exactly."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    # The old-corpus map rebuild and the incremental pair mining are
    # INDEPENDENT until the final fold (the map is only consumed by
    # incremental_dup_clusters, the pairs only read old/new docs), but
    # both are eager (dup_clusters iterates; the pair generator
    # checkpoints its output), so composing them serially leaves the
    # cluster idle through each one's job tail. Submit them from two
    # driver threads (actions are only sequential because driver code
    # calls them sequentially); the result is the identical composition
    # of the identical operators.
    def _old_map():
        spark.sparkContext.setJobDescription("x117: old-map rebuild")
        return dedup.dup_clusters(
            dedup.ngram_jaccard_pairs(old, threshold=0.5, max_shingle_freq=50)
        )

    def _inc_pairs():
        spark.sparkContext.setJobDescription("x117: incremental pair mining")
        return dedup.ngram_jaccard_pairs_incremental(
            new, old, threshold=0.5, max_shingle_freq=50
        )

    # each target carries the caller's job group into its thread
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_map = pool.submit(inheritable_thread_target(spark)(_old_map))
        f_inc = pool.submit(inheritable_thread_target(spark)(_inc_pairs))
        old_map, inc = f_map.result(), f_inc.result()
    spark.sparkContext.setJobDescription(None)
    return dedup.incremental_dup_clusters(old_map, inc)


@query("x116_rate_limit")
def x116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-per-key-per-window throttling (notification/alert
    rate limiting, the batch twin of dropDuplicatesWithinWatermark with
    an ALIGNED window): at most one event per (user, type) per 10-min
    wall bin, deterministic first-by-(ts, event_id). Output: per-type
    kept/dropped accounting + suppression ratio. One window over the
    (user, type, bin) partitioning, then a |types|-row aggregate."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    bin_ = F.floor(F.unix_micros(ts) / (600 * 1_000_000))
    w = W.partitionBy("user_id", "event_type", bin_).orderBy(
        "ts", "event_id"
    )
    flagged = ev.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            12,
        ).alias("suppressed_pct"),
    )


@query("x114_weighted_median")
def x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (quantity-weighted l_extendedprice per
    return flag): sort within group, decimal-exact cumulative weight,
    first row where 2·cum >= total. The hard-in-SQL exact order
    statistic approx_percentile can't replace when the answer must be
    auditable; fully distributed (all windows partition by the group),
    tie-broken by (price, orderkey, linenumber) so the picked row is
    engine-deterministic."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(18,4)")
    wp = W.partitionBy("l_returnflag")
    wo = wp.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    cum = F.sum(qd).over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
    total = F.sum(qd).over(wp)
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        cum.alias("cum_w"),
        total.alias("tot_w"),
    ).filter(F.lit(2) * F.col("cum_w") >= F.col("tot_w"))
    first = F.row_number().over(
        W.partitionBy("l_returnflag").orderBy(
            "l_extendedprice", "l_orderkey", "l_linenumber"
        )
    )
    return (
        ranked.withColumn("rn", first)
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
            F.col("tot_w").cast("double").alias("total_weight"),
        )
    )


@query("x115_gini_concentration")
def x115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity concentration by event type
    (G = 2·Σi·cᵢ/(n·Σc) − (n+1)/n over counts sorted ascending) — the
    inequality diagnostic behind heavy-hitter risk (x47) and skew
    planning (operators/skew). Rank/moment sums are windows over the
    (type, user) count frame; products accumulate in DECIMAL(38,0) so
    the rank-weighted sum cannot overflow at any n."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    wp = W.partitionBy("event_type")
    wo = wp.orderBy("c", "user_id")
    i = F.row_number().over(wo)
    ranked = cnt.select(
        "event_type",
        "c",
        i.alias("i"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("i") * F.col("c")).cast("decimal(38,0)")
        ).alias("t"),
    )
    n = F.col("n")
    sd = F.col("s").cast("double")
    td = F.col("t").cast("double")
    return agg.select(
        "event_type",
        n.alias("n_users"),
        F.round(
            F.lit(2) * td / (n * sd) - (n + F.lit(1)) / n.cast("double"),
            12,
        ).alias("gini"),
    )


@query("x112_quota_sample")
def x112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling (eval-set construction): EXACTLY
    n=30 docs per language, chosen by rank over the md5 hash within each
    stratum — deterministic, RNG-free, and unlike rate-based sampling
    (x38) the output size is exact, not expected. The rank window
    partitions by stratum (distributed); summary output = per-stratum
    take counts + hash-frontier, so the driver row stays small while the
    cut itself is checkable."""
    from pyspark.sql import Window as W

    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    n_per = 30
    hb = hash_bucket(F.col("doc_id"), 1_000_000)
    w = W.partitionBy("lang").orderBy(hb, "doc_id")
    picked = (
        docs.select("doc_id", "lang", "n_chars", hb.alias("hb"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_per)
    )
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_taken"),
        F.max("hb").alias("hash_frontier"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query("x113_seasonal_backtest")
def x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest with a seasonal-naive baseline: predict each
    (event_type, hour)'s count from the SAME hour one week earlier, then
    score MAE / bias / coverage per type over the hours where both
    exist. The evaluation harness m02's Prophet twin would plug into —
    expressed as one hourly aggregate + a self-equi-join on the shifted
    hour key (both sides derive from the same KB-bounded hourly frame).
    All-integer errors -> bit-exact oracle."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    hourly = ev.groupBy(
        F.date_trunc("hour", ts).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    pred = hourly.select(
        (F.col("hour") + F.expr("INTERVAL 7 DAYS")).alias("hour"),
        "event_type",
        F.col("c").alias("c_pred"),
    )
    scored = hourly.join(pred, ["hour", "event_type"]).select(
        "hour",
        "event_type",
        "c",
        "c_pred",
        (F.col("c") - F.col("c_pred")).alias("err"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(
            F.sum(F.abs("err")).cast("double") / F.count(F.lit(1)), 12
        ).alias("mae"),
        F.round(
            F.sum("err").cast("double") / F.count(F.lit(1)), 12
        ).alias("bias"),
        F.max(F.abs("err")).alias("worst_abs_err"),
    )


@query("x111_source_overlap_matrix")
def x111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: for every (source_a,
    source_b) pair, how many Jaccard near-dup pairs straddle them — the
    which-source-copies-from-which diagnostic that decides dedup ORDER
    in a multi-source corpus (dedup the copier against the original,
    not vice versa). Pair stream is x02's capped inverted-index plan;
    the two source lookups are id-keyed joins; the matrix itself is
    |sources|² and sorted canonically (a<=b)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


@query("x109_session_paths")
def x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths (the Sankey/product-analytics view of event
    sequences): x10's sessionization, each session's ordered event-type
    chain joined with '>', counted across sessions and users. Ordering
    inside a session is pinned by array_sort over (ts, event_id) structs
    — collect_list alone is arrival-ordered and non-deterministic. The
    global top-20 is a TakeOrdered (no single-partition sort of the full
    path table); the (count desc, path) tiebreak makes the cut set
    engine-deterministic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            ts.alias("ts"),
                            F.col("event_id").alias("event_id"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ),
                lambda s: s.et,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@query("x110_label_centroids")
def x110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids + per-dimension variance (cluster
    diagnostics: a collapsed dimension shows near-zero variance; the
    centroid table is what SemDeDup/IVF builds start from). posexplode
    to (label, dim, val), one hash aggregate with decimal-exact moment
    sums — output is |labels|×|dims| rows; the only corpus-sized step is
    the map-side partial aggregate of the exploded stream.

    FP discipline: values are quantized to 1e-12 units with
    floor(x*1e12 + 0.5) — PURE double arithmetic, bit-identical in any
    IEEE engine — then summed as BIGINT. A decimal(…,12) cast would hit
    engine-specific tie rounding (HALF_UP vs HALF_EVEN) because floats
    are dyadic rationals; measured: 3/32000 dims off by exactly 1e-12
    under the decimal formulation."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "val")
    )
    vd = F.col("val").cast("double")
    q1 = F.floor(vd * F.lit(1e12) + F.lit(0.5))
    q2 = F.floor((vd * vd) * F.lit(1e12) + F.lit(0.5))
    agg = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q1).alias("s1"),
        F.sum(q2).alias("s2"),
    )
    s1d = F.col("s1").cast("double") / F.lit(1e12)
    s2d = F.col("s2").cast("double") / F.lit(1e12)
    n = F.col("n")
    return agg.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        n.alias("n_vecs"),
        # no ROUND: every input is an exact integer, the expression is a
        # fixed chain of IEEE ops — rounding would CREATE divergence
        # (quantized means land on exact 1e-12 grid midpoints, where
        # Spark HALF_UP and DuckDB's double-round disagree; measured
        # 3/640 off by 1e-12 with round, 0 without)
        (s1d / n).alias("centroid"),
        ((n * s2d - s1d * s1d) / (n * (n - F.lit(1)))).alias("dim_var"),
    )


@query("x108_bigram_logprob")
def x108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity proxy (operators/text.
    bigram_logprob): context-aware document quality scoring, the upgrade
    of x72's unigram LM — CCNet-style LM filtering expressed as three
    bounded count tables + one doc-keyed aggregate. λ weights are
    bit-pinned to the oracle (repr'd into the SQL) so the interpolation
    constant itself cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_logprob(docs)


@query("x106_count_anomaly")
def x106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact z-score anomaly detection on hourly event-count series —
    the oracle-backed counterpart of m01's (import-gated) IsolationForest:
    per event_type, hours whose count deviates >3 sigma from that type's
    mean. All moments come from INTEGER power sums (n, S1=Σc, S2=Σc²),
    so mean/variance are exact rationals evaluated in one fixed double
    expression — bit-reproducible in any IEEE engine, no
    Welford/stddev_samp accumulation-order dependence. One corpus scan
    to (hour, type) counts (map-side partial agg); the stats join is
    |types|-row broadcast."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    hourly = ev.groupBy(
        F.date_trunc("hour", ts).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    # Per-type moments as WINDOW aggregates over the hourly frame — a
    # separate stats .agg() joined back re-executes the raw scan (no
    # subplan sharing); the window keeps one corpus scan and stays
    # distributed (partitioned by event_type).
    wt = W.partitionBy("event_type")
    n = F.count(F.lit(1)).over(wt)
    s1 = F.sum("c").over(wt)
    s2 = F.sum(F.col("c") * F.col("c")).over(wt)
    mean = s1.cast("double") / n
    var = (n * s2 - s1 * s1).cast("double") / (n * (n - F.lit(1)))
    z = (F.col("c") - mean) / F.sqrt(var)
    return hourly.select(
        "hour",
        "event_type",
        "c",
        F.round(mean, 12).alias("mean_c"),
        F.round(z, 12).alias("z"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


@query("x107_seasonality_index")
def x107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: mean(value | dow) /
    mean(value) — the exact-arithmetic seasonal-strength diagnostic
    behind m02's (import-gated) Prophet weekly component. Decimal-exact
    value sums make both means order-independent; the per-type overall
    mean rides a |types|-row broadcast join. Mon=0 dow matches the
    reference's convention (W-2)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    per_dow = ev.groupBy(
        "event_type", weekday_mon0(ts).alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
    )
    # overall per-type mean via a window over the (type, dow) frame —
    # same single-scan rationale as x106
    wt = W.partitionBy("event_type")
    mean_dow = F.col("s").cast("double") / F.col("n")
    mean_all = F.sum("s").over(wt).cast("double") / F.sum("n").over(wt)
    return per_dow.select(
        "event_type",
        "dow",
        F.col("n").alias("n_events"),
        F.round(mean_dow, 12).alias("mean_dow"),
        F.round(mean_dow / mean_all, 12).alias("seasonality_index"),
    )


@query("x104_canonical_dedup")
def x104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection (operators/dedup.canonical_map): x31's
    Jaccard near-dup clusters resolved to KEEP decisions — every doc maps
    to its cluster's highest-quality member (ties to lowest id), so dedup
    deletes the WORST copies instead of arbitrary ones. Cluster frame is
    pair-bounded (tiny); the corpus only flows through two id-keyed
    joins."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    clusters = dedup.dup_clusters(pairs)
    scores = text.quality_score(docs).select("doc_id", "quality")
    return dedup.canonical_map(docs, clusters, scores)


@query("x105_leakage_safe_split")
def x105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the md5 bucket is computed on
    the near-dup CLUSTER id, not the doc id, so two near-duplicate
    documents can never land in different splits (the train/test
    contamination channel a doc-keyed split like x37 leaves open).
    Per-split rollup: docs, clusters, chars."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
    clusters = dedup.dup_clusters(pairs)
    wc = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    b = hash_bucket(F.col("cluster_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return wc.withColumn("split", split).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _jaccard_cluster_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized Jaccard near-dup CLUSTER MAP (doc_id, cluster_id
    — two longs, bit-exact through parquet): x104/x105's shared mining
    stage (shingle inverted index -> exact verify -> connected
    components) persisted once per corpus version. In a deployment this
    is the dedup pipeline's standing output table; every consumer
    (canonical selection, split assignment, reporting) reads it instead
    of re-mining — the same amortization split as x97b/x117b."""
    import os

    state = _state_dir(sf_dir, "documents", "jaccard_clusters")
    if not os.path.exists(os.path.join(state, "_SUCCESS")):
        docs = load_table(spark, sf_dir, "documents")
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_shingle_freq=50
        )
        dedup.dup_clusters(pairs).write.mode("overwrite").parquet(state)
    return spark.read.parquet(state)


@query("x104b_canonical_dedup_materialized")
def x104b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x104's canonical-copy selection reading the MATERIALIZED cluster
    map: the O(sum df^2) pair-mining + iterative connected-components
    stage is amortized into a standing artifact, and the per-run cost is
    two id-keyed joins plus the pair-bounded rank window. The cluster
    frame is (long, long) so it roundtrips parquet bit-exactly and the
    oracle is UNCHANGED from x104 — the driver hash proves materialized
    == recomputed."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _jaccard_cluster_state(spark, sf_dir)
    scores = text.quality_score(docs).select("doc_id", "quality")
    return dedup.canonical_map(docs, clusters, scores)


@query("x105b_leakage_safe_split_materialized")
def x105b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x105's leakage-safe split reading the MATERIALIZED cluster map
    (same artifact as x104b): per-run work is one left join + the
    summary rollup. Oracle UNCHANGED from x105."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    clusters = _jaccard_cluster_state(spark, sf_dir)
    wc = (
        docs.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    b = hash_bucket(F.col("cluster_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return wc.withColumn("split", split).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query("x102_temperature_mixture")
def x102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights over (source, lang) strata —
    the multilingual-LM sampling rule (q_s ∝ p_s^α, α=0.7): upweights
    tail strata without letting any head stratum dominate. One scan to
    stratum counts; every later step runs on the |sources|×|langs|
    summary frame (KB-scale — the two global "joins" are
    broadcast-trivial by construction). Output per stratum: raw share p,
    tempered share q, target doc count for a 10k-doc budget, and the
    capped keep rate — exactly the table a mixture_sample (x69) run
    would consume. Term sums follow the x94 decimal pattern so the
    oracle hash is FP-order-proof."""
    from ..operators.packing import temperature_mixture

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture(
        docs, strata_cols=("source", "lang"), alpha=0.7, budget=10_000
    )


@query("x103_quality_calibration")
def x103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the heuristic quality score
    (operators/text.quality_score): percent_rank within each source makes
    scores comparable ACROSS heterogeneously-scored sources — the
    standard calibration step before blending corpora with one global
    quality threshold. The window partitions by source (distributed; no
    global sort): calib_bucket = floor(10·pct) replaces a global ntile so
    the plan has zero single-partition stages. doc_id tiebreak makes
    percent_rank engine-deterministic."""
    from pyspark.sql import Window as W

    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs, extra_cols=("source",))
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    pct = F.percent_rank().over(w)
    return q.select(
        "doc_id",
        "source",
        "quality",
        F.round(pct, 12).alias("calib_pct"),
        F.least(F.floor(pct * 10).cast("int"), F.lit(9)).alias("calib_bucket"),
    )


@query("x131_incremental_rollup")
def x131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data aggregate maintenance (operators/rollup): the standing
    daily rollup absorbs a late-arriving 5% of events by ALGEBRAIC
    merge — aggregate the batch, full-outer join on the group keys,
    add counts/decimal sums, min/max the extremes. History is never
    rescanned; cost tracks the batch and touched groups. The ORACLE is
    the one-shot aggregate over ALL events: decimal sums are
    associative, so merge(old, delta) must be bit-identical to it —
    the same incremental-equals-batch-truth contract as x117b, for the
    aggregation side."""
    from ..operators import rollup

    ev = load_table(spark, sf_dir, "events")
    on_time = ev.filter(F.col("event_id") % 20 != 19)
    late = ev.filter(F.col("event_id") % 20 == 19)
    merged = rollup.merge_rollup(
        rollup.daily_rollup(on_time), rollup.daily_rollup(late)
    )
    return rollup.emit_rollup(merged)


@query("x130_histogram_quantiles")
def x130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles (the Prometheus/monitoring
    pattern, and x98's quantile sibling): per (type, day) the event
    values reduce to counts over a FIXED 250-bin grid — tiny, exactly
    mergeable summaries — and weekly p50/p90/p99 come from the merged
    bins by lower-edge rule. Deterministic by construction (no
    sketch RNG, no rank interpolation), so the oracle is exact; grid
    resolution is the documented error, the trade that makes the
    summary mergeable across days/shards at 100 TB. Raw events are
    scanned ONCE (the daily reduce); the merge and quantile extraction
    touch only |types|*|days|*250 summary rows."""
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    # fixed width-2 grid over the value domain [0, 500): bin = floor(v/2)
    bin_ = F.least(F.floor(F.col("value") / 2).cast("long"), F.lit(249))
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("week", ts).alias("week"),
        F.to_date(ts).alias("day"),
        bin_.alias("bin"),
    ).agg(F.count(F.lit(1)).alias("c"))
    weekly = daily.groupBy("event_type", "week", "bin").agg(
        F.sum("c").alias("c")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type", "week").orderBy("bin")
    cum = weekly.withColumn(
        "cum", F.sum("c").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    ).withColumn("total", F.sum("c").over(W.partitionBy("event_type", "week")))

    def q(p: float, alias: str):
        # smallest bin whose cumulative count reaches ceil(p * total);
        # emitted value is the bin's LOWER edge (bin * 2.0)
        need = F.ceil(F.lit(p) * F.col("total"))
        return F.min(
            F.when(F.col("cum") >= need, F.col("bin"))
        ).cast("double").alias(alias)

    return (
        cum.groupBy("event_type", "week")
        .agg(
            F.max("total").alias("n_events"),
            (q(0.5, "b50")),
            (q(0.9, "b90")),
            (q(0.99, "b99")),
        )
        .select(
            "event_type",
            "week",
            "n_events",
            (F.col("b50") * 2).alias("p50"),
            (F.col("b90") * 2).alias("p90"),
            (F.col("b99") * 2).alias("p99"),
        )
    )


@query("x134_epoch_shuffle")
def x134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every doc gets a (shard, pos)
    training-order coordinate — shard from the md5 key (32 shards), pos
    by intra-shard key order. Readers stream shards round-robin and get
    a seed-reproducible global permutation with NO global sort: the only
    shuffle is the 32-way hash exchange + per-shard sort (each shard
    sorts independently — the scale shape a single row_number over a
    global ORDER BY cannot have). Seed ':42' is part of the key, so
    epoch 2 is the same query with a different literal."""
    from ..operators.ordering import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, seed=42, shards=32)


@query("x135_length_batches")
def x135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching (padding-efficiency primitive): docs are
    bucketed by length (256-char grid, capped), shuffled within the
    bucket by a seeded md5 key, and cut into batches of 32; output per
    (bucket, batch) = size, max length, and padding waste (what a
    pad-to-longest collator burns). Length-sorted batching is how
    sequence trainers keep pad tokens <10%; the whole plan is one scan +
    one per-bucket window + one group-all — every stage partitions by
    the bucket/batch keys."""
    from ..operators.ordering import length_batches

    docs = load_table(spark, sf_dir, "documents")
    return length_batches(docs, seed=7, bucket_width=256, batch_size=32)


@query("x136_content_checksum")
def x136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-source content checksum (operators/profile.
    content_checksum): SUM of a 60-bit md5 fold of id:text per row as
    DECIMAL(38,0) — the copy/migration integrity primitive (source and
    destination each run one scan + one aggregate, then a KB-scale
    compare; no sort, no co-location). Commutative addition -> identical
    under any partitioning; decimal -> bit-exact vs the DuckDB twin."""
    from ..operators.profile import content_checksum

    docs = load_table(spark, sf_dir, "documents")
    return content_checksum(docs)


@query("x138_snapshot_diff")
def x138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff (operators/profile.snapshot_diff): old/new
    snapshots derived deterministically from the documents table (10%
    deleted, 10% not-yet-present, 20% edited), reduced to (id, md5)
    per side and full-outer-joined on the id — the shuffle carries
    digests, not documents. Output: per-status row counts (the
    migration-validation companion to x136's checksum)."""
    from ..operators.profile import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3)
    new = docs.filter(F.col("doc_id") % 10 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@query("x139_zorder_layout")
def x139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout, scored by min/max-stats pruning power
    (operators/layout.layout_pruning_stats): orders clustered on
    (o_custkey, orderdate-epoch-day) into 128 model files; for a ~5%
    range probe on EACH dimension, count the files a footer-stats
    reader must open. Linear wins the leading column outright and
    degrades the trailing one to ~all files; the Morton curve holds
    both near sqrt. The key is pure shift/mask map-side arithmetic
    (WholeStageCodegen, no shuffle); integer-exact -> bit-exact DuckDB
    twin. The 100 TB writer story: repartitionByRange(zkey) + write,
    one exchange."""
    from ..operators.layout import layout_pruning_stats

    o = load_table(spark, sf_dir, "orders")
    return layout_pruning_stats(
        o,
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01"))),
        log2_buckets=7,
    )


@query("x144_hilbert_layout")
def x144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way layout comparison (operators/layout.curve_pruning_stats):
    linear vs Z-order vs HILBERT clustering of orders on (o_custkey,
    orderdate-epoch-day), scored by min/max file-stats pruning for a ~5%
    probe on each dimension. The Hilbert fold is the classic per-bit
    rotate-and-accumulate walk unrolled into 16 flat projection stages —
    pure integer when/and/xor arithmetic, map-side, no UDF, bit-exact
    against the generated DuckDB CTE chain. The continuity property
    (consecutive indexes are grid neighbors — pytest-pinned) is what
    tightens per-tile spans vs the Z-curve's diagonal seams; this query
    quantifies that on real footer-stat geometry."""
    from ..operators.layout import curve_pruning_stats

    o = load_table(spark, sf_dir, "orders")
    return curve_pruning_stats(
        o,
        F.col("o_custkey"),
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01"))),
        log2_buckets=7,
    )


@query("x140_priority_dedup")
def x140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact dedup with survivorship (operators/dedup.
    priority_dedup): identical text arriving from several sources keeps
    the copy from the highest-priority source (curated > books > web),
    ids break ties — the multi-corpus merge step where the KEPT row's
    source/license matters, not just the text. Exercised against a
    planted overlay: every doc_id % 7 == 3 document is re-delivered
    from the 'mirror' source (which outranks every src*), so the kept
    set provably switches source while n_copies/n_sources count both.
    Shuffle carries (hash, prio, id, source) — never the text."""
    docs = load_table(spark, sf_dir, "documents")
    mirror = (
        docs.filter(F.col("doc_id") % 7 == 3)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        .withColumn("source", F.lit("mirror"))
    )
    corpus = docs.unionByName(mirror)
    return dedup.priority_dedup(corpus, ["mirror"]).orderBy("doc_id")


@query("x141_delete_propagation")
def x141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation through the MATERIALIZED
    Jaccard cluster state (operators/dedup.propagate_deletes): a
    deterministic erase list (doc_id % 17 == 5) is broadcast against
    the standing cluster map; every cluster losing a member reports its
    canonical re-election (same quality-desc/id-asc rule as x104) and
    before/after sizes — deletion costs a state-sliver update, never a
    corpus re-mine. Oracle recomputes clusters + election from the raw
    tables (the x104b pattern: the driver hash proves state == truth)."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = _jaccard_cluster_state(spark, sf_dir)
    deletes = docs.filter(F.col("doc_id") % 17 == 5).select("doc_id")
    scores = text.quality_score(docs).select("doc_id", "quality")
    return dedup.propagate_deletes(clusters, deletes, scores).orderBy(
        "cluster_id"
    )


@query("x137_embedding_spectrum")
def x137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 covariance eigenvalues + explained-variance ratios
    (operators/linalg.embedding_spectrum): the anisotropy / intrinsic-
    dimension diagnostic for the embedding corpus. Corpus cost = the
    x128b GEMM-partial pass only; the eigendecomposition runs on the
    collected d x d matrix (bounded driver artifact). Rows-only (float
    eig); pytest pins parity vs numpy on the collected vectors."""
    from ..operators.linalg import embedding_spectrum

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_spectrum(emb)


@query("x132_bpe_merges")
def x132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (operators/bpe.fit_bpe_merges): 40 merges fit
    on the documents corpus via the word-count sufficient statistic —
    ONE distributed scan+shuffle; the merge loop runs on the bounded
    top-20k word table (the PQ-codebook pattern). Deterministic (count
    tie-breaks to lexicographic min pair), but engine-iterative ->
    rows-only driver check; pytest pins the merges against an
    independent naive full-recount trainer (test_bpe.py)."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.fit_bpe_merges(docs, n_merges=40, vocab_cap=20_000)
    return spark.createDataFrame(
        [(i, a, b, a + b, int(n)) for i, (a, b, n) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_count long",
    ).orderBy("rank")


@query("x133_bpe_segment_stats")
def x133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application under the learned merges (operators/bpe.
    bpe_segment_stats): per-source word/piece accounting — the
    token-budget planning table for a tokenizer change. Corpus-sized
    work stays JVM-side (explode + groupBy); Python segmentation runs
    only over the distinct-word frame (vocab-sized pandas UDF, merge
    ranks broadcast). Rows-only driver check; pytest pins the stats
    against a pure-Python end-to-end reference."""
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.fit_bpe_merges(docs, n_merges=40, vocab_cap=20_000)
    return bpe.bpe_segment_stats(docs, merges).orderBy("source")


@query("x129_token_budget_select")
def x129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted per-source selection: each source contributes its
    longest documents until a fixed token budget fills (greedy by
    n_chars desc, doc_id tiebreak) — the mixture-assembly step where a
    training run buys N tokens per domain, not N documents. One scan,
    one per-source window (rank + running token sum), integer-exact.
    The running sum is computed over the SAME ordering that ranks the
    docs, so the kept set is exactly the maximal prefix within
    budget."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    scored = docs.select(
        "doc_id", "source", "n_chars", n_tok.cast("long").alias("n_tokens")
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return scored.filter(F.col("cum_tokens") <= 3000).select(
        "doc_id", "source", "n_chars", "n_tokens", "cum_tokens"
    )


@query("x126_substring_span_dedup")
def x126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (dedup.substring_span_dedup,
    the Lee et al. 2022 method's declarative form): every token covered
    by an 8-gram occurring in >= 2 distinct documents is removed — the
    boilerplate/template remover that whole-document dedup (x01/x02)
    structurally misses. Positional tokens and grams are map-side; the
    hot-gram set is one distinct-count aggregate; reassembly is a
    positional anti-join + sort_array(collect_list) — string-exact
    against the SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_span_dedup(docs, n=8, min_df=2)


@query("x128_embedding_covariance")
def x128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the embedding corpus
    (operators/linalg.embedding_covariance): map-side upper-triangle
    outer products (broadcast 2080-row pair grid — no self-join,
    vectors never shuffle) reduced by one decimal-exact grouped
    aggregation; 2080 cells out for d=64. The whitening/PCA input
    every embedding dedup/retrieval pipeline computes before cosine;
    Summarizer's float partial merges can't be hash-checked, this
    can."""
    from ..operators.linalg import embedding_covariance

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, dim=64)


@query("x128b_embedding_covariance_gemm")
def x128b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The covariance x128 computes, in the shape that survives 100 TB
    (operators/linalg.embedding_covariance_gemm — the DEFAULT path): one
    mapInPandas pass of per-partition numpy X^T X partials (each
    partition emits d(d+1)/2 float rows, independent of how many vectors
    it holds) and one 2080-key reduce — no 2080x row fan-out of the
    corpus scan, no join anywhere. Float partial-merge order is not
    bit-reproducible across partitionings, so this is a rows-only entry;
    gemm == x128's exact decimal grid to one 1e-9 quantum is pinned in
    pytest (test_ann_index), and the plan shape (single scan, zero
    joins, MapInPandas) is gated in test_plan_quality."""
    from ..operators.linalg import embedding_covariance_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance_gemm(emb, dim=64)


@query("x128c_embedding_covariance_gemm_q6")
def x128c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEMM covariance path (x128b — the 100 TB DEFAULT) on a 1e-6
    quantization grid, which absorbs the float partial-sum merge-order
    noise (~1e-13 absolute here) and makes the SCALE path itself
    hash-checkable against the DuckDB oracle — not just its exact
    decimal twin x128. Same single-scan / zero-join / MapInPandas plan
    as x128b; only the rounding quantum differs. (A cell sitting within
    ~1e-7 of a rounding boundary could still flip — none of the 2080 do
    on this corpus, and the 1e-9 gemm==exact pytest pin bounds the
    noise three orders below the quantum.)"""
    from ..operators.linalg import embedding_covariance_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_covariance_gemm(emb, dim=64, quant=6)


@query("x127_weighted_sample")
def x127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-weighted document sampling per language
    (operators/sampling.weighted_sample — sequential Poisson pps): the
    20 winners per lang by priority u/n_chars, u hash-derived. The
    pick-long-documents-proportionally step of corpus subsetting, with
    no RNG state: stable under repartitioning/backfill and exactly
    reproducible in the oracle (single IEEE division, no pow/ln). One
    scan + one per-stratum rank window."""
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs.select("doc_id", "lang", "n_chars"),
        weight_col="n_chars",
        k=20,
        strata_col="lang",
    )


def _ivf_index_dir(sf_dir: str) -> str:
    """Per-sf_dir cache for x125's persisted IVF index (the shared
    _state_dir mtime+size invalidation scheme)."""
    return _state_dir(sf_dir, "embeddings", "ivf_index")


@query("x125_ann_ivf_persisted")
def x125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe against the PERSISTED IVF index (ann_index.
    save_ivf_index / load_ivf_index): the corpus lives partitionBy(cell)
    on disk with its codebook beside it, built once per sf_dir and
    served from there — the vector-store deployment shape that
    amortizes the k-means fit x79/x122 pay per run. Probing all cells
    (nprobe == k) makes the result EXACT, so the oracle is x06's
    brute-force cosine SQL; the partition-pruned nprobe<k path (the
    scan touches only probed cells' files) is plan-gated in
    test_plan_quality."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _ivf_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "centroids")):
        ann_index.save_ivf_index(emb, idx, k=16)
    indexed, centroids = ann_index.load_ivf_index(spark, idx)
    out = ann_index.probe_ivf(
        indexed, emb.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=16
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x142_ann_index_append")
def x142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental APPEND to the persisted IVF index (ann_index.
    append_to_ivf_index): the index is built once over 90% of the
    corpus, then the arriving 10% (vec_id % 10 == 7) quantizes against
    the FROZEN codebook in one map-side pass and appends into its cell
    directories — no k-means refit, no standing-file rewrite. Probing
    the maintained index with nprobe == k is exact, so the oracle is
    x06's brute-force cosine SQL over the WHOLE corpus: the driver hash
    proves build-90 + append-10 == index-over-100 == truth. Cell
    assignment parity with the quantizer rule (euclidean argmin) and
    the append-touches-only-its-cells write are pytest-gated."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivf_append")
    marker = os.path.join(idx, "_appended")
    if not os.path.exists(marker):
        ann_index.save_ivf_index(
            emb.filter(F.col("vec_id") % 10 != 7), idx, k=16
        )
        ann_index.append_to_ivf_index(
            emb.filter(F.col("vec_id") % 10 == 7), idx
        )
        open(marker, "w").close()
    indexed, centroids = ann_index.load_ivf_index(spark, idx)
    out = ann_index.probe_ivf(
        indexed, emb.filter(F.col("vec_id") < 10), centroids, k=5, nprobe=16
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x143_ann_index_delete")
def x143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the persisted IVF index (ann_index.
    delete_from_ivf_index): the deterministic erase list
    (vec_id % 17 == 5) broadcasts into a semi-join that finds the
    affected cells; ONLY those cell directories are rewritten (dynamic
    partition overwrite of the partition-pruned survivor slice), cells
    erased to empty are dropped. The vector-store counterpart of x141's
    cluster-state delete propagation: deletion costs a state sliver,
    never an index rebuild. Probing the post-delete index with
    nprobe == k is exact, so the oracle is brute-force cosine SQL over
    the surviving corpus — the driver hash proves the sliver rewrite
    left exactly the right vectors behind."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivf_rtbf")
    marker = os.path.join(idx, "_deleted")
    if not os.path.exists(marker):
        ann_index.save_ivf_index(emb, idx, k=16)
        ann_index.delete_from_ivf_index(
            spark, idx, emb.filter(F.col("vec_id") % 17 == 5).select("vec_id")
        )
        open(marker, "w").close()
    indexed, centroids = ann_index.load_ivf_index(spark, idx)
    queries_df = emb.filter(
        (F.col("vec_id") < 10) & (F.col("vec_id") % 17 != 5)
    )
    out = ann_index.probe_ivf(indexed, queries_df, centroids, k=5, nprobe=16)
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x145_live_index_probe")
def x145(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe of the LIVE two-tier vector index MID-fold (streaming/
    vector_stream.load_live_index): the index stands on 70% of the
    corpus, three streamed append epochs deliver the rest — epoch 0
    re-delivers ids already STANDING (vec_id % 10 == 6), epoch 1
    re-delivers epoch 0's ids ACROSS epochs (% 10 == 7) — and the
    appends are left UNFOLDED, so the probe exercises exactly the state
    a serving user reads between maintenance folds: append tier deduped
    against itself (latest epoch wins), standing tier anti-joined on
    superseded ids. Each append goes through ``append_batch`` — the
    same function the availableNow stream's foreachBatch sink calls
    (frozen-codebook map-side quantize, idempotent per-epoch dir).
    Probing with nprobe == k is exact, and the deduped union IS the
    whole corpus, so the oracle is x06's brute-force cosine SQL — a
    duplicate surviving either re-delivery would occupy a top-k rank
    slot and break the hash. x142/x143 hash the batch append/delete
    paths; this hashes the exactly-once READER those folds feed."""
    import os

    from ..operators import ann_index
    from ..streaming.vector_stream import append_batch, load_live_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivf_live")
    marker = os.path.join(idx, "_streamed")
    if not os.path.exists(marker):
        ann_index.save_ivf_index(
            emb.filter(F.col("vec_id") % 10 < 7), idx, k=16
        )
        mod = F.col("vec_id") % 10
        append_batch(spark, emb.filter(mod.isin(6, 7)), 0, idx)
        append_batch(spark, emb.filter(mod.isin(7, 8)), 1, idx)
        append_batch(spark, emb.filter(mod == 9), 2, idx)
        open(marker, "w").close()
    live = load_live_index(spark, idx)
    out = ann_index.probe_ivf(
        live,
        emb.filter(F.col("vec_id") < 10),
        ann_index._load_centroid_matrix(spark, idx),
        k=5,
        nprobe=16,
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x146_ivfpq_probe")
def x146(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC probe of the composed two-level index (ann_index.
    save_ivfpq_index / search_ivfpq): coarse IVF cell prune -> per-cell
    PQ/ADC shortlist over the 32x-compressed codes tier -> exact cosine
    re-rank — the served composition of x125's partition pruning and
    x75's ADC machinery, and the documented escape from the flat GEMM
    assignment's per-worker codebook residency bound (SCALE.md round-10
    residency table: the k-proportional resident term is replaced by
    m x pq_k subcodes). Probing ALL cells (nprobe == coarse k) with the
    shortlist covering the corpus makes the re-rank exact, so the
    oracle is x06's brute-force cosine SQL — the x125/x75b pin applied
    to the composition; the approximate nprobe x shortlist trade is on
    RECALL.md's curve and the pruned codes-scan plan shape is gated in
    test_ann_index (PartitionFilters on cell)."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivfpq_index")
    if not os.path.exists(os.path.join(idx, "pq_codebooks")):
        ann_index.save_ivfpq_index(emb, idx, k=16, m=8, pq_k=16)
    out = ann_index.search_ivfpq(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=16,
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x147_ivf_split_probe")
def x147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe of an IVF index AFTER cell-split maintenance (ann_index.
    split_cells): the codebook is grown until every cell's occupancy is
    under |corpus|/16 — each hot cell 2-means'd into two children, only
    those directories rewritten, the centroid table kept gap-free — and
    the probe covers every post-split cell (nprobe == k'), so the
    oracle is x06's brute-force cosine SQL: the split moves rows
    between directories and must never change what a full probe sees
    (a row lost to a child directory or an unreachable new cell would
    vacate a top-k rank slot and break the hash). This is the
    occupancy-maintenance escape for the append path's frozen-k drift
    (SCALE.md round-10 fold A/B measures the cost side); x125/x142/
    x145 hash build/append/live-read, this hashes the SPLIT."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivf_split")
    marker = os.path.join(idx, "_split_done")
    if not os.path.exists(marker):
        ann_index.save_ivf_index(emb, idx, k=8)
        target = max(2, emb.count() // 16)
        for _ in range(8):
            if (
                ann_index.split_cells(
                    spark, idx, target_occupancy=target
                ).count()
                == 0
            ):
                break
        open(marker, "w").close()
    indexed, centroids = ann_index.load_ivf_index(spark, idx)
    out = ann_index.probe_ivf(
        indexed,
        emb.filter(F.col("vec_id") < 10),
        centroids,
        k=5,
        nprobe=len(centroids),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x149_ivfpq_split_probe")
def x149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC probe AFTER cell-split maintenance on the TWO-TIER index
    (verdict r10 item 1 — the composition x147 and x146 each pin half
    of): split_cells on a PQ-carrying index grows the coarse codebook
    AND relocates the hot cells' 8-byte code rows into the child
    directories (a re-partition, never a re-encode — codes encode raw
    vectors; ann_index._sync_codes_to_cells), crash-safe behind the
    codes/_split_pending.json write-ahead manifest. The probe covers
    every post-split cell (nprobe == k') with the shortlist spanning
    the corpus, so the oracle is x06's brute-force cosine SQL: a code
    row left in a directory its vector vacated would not break THIS pin
    (full probe scans every cell), but a row LOST by the relocation, a
    centroid-table gap, or a codes/cells disagreement feeding the
    re-rank the wrong cell pruning would vacate a rank slot and break
    the hash. The narrower-probe regime is pytest-pinned
    (test_split_cells_relocates_pq_codes: tiers agree per id,
    codes bit-identical through the split)."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivfpq_split")
    marker = os.path.join(idx, "_split_done")
    if not os.path.exists(marker):
        ann_index.save_ivfpq_index(emb, idx, k=8, m=8, pq_k=16)
        target = max(2, emb.count() // 16)
        for _ in range(8):
            if (
                ann_index.split_cells(
                    spark, idx, target_occupancy=target
                ).count()
                == 0
            ):
                break
        open(marker, "w").close()
    out = ann_index.search_ivfpq(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=len(ann_index._ivfpq_meta(spark, idx)[0]),
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x150_ivfpq_refit_probe")
def x150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC probe AFTER a codes-only PQ subcodebook refit (verdict
    r11 item 1 — ann_index.refit_pq_codebooks): the index is built on
    80% of the corpus, the rest arrives through the exactly-once keyed
    append (write-ahead txn), and the refit then sample-fits NEW
    subcodebooks over the live corpus and rewrites ONLY the 8-byte
    codes tier under the staged-swap commit manifest — cells/ and
    centroids/ are byte-identical through it (pytest-pinned). The full
    probe (nprobe == k, shortlist == |corpus|) must equal brute force —
    x06's SQL: the re-rank uses full vectors, so the pin holds for ANY
    codebooks, and what the hash actually guards is the refit's row
    accounting — a code row LOST by the staged rewrite (or an id
    duplicated by a torn swap) would vacate or double-fill a rank slot.
    The recall-at-budget effect of refitting is RECALL.md's axis; the
    drift trigger/remedy loop is pytest-pinned
    (test_refit_pq_codebooks_is_codes_only_and_recovers_drift)."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivfpq_refit")
    marker = os.path.join(idx, "_refit_done")
    if not os.path.exists(marker):
        base = emb.filter(F.col("vec_id") % 5 != 0)
        arriving = emb.filter(F.col("vec_id") % 5 == 0)
        ann_index.save_ivfpq_index(base, idx, k=16, m=8, pq_k=16)
        ann_index.append_to_ivfpq_index(arriving, idx, batch_id=0)
        ann_index.refit_pq_codebooks(spark, idx)
        open(marker, "w").close()
    out = ann_index.search_ivfpq(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=16,
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x151_ivfpq_residual_probe")
def x151(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC probe of a RESIDUAL-encoded index (verdict r11 item 4 —
    save_ivfpq_index residual=True): codes quantize r = x_norm -
    c_norm[cell] at the same 8-byte budget, the faiss-default IVF+PQ
    composition, and the ADC score re-adds the per-cell anchor term
    <q, c_norm[cell]> so shortlists merge correctly across cells. Built
    on 80% of the corpus with the rest arriving through the keyed
    append (residual encode against the frozen centroids+books). Full
    probe == x06 brute force: the hash guards the residual arithmetic's
    row accounting end to end (build encode, append encode, anchor-term
    scoring feeding the re-rank the right candidates at full shortlist).
    When residual is WORTH enabling is corpus-dependent and measured,
    not assumed — RECALL.md's round-12 A/B covers both regimes (tight
    coarse cells: ~64x lower quantization error, the recall mechanism;
    loose isotropic cells like this testdata: raw wins — the build-time
    mean-qerr baseline is the free decision rule); the residual split
    re-encode is pytest-pinned
    (test_residual_split_reencodes_and_crash_repairs)."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivfpq_residual")
    marker = os.path.join(idx, "_built_done")
    if not os.path.exists(marker):
        base = emb.filter(F.col("vec_id") % 5 != 0)
        arriving = emb.filter(F.col("vec_id") % 5 == 0)
        ann_index.save_ivfpq_index(
            base, idx, k=16, m=8, pq_k=16, residual=True
        )
        ann_index.append_to_ivfpq_index(arriving, idx, batch_id=0)
        open(marker, "w").close()
    out = ann_index.search_ivfpq(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=16,
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x152_ivfpq_compact_weighted_refit_probe")
def x152(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC probe AFTER the round-13 maintenance pair (verdict r12
    items 1 + 3a): the index is built on 80% of the corpus, the rest
    arrives through the exactly-once keyed append, then
    ``compact_ivf_index`` bin-packs the per-batch small files with its
    candidate discovery BOUNDED BY THE DIRTY SET (the append recorded
    its landing cells; the pass examines only those leaves plus the
    build's one-time census record — never the standing directory
    census), and ``refit_pq_codebooks(weight_by_error=True)`` refits
    the subcodebooks on the error-proportional importance sample under
    the staged-swap manifest. Full probe (nprobe == k, shortlist ==
    |corpus|) must equal brute force — x06's SQL: the re-rank uses full
    vectors, so the pin holds for ANY codebooks, and what the hash
    guards is ROW ACCOUNTING through both new paths — a row lost (or
    duplicated) by a dirty-set-scoped compaction rewrite, a code row
    lost by the weighted refit's staged rewrite, or a generation-stamp
    mix-up feeding the probe a half-swapped tier would vacate or
    double-fill a rank slot. The bounded-discovery mechanics
    (dirty-mode report, torn-record census degrade) and the weighted
    fit's drift recovery are pytest-pinned; the 9%-mixture remedy is
    measured in SCALE.md round 13."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    idx = _state_dir(sf_dir, "embeddings", "ivfpq_compact_refit")
    marker = os.path.join(idx, "_maint_done")
    if not os.path.exists(marker):
        base = emb.filter(F.col("vec_id") % 5 != 0)
        arriving = emb.filter(F.col("vec_id") % 5 == 0)
        ann_index.save_ivfpq_index(base, idx, k=16, m=8, pq_k=16)
        ann_index.append_to_ivfpq_index(arriving, idx, batch_id=0)
        rep = ann_index.compact_ivf_index(spark, idx)
        assert rep["mode"] == "dirty", rep  # bounded discovery engaged
        ann_index.refit_pq_codebooks(spark, idx, weight_by_error=True)
        open(marker, "w").close()
    out = ann_index.search_ivfpq(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        nprobe=16,
        shortlist=emb.count(),
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 12))


@query("x137b_spectrum_power_iteration")
def x137b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant covariance eigenpair by fixed-count power iteration
    (operators/linalg.spectrum_power_iteration) — the hash-checkable
    conversion of x137's rows-only spectrum slot (verdict r10 item 6):
    the corpus pays only the x128b GEMM-partial pass; the iteration
    runs on the collected q6 covariance (the table x128c already
    hash-pins) with every matvec re-quantized to the 1e-6 grid and
    L-infinity normalization (max(abs) — order-independent, no second
    float sum), so the DuckDB twin is an unrolled 12-level CTE (the
    x96 pagerank trick) that lands bit-identical. x137's top-8
    eigvalsh diagnostic stays registered rows-only — LAPACK
    phase/ordering is the genuinely non-SQL tail — with its numpy
    parity pytest; this pins the shared GEMM -> iterate -> normalize
    machinery in the driver window."""
    from ..operators.linalg import spectrum_power_iteration

    emb = load_table(spark, sf_dir, "embeddings")
    return spectrum_power_iteration(emb, dim=64, iters=12, quant=6)


@query("x148_dedup_stream_update")
def x148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stream's UPDATE path (streaming/dedup_stream.
    rebuild_updated): the corpus folds in as two micro-batches, a third
    batch RE-DELIVERS every doc_id % 20 == 5 with changed text — half
    replaced by unique standalone text (their near-dup edges must
    RETRACT: the component splits, which the star-edge fold can never
    express), half replaced by a STANDING doc's text verbatim (a
    forced MERGE) — and the first-delivery-wins guard diverts them all
    to the redelivered/ quarantine. rebuild_updated then consumes the
    quarantine: latest text per id, pruned pair discovery, cap-flip
    analysis, affected-component recompute, tombstoned append-only txn
    layer. The returned map is the ORACLE's one-shot recursive-CTE
    cluster map over corpus-prime — (old \\ updated) UNION updated —
    so the driver hash proves retraction, merge, and the untouched
    components' passthrough are all exact."""
    import os

    from ..streaming.dedup_stream import (
        current_map,
        fold_batch,
        rebuild_updated,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = _state_dir(sf_dir, "documents", "dedup_stream_upd")
    marker = os.path.join(state, "_rebuilt")
    if not os.path.exists(marker):
        fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 0), 0, state)
        fold_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1, state)
        merge_src = docs.select(
            (F.col("doc_id") + 4).alias("doc_id"),
            F.col("text").alias("m_text"),
        )
        updates = (
            docs.filter(F.col("doc_id") % 20 == 5)
            .join(merge_src, "doc_id", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 40 == 5,
                    F.concat(
                        F.lit("uniq "),
                        F.col("doc_id").cast("string"),
                        F.lit(" standalone replacement text"),
                    ),
                )
                .otherwise(F.coalesce("m_text", "text"))
                .alias("text"),
            )
        )
        fold_batch(spark, updates, 2, state)
        rebuild_updated(spark, state)
        open(marker, "w").close()
    return current_map(spark, state)


@query("x124_skew_salted_join")
def x124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-dim join over a deliberately Zipf-skewed key
    (operators/skew.salted_join): 70% of fact rows share one hot key,
    the pathology that sinks a plain shuffle join at scale — every hot
    row lands on ONE reducer regardless of cluster size. The salt
    spreads the hot key across 8 sub-partitions (dim side replicated 8x
    map-side, no extra shuffle); the dim carries a merge hint so the
    demonstration exercises the shuffle path salting exists for rather
    than degenerating to a local broadcast. Output is the per-tier
    rollup, so the ORACLE is the plain unsalted join — the driver hash
    proves salting is semantically invisible. The AQE skew-split
    counterpart (runtime partition splitting on the same shape) is
    plan-gated in test_plan_quality."""
    from ..operators import skew

    ev = load_table(spark, sf_dir, "events")
    key = (
        F.when(F.col("event_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("event_id") % 1000)
        .cast("long")
    )
    big = ev.select(key.alias("skew_key"), "value")
    dim = spark.range(1000).select(
        F.col("id").alias("skew_key"), (F.col("id") % 5).alias("tier")
    )
    joined = skew.salted_join(big, dim.hint("merge"), ["skew_key"])
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("value", "sum_value")
    )


@query("x123_isoforest_score")
def x123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-forest anomaly scoring with a broadcast model artifact
    (ml/isoforest) — the oracle-backed twin of the reference's M-2
    (pre-trained IsolationForest over the per-key daily feature matrix,
    ``ml_forecast_anomaly.py:214-222``). Features are exact integers per
    (user, day): event count, distinct types, latest hour, weekday —
    the reference's [total, unique_appliances, rolling, dow] shape. The
    24-tree ensemble is a seeded artifact: Spark scores it via one
    Arrow-batched pandas UDF over the broadcast tree table (map-only
    after the feature shuffle); the oracle re-scores via the same trees
    compiled to SQL CASE chains — integer-exact, so this is the one
    pandas-UDF model path the driver can hash-check."""
    from ..ml import isoforest

    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    feats = (
        ev.groupBy("user_id", F.to_date(ts).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.max(F.hour(ts)).cast("long").alias("max_hour"),
        )
        .withColumn("dow", weekday_mon0(F.col("day")).cast("long"))
    )
    scored = isoforest.score_df(feats)
    return scored.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),
        "n_events",
        "n_types",
        "max_hour",
        "dow",
        "sum_depth",
        "avg_path",
        "anomaly",
    )


def _incremental_state_dir(sf_dir: str) -> str:
    """x117b's materialized old-corpus artifacts."""
    return _state_dir(sf_dir, "documents", "incremental_state")


@query("x117b_incremental_clusters_indexed")
def x117b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x117's incremental cluster maintenance reading MATERIALIZED
    old-corpus state — the number a deployment actually pays per batch.
    x117 recomputes the old half's cluster map and shingle index inside
    the timed query (an 11s standing cost that is all SETUP, not
    incremental work); here those artifacts are parquet written once
    (dedup.materialize_incremental_state, built lazily on first touch
    per sf_dir and reused), and the query itself runs only the
    incremental tail: shingle the new batch, probe the stored posting
    INDEX, exact-verify, fold into the stored map via star edges. The
    split is 95% existing / 5% arriving (doc_id % 20) — a realistic
    batch-to-corpus ratio, unlike x117's 50/50 demo split where the
    "tail" is still half the total work.

    Round 9 (VERDICT r8 item 1): the tail now runs through
    ``ngram_jaccard_pairs_incremental_bucketed`` — the posting lookup
    partition-prunes to the batch's shingle buckets and pushes an
    In(shingle_h) parquet filter into the sorted postings (and an
    In(id) filter into the id-sorted old_base for the verify
    re-fetch), so per-batch I/O tracks the matched posting lists, not
    the standing corpus; the round-8 path re-scanned every old posting
    per batch. Same ORACLE as x117 — the one-shot recursive-CTE
    components over the WHOLE corpus — so the driver hash proves the
    bucketed path still reproduces batch truth exactly (the truth is
    split-independent)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    state = _incremental_state_dir(sf_dir)
    if not os.path.exists(os.path.join(state, "old_map")):
        dedup.materialize_incremental_state(
            docs.filter(F.col("doc_id") % 20 != 19),
            state,
            threshold=0.5,
            max_shingle_freq=50,
        )
    old_map = spark.read.parquet(f"{state}/old_map")
    new = docs.filter(F.col("doc_id") % 20 == 19)
    inc = dedup.ngram_jaccard_pairs_incremental_bucketed(
        spark, new, state, threshold=0.5, max_shingle_freq=50
    )
    return dedup.incremental_dup_clusters(old_map, inc)


@query("x122_bitext_margin_blocked")
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale bitext margin mining (similarity.
    margin_topk_match_blocked): the same Artetxe-Schwenk margin result
    as x91, but candidates route through IVF cells (seeded k-means
    codebook over the Spanish side) and match via a cell-keyed
    EQUI-join — no corpus-sized broadcast, no cartesian. x91 broadcasts
    the whole en half (fine for a query set, fatal when the "query set"
    is a monolingual corpus at 100x); this is the shape that survives.
    nprobe == n_cells here, so the oracle is x91's exact SQL — the
    driver hash proves blocked == broadcast bit for bit; at scale
    nprobe drops below n_cells on the standard IVF recall/cost curve.

    Round 6: the codebook/cell assignment is served from the SAME
    persisted per-sf_dir IVF index x125 probes (built once by
    save_ivf_index, cells filtered to the Spanish side by an equi-join
    with documents) — the k-means fit this query used to pay per run is
    amortized into the index build, which is the deployment story: one
    index, many consumers (ANN serving, semantic dedup, bitext mining).
    Plan gate: test_plan_quality asserts the corpus match stays a
    cell-keyed equi-join with no CartesianProduct and no corpus-sized
    broadcast fan-out."""
    import os

    from ..operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    idx = _ivf_index_dir(sf_dir)
    if not os.path.exists(os.path.join(idx, "centroids")):
        ann_index.save_ivf_index(emb, idx, k=16)
    indexed, centroids = ann_index.load_ivf_index(spark, idx)
    src = (
        emb.join(docs.filter(F.col("lang") == "en"), emb.vec_id == docs.doc_id)
        .select("vec_id", "embedding")
    )
    tgt = (
        indexed.join(
            docs.filter(F.col("lang") == "es"),
            indexed.vec_id == docs.doc_id,
        )
        .select("vec_id", "embedding", "cell")
    )
    return similarity.margin_topk_match_indexed(
        src, tgt, centroids, k=4, nprobe=len(centroids)
    )


# ---------------------------------------------------------------------------
# Driver window — the correctness driver checks exactly the FIRST 50
# ``queries()`` entries (insertion order). Round 3 rotates the window so the
# 25 round-2 oracle-backed queries (the remaining TPC-H suite x52-x66, the
# bucketed Q18 variant, packing x67-x69, Q21-onescan x70, profiling x71,
# unigram-LM x72, line dedup x73, embedding clusters x74) earn driver
# CORRECTNESS rows, and the rows-only x30 leaves the window so every slot is
# hash-checkable (50/50 green target; r2 verdict items 1-2).
#
# Kept in the window: the 10 reference-surface gates g01-g10 plus one entry
# per operator family with no other window representative (exact/jaccard/
# embedding dedup, ANN, sessionization, window suite, as-of join,
# attribution, TF-IDF, PII, incremental dedup, quality gate, heavy hitters,
# contamination, exact percentiles).
#
# EXTRAS (positions 51+) stay in ``queries()`` — one entry per operator,
# per the contract — but rely on the pytest oracle-parity/reference suite:
#   rows-only by design ..... x03/x04/x13/x15/x24 (engine-specific
#                             signatures), x30 (approx sketches, tolerance
#                             checks in test_approx), x75-x77 (PQ-ANN /
#                             sketch rollups), m01/m02/m03 (model scorers)
#   oracle-backed, demoted .. redundant driver signal; each operator is
#                             driver-green through another window entry or
#                             was driver-green in CORRECTNESS_r02.json:
#                             r1 demotions x12/x20/x23/x25/x29/x32, plus r3
#                             demotions x07-x09/x11/x14/x17/x18/x21/x22/
#                             x26-x28/x31/x33/x34/x37-x40/x42-x44/x50/x51
#                             (all green in r2).
#   Their oracles live on as EXTRA_ORACLES, asserted in pytest at sf0.001.
# ---------------------------------------------------------------------------

DRIVER_WINDOW: list[str] = [
    "g01_scan_filter", "g02_groupby_sum", "g03_multikey_agg", "g04_global_kpis",
    "g05_topk", "g06_join_global_avg", "g07_date_spine", "g08_rolling_features",
    "g09_grouping_sets", "g10_ingest_validation",
    # ------------------------------------------------------------------
    # Round-5 rotation (VERDICT r4 item 1): the window now favors the
    # only queries with NO prior driver row. In:
    #   oracle-backed, never driver-checked .. x97, x121
    #   rows-only, never driver-row-checked .. x75, x76, x77, x78, x79,
    #       x99 (engine-specific signatures / composed chain; the driver
    #       records its weaker rows-only check for these six — that is
    #       the deliberate trade this round, per the verdict)
    #   new round-5 operators ................ x117b (materialized
    #       incremental clusters, same batch-truth oracle as x117),
    #       x122 (ANN-blocked bitext margin, x91's exact SQL), x123
    #       (isolation-forest scorer, generated CASE-chain oracle),
    #       x124 (salted skew join, plain-join oracle)
    # Out (ALL driver-green in CORRECTNESS_r04.json, all still
    # pytest-oracle-checked at sf0.001): x114, x115, x116, x117 (x117b
    # keeps the family's hash slot with the same oracle), x102, x113
    # (x107 keeps seasonality), x109 (x88 keeps sessions), x101, x93
    # (x95 keeps event sequences), x94 (x90 keeps drift), x118, x120.
    # ------------------------------------------------------------------
    # ------------------------------------------------------------------
    # Round-6 rotation (VERDICT r5 item 2): in come the only
    # oracle-backed queries with NO driver row — x130/x131 (landed after
    # the r5 rotation) — plus the two new round-6 materialized-path
    # queries x97b (triplets from the persisted pair frame, x97's
    # oracle) and x125's second pass alongside x126-x129.
    # Out (ALL driver-green in CORRECTNESS_r05.json, oracles still
    # pytest-asserted at sf0.001): x97 (x97b keeps the family's hash
    # slot with the same oracle), x111 (containment family keeps x92),
    # x106 (anomaly family keeps x123), x119 (trend family r05-green).
    # ------------------------------------------------------------------
    # Round-11 swap (VERDICT r10 item 6): x137b takes x121's slot — the
    # spectrum family's rows-only tail becomes a HASH slot: fixed-count
    # power iteration in exact integer arithmetic (squaring chain +
    # L-inf rescale) is SQL-expressible via an unrolled HUGEINT CTE, so
    # the GEMM -> iterate -> normalize machinery is now driver-hashed;
    # x137's eigvalsh top-8 stays registered rows-only (LAPACK phase is
    # the genuinely non-SQL part) with its numpy-parity pytest. x121 is
    # r10-green and stays pytest-oracle-checked; the event time-window
    # family keeps x88 in-window.
    "x97b_contrastive_triplets_materialized",
    "x137b_spectrum_power_iteration",
    # Round-8 swap (VERDICT r7 item 5): x75b takes x75's slot — the PQ
    # family's designated rows-only slot becomes a HASH slot: with
    # shortlist == |corpus| the exact re-rank makes ADC output equal
    # brute force bit for bit (x06's oracle), so the scorer/merge/
    # re-rank machinery is now driver-hashed. x75's approximate path
    # stays registered in the extras (rows-only, benched for the
    # RECALL.md curve); the remaining designated rows-only slots are
    # x76-x79 (x99 converted to a hash slot in round 9 — its composed
    # five-stage oracle is the concatenation of the verified stage
    # oracles, VERDICT r8 item 2).
    # Round-9 swap (VERDICT r8 item 6): x77b takes x77's slot — the
    # theta family's rows-only slot becomes a HASH slot: with lg_k=16
    # the sketches stay in exact mode at test scales, so the identical
    # agg/merge/intersection/estimate plan returns exact counts and
    # x48's exact SQL is the oracle. x77 (engine-default lg_k, the
    # scale shape that actually estimates) stays registered in the
    # extras, rows-only, tolerance-tested and benched. Remaining
    # designated rows-only slots: x76, x78, x79.
    # Round-10 swaps (VERDICT r9 items 1-2 + the no-prior-row rule):
    # x146 takes x75b's slot — the IVFADC COMPOSITION (coarse prune ->
    # per-cell ADC cogroup -> exact re-rank) pins strictly more than
    # x75b's flat ADC re-rank with the same x06 oracle (nprobe == k AND
    # shortlist == |corpus|); x75b stays in the extras with its
    # r8/r9-green rows, pytest-oracle-checked. x79b takes x79's slot —
    # the LAST convertible rows-only slot becomes a HASH slot: the
    # deterministic sign-bit hyperplane quantizer makes the cell table
    # SQL-expressible, so the whole SemDeDup downstream (within-cell
    # pairs -> transitive clusters -> min-id representative) is now
    # driver-hashed via a recursive-CTE oracle; x79 (k-means cells, the
    # engine-fit path) stays registered rows-only with its composition
    # invariants pytest-checked. Remaining designated rows-only slots:
    # x76, x78 (estimate-valued; exactness pins x77b/x130 cover the
    # mechanics).
    # Round-12 swap (VERDICT r11 items 1+4 + the no-prior-row rule):
    # x150 takes x146's slot with the SAME x06 oracle — the hash now
    # proves build-80 + exactly-once append + CODES-ONLY REFIT (staged
    # swap, cells/centroids untouched) == brute force, strictly more
    # than x146's build-only probe; x151 takes x145's slot — the
    # RESIDUAL encoding path (build + append + anchor-term ADC merge)
    # becomes driver signal. x146 (r10/r11-green) and x145
    # (r8-r11-green) stay registered + pytest-oracle-checked; the
    # vector-index family keeps x149's split pin in-window alongside
    # the two new lifecycle pins.
    # Round-13 swaps (VERDICT r12 items 2+6 — make the driver's hard
    # signal 50/50 green): the window's LAST two designed rows-only
    # slots become HASH slots. x76b takes x76's slot — the daily->
    # weekly sketch rollup with theta users (lg_k=16) + KLL values
    # (k=32767), both in EXACT mode at test scales (the x77b recipe
    # applied to the rollup's merge path), so the whole re-aggregation
    # algebra is driver-hashed against plain weekly SQL; x76 (engine-
    # default HLL/KLL sizes — the scale shape that actually estimates)
    # stays registered rows-only, tolerance-tested in test_approx and
    # benched. x152 takes x78's slot — the round-13 maintenance pair
    # (dirty-set-bounded compaction + error-weighted codes-only refit)
    # probed at nprobe==k/shortlist==|corpus| against x06's brute-force
    # SQL, strictly new lifecycle signal; x78 (HLL table profile, the
    # 100 TB default path) stays registered rows-only with its
    # 5%-tolerance + schema pytest against exact twin x71 (r1..r12
    # driver rows-only records stand) and stays in the bench headline.
    "x150_ivfpq_refit_probe", "x76b_sketch_rollup_exact",
    "x77b_theta_overlap_exact",
    "x152_ivfpq_compact_weighted_refit_probe",
    "x79b_semantic_dedup_hyperplane",
    "x99_corpus_prep",
    # Round-7 continuation (no-prior-row rule): x142 takes x125's slot
    # with the SAME x06 oracle — the hash now proves build-90 +
    # append-10 == brute force, strictly more than x125's full-build
    # check (x125 stays pytest-oracle-checked; r5/r6-green rows stand).
    # x143 takes x80's slot (r6-green; incremental-dedup family keeps
    # x117b) with a new surviving-corpus oracle — the vector-store RTBF
    # counterpart of x141.
    "x117b_incremental_clusters_indexed", "x122_bitext_margin_blocked",
    "x123_isoforest_score", "x124_skew_salted_join",
    # Round-8 swap (VERDICT r7 items 1+6): x145 takes x142's slot with
    # the SAME x06 oracle — the hash now proves the LIVE two-tier
    # reader (standing + three overlapping UNFOLDED append epochs,
    # exactly-once dedup across both re-delivery modes) equals brute
    # force, strictly more than x142's post-append batch check. x142
    # stays pytest-oracle-checked with its r7-green row on record; the
    # index-maintenance family keeps x143's delete row in the window.
    # Round-10 continuation (no-prior-row rule): x147 takes x143's slot
    # — the index-maintenance family's driver signal moves to the NEW
    # split path (x143's delete row is r9-green and stays
    # pytest-oracle-checked; the family keeps x145's live read and
    # x146's IVFADC in-window). x148 takes x104b's slot — the dedup
    # stream's UPDATE path (retraction + merge + cap flips through the
    # tombstoned rebuild) is strictly new driver signal; x104b is
    # r9-green and the canonical-selection family keeps x140.
    # Round-11 swap (VERDICT r10 item 1 + the no-prior-row rule): x149
    # takes x147's slot with the SAME x06 oracle — the hash now proves
    # cell-split maintenance on the TWO-TIER (IVFADC) index: codes
    # relocated with their vectors through the split, centroid table
    # gap-free, full probe == brute force — strictly more than x147's
    # flat-tier split. x147 is r10-green and stays pytest-oracle-
    # checked; the maintenance family keeps x145/x146 in-window.
    "x151_ivfpq_residual_probe", "x130_histogram_quantiles",
    "x131_incremental_rollup", "x149_ivfpq_split_probe",
    "x148_dedup_stream_update",
    # round-5 late additions (same no-prior-row rule): x126-x129 take the
    # slots of x103 / x110 / x112 / x107 (all driver-green in r04, still
    # pytest-oracle-checked; family reps that remain — quality gates ->
    # x85/x86, sampling -> x127, vector diagnostics -> x128, seasonal ->
    # x113's r04 row + pytest)
    # ------------------------------------------------------------------
    # Round-7 rotation (VERDICT r6 items 2-3): in come x138_snapshot_diff
    # (the single oracle-backed query with no driver hash row across all
    # six rounds) and x128c (the GEMM covariance — the 100 TB DEFAULT
    # path — on a 1e-6 grid coarse enough to hash-match DuckDB, so the
    # scale path itself earns a driver row, not just its exact twin).
    # Out: x128 (x128c keeps the covariance family's hash slot — the
    # x97b/x104b "materialized/scale variant takes the twin's slot"
    # precedent) and x91 (bitext family keeps x122, which computes x91's
    # exact SQL truth through the blocked plan). Both stay pytest-
    # oracle-checked at sf0.001 with driver-green r6 rows on record.
    # ------------------------------------------------------------------
    "x126_substring_span_dedup", "x127_weighted_sample",
    "x128c_embedding_covariance_gemm_q6", "x129_token_budget_select",
    "x138_snapshot_diff",
    # standing window (driver-green r04/r05, kept for family coverage).
    # Round-6 late swap (x97/x97b precedent): the materialized-path
    # variants x104b/x105b take their recomputing twins' slots with the
    # SAME oracles — the driver hash proves materialized == recomputed;
    # x104/x105 stay pytest-oracle-checked at sf0.001 (r05-green rows).
    "x105b_leakage_safe_split_materialized",
    # Round-6 late additions (no-prior-row rule): x134/x135/x136 take
    # the slots of x98 / x100 / x108 (all driver-green in r05, oracles
    # still pytest-asserted; families that keep rows — mergeable
    # sketches -> x76/x77/x130, time windows -> x88/x121, LM scoring ->
    # x82/x87)
    "x134_epoch_shuffle", "x135_length_batches", "x136_content_checksum",
    # Round-6 continuation (no-prior-row rule): x139/x140/x141 take the
    # slots of x83 / x86 / x95 (all driver-green in r05, oracles still
    # pytest-asserted; families that keep rows — token/text stats ->
    # x82/x85, classifier scoring -> x87, event sequences -> x88/x121)
    # Round-7: x144 takes x139's slot — its 3-row report contains the
    # SAME zorder/linear geometry (identical probes/buckets) plus the
    # Hilbert row, strictly more driver signal for the layout family;
    # x139 stays pytest-oracle-checked with its r6-green row on record.
    "x144_hilbert_layout", "x140_priority_dedup",
    "x141_delete_propagation",
    "x81_scd2_merge",
    "x82_bigram_pmi", "x84_decontaminate",
    "x85_repetition_stats",
    "x87_dsir_importance", "x88_session_concurrency",
    "x89_fuzzy_join", "x90_source_drift",
    "x92_containment_pairs",
    "x96_pagerank",
    "x70_tpch_q21_onescan",
]

_extras = [n for n in QUERIES if n not in DRIVER_WINDOW]
QUERIES = {
    **{n: QUERIES[n] for n in DRIVER_WINDOW},
    **{n: QUERIES[n] for n in _extras},
}


# Re-exported for __spark_entry__
def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


__all__ = ["QUERIES", "all_queries", "dsum", "davg", "drevenue", "weekday_mon0"]
