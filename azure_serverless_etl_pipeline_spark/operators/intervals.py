"""Interval-overlap join via time-binning (north-star extension).

Spark has no native interval (range-overlap) join: a join whose only
predicate is `a.start <= b.end AND b.start <= a.end` plans as a
BroadcastNestedLoopJoin / CartesianProduct — O(|A|x|B|), dead at scale.
The standard distributed strategy (used by Spark's own stream-stream
time-interval joins internally, and by range-join frameworks on top of
Spark) is to discretize time into fixed-width bins, replicate each
interval into every bin it touches, equi-join on the bin key (a normal
shuffled hash join), then re-check the exact overlap predicate and
de-duplicate pairs that met in more than one bin.

Cost model: replication factor = avg_interval_width / bin_width + 1;
join fan-out per bin = (intervals alive in that bin)^2. Wide bins cut
replication but inflate per-bin fan-out; at 100 TB the bin width is
chosen ~= the median interval width, hot bins are handled by AQE skew
splitting (the join is a plain equi-join, so OptimizeSkewedJoin
applies — unlike a nested-loop range join, which AQE cannot touch).

De-duplication is NOT a distinct over the pair stream: each pair is
kept only in the FIRST bin both intervals share
(bin == max(floor(a.start), floor(b.start))), so the join output is
exact without a corpus-sized distinct shuffle — the same trick the
blocked-cosine dedup uses for cell pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def sessions_with_timeout(
    events: DataFrame,
    gap_minutes: int = 30,
    timeout_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessions with an active-window end pad.

    Same lag + running-sum sessionization as plans/queries.x10 (30-min
    inactivity gap), then each session's *active interval* is
    [session_start, last_event + timeout): a session counts as live until
    its inactivity timeout would have expired — the definition used for
    concurrency/load questions ("how many sessions were active at once").
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp")  # NTZ guard, same as x10
    gap_us = F.unix_micros(ts) - F.unix_micros(F.lag(ts).over(w))
    new_sess = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    agg = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
    )
    return agg.select(
        "user_id",
        "session_id",
        "n_events",
        "session_start",
        (F.unix_micros(F.col("session_start"))).alias("start_us"),
        (
            F.unix_micros(F.col("session_end"))
            + F.lit(timeout_minutes * 60 * 1_000_000)
        ).alias("end_us"),
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    bin_minutes: int = 60,
    id_cols: tuple[str, str] = ("user_id", "session_id"),
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> DataFrame:
    """All unordered pairs of distinct intervals that overlap in time.

    Intervals are half-open [start_us, end_us). Output one row per pair
    (a_*, b_*) with (a) lexicographically before (b) on `id_cols`.
    Exact: bin equi-join generates a superset, the true predicate
    re-filters, and the first-shared-bin rule keeps each pair once.
    """
    bin_us = bin_minutes * 60 * 1_000_000
    binned = intervals.select(
        *id_cols,
        start_col,
        end_col,
        F.explode(
            F.sequence(
                (F.col(start_col) / bin_us).cast("bigint"),
                # end is exclusive: an interval ending exactly on a bin
                # edge does not occupy the next bin
                ((F.col(end_col) - 1) / bin_us).cast("bigint"),
            )
        ).alias("bin"),
    )
    a = binned.select(
        F.col("bin"), *[F.col(c).alias(f"a_{c}") for c in (*id_cols, start_col, end_col)]
    )
    b = binned.select(
        F.col("bin"), *[F.col(c).alias(f"b_{c}") for c in (*id_cols, start_col, end_col)]
    )
    ka, kb = [f"a_{c}" for c in id_cols], [f"b_{c}" for c in id_cols]
    pair_order = F.struct(*[F.col(c) for c in ka]) < F.struct(*[F.col(c) for c in kb])
    overlap = (F.col(f"a_{start_col}") < F.col(f"b_{end_col}")) & (
        F.col(f"b_{start_col}") < F.col(f"a_{end_col}")
    )
    first_shared_bin = F.col("bin") == F.greatest(
        (F.col(f"a_{start_col}") / bin_us).cast("bigint"),
        (F.col(f"b_{start_col}") / bin_us).cast("bigint"),
    )
    return a.join(b, "bin").where(pair_order & overlap & first_shared_bin).drop("bin")


def session_concurrency(
    events: DataFrame,
    gap_minutes: int = 30,
    timeout_minutes: int = 30,
    bin_minutes: int = 60,
) -> DataFrame:
    """Per-session concurrency: how many OTHER sessions' active windows
    overlap this session's active window.

    Returns (user_id, session_id, n_events, session_start, n_concurrent)
    for every session, including zero-overlap ones. Both directions of
    each unordered pair contribute one count; a session never counts
    itself (pairs are strictly ordered).
    """
    sess = sessions_with_timeout(events, gap_minutes, timeout_minutes)
    # The session table is re-read from both sides of the self-join and
    # again for the final left join; it is the reduced (one row per
    # session) frame, so checkpoint it rather than re-running the window.
    sess = sess.localCheckpoint(eager=True)
    pairs = interval_overlap_pairs(sess, bin_minutes)
    # Each unordered pair increments BOTH endpoints' counts. Explode the
    # two orientations out of ONE pass over the join output — the
    # previous per_a/per_b-union shape read `pairs` twice, and Spark
    # re-executed the whole bin self-join for each side (the two
    # aggregations share no exchange), doubling the dominant cost and
    # its variance under memory pressure.
    both = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_user_id").alias("user_id"),
                        F.col("a_session_id").alias("session_id"),
                    ),
                    F.struct(
                        F.col("b_user_id").alias("user_id"),
                        F.col("b_session_id").alias("session_id"),
                    ),
                )
            ).alias("k")
        )
        .select("k.user_id", "k.session_id")
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_concurrent"))
    )
    return (
        sess.join(both, ["user_id", "session_id"], "left")
        .select(
            "user_id",
            "session_id",
            "n_events",
            "session_start",
            F.coalesce("n_concurrent", F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )
