"""Distribution-drift detection across corpus slices (north-star extension).

A 100 TB training-data pipeline ingests from many sources continuously;
the first monitoring question is "did a source's distribution move?"
(scraper broke, boilerplate changed, a dump got re-encoded). The
standard cheap detector is a binned-histogram distance between each
slice's distribution of a feature and the whole-corpus distribution:
total-variation distance (half the L1 between the probability vectors)
is bounded in [0, 1], symmetric, and needs only per-bin counts.

Scale shape: ONE corpus scan -> hash-aggregate to (slice, bin) counts —
output cardinality is |slices| x |bins|, independent of corpus size.
Everything downstream (slice totals, global histogram, the distance sum)
operates on that reduced table; no second scan, no per-row window. The
global histogram is derived from the same counts (sum over slices), so
drift for N sources costs exactly one shuffle of the reduced counts.

Determinism contract for the hash-checked oracle: each |p_slice - p_glob|
term is a double division rounded to 12 decimals, and the per-slice sum
aggregates those terms as DECIMAL(38,12) — order-independent, same
convention as plans/queries.dsum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram_drift(
    df: DataFrame,
    slice_col: str = "source",
    value_col: str = "n_chars",
    bin_width: int = 50,
) -> DataFrame:
    """Per-slice total-variation distance vs the whole-corpus histogram.

    Returns (slice_col, n_rows, tv_distance) for every slice:
    tv = 0.5 * sum_bins |p_slice[b] - p_global[b]|, p from fixed-width
    bins of value_col (bin = floor(value / bin_width)). 0 = identical
    shape, 1 = disjoint support.
    """
    binned = df.select(
        F.col(slice_col).alias("slice"),
        F.floor(F.col(value_col) / bin_width).cast("bigint").alias("bin"),
    )
    counts = binned.groupBy("slice", "bin").agg(F.count(F.lit(1)).alias("c"))
    # All downstream frames derive from this reduced (|slices| x |bins|)
    # table; checkpoint it so the corpus is scanned exactly once.
    counts = counts.localCheckpoint(eager=True)

    slice_tot = counts.groupBy("slice").agg(F.sum("c").alias("n_slice"))
    glob = counts.groupBy("bin").agg(F.sum("c").alias("g"))
    n_total = counts.agg(F.sum("c").alias("n_total"))

    # Every slice must contribute a term for every bin in the GLOBAL
    # support (a bin the slice never hits contributes p_slice = 0), so
    # build the full slice x bin grid from the two margins.
    grid = slice_tot.crossJoin(glob).join(
        counts, ["slice", "bin"], "left"
    ).select(
        "slice",
        "bin",
        "n_slice",
        "g",
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    term = F.round(
        F.abs(
            F.col("c") / F.col("n_slice").cast("double")
            - F.col("g") / F.col("n_total").cast("double")
        ),
        12,
    )
    return (
        grid.crossJoin(F.broadcast(n_total))
        .select("slice", "n_slice", term.alias("term"))
        .groupBy("slice")
        .agg(
            F.max("n_slice").cast("long").alias("n_rows"),
            (F.sum(F.col("term").cast("decimal(38,12)")).cast("double") / 2)
            .alias("tv_distance"),
        )
        .select(F.col("slice").alias(slice_col), "n_rows", "tv_distance")
    )
