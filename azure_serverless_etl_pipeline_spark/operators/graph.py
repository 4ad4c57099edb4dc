"""Iterative graph analytics over derived similarity graphs.

PageRank joins connected-components (operators/dedup.dup_clusters) as
the second member of the iterative-algorithm family: given the near-dup
similarity graph, PageRank scores each document by how central it is in
its duplication neighborhood — the standard signal for picking the
CANONICAL copy out of a duplicate cluster (keep the most-linked
version, drop the satellites), and for down-weighting template farms
whose members all look like everything else.

Determinism contract — FIXED-POINT arithmetic: ranks are BIGINTs in
1e-12 units and every operation is integer (floor division, exact
sums). A first implementation used ROUND(double, 12) per iteration and
hit the cross-engine trap: DuckDB rounds the value scaled by 10^12 (a
lossy double multiply) while Spark rounds the exact decimal expansion,
so values within ~1 ulp of a .5 boundary round apart — iterating 10x
over hundreds of nodes made that a near-certainty (2/299 nodes differed
by exactly 1e-12 at sf0.001). Integer arithmetic has no boundary to
disagree on: both engines' integer division truncates (equal to floor
for the non-negative values here), so the result is bit-reproducible
anywhere. The shared oracle unrolls the same iterations as a CTE chain
(SQL forbids aggregates in recursive terms).

Quantization note: each step floors, so up to 1e-12 of mass per edge is
dropped rather than redistributed — a deliberate trade of exactness of
the REAL-valued fixpoint for exactness of the COMPUTATION. Rank ORDER,
the thing consumers use, is unaffected at this scale.

Scale shape: the rank frame is |nodes| rows and the per-iteration work
is one edges-ranks equi-join + one dst-keyed aggregate. Edges join on
src and aggregate on dst every iteration, so at scale the edge list is
stored twice (bucketed by src and by dst) to make the loop
exchange-free; here the edge frame is checkpointed once (read every
iteration) and lineage is truncated with localCheckpoint every few
rounds (same guard as dedup.dup_clusters — an unbounded iterative plan
otherwise re-analyzes O(iterations) operators per step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12  # rank unit = 1e-12


def pagerank(
    pairs: DataFrame,
    damping_pct: int = 85,
    iterations: int = 10,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """PageRank over the undirected graph given as unordered pairs.

    ``pairs`` holds each undirected edge once (a < b); both directions
    are materialized internally. Isolated nodes (no edges) are not part
    of the graph. ``damping_pct`` is the damping factor in percent (an
    integer, keeping the fixed-point arithmetic exact). Returns
    (node, pagerank) after ``iterations`` rounds; pagerank is the
    fixed-point value divided back to a double (exact: the BIGINT is
    < 2^53 and both engines' long->double division agree).
    """
    fwd = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rev = pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    edges = fwd.unionByName(rev)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges = edges.join(outdeg, "src").localCheckpoint(eager=True)

    nodes = edges.select(F.col("src").alias("node")).distinct()
    n_row = nodes.agg(F.count(F.lit(1)).alias("n"))
    # constant N travels as a column (1-row broadcast), never a collect
    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", "n", F.expr(f"CAST({SCALE} AS BIGINT) div n").alias("r")
    )

    base = f"CAST({(100 - damping_pct) * SCALE // 100} AS BIGINT) div n"
    for i in range(iterations):
        contrib = edges.join(
            ranks.select(F.col("node").alias("src"), "n", "r"), "src"
        ).select(
            F.col("dst").alias("node"),
            "n",
            F.expr("r div outdeg").alias("c"),
        )
        ranks = contrib.groupBy("node", "n").agg(
            (
                F.expr(base)
                + F.expr(f"({damping_pct} * sum(c)) div 100")
            ).alias("r")
        )
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint(eager=True)

    return ranks.select(
        "node", (F.col("r").cast("double") / F.lit(float(SCALE))).alias("pagerank")
    )
