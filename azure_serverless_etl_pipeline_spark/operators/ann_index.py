"""IVF index build + probe with a real k-means coarse quantizer (MLlib).

similarity.ivf_topk consumes a precomputed cell column; this module
builds that column the way a production vector store does:

1. ``build_ivf_index``: fit a k-means codebook (Spark MLlib — seeded,
   distributed) on the embedding corpus, assign every vector its nearest
   centroid cell, and write the corpus ``partitionBy(cell)`` so a probe
   touches only its cells' files.
2. ``probe_ivf``: collect the bounded query set once, route each query
   to its ``nprobe`` nearest centroids on the driver (similarity._route),
   scan only those cells (a static ``cell IN (...)`` partition filter)
   and score them with the block scorer (similarity._block_topk), top-k
   per query.

Recall/cost trade is the standard IVF curve: nprobe cells of ~|corpus|/k
vectors each, vs the full corpus for brute force.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import state
from ..functions import dot
from ..state import list_batches, read_record, write_record
from .similarity import (
    _block_topk,
    _collect_queries,
    _route,
    _routes,
    _scan,
)

_SEED = 42


def _to_mllib_vectors(df: DataFrame, vec_col: str):
    from pyspark.ml.functions import array_to_vector

    return df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))


def build_ivf_index(
    corpus: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Fit the codebook, assign cells; optionally persist partitionBy(cell).

    Returns (indexed corpus with a ``cell`` column, centroid matrix).
    The KMeans fit is the one genuinely iterative step — MLlib runs it as
    a sequence of distributed jobs; everything downstream is one pass.
    """
    from pyspark.ml.clustering import KMeans

    featured = _to_mllib_vectors(corpus, vec_col)
    km = KMeans(k=k, seed=_SEED, featuresCol="__features", predictionCol="cell")
    model = km.fit(featured)
    indexed = model.transform(featured).drop("__features")
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    if index_path:
        indexed.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    return indexed, centroids


def probe_ivf(
    indexed: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine within each query's nprobe nearest cells.

    The bounded query set is collected once and routed on the driver, as
    ``search_ivfpq`` routes: each query's ``nprobe`` nearest centroids by
    (cosine desc, cell asc). The probed cells land as a static
    ``cell IN (...)`` filter, which prunes the partitionBy(cell) layout
    to their files (also through load_live_index's union), and the block
    scorer scores each cell's rows against the queries routed to it.
    Degenerate queries behave as on every scorer path (similarity).
    """
    _, qids, qvecs = _collect_queries(
        queries, id_col, vec_col, dim=np.shape(centroids)[1]
    )
    return _block_topk(
        _scan(indexed, F.col("cell"), id_col, vec_col),
        qids, qvecs, _routes(_route(qvecs, centroids, nprobe)), k,
        dict(queries.dtypes)[id_col],
    ).select("query_id", "neighbor_id", "rank", "cos_sim")


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Persist the full IVF index as a directory: the corpus written
    partitionBy(cell) (so probes prune to their cells' files) plus the
    codebook as a tiny parquet. This is the artifact a vector-store
    deployment builds once and serves many probes from — the
    amortization the per-run k-means fit in x79/x122 only documents."""
    indexed, centroids = build_ivf_index(
        corpus, k=k, vec_col=vec_col, id_col=id_col, index_path=f"{path}/cells"
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # reset the compaction dirty set for the new index generation and
    # seed it with a cells-tier census record: the build's partitionBy
    # write fans each cell across its shuffle partitions' files, so the
    # FIRST compaction must examine every cell dir — once, via this
    # record, not via the standing census on every later call
    state.delete(spark, f"{path}/{_DIRTY_DIR}")
    _mark_dirty(spark, path, census=("cells",))


def load_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """(cell-partitioned corpus frame, centroid matrix) from a
    save_ivf_index directory. The corpus frame carries the parquet
    partitioning metadata, so probe_ivf's cell filter partition-prunes."""
    # normalize the partition column: directory-derived values can come
    # back as strings depending on partition-type inference, and a
    # string cell would silently type-coerce every downstream cell join
    indexed = spark.read.parquet(f"{path}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    return indexed, _load_centroid_matrix(spark, path)


def assign_cells(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    max_literal_cells: int = 0,
    slab_cells: int = 4096,
) -> DataFrame:
    """Nearest-centroid cell assignment for a batch of vectors under the
    index's quantizer rule (squared-euclidean argmin — what MLlib KMeans
    ``transform`` computes; ties break to the lowest cell id, numpy's
    argmin convention). Returns the input columns + ``cell``. Both
    regimes are map-side only — ZERO shuffle, zero joins (plan-gated):
    ingestion at 100 TB must not exchange the arriving corpus just to
    pick each row's minimum of k numbers.

    - DEFAULT (``k > max_literal_cells``, i.e. always unless opted in):
      Arrow-batched ``mapInPandas`` with the codebook broadcast once
      per executor; each batch computes the argmin as one (batch x k)
      float64 GEMM — constant planning cost, flat measured wall from
      16 through 4096 cells (SCALE.md round 8). A broadcast-JOIN
      argmin was rejected: it fans every arriving row out k ways and
      pays an aggregation exchange to fold them back; the GEMM keeps
      the whole decision inside one vectorized projection per Arrow
      batch.
    - ``k <= max_literal_cells`` (opt-in): ONE codegen'd expression —
      ``array_min`` over per-centroid (distance, cell) structs with
      literal centroid arrays, staying inside the scan's projection:
      no Python boundary, so the assignment fuses with surrounding JVM
      expression work in one codegen stage. The price is O(k * dim)
      literals of DRIVER planning/codegen PER INVOCATION — measured
      ~75 ms per centroid at dim 64, which loses to the GEMM at every
      measured k on micro-batch-sized inputs (the repo's own streaming
      ingest shape). Opt in only where a huge batch amortizes the
      planning AND the assignment must fuse with downstream JVM
      expressions without an Arrow boundary.

    Either regime maps a NULL vector to a NULL cell (the null-on-error
    cast convention): a missing embedding has no nearest centroid, and
    silently parking it in an arbitrary cell would hide the data error
    from downstream quarantine.
    """
    if len(centroids) > max_literal_cells:
        return _assign_cells_gemm(vectors, centroids, vec_col, slab_cells)
    v = F.col(vec_col).cast("array<double>")
    vv = dot(v, v)
    candidates = []
    for i, c in enumerate(centroids):
        clit = F.array(*[F.lit(float(x)) for x in c])
        c_sq = 0.0  # sequential fold — the exact order Spark's dot uses
        for x in c:
            c_sq += float(x) * float(x)
        d = vv - 2.0 * dot(v, clit) + c_sq
        candidates.append(
            F.struct(d.alias("d"), F.lit(int(i)).alias("cell"))
        )
    # array_min on structs is lexicographic: (min distance, then lowest
    # cell id) — exactly the argmin tie rule. The isNotNull guard is
    # the null->null contract: without it a null vector's all-null
    # distances let the lexicographic min degenerate to cell 0.
    return vectors.withColumn(
        "cell",
        F.when(
            F.col(vec_col).isNotNull(),
            F.array_min(F.array(*candidates))["cell"],
        ),
    )


def _assign_cells_gemm(
    vectors: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    slab_cells: int = 4096,
) -> DataFrame:
    """Big-codebook half of ``assign_cells``: the codebook broadcasts
    once per executor and every Arrow batch resolves its argmin as one
    (batch x k) float64 GEMM — ||x-c||^2 argmin == (|c|^2 - 2 x.c)
    argmin, the per-row |x|^2 term being constant.

    MEMORY BOUND at production codebooks (round 9, VERDICT r8 item 3):
    two per-worker residents scale with k. (a) The broadcast codebook —
    k x dim x 8 B per PYTHON WORKER (each of the N arrow workers on an
    executor holds its own deserialized copy): dim 1024 x k 65536 is
    512 MB/worker, 16 GB across 32 local workers — documented, not
    chunked (the codebook must be resident to score against; past this
    bound the design escape is a PQ/two-level quantizer rebuild, not a
    bigger heap). (b) The TRANSIENT (batch x k) score matrix — 10k-row
    Arrow batches x k 65536 x 8 B would be 5.2 GB per in-flight batch,
    the actual OOM cliff. That one IS chunked: ``slab_cells`` bounds the
    GEMM to (batch x slab) slabs with a running (min, argmin) fold
    across slabs — peak transient is batch x slab_cells x 8 B (~330 MB
    at defaults) for ANY k, measured flat through k=65536 (SCALE.md
    round 9). Strict-less updates preserve the global lowest-index tie
    rule (earlier slabs hold lower cell ids; within a slab np.argmin
    ties low).

    np.argmin ties to
    the lowest index, the same tie rule as the literal path's
    lexicographic struct min. NULL vectors get NULL cells (nullable
    Int32 — the literal path's contract); an existing ``cell`` column
    is replaced IN PLACE, as ``withColumn`` replaces it on the literal
    path — the two regimes must emit identical column ORDER, or
    positional consumers (DDL-string schemas, union, mergeSchema-off
    parquet readers) would misbind depending on codebook size.
    Map-side only: no shuffle, no join, any number of cells."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(centroids, dtype=np.float64)
    )
    cell_field = StructField("cell", IntegerType())
    if "cell" in vectors.columns:
        out_schema = StructType(
            [cell_field if f.name == "cell" else f
             for f in vectors.schema.fields]
        )
    else:
        out_schema = StructType(list(vectors.schema.fields) + [cell_field])
    names = [f.name for f in out_schema.fields]

    def assign(batches):
        cent = bc.value
        c_sq = (cent**2).sum(1)
        k = len(cent)
        for pdf in batches:
            out = pdf.copy()
            valid = (
                out[vec_col].notna().to_numpy()
                if len(out)
                else np.array([], dtype=bool)
            )
            cells = np.full(len(out), -1, dtype=np.int64)
            if valid.any():
                x = np.vstack(out[vec_col].to_numpy()[valid]).astype(np.float64)
                if k <= slab_cells:
                    cells[valid] = (c_sq - 2.0 * (x @ cent.T)).argmin(1)
                else:
                    # slab fold: peak transient = batch x slab_cells
                    # doubles regardless of k; strict '<' keeps the
                    # lowest-index tie rule across slab boundaries
                    best_d = np.full(len(x), np.inf)
                    best_c = np.zeros(len(x), dtype=np.int64)
                    for lo in range(0, k, slab_cells):
                        hi = min(lo + slab_cells, k)
                        d = c_sq[lo:hi] - 2.0 * (x @ cent[lo:hi].T)
                        j = d.argmin(1)
                        dj = np.take_along_axis(d, j[:, None], 1).ravel()
                        upd = dj < best_d
                        best_d[upd] = dj[upd]
                        best_c[upd] = j[upd] + lo
                    cells[valid] = best_c
            out["cell"] = pd.array(
                [int(c) if c >= 0 else None for c in cells], dtype="Int32"
            )
            yield out[names]

    return vectors.mapInPandas(assign, schema=out_schema)


def _load_centroid_matrix(spark, path: str) -> np.ndarray:
    """The coarse codebook as a matrix, row position == cell id (the
    load_ivf_index contract — shared by every append/probe path). The
    table holds one row per cell, so sorting the collected rows on the
    driver gives the same matrix as an ``orderBy`` without its sort job."""
    rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(), key=lambda r: r.cell
    )
    return np.vstack([np.asarray(r.centroid) for r in rows])


def _quarantine_target(path: str, batch_id: int | None) -> tuple[str, str]:
    """(quarantine path, write mode) for an append batch: a batch key
    makes the quarantine an idempotent per-batch overwrite (retried
    batches replace their rows); without one it is a bare append and a
    retry duplicates them — shared by both append entry points so the
    retry semantics cannot drift."""
    if batch_id is None:
        return f"{path}/quarantine", "append"
    return f"{path}/quarantine/batch={int(batch_id)}", "overwrite"


def _write_quarantining_nulls(
    assigned: DataFrame,
    raw_batch: DataFrame,
    vec_col: str,
    write_valid,
    quarantine_path: str,
    quarantine_mode: str,
    mark_root: str | None = None,
) -> None:
    """Shared null-cell quarantine for both index append paths (batch
    and streaming): run ``write_valid`` on the NOT-NULL-cell rows with
    an Observation counting nulls riding the same job (zero extra work
    on a clean batch — the common case), then, only when nulls exist,
    write the offending INPUT rows to the quarantine path. The
    quarantine side re-reads ``raw_batch`` filtered on the null
    EMBEDDING — under the assign_cells contract cell is NULL iff the
    vector is NULL, so the dirty path costs one source-scan filter and
    never re-runs the assignment GEMM.

    The contract itself is ASSERTED, not assumed (advice r9): a second
    Observation rides the quarantine write and the two counts must
    agree — if some future assignment path ever yields a NULL cell for
    a non-NULL vector, those rows would vanish from both the index and
    the quarantine, and this check turns that silent row loss into a
    loud error on the very batch that hits it. Zero extra jobs either
    way (both counts ride writes that happen regardless)."""
    from pyspark.sql import Observation

    obs = Observation()
    valid = assigned.observe(
        obs, F.count(F.when(F.col("cell").isNull(), 1)).alias("n_null")
    ).filter(F.col("cell").isNotNull())
    write_valid(valid)
    n_null = int(obs.get["n_null"])
    if n_null:
        qobs = Observation()
        (
            raw_batch.filter(F.col(vec_col).isNull())
            .observe(qobs, F.count(F.lit(1)).alias("n_quarantined"))
            .write.mode(quarantine_mode)
            .parquet(quarantine_path)
        )
        if mark_root is not None:
            # the quarantine leaf joins the compaction dirty set (it is
            # one of the census tiers; ``mark_root`` is the index root
            # the leaf is recorded relative to)
            _mark_dirty(
                assigned.sparkSession,
                mark_root,
                leaves=[quarantine_path[len(mark_root) + 1:]],
            )
        n_q = int(qobs.get["n_quarantined"])
        if n_q != n_null:
            raise ValueError(
                f"null-cell quarantine mismatch: {n_null} rows were "
                f"assigned a NULL cell but only {n_q} have a NULL "
                f"{vec_col!r} — the 'cell NULL iff embedding NULL' "
                "contract is broken and the difference would be lost "
                "from both the index and the quarantine"
            )


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
) -> None:
    """Fold a batch of NEW vectors into a persisted IVF index without
    refitting the codebook: assign each vector its nearest existing
    cell map-side (`assign_cells`) and APPEND the assigned rows to the
    cell-partitioned corpus — the write touches only the cell
    directories the batch lands in, never the standing index files.

    This is the vector-store ingestion path at scale: index build is a
    k-means fit over the corpus (expensive, amortized), but arriving
    embeddings must not trigger it — they quantize against the frozen
    codebook in one map-side pass. The standard operational caveat
    applies and is measurable here via `ivf_cell_stats`: as the corpus
    drifts from the codebook's fit distribution, cell sizes skew and
    probe cost/recall degrade — the rebuild trigger is a size-imbalance
    threshold, not a timer.

    NULL embeddings (NULL cell under the assign_cells contract) are
    QUARANTINED to ``{path}/quarantine`` instead of entering the cells
    tier: partitionBy would park them in __HIVE_DEFAULT_PARTITION__,
    where probes never see them while occupancy counts include them —
    an index row that silently serves nothing. The null count is
    measured with an Observation on the main write (zero extra jobs
    when the batch is clean — the common case); the dirty path writes
    the offending INPUT rows, one source-scan filter, no second
    assignment pass (_write_quarantining_nulls).

    Quarantine idempotency (advice r9): pass ``batch_id`` when the
    caller retries batches — the quarantine then writes to
    ``quarantine/batch={batch_id}`` with overwrite, so a re-run of the
    same batch replaces rather than duplicates its quarantine rows
    (the streaming twin's per-epoch discipline). WITHOUT a batch key
    the write is a bare append and a retried batch DUPLICATES its
    quarantine rows (the cells append is equally non-idempotent —
    this whole entry point is at-least-once; exactly-once retries
    belong to the streaming path's per-epoch dirs)."""
    spark = new_vectors.sparkSession
    centroids = _load_centroid_matrix(spark, path)
    assigned = assign_cells(new_vectors, centroids, vec_col=vec_col)
    q_path, q_mode = _quarantine_target(path, batch_id)

    def write_valid(valid: DataFrame) -> None:
        from pyspark.sql import Observation

        # the landing-cell set rides the write (collect_set observation
        # — zero extra jobs); it feeds the compaction dirty set
        obs = Observation()
        (
            valid.observe(obs, F.collect_set("cell").alias("cells"))
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )
        _mark_dirty(
            spark,
            path,
            leaves=[f"cells/cell={int(c)}" for c in obs.get["cells"]],
        )

    _write_quarantining_nulls(
        assigned, new_vectors, vec_col, write_valid, q_path, q_mode,
        mark_root=path,
    )


def delete_from_ivf_index(
    spark,
    path: str,
    deleted_ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Right-to-be-forgotten for the vector store: erase ids from a
    persisted IVF index by rewriting ONLY the cell partitions that
    contain them. Returns the per-cell audit report
    (cell, n_before, n_removed, n_after).

    Scale shape: the erase list broadcasts into a semi-join that finds
    the AFFECTED cells (a bounded list — at most |deletes| of them);
    the survivor rewrite scans just those cells' files (partition
    pruning on the cell filter) and swaps them in with a dynamic
    partition overwrite, so a deletion touching 3 of 10k cells rewrites
    3 directories — never the standing index. Cells erased to empty are
    removed outright (dynamic overwrite cannot replace a partition with
    zero rows). Mirrors `dedup.propagate_deletes`' contract for the
    cluster state: deletion costs a state sliver, not a rebuild.

    On an IVFADC index the PQ codes tier is purged too (same sliver
    shape): a code row is DERIVED from the erased vector — leaving it
    would both violate the right-to-be-forgotten (the 8-byte code still
    encodes the vector, coarsely) and waste ADC shortlist slots on
    candidates the re-rank can no longer resolve.

    A PENDING APPEND TXN is resolved at entry (advice r11): erasing an
    UNCOMMITTED batch's ids would be silently undone — the batch's
    retry rolls its torn attempt back by id (a no-op for rows this
    delete already removed) and then re-appends them — while the audit
    report would have counted rows that were never durably in the
    index. Resolving first (roll forward if committed, back otherwise)
    makes the report honest: a rolled-back batch's ids are simply not
    found, and their later re-append is an ordinary new arrival that
    happened after this deletion."""
    from .compaction import recover_pending_under

    _resolve_refit(spark, path)
    recover_pending_under(spark, f"{path}/cells")
    recover_pending_under(spark, f"{path}/codes")
    _resolve_ivfpq_txn(spark, path, id_col=id_col)
    # distinct: a duplicate id in the erase list would fan out the audit
    # left join below, inflating n_before/n_removed (the survivor
    # anti-join is idempotent either way)
    dels = deleted_ids.select(id_col).distinct()
    has_codes = state.exists(spark, f"{path}/codes")

    def purge_codes() -> None:
        # IVFADC: the erased vectors' derived PQ codes go with them —
        # ALSO on the no-affected-cells path (review r11): a crash after
        # the cells rewrite but before this purge leaves the ids absent
        # from cells/, and a retried delete must still reach the codes
        if has_codes:
            _delete_ids_from_tier(
                spark, f"{path}/codes", dels, id_col=id_col
            )

    cells = spark.read.parquet(f"{path}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    affected = sorted(
        r.cell
        for r in cells.join(F.broadcast(dels), id_col, "semi")
        .select("cell")
        .distinct()
        .collect()
    )
    if not affected:
        purge_codes()
        return spark.createDataFrame(
            [], "cell int, n_before long, n_removed long, n_after long"
        )
    sliver = cells.filter(F.col("cell").isin([int(c) for c in affected]))
    report = (
        sliver.join(
            F.broadcast(dels.withColumn("__del", F.lit(1))), id_col, "left"
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.coalesce(F.col("__del"), F.lit(0))).alias("n_removed"),
        )
        .withColumn("n_after", F.col("n_before") - F.col("n_removed"))
        .select("cell", "n_before", "n_removed", "n_after")
        .localCheckpoint(eager=True)  # materialize BEFORE the rewrite
    )
    # one implementation of the sliver-delete shape (review r11): the
    # rewrite delegates to the shared helper with the affected list it
    # already paid for
    _delete_ids_from_tier(
        spark, f"{path}/cells", dels, id_col=id_col, affected=affected
    )
    purge_codes()
    return report


_SPLIT_MANIFEST = "_split_pending.json"


def _sync_codes_to_cells(
    spark, path: str, cells_list: list[int], id_col: str = "vec_id",
    repair_cells: bool = False, vec_col: str = "embedding",
) -> None:
    """Re-point the PQ codes tier at the cells tier's CURRENT
    assignment for the listed cells, then dynamic-partition-overwrite
    it back. Two modes, switched on the index's ``pq_meta`` flag:

    - RAW codes (default build): codes bytes are NEVER recomputed —
      they encode raw vectors, so a coarse-cell move leaves them valid;
      relocation is a pure re-partition (an id join against the pruned
      cells tier re-labels the cell column).
    - RESIDUAL codes: a code is valid only against ITS cell's centroid,
      and a split recomputes BOTH children's centroids (member means) —
      so the listed cells' codes are RE-ENCODED from their full vectors
      (one Arrow pass over the pruned cells tier against the broadcast
      books + post-split centroids). Still bounded by the listed (hot)
      cells — never the corpus; the cost delta vs raw relocation is the
      encode GEMM, measured in SCALE.md round 12.

    Idempotent (a second run rewrites identical content), bounded by
    the listed cells, and TOTAL for a split's parent∪children set
    (every parent code row's vector lands in a listed cell) — totality
    is asserted, because an id silently dropped would vanish from the
    ADC tier with no error.

    ``repair_cells=True`` (the split-manifest REPAIR path — advice r11)
    first dedupes the CELLS tier itself over the listed dirs: the torn
    state being repaired is a dynamic-partition overwrite that crashed
    mid-job-commit, which can leave an id in both its old and new cells
    directory. The codes relabel below already picks one winner, but
    the duplicate cells ROW would stay behind — and a duplicated id in
    the re-rank tier occupies two top-k slots in ``search_ivfpq``
    (equal sim, equal id — row_number ranks both), evicting a genuine
    candidate and breaking the full-probe exactness pin until some
    later rewrite of that cell. The dedup keeps the MAX-cell row (the
    completed split's destination child — the same winner rule as the
    codes relabel) and rewrites only the listed dirs, only when a
    duplicate actually exists. The clean-split path skips this
    (repair_cells=False): its cells rewrite just committed."""
    cl = [int(c) for c in cells_list]
    if not cl:
        return
    # DEDUPED on both sides (review r11): a dynamic partition overwrite
    # torn mid-job-commit can leave an id in both its old and new
    # directory; undeduped, the join would fan out (a wedging count
    # mismatch) or write duplicate code rows into the child dir —
    # permanent double ADC candidates. Codes duplicates are identical
    # rows (deterministic encode), so any-winner is exact; a cells-side
    # duplicate takes the MAX cell (the split's destination child), the
    # deterministic choice that matches a completed split.
    w = W.partitionBy(id_col).orderBy(F.desc("cell"))

    def _deduped_cells():
        return (
            spark.read.parquet(f"{path}/cells")
            .withColumn("cell", F.col("cell").cast("int"))
            .filter(F.col("cell").isin(cl))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    cells_full = None
    if repair_cells:
        full = (
            spark.read.parquet(f"{path}/cells")
            .withColumn("cell", F.col("cell").cast("int"))
            .filter(F.col("cell").isin(cl))
        )
        deduped = _deduped_cells().localCheckpoint(eager=True)
        if deduped.count() < full.count():
            (
                deduped.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell")
                .parquet(f"{path}/cells")
            )
            kept = {
                int(r.cell)
                for r in deduped.select("cell").distinct().collect()
            }
            for c in cl:
                if c not in kept:
                    state.delete(spark, f"{path}/cells/cell={c}")
        # the checkpointed dedup IS the post-repair cells view: reuse it
        # below instead of a second scan+window over the same dirs
        # (review r12)
        cells_full = deduped
    if cells_full is None:
        cells_full = _deduped_cells()
    codes = (
        spark.read.parquet(f"{path}/codes")
        .withColumn("cell", F.col("cell").cast("int"))
        .filter(F.col("cell").isin(cl))
        .dropDuplicates([id_col])
    )
    if _pq_residual(spark, path):
        books = load_pq_codebooks(spark, path)
        cnorm = _normalized_centroids(_load_centroid_matrix(spark, path))
        relabeled = encode_pq(
            cells_full, books, vec_col=vec_col, id_col=id_col,
            keep_cols=("cell",), residual_centroids=cnorm,
        ).localCheckpoint(eager=True)
        # SET-total, not count-total (review r12): the re-encode sources
        # from the CELLS tier, so a code id missing from the listed
        # cells could cancel against a cells id missing from codes and
        # leave the counts balanced — assert directly that no code id
        # vanishes from the ADC tier
        missing = (
            codes.select(id_col)
            .join(relabeled.select(id_col), id_col, "anti")
            .count()
        )
        if missing:
            raise ValueError(
                f"codes/cells sync over cells {cl} is not total: "
                f"{missing} code ids in the listed directories have no "
                "row in the listed cells — they would vanish from the "
                "ADC tier"
            )
    else:
        relabeled = (
            codes.drop("cell")
            .join(cells_full.select(id_col, "cell"), id_col)
            .localCheckpoint(eager=True)
        )
        # inner join: n_out == n_in iff every code id is in the listed
        # cells (both sides deduped), so count equality IS set totality
        n_in, n_out = codes.count(), relabeled.count()
        if n_in != n_out:
            raise ValueError(
                f"codes/cells sync over cells {cl} is not total: {n_in} "
                f"code rows in the listed directories but {n_out} of "
                "their ids live in the listed cells — the difference "
                "would vanish from the ADC tier"
            )
    (
        relabeled.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    # a listed dir whose every code row relocated keeps its stale files
    # under dynamic overwrite (no rows -> no partition replaced): drop it
    present = {int(r.cell) for r in relabeled.select("cell").distinct().collect()}
    for c in cl:
        if c not in present:
            state.delete(spark, f"{path}/codes/cell={c}")
    _mark_dirty(
        spark, path,
        leaves=[f"codes/cell={c}" for c in cl if c in present]
        + ([f"cells/cell={c}" for c in cl] if repair_cells else []),
    )


def split_cells(
    spark,
    path: str,
    target_occupancy: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Grow the coarse codebook with the corpus: split every cell whose
    occupancy exceeds ``target_occupancy`` by a deterministic 2-means
    over its residents, rewriting ONLY the split cells' directories and
    appending the new centroids — the occupancy-maintenance escape the
    append path needs at scale (a frozen k under a growing corpus makes
    every affected-cell fold and probe pay the occupancy term; SCALE.md
    round 9 measured the fold's 1.7x growth at a 100x corpus as exactly
    this). Returns a report (cell, new_cell, n_kept, n_moved).

    Mechanics, all bounded by the HOT cells (never the standing index):
    occupancy from a per-cell count; hot residents 2-means'd per cell
    with a fully deterministic Lloyd's (rows id-sorted; seeds = min-id
    vector and the farthest vector from it, ties to the lower id), so a
    crash-rerun reproduces the identical assignment; the child holding
    the min-id seed KEEPS the old cell id, the other child takes
    max-CENTROID-cell + rank. Child ids allocate from the CENTROID
    TABLE, not the occupied cell directories (advice r10): a centroid
    row with zero residents (k-means empty cell, or a cell a delete
    drained) can hold an id above every occupied directory, and a
    dir-derived child id would silently replace it. The table stays
    GAP-FREE because load_ivf_index maps matrix position to cell id. A
    degenerate cell (2-means collapses to one side: identical vectors)
    is left unsplit. Write order is centroids THEN cells: a crash
    between them leaves the new ids as empty cells (probes unaffected;
    a rerun re-splits the still-hot parents with fresh ids above them —
    the stranded children are ordinary empty cells, and because their
    centroids tie bit-equal with the rerun's children, future
    assignments break to the LOWER id and simply adopt them); the
    reverse order would leave resident rows in directories no centroid
    row reaches — silently unprobeable even at nprobe == k.

    PQ CODES TIER (an IVFADC index — verdict r10 item 1): with RAW
    codes (the default build) the subcodebooks never change on a split,
    so the split only RELOCATES the affected cells' code rows into the
    child directories (``_sync_codes_to_cells`` — a pruned
    re-partition, never a re-encode, never a full rebuild); a RESIDUAL
    index (save_ivfpq_index residual=True) re-encodes the affected
    cells' codes against their new centroids instead — still bounded by
    the hot cells, the documented operational trade of residual
    encoding (RECALL.md round 12 measures when residual is worth it).
    Crash safety is the package's write-ahead intent
    (``state.intent``/``state.resume``): ``codes/_split_pending.json``
    records the affected cell set BEFORE the cells rewrite and is
    removed after the codes relocation; a pending record found on entry
    is repaired first (re-sync the listed cells — idempotent), so the
    one torn window (cells moved, codes not yet) lasts at most until
    the next split call. Torn reads stay safe: a stale-labeled code
    row is still scanned under its OLD cell, so an nprobe == k probe
    remains exact and narrower probes degrade in recall only.

    Split children get centroids recomputed as member means, so the
    local quantizer rule (member -> nearest of the two children) holds;
    a member's GLOBAL argmin may drift to another cell, as it does for
    any split-maintained IVF — recall-neutral at the exactness pins
    (nprobe == k probes everything) and repaired by the next full
    refit. Refuses an index with PENDING APPEND EPOCHS (their rows'
    cell assignments predate the split — fold_appends first) or a
    pending IVFADC append txn (roll it forward/back via
    append_to_ivfpq_index first)."""
    import pandas as pd

    from .compaction import recover_pending_under

    # a torn codes-only refit is finished first (roll forward/back):
    # the split's codes relocation below must act on ONE generation of
    # the codes tier, not a half-swapped mix
    _resolve_refit(spark, path)
    # a compaction that crashed mid-commit leaves a leaf with BOTH the
    # compacted files and the originals (every row duplicated) plus the
    # manifest that can repair it; rewriting such a leaf would bake the
    # duplicates in and wipe the manifest — finish the recovery first
    # (one globStatus per root; review r11)
    recover_pending_under(spark, f"{path}/cells")
    recover_pending_under(spark, f"{path}/codes")

    if state.ls(spark, f"{path}/appends"):
        raise ValueError(
            f"{path} has pending append epochs: fold_appends before "
            "split_cells (append rows' cell assignments predate the split)"
        )
    if state.ls(spark, f"{path}/append_txn"):
        raise ValueError(
            f"{path} has a pending IVFADC append txn: retry the batch "
            "(append_to_ivfpq_index rolls the torn attempt back and "
            "re-appends) before splitting cells"
        )
    has_codes = bool(state.ls(spark, f"{path}/codes"))
    if has_codes:
        state.resume(
            spark,
            f"{path}/codes",
            _SPLIT_MANIFEST,
            lambda pending: _sync_codes_to_cells(
                spark, path, pending["affected_cells"], id_col=id_col,
                repair_cells=True, vec_col=vec_col,
            ),
        )

    cells = spark.read.parquet(f"{path}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    hot = sorted(
        r.cell
        for r in counts.filter(
            F.col("n") > int(target_occupancy)
        ).collect()
    )
    empty_report = spark.createDataFrame(
        [], "cell int, new_cell int, n_kept long, n_moved long"
    )
    if not hot:
        return empty_report
    # allocation base = the centroid TABLE's max id (advice r10): an
    # occupied-dirs max misses empty centroid rows (k-means empty cells,
    # delete-drained cells) and a child id colliding with one would
    # silently replace it
    max_cell = int(
        spark.read.parquet(f"{path}/centroids")
        .agg(F.max("cell").alias("m"))
        .collect()[0]
        .m
    )

    residents = cells.filter(F.col("cell").isin([int(c) for c in hot]))

    def _two_means(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf[id_col].to_numpy().argsort(kind="stable")
        pdf = pdf.iloc[order].reset_index(drop=True)
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy()
        c0 = X[0].copy()  # min-id seed
        d = ((X - c0) ** 2).sum(axis=1)
        far = np.flatnonzero(d == d.max())
        c1 = X[far[0]].copy()  # ids sorted -> lowest-id farthest vector
        assign = None
        for _ in range(25):
            d0 = ((X - c0) ** 2).sum(axis=1)
            d1 = ((X - c1) ** 2).sum(axis=1)
            new = d0 <= d1  # tie -> the min-id-seed child
            if assign is not None and bool((new == assign).all()):
                break
            assign = new
            if bool(assign.all()) or not bool(assign.any()):
                break
            c0 = X[assign].mean(axis=0)
            c1 = X[~assign].mean(axis=0)
        if assign is None or bool(assign.all()) or not bool(assign.any()):
            child = np.zeros(len(X), dtype=np.int32)  # degenerate: no split
        else:
            child = np.where(assign, 0, 1).astype(np.int32)
        return pd.DataFrame(
            {id_col: ids, "cell": pdf["cell"], "child": child}
        )

    id_type = dict(residents.dtypes)[id_col]
    assign = (
        residents.select(id_col, "cell", vec_col)
        .groupBy("cell")
        .applyInPandas(
            _two_means, schema=f"{id_col} {id_type}, cell int, child int"
        )
        .localCheckpoint(eager=True)
    )
    split_ids = sorted(
        r.cell
        for r in assign.filter(F.col("child") == 1)
        .select("cell")
        .distinct()
        .collect()
    )
    if not split_ids:
        return empty_report
    new_id = {c: max_cell + 1 + i for i, c in enumerate(split_ids)}
    mapping = spark.createDataFrame(
        [(int(c), 1, int(nid)) for c, nid in new_id.items()],
        "cell int, child int, final_cell int",
    )
    routed = (
        assign.join(F.broadcast(mapping), ["cell", "child"], "left")
        .withColumn(
            "final_cell", F.coalesce("final_cell", F.col("cell"))
        )
        .select(id_col, "cell", "final_cell")
    )
    report = (
        routed.filter(F.col("cell").isin([int(c) for c in split_ids]))
        .groupBy("cell")
        .agg(
            F.sum(
                (F.col("final_cell") == F.col("cell")).cast("long")
            ).alias("n_kept"),
            F.sum(
                (F.col("final_cell") != F.col("cell")).cast("long")
            ).alias("n_moved"),
        )
        .join(F.broadcast(mapping.select("cell", "final_cell")), "cell")
        .select(
            "cell",
            F.col("final_cell").alias("new_cell"),
            "n_kept",
            "n_moved",
        )
        .orderBy("cell")
        .localCheckpoint(eager=True)
    )
    # stage the rewrite (full rows, new cell) BEFORE touching the dirs
    staged = (
        residents.drop("cell")
        .join(routed.select(id_col, "final_cell"), id_col)
        .withColumnRenamed("final_cell", "cell")
        .localCheckpoint(eager=True)
    )

    # child centroids: deterministic member means (id-sorted fold)
    def _mean(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf[id_col].to_numpy().argsort(kind="stable")
        X = np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "centroid": [X.mean(axis=0).tolist()],
            }
        )

    affected_final = [int(c) for c in split_ids] + [
        int(v) for v in new_id.values()
    ]
    child_cents = (
        staged.select(id_col, "cell", vec_col)
        .filter(F.col("cell").isin(affected_final))
        .groupBy("cell")
        .applyInPandas(_mean, schema="cell int, centroid array<double>")
    )
    old_cents = spark.read.parquet(f"{path}/centroids")
    new_table = (
        old_cents.filter(~F.col("cell").isin(affected_final))
        .unionByName(child_cents)
        .localCheckpoint(eager=True)  # staged: this plan reads the dir
    )
    new_table.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )

    def rewrite_cells() -> None:
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )

    if has_codes:
        # write-ahead: record the affected cell set before the cells
        # rewrite so a crash between the two tier rewrites is repaired
        # (re-synced from the cells tier) on the next call
        with state.intent(
            spark, f"{path}/codes", _SPLIT_MANIFEST,
            {"affected_cells": affected_final},
        ):
            rewrite_cells()
            _sync_codes_to_cells(
                spark, path, affected_final, id_col=id_col, vec_col=vec_col
            )
    else:
        rewrite_cells()
    # the parent+child cells dirs were just rewritten (the codes dirs
    # were marked by _sync_codes_to_cells itself)
    _mark_dirty(
        spark, path, leaves=[f"cells/cell={c}" for c in affected_final]
    )
    return report


def ivf_cell_stats(spark, path: str) -> DataFrame:
    """Per-cell occupancy report for a persisted index: (cell, n_vecs,
    frac, imbalance) where imbalance = n_vecs / mean-cell-size. The
    rebuild trigger for an append-maintained index: when max imbalance
    drifts past ~4-8x, hot cells dominate probe cost and the codebook
    should be refit. One partition-pruned count aggregation."""
    cells = spark.read.parquet(f"{path}/cells")
    per = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = per.agg(
        F.sum("n_vecs").alias("__t"), F.count(F.lit(1)).alias("__k")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vecs",
            F.round(F.col("n_vecs") / F.col("__t"), 6).alias("frac"),
            F.round(
                F.col("n_vecs") * F.col("__k") / F.col("__t"), 6
            ).alias("imbalance"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half): vectors are L2-normalized,
# split into m contiguous subspaces, and each subspace is vector-quantized
# against its own k-centroid codebook. A 64-dim float32 vector (256 B)
# becomes m=8 uint8 codes (8 B) — 32x memory compression, which is what lets
# a 100 TB embedding corpus live in executor memory for scoring. Search is
# asymmetric distance computation (ADC): per query, an m*k lookup table of
# exact subspace dot products; a corpus vector's approximate cosine is the
# sum of m table lookups. A shortlist survives ADC and is re-ranked with
# exact cosine (the standard refine step) so recall approaches brute force.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    sample_cap: int = 100_000,
    iters: int = 20,
    normalize: bool = True,
) -> np.ndarray:
    """Fit per-subspace codebooks with seeded Lloyd iterations in numpy on
    a bounded corpus sample (the faiss practice: codebooks train on a
    ~100k sample regardless of corpus size — training cost must not grow
    with the corpus). Returns (m, k, d/m) centroids.

    ``normalize=False`` trains on the inputs AS GIVEN — the residual-
    encoding path (save_ivfpq_index residual=True): residuals r =
    x_norm - c_norm[cell] live in the normalized space already, and
    renormalizing them would destroy the <q, x> = <q, c> + <q, r>
    decomposition the residual ADC score depends on.
    """
    # Single-pass bounded sample: limit(sample_cap) scans only as many
    # partitions as needed (LocalLimit short-circuit) — no separate
    # count() pass. The sample is the corpus prefix; on a hash- or
    # arrival-ordered layout that is effectively random (the faiss
    # practice — codebooks train on any ~100k sample). If the layout is
    # sorted by a feature-correlated key, pass a pre-sampled frame.
    sample = corpus.select(vec_col).limit(sample_cap)
    try:
        # Arrow path: decode the list column from its flat values buffer
        # (zero Python-object round trip) — row collect / to_pylist made
        # the sample transfer, not Lloyd, dominate training time
        arr = sample.toArrow().column(0).combine_chunks()
        flat = np.asarray(arr.values.to_numpy(zero_copy_only=False),
                          dtype=np.float64)
        # .copy(): the zero-copy view over the Arrow buffer is read-only,
        # and normalization below mutates in place
        x = flat.reshape(len(arr), -1).copy()
    except AttributeError:  # pragma: no cover - pre-4.0 fallback
        x = np.array([r[0] for r in sample.collect()], dtype=np.float64)
    if len(x) < k:
        raise ValueError(
            f"PQ codebook training needs >= k={k} vectors per subspace; "
            f"corpus sample has only {len(x)} rows. Lower k or grow the corpus."
        )
    if normalize:
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return _fit_books(x, m=m, k=k, iters=iters)


def _fit_books(
    x: np.ndarray, m: int, k: int, iters: int = 20
) -> np.ndarray:
    """Per-subspace seeded Lloyd over an in-memory sample matrix — the
    numpy core shared by ``train_pq_codebooks`` (uniform corpus-prefix
    sample) and ``refit_pq_codebooks(weight_by_error=True)`` (error-
    proportional importance sample). Deterministic for a given x."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.default_rng(_SEED)
    books = np.empty((m, k, sub))
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[rng.choice(len(xs), size=k, replace=False)]
        for _ in range(iters):
            # ||x-c||^2 argmin == (x.c - ||c||^2/2) argmax: one (n,k) GEMM
            # instead of materializing the (n,k,sub) difference tensor
            # (the tensor version made Lloyd, not the sample transfer,
            # dominate training time at the 100k sample cap)
            assign = (xs @ cent.T - 0.5 * (cent**2).sum(1)).argmax(1)
            for c in range(k):
                pts = xs[assign == c]
                if len(pts):
                    cent[c] = pts.mean(0)
        books[j] = cent
    return books


def encode_pq(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
    with_error: bool = False,
    residual_centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, codes array<int>[, keep_cols][, qerr]) — nearest-centroid
    code per subspace, computed in one Arrow-batched pass (mapInPandas,
    numpy-vectorized argmin; no shuffle). Codes are the ONLY per-vector
    state ADC search needs. ``keep_cols`` pass through untouched — the
    IVFADC composition keeps the coarse ``cell`` this way, so the codes
    tier can be written partitionBy(cell) without a corpus-sized join
    back to the assignment.

    ``with_error=True`` adds ``qerr`` — the vector's PQ quantization
    error sum_j ||x_j - c_chosen||^2 over the L2-normalized input,
    computed from the SAME per-subspace GEMM the argmax already pays
    (one extra take_along_axis per subspace, no second pass). This is
    the drift signal the frozen-codebook append path monitors: a batch
    whose mean qerr grows past the build-time distribution is arriving
    off-codebook and degrading ADC shortlist quality (needs_refit).

    ``residual_centroids`` (the ROW-NORMALIZED coarse centroid matrix,
    row position == cell id) switches to RESIDUAL encoding — the
    IVF+PQ composition faiss defaults to: the quantized payload is
    r = x_norm - c_norm[cell] instead of x_norm, so the subcodebooks
    spend their 2^bits resolution on the (much smaller) within-cell
    spread rather than re-describing the cell's position. Requires the
    row's coarse ``cell`` in the input (enforced); ``qerr`` measures
    the residual's quantization error (the drift monitor's signal stays
    aligned with what the codes actually encode). The residual is NOT
    renormalized — the ADC score needs <q, x> = <q, c_cell> + <q, r>
    to decompose exactly."""
    import pandas as pd

    spark = corpus.sparkSession
    if residual_centroids is not None and "cell" not in corpus.columns:
        raise ValueError(
            "residual encoding needs the coarse 'cell' column in the "
            "input: the residual is taken against the row's own cell "
            "centroid"
        )
    bc = spark.sparkContext.broadcast(codebooks)
    bc_cn = (
        spark.sparkContext.broadcast(
            np.ascontiguousarray(residual_centroids, dtype=np.float64)
        )
        if residual_centroids is not None
        else None
    )
    m, k, sub = codebooks.shape
    keep_fields = [f for f in corpus.schema.fields if f.name in keep_cols]
    out_schema = (
        f"{id_col} long, codes array<int>"
        + "".join(f", {f.name} {f.dataType.simpleString()}" for f in keep_fields)
        + (", qerr double" if with_error else "")
    )
    in_cols = [id_col, vec_col, *keep_cols]
    if residual_centroids is not None and "cell" not in in_cols:
        in_cols.append("cell")

    def enc(batches):
        books = bc.value
        c_sq = [(books[j] ** 2).sum(1) for j in range(m)]
        for pdf in batches:
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            if bc_cn is not None:
                x = x - bc_cn.value[pdf["cell"].to_numpy().astype(np.int64)]
            codes = np.empty((len(x), m), dtype=np.int32)
            qerr = np.zeros(len(x)) if with_error else None
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                # ||x-c||^2 argmin == (x.c - ||c||^2/2) argmax, one GEMM
                dots = xs @ books[j].T
                chosen = (dots - 0.5 * c_sq[j]).argmax(1)
                codes[:, j] = chosen
                if with_error:
                    # ||x_j - c||^2 = ||x_j||^2 - 2 x_j.c + ||c||^2,
                    # reusing the dots the argmax just computed
                    d_chosen = np.take_along_axis(
                        dots, chosen[:, None], 1
                    ).ravel()
                    qerr += (
                        (xs**2).sum(1) - 2.0 * d_chosen + c_sq[j][chosen]
                    )
            out = {
                id_col: pdf[id_col],
                "codes": list(codes),
                **{c: pdf[c] for c in keep_cols},
            }
            if with_error:
                out["qerr"] = qerr
            yield pd.DataFrame(out)

    return corpus.select(*in_cols).mapInPandas(enc, schema=out_schema)


def search_pq(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_batches: int | None = None,
) -> DataFrame:
    """ADC scan + exact re-rank.

    The bounded query set is collected once on the driver and broadcast
    with the codebooks (queries are the small side by contract, as in
    x06 brute force). The encoded corpus is bucketed by id hash into
    ``n_batches`` groups; each group's task builds the per-query LUTs,
    scores its bucket's codes with m table lookups, and keeps only the
    per-query top-``shortlist`` via ``np.argpartition`` — so the ADC
    stage emits at most |queries| * shortlist * n_batches rows, never
    |queries| * |corpus|. A per-query window merges the bucket
    shortlists; only those rows join back to their full vectors, and
    the block scorer re-ranks them by exact cosine, each query's
    shortlist its own block.
    """
    spark = corpus.sparkSession
    m, kk, sub = codebooks.shape
    if n_batches is None:
        n_batches = max(spark.sparkContext.defaultParallelism, 8)
    _, qids, qvecs = _collect_queries(queries, id_col, vec_col, dim=m * sub)
    bc = spark.sparkContext.broadcast((codebooks, qids, qvecs))

    def adc(codes_pdf):
        books, ids, Q = bc.value
        return _adc_shortlist(ids, Q, books, codes_pdf, id_col, shortlist)

    scored = (
        encoded.withColumn(
            "__b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches)).cast("int")
        )
        .groupBy("__b")
        .applyInPandas(adc, schema="query_id long, neighbor_id long, score_pq double")
    )
    return _merge_and_rerank(
        scored, shortlist, corpus, qids, qvecs, k, vec_col, id_col,
        dict(queries.dtypes)[id_col],
    )


def _adc_shortlist(qids, Q, books, codes_pdf, id_col, shortlist, anchor=None):
    """One group's ADC pass: the queries ``Q`` (unit-normalized here)
    build their m x pq_k lookup tables, the group's codes are scored by
    m table lookups, self-matches are dropped, and each query keeps its
    top-``shortlist`` (np.argpartition) as (query_id, neighbor_id,
    score_pq) rows. ``anchor`` is a residual index's normalized cell
    centroid: its <q, anchor> term is added back so shortlists merge
    across cells."""
    import pandas as pd

    m, _, sub = books.shape
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # per-query LUT: luts[q, j, c] = <q_sub_j, centroid_jc>  (exact dots)
    luts = np.stack(
        [Q[:, j * sub : (j + 1) * sub] @ books[j].T for j in range(m)], axis=1
    )
    codes = np.vstack(codes_pdf["codes"].to_numpy())  # (n, m)
    nids = codes_pdf[id_col].to_numpy()
    scores = np.zeros((len(qids), len(codes)))
    for j in range(m):
        scores += luts[:, j, :][:, codes[:, j]]
    if anchor is not None:
        scores += (Q @ anchor)[:, None]
    scores[qids[:, None] == nids[None, :]] = -np.inf
    t = min(shortlist, scores.shape[1])
    idx = np.argpartition(-scores, t - 1, axis=1)[:, :t]
    out = pd.DataFrame(
        {
            "query_id": np.repeat(qids, t),
            "neighbor_id": nids[idx].ravel(),
            "score_pq": np.take_along_axis(scores, idx, axis=1).ravel(),
        }
    )
    return out[np.isfinite(out["score_pq"])]


def _merge_and_rerank(
    scored, shortlist, corpus, qids, qvecs, k, vec_col, id_col, query_t
) -> DataFrame:
    """One window merges the ADC groups' shortlists (its input is bounded
    by |queries| x shortlist x groups rows); the merged (query_id,
    neighbor_id) rows broadcast into the corpus scan, and the block
    scorer ranks each query's rows by exact cosine, the query id being
    the block."""
    w = W.partitionBy("query_id").orderBy(F.desc("score_pq"), F.asc("neighbor_id"))
    short = (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    scan = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
        .join(F.broadcast(short), "neighbor_id")
        .select(F.col("query_id").alias("block"), "neighbor_id", "vec")
    )
    return _block_topk(
        scan, qids, qvecs, _routes(qids[:, None]), k, query_t
    ).select("query_id", "neighbor_id", "rank", "cos_sim")


# ---------------------------------------------------------------------------
# IVFADC: the composed serving path (coarse IVF cell prune -> per-cell PQ/ADC
# shortlist -> exact re-rank). This is the standard two-level layout (IVF
# partition pruning from probe_ivf, PQ compression from train/encode/search_pq)
# composed into one index directory and one probe — the escape hatch the GEMM
# assignment's residency bound names: past dim 1024 x k 65536 the flat
# codebook costs ~0.5 GB per Python worker, while the IVFADC probe keeps only
# (coarse_k x dim) + (m x pq_k x dim/m) doubles resident — the PQ subcodes
# replace the k-proportional term entirely.
# ---------------------------------------------------------------------------


def _normalized_centroids(centroids: np.ndarray) -> np.ndarray:
    """The coarse centroids projected onto the unit sphere (row-wise L2
    normalization) — the residual-encoding reference frame: vectors are
    PQ-encoded after normalization, so the residual must be taken
    against a centroid living in the same normalized space."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)
    return c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)


def _pq_residual(spark, path: str) -> bool:
    """Whether the IVFADC index at ``path`` carries RESIDUAL codes
    (``pq_meta`` written by save_ivfpq_index); absent meta — an index
    built before the residual option — means raw codes."""
    if not _parquet_data_exists(spark, f"{path}/pq_meta"):
        return False
    return bool(
        spark.read.schema("residual boolean")
        .parquet(f"{path}/pq_meta")
        .collect()[0]
        .residual
    )


# (centroids, books, residual) per index path, each stamped with the
# metadata listing it was read under; least recently used first
_META_DIRS = ("centroids", "pq_codebooks", "pq_meta")
_META_MEMO_PATHS = 8
_META_MEMO: "OrderedDict[str, tuple[tuple, tuple]]" = OrderedDict()
_META_LOCK = threading.Lock()


def _meta_listing(spark, path: str) -> tuple:
    """(name, length, mtime) of every file under the three metadata
    subdirs — a driver-side Hadoop-FS listing, no Spark job. Every
    writer of those subdirs writes new uniquely named part files, so
    any rewrite changes the listing."""
    return tuple(
        (
            sub,
            tuple(
                sorted(
                    (e.name, e.size, e.mtime)
                    for e in state.ls(spark, f"{path}/{sub}")
                )
            ),
        )
        for sub in _META_DIRS
    )


def _ivfpq_meta(spark, path: str) -> tuple[np.ndarray, np.ndarray, bool]:
    """(coarse centroids, PQ codebooks, residual flag) of the IVFADC
    index at ``path``, memoized per path. The listing is taken BEFORE
    the reads, so a rewrite racing the read can only store newer data
    under an older stamp — which the next call's listing misses. The
    memo holds at most ``_META_MEMO_PATHS`` indexes, and its arrays are
    read-only because every caller shares them."""
    stamp = _meta_listing(spark, path)
    with _META_LOCK:
        hit = _META_MEMO.get(path)
        if hit is not None and hit[0] == stamp:
            _META_MEMO.move_to_end(path)
            return hit[1]
    centroids = _load_centroid_matrix(spark, path)
    books = load_pq_codebooks(spark, path)
    for a in (centroids, books):
        a.flags.writeable = False
    meta = (centroids, books, _pq_residual(spark, path))
    with _META_LOCK:
        _META_MEMO[path] = (stamp, meta)
        _META_MEMO.move_to_end(path)
        while len(_META_MEMO) > _META_MEMO_PATHS:
            _META_MEMO.popitem(last=False)
    return meta


def _residual_frame(
    indexed: DataFrame,
    cnorm: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, __res array<double>) — the residual r = x_norm -
    c_norm[cell] per row, one Arrow map pass (the PQ-training input for
    a residual index; encode_pq computes the same quantity inline)."""
    import pandas as pd

    spark = indexed.sparkSession
    bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(cnorm, dtype=np.float64)
    )

    def res(batches):
        cn = bc.value
        for pdf in batches:
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            r = x - cn[pdf["cell"].to_numpy().astype(np.int64)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": pdf["cell"],
                    "__res": list(r),
                }
            )

    return indexed.select(id_col, "cell", vec_col).mapInPandas(
        res, schema=f"{id_col} long, cell int, __res array<double>"
    )


def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    k: int = 16,
    m: int = 8,
    pq_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    residual: bool = False,
) -> None:
    """Build + persist the full IVFADC artifact set under ``path``:

    - ``cells/``        — full vectors, partitionBy(cell)   (save_ivf_index)
    - ``centroids/``    — the coarse codebook               (save_ivf_index)
    - ``codes/``        — PQ codes, partitionBy(cell): the ADC tier a probe
                          actually scans — 8 B/vector at defaults vs 256 B of
                          raw float32, so the shortlist stage reads ~1/32 the
                          bytes of the cells tier it prunes for
    - ``pq_codebooks/`` — (subspace, code, centroid) rows, m x pq_k of them

    The codes keep their coarse cell THROUGH the encode (encode_pq
    keep_cols) — no corpus-sized join to reunite code with cell. One
    k-means fit + one bounded-sample PQ train + two single-pass writes;
    everything downstream (append/delete/probe) reuses the existing
    cell-tier operators untouched.

    ``residual=True`` (verdict r11 item 4) PQ-encodes the RESIDUAL
    r = x_norm - c_norm[cell] instead of the raw normalized vector —
    the faiss-default IVF+PQ composition: at the same 8-byte budget the
    subcodebooks describe only the within-cell spread, not the cell's
    position on the sphere. WHEN that helps is a property of the
    CORPUS, measured not assumed (RECALL.md round 12): with TIGHT
    coarse cells (<x,c> -> 1 — clustered corpora, large k) the residual
    carries far less energy and the mean quantization error drops ~64x
    (pytest-pinned) — the mechanism behind residual's recall win on
    structured data; with LOOSE cells (isotropic corpora like this
    repo's gaussian testdata) E||r||^2 = 2 - 2<x,c> EXCEEDS
    ||x_norm||^2 = 1 and residual HURTS — hence the default stays raw.
    The build-time decision rule is free: both modes record their mean
    qerr as the drift baseline; build a sample both ways, keep the
    lower. The remaining trade is OPERATIONAL and deliberate: residual
    codes are valid only against their cell's centroid, so a cell
    split must RE-ENCODE the affected cells' codes (still bounded by
    the hot cells — never the corpus) where raw codes merely relocate;
    ``_sync_codes_to_cells`` switches mode on the ``pq_meta`` flag this
    build records. Exactness pins are unaffected either way (the
    re-rank uses full vectors).

    Rebuilding IN PLACE (the documented needs_refit remedy) RESETS the
    append bookkeeping (review r11): stale ``append_commits`` would
    silently no-op future batches that reuse old keys, a stale pending
    ``append_txn`` would roll ids OUT of the freshly built tiers even
    though the refit corpus legitimately contains them, and old
    ``drift/batches`` records would pool against the new baseline and
    keep needs_refit tripped forever (a refit loop). All three are
    derived from the PREVIOUS index generation and die with it."""
    spark = corpus.sparkSession
    for stale in (
        "append_txn",
        "append_commits",
        "drift",
        # a torn codes-only refit's staging + commit marker die with the
        # generation too: the rebuild publishes fresh codes/books/baseline
        # directly, and a leftover commit manifest would make the next
        # _resolve_refit 'roll forward' stale staged artifacts over them
        "codes_refit",
        "pq_codebooks_refit",
        _REFIT_COMMIT,
        # the codebook generation stamp resets with the rebuild (a
        # cached-books reader treats missing-stamp as generation 0)
        _PQ_GEN,
    ):
        state.delete(spark, f"{path}/{stale}")
    save_ivf_index(corpus, path, k=k, vec_col=vec_col, id_col=id_col)
    indexed = spark.read.parquet(f"{path}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    cnorm = None
    if residual:
        cnorm = _normalized_centroids(_load_centroid_matrix(spark, path))
        books = train_pq_codebooks(
            _residual_frame(indexed, cnorm, vec_col=vec_col, id_col=id_col),
            m=m, k=pq_k, vec_col="__res", normalize=False,
        )
    else:
        books = train_pq_codebooks(corpus, m=m, k=pq_k, vec_col=vec_col)
    from pyspark.sql import Observation

    # the build-time quantization-error distribution rides the codes
    # write (Observation — zero extra jobs, exact over the full corpus):
    # the drift monitor compares arriving batches against it
    obs = Observation()
    codes = (
        encode_pq(
            indexed, books, vec_col=vec_col, id_col=id_col,
            keep_cols=("cell",), with_error=True,
            residual_centroids=cnorm,
        )
        .observe(
            obs,
            F.avg("qerr").alias("mean_qerr"),
            F.count(F.lit(1)).alias("n"),
        )
        .drop("qerr")
    )
    (
        codes.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [(float(obs.get["mean_qerr"]), int(obs.get["n"]))],
        "mean_qerr double, n long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/drift/baseline")
    mm, kk, sub = books.shape
    spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in books[j, c]])
            for j in range(mm)
            for c in range(kk)
        ],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_codebooks")
    spark.createDataFrame(
        [(bool(residual),)], "residual boolean"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_meta")
    # the build's codes tier needs the same one-time census the cells
    # tier got inside save_ivf_index (which also reset the dirty set)
    _mark_dirty(spark, path, census=("codes",))


def _delete_ids_from_tier(
    spark,
    tier_path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
    affected: list[int] | None = None,
) -> None:
    """Erase the given ids from one cell-partitioned tier by rewriting
    ONLY the cell directories that hold them (broadcast semi-join to
    find affected cells, anti-join survivors, dynamic partition
    overwrite, drained dirs dropped) — THE sliver-delete shape, shared
    by delete_from_ivf_index (which passes the ``affected`` list its
    audit report already computed) and the IVFADC append txn rollback
    for both the cells and codes tiers."""
    dels = ids.select(id_col).distinct()
    tier = spark.read.parquet(tier_path).withColumn(
        "cell", F.col("cell").cast("int")
    )
    if affected is None:
        affected = sorted(
            r.cell
            for r in tier.join(F.broadcast(dels), id_col, "semi")
            .select("cell")
            .distinct()
            .collect()
        )
    if not affected:
        return
    sliver = tier.filter(F.col("cell").isin([int(c) for c in affected]))
    staged = sliver.join(F.broadcast(dels), id_col, "anti").localCheckpoint(
        eager=True
    )
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(tier_path)
    )
    present = {int(r.cell) for r in staged.select("cell").distinct().collect()}
    for c in affected:
        if c not in present:
            state.delete(spark, f"{tier_path}/cell={int(c)}")
    root, tier = tier_path.rsplit("/", 1)
    _mark_dirty(
        spark, root,
        leaves=[f"{tier}/cell={int(c)}" for c in affected if int(c) in present],
    )


def _parquet_data_exists(spark, path: str) -> bool:
    """True iff ``path`` holds a committed parquet DATA file (never bare
    directory existence — the meta-gate crash discipline)."""
    return any(e.name.endswith(".parquet") for e in state.ls(spark, path))


def _ivfpq_txn_meta(spark, path: str) -> int | None:
    """The open append txn's batch key (-1 for an unkeyed batch), or
    None when no txn is pending (a torn marker reads as absent)."""
    rec = read_record(spark, f"{path}/append_txn/meta")
    return None if rec is None else int(rec["batch"])


def _ivfpq_commit_exists(spark, path: str, batch_id: int) -> bool:
    return (
        read_record(spark, f"{path}/append_commits/batch={int(batch_id)}")
        is not None
    )


def _resolve_ivfpq_txn(spark, path: str, id_col: str = "vec_id") -> None:
    """Roll a pending IVFADC append txn forward or back so the index is
    CONSISTENT before anything else writes: a txn that actually
    finished — keyed batch with its external commit record, or unkeyed
    batch with the txn-scoped ``append_txn/committed`` flag (review
    r11: without it, a crash between the unkeyed batch's last tier
    write and the marker delete would roll a COMPLETED batch back —
    silent at-most-once loss) — just drops the marker; an uncommitted
    txn is torn mid-append, so its recorded ids' rows are deleted from
    BOTH tiers (the write-ahead undo record) along with its drift
    record (review r11: a rolled-back batch's quantization stats would
    otherwise poison needs_refit forever) and the marker. Idempotent:
    a crash inside the rollback re-runs it (the marker is deleted
    last)."""
    txn = f"{path}/append_txn"
    pending = _ivfpq_txn_meta(spark, path)
    if pending is None:
        # an ids-only dir (crash between the ids write and the meta
        # write) is provably pre-append — nothing hit the tiers; sweep
        # it so split_cells' any-file gate cannot wedge on it (review
        # r11)
        state.delete(spark, txn)
        return
    committed = (
        _ivfpq_commit_exists(spark, path, pending)
        if pending >= 0
        else read_record(spark, f"{path}/append_txn/committed") is not None
    )
    if committed:
        state.delete(spark, txn)
        return
    ids = spark.read.schema(f"{id_col} long").parquet(
        f"{path}/append_txn/ids"
    )
    _delete_ids_from_tier(spark, f"{path}/cells", ids, id_col=id_col)
    _delete_ids_from_tier(spark, f"{path}/codes", ids, id_col=id_col)
    if pending >= 0:
        state.delete(spark, f"{path}/drift/batches/batch={int(pending)}")
    state.delete(spark, txn)


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
    centroids: np.ndarray | None = None,
    books: np.ndarray | None = None,
    residual: bool | None = None,
) -> None:
    """Fold a batch of NEW vectors into a persisted IVFADC index without
    refitting either codebook: one map-side pass assigns the coarse
    cell against the frozen centroids, a second Arrow pass PQ-encodes
    against the frozen subcodebooks, and the batch appends to BOTH
    tiers — full vectors to ``cells/`` (the re-rank tier) and 8-byte
    codes to ``codes/`` (the ADC tier) — touching only the cell
    directories the batch lands in. NULL embeddings quarantine exactly
    as ``append_to_ivf_index`` does, with the same optional
    ``batch_id`` idempotency key for the quarantine dir. Omitted
    ``centroids``/``books``/``residual`` come from ``_ivfpq_meta``, so
    an unchanged index pays no codebook or pq_meta read; the stream
    sink passes its own cached copies.

    EXACTLY-ONCE under crash/retry (advice r10 + verdict r10 item 2),
    via a write-ahead txn: before either tier write, the staged batch's
    ids land in ``append_txn/ids`` (parquet) and a marker record in
    ``append_txn/meta`` (the undo record); after both tiers commit, a
    per-batch commit record in ``append_commits/batch=K`` (when
    ``batch_id`` is given; else the txn-scoped ``append_txn/committed``)
    and THEN the marker is dropped. The marker, the commit record and
    the per-batch drift record (``drift/batches/batch=K``) are JSON
    records (``state.write_record``: a Hadoop-FS temp write +
    rename, no Spark job); the commit record says what the append did —
    ``{"rows", "cells", "wall_s"}``: rows landed, the cells they landed
    in, and the append's wall seconds. Every entry first resolves a
    pending txn — rolled FORWARD (marker drop) when its commit record
    exists, rolled BACK otherwise (the recorded ids' rows deleted from
    both tiers, a bounded sliver rewrite) — so a replayed batch never
    duplicates rows
    and the two-tier torn state (a vector present for re-rank but
    invisible to the ADC shortlist) survives at most until the next
    append touches the index. A replay of an already-committed
    ``batch_id`` is a no-op. WITHOUT a batch key the txn still
    guarantees crash consistency, but a clean double-call appends the
    batch twice — pass ``batch_id`` when the caller retries.

    Contract: arriving ids must be NEW to the index (the vector-store
    ingestion invariant shared with every append path here) — the txn
    rollback erases rows BY ID, so a batch re-appending an id the index
    already serves would lose the standing copy on rollback (and would
    double-serve it in search if the append succeeded).

    Probe exactness after a clean append is pinned in tests: nprobe ==
    k + shortlist == |corpus ∪ batch| equals brute force over the
    union; the crash-injection tests pin that kill-between-tiers +
    retry lands bit-identical to a clean run."""
    spark = new_vectors.sparkSession
    started = time.perf_counter()
    _resolve_refit(spark, path)
    if batch_id is not None and _ivfpq_commit_exists(spark, path, batch_id):
        # already committed: drop a marker the crash left behind (the
        # commit-then-delete window) and no-op
        _resolve_ivfpq_txn(spark, path, id_col=id_col)
        return
    _resolve_ivfpq_txn(spark, path, id_col=id_col)
    # residual indexes encode r = x_norm - c_norm[cell]; cnorm derives
    # from the centroids already in hand
    if centroids is None or books is None or residual is None:
        meta = _ivfpq_meta(spark, path)
        centroids = meta[0] if centroids is None else centroids
        books = meta[1] if books is None else books
        residual = meta[2] if residual is None else residual
    cnorm = _normalized_centroids(centroids) if residual else None
    assigned = assign_cells(new_vectors, centroids, vec_col=vec_col)
    q_path, q_mode = _quarantine_target(path, batch_id)
    commit: dict = {}

    def write_valid(valid: DataFrame) -> None:
        from pyspark.sql import Observation

        staged = valid.localCheckpoint(eager=True)
        # write-ahead undo record: ids first, the marker second — the
        # txn is open only once meta exists, at which point the ids are
        # guaranteed readable for rollback
        (
            staged.select(id_col)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/append_txn/ids")
        )
        write_record(
            spark, f"{path}/append_txn/meta",
            {"batch": int(batch_id) if batch_id is not None else -1},
        )
        (
            staged.write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/cells")
        )
        # the batch's quantization-error stats ride the codes write
        # (zero extra jobs) — the drift monitor's per-batch sample
        obs = Observation()
        (
            encode_pq(
                staged, books, vec_col=vec_col, id_col=id_col,
                keep_cols=("cell",), with_error=True,
                residual_centroids=cnorm,
            )
            .observe(
                obs,
                F.avg("qerr").alias("mean_qerr"),
                F.count(F.lit(1)).alias("n"),
                # the landing-cell set rides the same write — it feeds
                # the compaction dirty set for BOTH tiers (the batch
                # lands in the same cells in each)
                F.collect_set("cell").alias("cells"),
            )
            .drop("qerr")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        )
        landed = sorted(int(c) for c in obs.get["cells"])
        commit.update(rows=int(obs.get["n"]), cells=landed)
        _mark_dirty(
            spark,
            path,
            leaves=[f"cells/cell={c}" for c in landed]
            + [f"codes/cell={c}" for c in landed],
        )
        if batch_id is not None and int(obs.get["n"]) > 0:
            # keyed overwrite: idempotent under the same replay
            # discipline as the tiers themselves
            write_record(
                spark,
                f"{path}/drift/batches/batch={int(batch_id)}",
                {"mean_qerr": float(obs.get["mean_qerr"]), "n": int(obs.get["n"])},
            )

    _write_quarantining_nulls(
        assigned, new_vectors, vec_col, write_valid, q_path, q_mode,
        mark_root=path,
    )
    commit["wall_s"] = time.perf_counter() - started
    # the UNKEYED batch's commit record is txn-scoped (review r11): a
    # crash between here and the marker delete must roll FORWARD —
    # without it the resolver would erase a completed batch
    write_record(
        spark,
        f"{path}/append_txn/committed"
        if batch_id is None
        else f"{path}/append_commits/batch={int(batch_id)}",
        commit,
    )
    state.delete(spark, f"{path}/append_txn")


def load_pq_codebooks(spark, path: str) -> np.ndarray:
    """(m, pq_k, dim/m) codebook tensor from a save_ivfpq_index dir.
    Each (subspace, code) key is unique and places its own row, so the
    rows need no ordering."""
    rows = spark.read.parquet(f"{path}/pq_codebooks").collect()
    m = max(r.subspace for r in rows) + 1
    kk = max(r.code for r in rows) + 1
    sub = len(rows[0].centroid)
    books = np.empty((m, kk, sub))
    for r in rows:
        books[r.subspace, r.code] = np.asarray(r.centroid)
    return books


_DIRTY_DIR = "dirty"

# (tier subdir, leaf-dir name prefix) — the compaction candidate tiers,
# shared by the full census and the dirty-census records
_TIER_PATTERNS = (
    ("cells", "cell="),
    ("codes", "cell="),
    ("appends", "batch="),
    ("quarantine", "batch="),
)


def _mark_dirty(
    spark, path: str, leaves=(), census=()
) -> None:
    """Record compaction candidates for ``compact_ivf_index``'s bounded
    discovery (verdict r12 item 1): every write that lands files in a
    cell/batch leaf appends one tiny JSON record naming the leaf dirs
    it touched (``leaves`` — index-relative, e.g. ``cells/cell=3``) or,
    for a write that refreshes a whole tier (build, codes-only refit),
    the tier to re-census (``census`` — e.g. ``codes``). Records are
    written atomically (temp + rename) and CONSUMED by the compaction
    that covered them; a record that fails to parse degrades discovery
    to the full census, never to a skipped leaf. Driver cost: one
    small-file write per maintenance/append event — the same order as
    the commit records these events already write."""
    import uuid

    leaves = sorted({str(leaf) for leaf in leaves})
    census = sorted({str(c) for c in census})
    if not leaves and not census:
        return
    # through state.write_record itself: a dirty record is compaction
    # bookkeeping, not one of the commit records this module writes
    state.write_record(
        spark,
        f"{path}/{_DIRTY_DIR}",
        {"leaves": leaves, "census": census},
        name=f"{uuid.uuid4().hex}.json",
    )


_PQ_GEN = "pq_gen.json"


def _pq_generation(spark, path: str) -> int:
    """The PQ codebook GENERATION stamp — bumped by every committed
    codes-only refit's roll-forward (``_resolve_refit``), reset (file
    deleted -> 0) by a full ``save_ivfpq_index`` rebuild. A long-lived
    writer that caches the subcodebooks (the stream sink) compares this
    stamp per batch and refreshes its cache when an out-of-band refit
    retired the cached generation (ADVICE r12): the read is one tiny
    driver-side file per batch, the alternative is silently encoding
    every subsequent batch against retired codebooks."""
    rec = read_record(spark, path, name=_PQ_GEN)
    return 0 if rec is None else int(rec["gen"])


def compact_ivf_index(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
    keep_drift_batches: int = 256,
    keep_commit_records: int = 4096,
    full: bool = False,
) -> dict:
    """OPTIMIZE pass over a persisted IVF/IVFADC index: bin-pack the
    candidate leaf directories (cells tier, codes tier when present,
    unfolded flat append epochs, quarantine batches) through
    ``compaction.compact_parquet_dir`` (read -> coalesce ->
    rename-commit, crash-safe via its write-ahead manifest). Per-batch
    appends write one small file set per landing cell per batch — the
    standard streaming small-files problem; at a day of per-minute
    epochs every probe pays a task + footer read per file. Compaction
    preserves row identity, so probes are bit-identical (pytest-pinned).
    Run between batches (the operator is not snapshot-isolated against
    concurrent readers of the same leaf) — the fold/maintenance cadence
    that owns split_cells is the natural owner. Refuses while an IVFADC
    append txn or a split manifest is pending: both mark in-flight
    multi-step writes whose repair reads the exact files on disk.

    CANDIDATE DISCOVERY IS BOUNDED BY THE DIRTY SET (verdict r12 item
    1): every codes/cells/appends/quarantine write since the last
    compaction recorded the leaf dirs it touched (``_mark_dirty``), so
    this pass examines only those leaves — never the standing index's
    directory census, the one per-epoch maintenance cost the round-12
    1M-vector stream run measured growing with the index (61 -> 99 s
    compact epochs while plain appends stayed flat). The full census
    remains behind ``full=True`` (the escape hatch, and the behavior on
    an index that predates dirty tracking — a missing ``dirty/`` dir
    degrades to the census, as does ANY unreadable dirty record: a torn
    record must never become a skipped leaf). Consumed records are
    deleted only after the covering compaction completes, so a crash
    mid-pass re-examines (idempotently) rather than skips. The
    bookkeeping-retention pruning below is unchanged — its listings are
    bounded by the retention caps themselves after the first prune.

    Retention params must be >= 1 (validated at entry — advice r11):
    'keep zero records' is never meaningful here (the newest drift
    record feeds needs_refit; the newest commit records are what makes
    checkpoint-resumed replays no-op), and the natural-reading trap of
    0 silently meaning 'keep all' (falsy guard around ``dirs[:-0]``)
    is exactly the bug this raise prevents."""
    from .compaction import compact_parquet_dir

    for name, keep in (
        ("keep_drift_batches", keep_drift_batches),
        ("keep_commit_records", keep_commit_records),
    ):
        if int(keep) < 1:
            raise ValueError(
                f"{name} must be >= 1 (got {keep}): retention keeps the "
                "newest records — the newest drift record feeds "
                "needs_refit and the newest commit records keep "
                "checkpoint replays no-op; there is no 'keep none' mode"
            )
    _resolve_refit(spark, path)
    if _ivfpq_txn_meta(spark, path) is not None:
        raise ValueError(
            f"{path} has a pending IVFADC append txn: resolve it "
            "(retry the batch via append_to_ivfpq_index) before "
            "compacting"
        )
    if state.exists(spark, f"{path}/codes/{_SPLIT_MANIFEST}"):
        raise ValueError(
            f"{path} has a pending split manifest: run split_cells to "
            "repair the codes tier before compacting"
        )

    def census(tiers: set[str]) -> list[str]:
        out: list[str] = []
        for sub, pat in _TIER_PATTERNS:
            if sub not in tiers:
                continue
            root = f"{path}/{sub}"
            if not state.exists(spark, root):
                continue
            dirs = [
                e.path
                for e in state.ls(spark, root)
                if e.is_dir and e.name.startswith(pat)
            ]
            out += dirs or ([f"{path}/{sub}"] if sub == "quarantine" else [])
        return out

    all_tiers = {sub for sub, _ in _TIER_PATTERNS}
    dirty = f"{path}/{_DIRTY_DIR}"
    tracked = state.exists(spark, dirty)
    consumed = []
    if tracked:
        # snapshot the record files now: records arriving later belong
        # to writes this pass does not cover and must survive it
        consumed = [
            e.name
            for e in state.ls(spark, dirty)
            if not e.is_dir and not e.name.startswith(".")
        ]
    mode = "census"
    target_leaves: list[str] | None = None
    if tracked and not full:
        rel_leaves: set[str] = set()
        census_tiers: set[str] = set()
        ok = True
        for name in consumed:
            try:
                rec = state.read_record(spark, dirty, name=name)
                rel_leaves.update(str(x) for x in rec["leaves"])
                census_tiers.update(str(x) for x in rec["census"])
            except Exception:
                # a torn/garbage record degrades to the full census —
                # never to a silently skipped leaf
                ok = False
                break
        if ok:
            mode = "dirty"
            target_leaves = census(census_tiers & all_tiers)
            for rel in sorted(rel_leaves):
                # a recorded leaf a later fold/split/delete removed is
                # simply no longer a candidate
                if state.exists(spark, f"{path}/{rel}"):
                    target_leaves.append(f"{path}/{rel}")
    if target_leaves is None:
        target_leaves = census(all_tiers)

    out = {"dirs": 0, "compacted": 0, "rewritten": 0, "pruned": 0,
           "mode": mode}
    for leaf in sorted(set(target_leaves)):
        stats = compact_parquet_dir(
            spark, leaf, target_bytes=target_bytes,
            min_file_bytes=min_file_bytes,
        )
        out["dirs"] += 1
        out["compacted"] += int(stats["compacted"])
        out["rewritten"] += stats["rewritten"]
    # bookkeeping retention (review r11): a long-lived stream leaves one
    # tiny dir PER EPOCH under drift/batches and append_commits — the
    # small-files problem in directory form. Drift keeps the newest
    # ``keep_drift_batches`` (needs_refit reads recency anyway); commit
    # records older than the newest ``keep_commit_records`` are dead —
    # a resumed checkpoint can only replay epochs near its max, and a
    # NEW stream pins its key base ABOVE the max committed key, so
    # nothing ever consults the pruned tail.
    for sub, keep in (
        ("drift/batches", keep_drift_batches),
        ("append_commits", keep_commit_records),
    ):
        dirs = list_batches(spark, f"{path}/{sub}")
        for _b, leaf in dirs[: -int(keep)]:
            state.delete(spark, leaf)
            out["pruned"] += 1
    # consume the covered dirty records LAST (a crash above re-examines,
    # never skips), and ensure the dirty dir exists so the next pass is
    # bounded — a census pass covered everything the missing dir could
    # not account for
    for name in consumed:
        state.delete(spark, f"{dirty}/{name}")
    state.mkdirs(spark, dirty)
    return out


def needs_refit(
    spark,
    path: str,
    threshold: float = 1.5,
    recent_batches: int | None = None,
) -> dict:
    """Codebook drift monitor for the frozen-codebook append path
    (verdict r10 item 5): appended batches quantize against coarse +
    PQ codebooks fit on the BUILD corpus, and nothing in the append
    itself notices when arrivals drift off that distribution — ADC
    shortlist quality then decays silently. Every keyed append records
    its batch's mean PQ quantization error (an Observation riding the
    codes write — zero extra jobs); this monitor compares the pooled
    recent mean against the build-time baseline and trips when the
    ratio exceeds ``threshold``, the documented 'full refit' trigger
    (save_ivfpq_index over the live corpus).

    ``recent_batches=N`` restricts the pooled mean to the N most recent
    batch records (by batch id) — the sensible production setting, so
    one old in-distribution epoch cannot dilute a fresh shift; None
    pools every batch record still RETAINED. Retention caveat (advice
    r11): ``compact_ivf_index`` prunes ``drift/batches`` to its newest
    ``keep_drift_batches`` (default 256), so after any compaction
    None-mode is 'everything since the build' only up to that horizon —
    on a compacted index it silently becomes newest-256, a
    recency-weighted signal (which is the production-preferred shape
    anyway; pass an explicit ``recent_batches`` to pin the window).
    Driver cost: the tiny baseline row + one small JSON record read per
    selected batch (pooled on the driver, no Spark job; bounded by
    maintenance cadence and by that retention).

    Returns {"baseline_qerr", "recent_qerr", "ratio", "needs_refit",
    "n_batches"} — ratio/recent are None (and needs_refit False) before
    the first keyed append."""
    # READ API: no resolution of any kind (review r12 pass 2 — a
    # polling monitor must never mutate index state; its earlier
    # forward-roll raced the writer's own commit-time swap and could
    # delete the freshly installed codes tier). Transient-window
    # semantics instead: pre-commit staging and a committed-but-
    # unswapped refit both read the OLD generation consistently (old
    # baseline + old records); a crash exactly mid-swap can pair the
    # new baseline with old records for ONE poll, repaired at the next
    # maintenance entry — a monitor tolerates one stale read, never a
    # destroyed index.
    if not state.exists(spark, f"{path}/drift/baseline"):
        raise ValueError(
            f"{path} has no drift baseline (drift/baseline): the index "
            "predates the drift monitor — rebuild with save_ivfpq_index "
            "to record the build-time quantization-error distribution"
        )
    base = (
        spark.read.schema("mean_qerr double, n long")
        .parquet(f"{path}/drift/baseline")
        .collect()[0]
    )
    out = {
        "baseline_qerr": float(base.mean_qerr),
        "recent_qerr": None,
        "ratio": None,
        "needs_refit": False,
        "n_batches": 0,
    }
    # recency from the directory NAMES (one FS listing), reading only
    # the selected batch dirs — a long-lived stream leaves one dir per
    # epoch and a full read-collect-sort would grow with its lifetime
    # (review r11); compact_ivf_index bounds the dir count itself
    dirs = list_batches(spark, f"{path}/drift/batches")
    if recent_batches is not None:
        dirs = dirs[-int(recent_batches):]
    # a torn record (crash mid-write) reads as absent and pools nothing
    recs = [r for r in (read_record(spark, p) for _, p in dirs) if r]
    if not recs:
        return out
    tot_n = sum(int(r["n"]) for r in recs)
    pooled = sum(float(r["mean_qerr"]) * int(r["n"]) for r in recs) / tot_n
    ratio = pooled / max(float(base.mean_qerr), 1e-300)
    out.update(
        {
            "recent_qerr": pooled,
            "ratio": ratio,
            "needs_refit": bool(ratio > float(threshold)),
            "n_batches": len(recs),
        }
    )
    return out


_REFIT_COMMIT = "_refit_commit.json"

# (staging subdir, final subdir) pairs of the codes-only refit swap, in
# commit order: codes first (the big artifact), then the books that
# decode them, then the drift baseline measured against them
_REFIT_PAIRS = (
    ("codes_refit", "codes"),
    ("pq_codebooks_refit", "pq_codebooks"),
    ("drift/baseline_refit", "drift/baseline"),
)


def _resolve_refit(
    spark, path: str, mode: str = "writer", id_col: str = "vec_id"
) -> bool:
    """Finish (or refuse over) a torn codes-only PQ refit so the index
    is consistent before anything else runs. Returns True iff a
    COMMITTED refit was rolled forward here (the flag a cached-books
    caller can use to refresh; the durable signal is the ``pq_gen.json``
    generation stamp the roll-forward writes). The commit is the
    package's write-ahead intent: ``refit_pq_codebooks`` commits
    ``_refit_commit.json`` through ``state.intent`` and rolls forward
    inside it; a record still present is a committed refit that crashed
    mid-swap, and ``state.resume`` finishes it through the same
    ``_apply_refit`` (see there) in every mode, deleting the record
    only after the roll-forward returns. A FAILED rename raises with
    the record still in place (review r12 pass 2): dropping it would
    leave an orphaned staging dir the next resolve would classify as
    uncommitted and silently destroy — an unrecoverable tier loss;
    raising keeps the state repairable by the next entry.

    SINGLE-WRITER DISCIPLINE (ADVICE r12): the writer-mode fence below
    is check-at-entry, not a lock — index mutators (refit, append,
    delete, split, compact, fold) are single-occupancy BY CONTRACT;
    running two concurrently from different processes is an operator
    error this module detects at entry but cannot exclude mid-flight.
    The one RTBF-relevant consequence — a cross-process refit staging
    codes from a cells snapshot a concurrent delete then erased, so the
    committed codes tier resurrects erased ids — is closed here anyway:
    the committed roll-forward anti-joins the codes tier's ids against
    the cells tier (one id-projection join, zero matches under the
    discipline) and purges any orphan before the generation commits.

    UNCOMMITTED staging (dirs but no manifest) is where the modes
    differ (review r12 pass 2 — the out-of-band-refit fencing):

    - ``mode="owner"`` (refit_pq_codebooks itself): roll BACK — delete
      the staging dirs and restage. The refit role is single-occupancy
      (running two concurrent refits is the same operator error as two
      concurrent folds); the owner reclaiming its own crashed staging
      is always safe.
    - ``mode="writer"`` (append/split/compact/delete, stream start):
      REFUSE — raise, naming the remedy. Uncommitted staging means a
      refit is either LIVE right now (the alert workflow invites an
      out-of-band refit while a stream is scheduled — silently deleting
      its staging would let that refit 'commit' nothing and wipe the
      drift history) or crashed (re-run refit_pq_codebooks to
      adopt-or-restart, or remove the staging dirs by hand). Loud and
      recoverable beats silent destruction; this matches split/compact
      refusing pending txns and manifests.

    Reads during the committed forward-roll window degrade in recall
    only (mismatched books/codes skew ADC scores, never re-rank
    values); the full-probe exactness pin holds throughout because the
    re-rank uses full vectors. ``needs_refit`` — the READ API — calls
    no resolution at all (a polling monitor must never mutate index
    state; see its docstring for the transient-window semantics)."""
    if mode not in ("owner", "writer"):
        raise ValueError(f"unknown _resolve_refit mode {mode!r}")
    finished = state.resume(
        spark,
        path,
        _REFIT_COMMIT,
        lambda rec: _apply_refit(spark, path, rec, id_col=id_col),
    )
    if finished is not None:
        return True
    for staging, _final in _REFIT_PAIRS:
        if not state.exists(spark, f"{path}/{staging}"):
            continue
        if mode == "owner":
            state.delete(spark, f"{path}/{staging}")
        else:
            raise ValueError(
                f"{path} has uncommitted refit staging ({staging}): a "
                "codes-only refit is in flight or crashed — let it "
                "finish, re-run refit_pq_codebooks (the owner rolls "
                "its own staging back and restages), or remove the "
                "*_refit dirs to abandon it"
            )
    return False


def _apply_refit(spark, path: str, rec: dict, id_col: str = "vec_id") -> None:
    """Roll a committed codes-only refit FORWARD (idempotent, so a crash
    anywhere inside re-runs it whole): each staged artifact still
    present replaces its final counterpart (delete + checked rename —
    per-pair idempotent: a pair whose staging dir is gone was already
    swapped), any code id the cells tier no longer holds is purged, the
    generation stamp is bumped to the record's ``gen``, and the old
    books' per-batch drift records are dropped (they were measured
    against the retired codebooks and would poison needs_refit against
    the new baseline)."""
    for staging, final in _REFIT_PAIRS:
        sp, fp = f"{path}/{staging}", f"{path}/{final}"
        if not state.exists(spark, sp):
            continue
        state.delete(spark, fp)
        if not state.rename(spark, sp, fp):
            raise IOError(
                f"refit roll-forward could not rename {sp} -> {fp}; the "
                "commit record is left in place so the next maintenance "
                "entry can retry the swap"
            )
    # RTBF orphan purge (ADVICE r12, see _resolve_refit): drop any code
    # id the cells tier no longer holds — a delete that raced the
    # refit's staging window erased it from cells, and the staged codes
    # were encoded from the pre-delete snapshot
    orphans = (
        spark.read.parquet(f"{path}/codes")
        .select(id_col)
        .join(
            spark.read.parquet(f"{path}/cells").select(id_col),
            id_col,
            "anti",
        )
        .localCheckpoint(eager=True)
    )
    if orphans.count():
        _delete_ids_from_tier(spark, f"{path}/codes", orphans, id_col=id_col)
    # the generation stamp lands before the record drop: a crash between
    # them re-runs this function (idempotent — the gen rides the record,
    # so the rewrite lands the same value)
    try:
        gen = int(rec["gen"])
    except (KeyError, ValueError):  # pre-generation-stamp record
        gen = _pq_generation(spark, path) + 1
    write_record(spark, path, {"gen": gen}, name=_PQ_GEN)
    # the swapped-in codes tier is a fresh partitionBy write — its cell
    # dirs join the compaction dirty set via a census record
    _mark_dirty(spark, path, census=("codes",))
    state.delete(spark, f"{path}/drift/batches")


def _qerr_frame(
    indexed: DataFrame,
    books: np.ndarray,
    cnorm: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(train_vec array<double>, qerr double) per corpus row: the PQ
    TRAINING INPUT (normalized vector, or the residual against ``cnorm``
    when given) paired with its quantization error under the CURRENT
    ``books`` — one Arrow map pass, the importance-sampling source for
    the error-weighted refit."""
    import pandas as pd

    spark = indexed.sparkSession
    bb = spark.sparkContext.broadcast(
        np.ascontiguousarray(books, dtype=np.float64)
    )
    bc = spark.sparkContext.broadcast(
        None
        if cnorm is None
        else np.ascontiguousarray(cnorm, dtype=np.float64)
    )

    def gen(batches):
        B = bb.value
        C = bc.value
        mm, _kk, sub = B.shape
        for pdf in batches:
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            x /= np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-12
            )
            if C is not None:
                x = x - C[pdf["cell"].to_numpy().astype(np.int64)]
            q = np.zeros(len(x))
            for j in range(mm):
                xs = x[:, j * sub : (j + 1) * sub]
                d2 = (
                    (xs**2).sum(1)[:, None]
                    - 2.0 * (xs @ B[j].T)
                    + (B[j] ** 2).sum(1)[None, :]
                )
                q += d2.min(1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "train_vec": list(x),
                    "qerr": np.maximum(q, 0.0),
                }
            )

    id_type = dict(indexed.dtypes)[id_col]
    return indexed.select(id_col, "cell", vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, train_vec array<double>, qerr double"
    )


def _train_books_weighted(
    indexed: DataFrame,
    old_books: np.ndarray,
    cnorm: np.ndarray | None,
    m: int,
    k: int,
    sample_cap: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Capacity-aware subcodebook fit (verdict r12 item 3a): sample the
    fit set with inclusion probability PROPORTIONAL TO each row's
    quantization error under the RETIRED books, so a minority shifted
    mixture — whose rows carry most of the residual mass — earns a
    sample share (and therefore a centroid share per subspace) matching
    its error mass, not its row count. At the measured 9%-mixture/9.5x-
    ratio scenario the shifted mode's expected share is ~half the
    sample vs ~9% under the uniform fit — exactly the allocation the
    uniform refit could not make (SCALE.md round 12's honest limit).
    Mechanics: one Arrow map pass emits (training input, qerr); one agg
    fixes the Bernoulli scale sample_cap/sum(qerr); the filtered pick
    (expected size ~sample_cap, limit-guarded) collects via Arrow into
    the shared Lloyd core. Degenerate all-zero error falls back to the
    uniform prefix sample."""
    spark = indexed.sparkSession
    qf = _qerr_frame(
        indexed, old_books, cnorm, vec_col=vec_col, id_col=id_col
    )
    tot_row = qf.agg(F.sum("qerr").alias("t")).collect()[0]
    tot = float(tot_row.t or 0.0)
    if tot <= 0.0:
        picked = qf.select("train_vec").limit(int(sample_cap))
    else:
        scale = float(sample_cap) / tot
        # ROW-INTRINSIC Bernoulli draw: the uniform variate is a hash of
        # the row's id, not F.rand (whose per-partition seeding makes the
        # sample — and therefore the fitted books — depend on partition
        # layout and session config; the fit must be a pure function of
        # the stored data)
        u = (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(_SEED)), F.lit(1 << 30))
            / F.lit(float(1 << 30))
        )
        # id-ordered collect: the Lloyd seeding draws by sample-row
        # position, so the fit is deterministic only if the collected
        # matrix order is (TakeOrdered — the pick is ~sample_cap rows)
        picked = (
            qf.filter(u < F.col("qerr") * F.lit(scale))
            .orderBy(id_col)
            .limit(2 * int(sample_cap))
            .select("train_vec")
        )
    arr = picked.toArrow().column(0).combine_chunks()
    flat = np.asarray(
        arr.values.to_numpy(zero_copy_only=False), dtype=np.float64
    )
    x = flat.reshape(len(arr), -1).copy()
    if len(x) < k:
        raise ValueError(
            f"error-weighted PQ refit sampled only {len(x)} rows "
            f"(< k={k}); grow the corpus or lower pq_k"
        )
    return _fit_books(x, m=m, k=k)


def refit_pq_codebooks(
    spark,
    path: str,
    m: int | None = None,
    pq_k: int | None = None,
    sample_cap: int = 100_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    weight_by_error: bool = False,
) -> dict:
    """Codes-only subcodebook refit — the bounded remedy for a tripped
    ``needs_refit`` (verdict r11 item 1). The full in-place rebuild
    (``save_ivfpq_index`` over the live corpus) re-runs the coarse
    k-means, re-encodes the corpus AND rewrites BOTH tiers — linear in
    corpus on the full-vector write side. But codebook drift is a
    CODES-tier problem: the coarse partitioning stays serviceable (the
    split cadence maintains it) while the PQ subcodebooks no longer fit
    what the cells hold. This pass sample-fits NEW subcodebooks over
    the live corpus (same bounded-sample discipline as the build),
    re-encodes every vector, and rewrites ONLY the 8-byte ``codes/``
    tier — ``cells/`` and ``centroids/`` untouched (full vectors stay
    valid by construction) — cutting the rewrite bytes by the
    full-vector/code ratio (~32x at defaults; SCALE.md round-12 A/B).

    Correctness does not depend on WHICH codebooks the codes tier
    carries: ADC scores only pick the shortlist, the re-rank uses full
    vectors — so the full-probe pin (nprobe == k, shortlist == |corpus|
    == brute force) holds before, during and after a refit, and the
    refit's win is recall-at-budget, measured by the drift ratio
    returning under threshold (pytest-pinned).

    Crash safety is the staged-swap txn: every new artifact (codes,
    books, drift baseline — the baseline rides the staged codes write
    as an Observation, exactly like the build) lands in a ``*_refit``
    staging dir; an atomic ``_refit_commit.json`` is the commit point;
    the swap (delete final, rename staging — per-pair idempotent) runs
    after it, dropping the old books' per-batch drift records with the
    books themselves. ``_resolve_refit`` at every maintenance entry
    rolls a torn attempt forward (committed) or back (uncommitted), so
    the one torn window lasts at most until the next maintenance call
    — and degrades recall only, never re-rank values.

    ``weight_by_error=True`` (verdict r12 item 3a) makes the sample-fit
    CAPACITY-AWARE: rows enter the fit sample with probability
    proportional to their quantization error under the retired books
    (``_train_books_weighted``), so a minority shifted mixture — the
    scenario SCALE.md round 12 measured the uniform refit failing
    (9% mixture: drift ratio 8.04 -> 4.08, still over the 1.5
    threshold) — earns subcodebook centroids matching its error mass
    rather than its row count. Exactness pins are unaffected (the
    re-rank uses full vectors — the x150/x152 hash holds for ANY
    codebooks); the cost is two extra bounded map passes (qerr scoring
    + the weighted pick) over the corpus the refit re-encodes anyway.

    Entry discipline: resolves a prior refit, then a pending append
    txn; refuses a pending split manifest (its repair owns the codes
    tier — run split_cells first) and a non-empty flat append tier
    (fold-refusal's inverse: those rows never reached the codes tier).
    Returns {"m", "pq_k", "n", "baseline_qerr_old", "baseline_qerr_new"}.
    """
    from pyspark.sql import Observation

    from .compaction import recover_pending_under

    # owner mode: the refit reclaims its OWN crashed staging (the refit
    # role is single-occupancy); every other entry refuses over it
    _resolve_refit(spark, path, mode="owner")
    _resolve_ivfpq_txn(spark, path, id_col=id_col)
    recover_pending_under(spark, f"{path}/cells")
    recover_pending_under(spark, f"{path}/codes")
    if state.exists(spark, f"{path}/codes/{_SPLIT_MANIFEST}"):
        raise ValueError(
            f"{path} has a pending split manifest: run split_cells to "
            "repair the codes tier before refitting its codebooks"
        )
    if state.ls(spark, f"{path}/appends"):
        raise ValueError(
            f"{path} has a flat append tier: those rows never reached "
            "the codes tier — this index should ingest via "
            "append_to_ivfpq_index, not append_batch"
        )

    old_books = load_pq_codebooks(spark, path)
    if m is None:
        m = int(old_books.shape[0])
    if pq_k is None:
        pq_k = int(old_books.shape[1])
    old_base = (
        spark.read.schema("mean_qerr double, n long")
        .parquet(f"{path}/drift/baseline")
        .collect()[0]
    )
    indexed = spark.read.parquet(f"{path}/cells").withColumn(
        "cell", F.col("cell").cast("int")
    )
    cnorm = None
    if _pq_residual(spark, path):
        # residual index: the refit trains on (and re-encodes) the
        # residuals against the CURRENT coarse centroids — the same
        # quantity the codes tier stores
        cnorm = _normalized_centroids(_load_centroid_matrix(spark, path))
    if weight_by_error:
        # capacity-aware fit (verdict r12 item 3a): sample proportional
        # to quantization error under the OLD books, so a minority
        # shifted mixture earns centroid capacity matching its error
        # mass — the remedy the uniform sample-fit measurably lacks at
        # small mixtures (SCALE.md round 12: 9% mixture, ratio stuck at
        # 4.08; round 13 re-measures this scenario with the weighted
        # fit)
        books = _train_books_weighted(
            indexed, old_books, cnorm, m=m, k=pq_k,
            sample_cap=sample_cap, vec_col=vec_col, id_col=id_col,
        )
    elif cnorm is not None:
        books = train_pq_codebooks(
            _residual_frame(indexed, cnorm, vec_col=vec_col, id_col=id_col),
            m=m, k=pq_k, vec_col="__res", sample_cap=sample_cap,
            normalize=False,
        )
    else:
        books = train_pq_codebooks(
            indexed, m=m, k=pq_k, vec_col=vec_col, sample_cap=sample_cap
        )

    # stage everything; nothing below touches the live artifacts until
    # the commit manifest lands
    obs = Observation()
    (
        encode_pq(
            indexed, books, vec_col=vec_col, id_col=id_col,
            keep_cols=("cell",), with_error=True,
            residual_centroids=cnorm,
        )
        .observe(
            obs,
            F.avg("qerr").alias("mean_qerr"),
            F.count(F.lit(1)).alias("n"),
        )
        .drop("qerr")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes_refit")
    )
    new_mean, n = float(obs.get["mean_qerr"]), int(obs.get["n"])
    mm, kk, _sub = books.shape
    spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in books[j, c]])
            for j in range(mm)
            for c in range(kk)
        ],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/pq_codebooks_refit"
    )
    spark.createDataFrame(
        [(new_mean, n)], "mean_qerr double, n long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/drift/baseline_refit"
    )

    # commit point: from here the refit rolls FORWARD
    with state.intent(
        spark,
        path,
        _REFIT_COMMIT,
        {
            "m": int(m),
            "pq_k": int(pq_k),
            "n": n,
            # the roll-forward stamps this as pq_gen.json — the
            # cache-invalidation signal for long-lived writers that
            # cached the subcodebooks (ADVICE r12)
            "gen": _pq_generation(spark, path) + 1,
        },
    ) as rec:
        _apply_refit(spark, path, rec, id_col=id_col)
    return {
        "m": int(m),
        "pq_k": int(pq_k),
        "n": n,
        "baseline_qerr_old": float(old_base.mean_qerr),
        "baseline_qerr_new": new_mean,
    }


def search_ivfpq(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC probe of a ``save_ivfpq_index`` directory: coarse prune ->
    compressed-domain shortlist -> exact re-rank.

    1. COARSE (driver): the coarse centroids, PQ codebooks and residual
       flag come from ``_ivfpq_meta``, which reads them only when their
       files changed. The query frame is collected once
       (similarity._collect_queries), and each query is routed to its
       ``nprobe`` nearest centroids by the routing kernel
       (similarity._route: exact cosine ordered by (cosine desc, cell
       asc)), with no job.
    2. ADC: the codes tier is read PARTITION-PRUNED to the probed cells
       and grouped per cell. One broadcast carries the queries, their
       routing, the PQ codebooks and the residual anchors; each cell's
       task builds the m x pq_k lookup tables of the queries routed to
       it and scores the cell's codes with m table lookups (numpy take
       per subspace) — never touching a raw vector. Per-cell per-query
       top-``shortlist`` survives (np.argpartition), and a window
       merges the cells' shortlists.
    3. RE-RANK: the merged shortlist (<= |queries| x shortlist rows)
       joins its FULL vectors from the cells tier — scan statically
       pruned to the probed cells — and the block scorer ranks each
       query's rows by exact cosine, the faiss refine step that pushes
       recall to ~1 at small shortlists (RECALL.md curve).

    Scale shape: the only corpus-proportional exchange is the group
    shuffle of the PRUNED, COMPRESSED codes (nprobe/coarse_k of the
    corpus at ~1/32 byte width); the cells tier is touched only for
    |shortlist| rows per query. The query side is bounded by |q| x dim,
    on the driver and in each ADC and re-rank task's broadcast. The
    rest of the broadcast (coarse centroids + m x pq_k subcodes) is
    independent of corpus size AND of coarse k growth paths that sink
    the flat-GEMM assignment (SCALE.md round-10 residency table).

    RESIDUAL indexes (``pq_meta`` flag) change only the ADC arithmetic:
    the stored code quantizes r = x_norm - c_norm[cell], so the
    approximate cosine is <q, c_norm[cell]> + sum_j LUT_j[code_j] — the
    per-cell constant term comes from the broadcast (normalized) coarse
    centroids, one extra (|q| x dim) GEMV per ADC task. Without it,
    cross-cell shortlist merging would compare within-cell offsets from
    DIFFERENT anchors.

    Degenerate queries behave as on every scorer path (similarity): an
    empty query frame yields no rows (same schema); a NULL, zero-norm
    or wrong-width query embedding raises ValueError naming its query
    id.

    Exactness pin (the x125/x75b discipline): nprobe == coarse_k probes
    every cell and shortlist >= |corpus| makes the re-rank see every
    candidate, so output == brute-force cosine top-k bit for bit —
    that composition is the x146 driver oracle."""
    centroids, books, residual = _ivfpq_meta(spark, path)

    # --- 1. route every query to its nprobe cells, on the driver ---
    _, qids, qvecs = _collect_queries(queries, id_col, vec_col, dim=centroids.shape[1])
    routes = _routes(_route(qvecs, centroids, nprobe))
    probed = sorted(routes)
    bc = spark.sparkContext.broadcast(
        (
            qids,
            qvecs,
            routes,
            np.asarray(books),
            _normalized_centroids(centroids) if residual else None,
        )
    )

    # --- 2. partition-pruned ADC scan, one group per probed cell ---
    # (explicit schemas: inferring one costs a Spark job per tier)
    codes_scan = (
        spark.read.schema(f"{id_col} long, codes array<int>, cell int")
        .parquet(f"{path}/codes")
        .filter(F.col("cell").isin(probed))
    )

    def adc(codes_pdf):
        ids, Q, cell_queries, bks, cn = bc.value
        cell = int(codes_pdf["cell"].iloc[0])
        sel = cell_queries[cell]
        anchor = None if cn is None else cn[cell]
        return _adc_shortlist(ids[sel], Q[sel], bks, codes_pdf, id_col, shortlist, anchor)

    scored = codes_scan.groupBy("cell").applyInPandas(
        adc, schema="query_id long, neighbor_id long, score_pq double"
    )

    # --- 3. merge the cells' shortlists; exact re-rank from the
    # statically-pruned cells tier against the collected queries (the
    # user's frame is not evaluated again); the tier's vectors may be
    # stored as float or double: the scan widens them to double ---
    corpus = (
        spark.read.schema(f"{id_col} long, {vec_col} array<double>, cell int")
        .parquet(f"{path}/cells")
        .filter(F.col("cell").isin(probed))
    )
    return _merge_and_rerank(
        scored, shortlist, corpus, qids, qvecs, k, vec_col, id_col,
        dict(queries.dtypes)[id_col],
    )
