"""Similarity search over embedding columns (north-star extension).

``cosine_topk`` is the exact reference: a broadcast cross join scored by
a sequential double fold (bit-identical to the DuckDB oracle — see
functions.dot) and one window per query. Every other cosine path scores
through ONE block scorer, ``_block_topk`` (local top-k, global merge):
the bounded query side is collected once on the driver and broadcast,
each query carrying the blocks it probes (an LSH bucket, an IVF cell,
the whole target, its re-rank shortlist); one map-side ``mapInPandas``
scores each block with ``exact_cos_matrix`` (the fold's bits) and keeps
each query's top-k per batch; one window merges them. No corpus shuffle.

Degenerate inputs mean the same on every scorer path: a NULL,
zero-norm, non-finite or wrong-width query raises ValueError naming its
id; an empty query frame gives no rows with the path's schema; a
candidate with a NULL, zero-norm, non-finite or wrong-width vector is
never returned.

LSH hashes each vector into 2^n_planes buckets map-side and scores only
matching buckets (+ optional multi-probe) — the standard ANN recall/cost
trade. Plane directions are hash-derived, not RNG-dependent, so results
are reproducible across runs/engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import dot

_SEED = 42


def exact_cos_matrix(S: np.ndarray, T: np.ndarray) -> np.ndarray:
    """Pairwise cosine between the rows of S and T (float64), bit-identical
    to the JVM expression ``dot(a,b)/(nrm_a*nrm_b)`` (functions.dot — a
    sequential left fold over ascending index).

    The dot accumulation is a loop of RANK-1 UPDATES over the dimension:
    ``C += outer(S[:,k], T[:,k])`` performs, per element, exactly
    p = a_k*b_k (one rounding) then acc = acc + p (one rounding) in index
    order — the same IEEE-double sequence as the zip_with/aggregate fold,
    vectorized across pairs with no BLAS re-association and no FMA
    contraction (numpy ufuncs never fuse). Norms fold the same way;
    the final division sees identical operands. This is what lets the
    pandas-cogroup scorers replace interpreted per-pair JVM folds without
    moving a single output bit (guide §4.2). Cost is GEMM-class flops
    (d elementwise passes over the |S|x|T| matrix); callers chunk rows of
    S to bound the scratch matrix."""
    d = S.shape[1]
    C = np.zeros((S.shape[0], T.shape[0]))
    for k in range(d):
        C += np.outer(S[:, k], T[:, k])

    def _nrm(M: np.ndarray) -> np.ndarray:
        acc = np.zeros(M.shape[0])
        for k in range(M.shape[1]):
            acc += M[:, k] * M[:, k]
        return np.sqrt(acc)

    with np.errstate(divide="ignore", invalid="ignore"):
        return C / np.outer(_nrm(S), _nrm(T))


def _check_query(qid, v, dim: int | None, vec_col: str) -> np.ndarray:
    """The query's vector as float64. Raises ValueError naming ``qid``
    when the query has no cosine to any vector (NULL id or vector,
    zero-norm, non-finite) or its width is not ``dim``."""
    a = None if v is None else np.asarray(v, dtype=np.float64)
    if qid is None or a is None or not np.isfinite(a).all() or not (a * a).any():
        raise ValueError(
            f"query {qid!r} has a NULL id or a NULL, zero-norm or non-finite "
            f"{vec_col!r}: its cosine to any vector is undefined"
        )
    if dim is not None and len(a) != dim:
        raise ValueError(f"query {qid!r} has {len(a)} dims, expected {dim}")
    return a


def _collect_queries(
    queries: DataFrame, id_col: str, vec_col: str, dim: int | None = None, extra=()
):
    """Collect the bounded query side once, on the driver (a broadcast
    side is collected there anyway): (rows of id, vector, ``extra``;
    int64 ids; float64 vectors). Each query passes ``_check_query``;
    ``dim`` defaults to the first query's width."""
    rows = queries.select(id_col, vec_col, *extra).collect()
    vecs = []
    for r in rows:
        vecs.append(_check_query(r[0], r[1], dim, vec_col))
        dim = len(vecs[-1])
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    return rows, qids, np.array(vecs).reshape(len(rows), dim or 0)


def _route(qvecs: np.ndarray, centroids: np.ndarray, nprobe: int) -> np.ndarray:
    """(queries x nprobe) matrix of each query's nearest cells, ordered by
    (cosine desc, cell asc) — the bits and order of a row_number over
    the JVM fold's cosine. A centroid without a cosine (zero norm) sorts
    last."""
    cos = exact_cos_matrix(qvecs, np.asarray(centroids, dtype=np.float64))
    cells = np.broadcast_to(np.arange(cos.shape[1]), cos.shape)
    return np.lexsort((cells, -cos), axis=-1)[:, : max(nprobe, 0)]


def _routes(probes) -> dict[int, np.ndarray]:
    """block -> ascending indexes of the queries that probe it, from each
    query's list of blocks (a NULL block probes nothing)."""
    out: dict[int, list[int]] = {}
    for qi, blocks in enumerate(probes):
        for b in blocks:
            if b is not None:
                out.setdefault(int(b), []).append(qi)
    return {b: np.array(qs, dtype=np.int64) for b, qs in out.items()}


def _candidate_matrix(vecs: np.ndarray, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(kept-row mask, float64 matrix of the kept rows). A candidate whose
    vector is NULL, of another width than ``dim``, zero-norm or
    non-finite has no cosine and is dropped."""
    ok = np.fromiter((v is not None and len(v) == dim for v in vecs), bool, len(vecs))
    T = np.stack(vecs[ok]).astype(np.float64) if ok.any() else np.zeros((0, dim))
    n2 = (T * T).sum(1)
    good = np.isfinite(n2) & (n2 > 0)
    ok[ok] = good
    return ok, T[good]


def _block_candidates(S, T, k: int, band: float, sids=None, tids=None):
    """(rows of S, rows of T, cosines) of every pair within ``band`` of
    its S row's k-th largest cosine among T (ties at the k-th kept).
    With ``sids``/``tids`` a pair of equal ids is never a candidate.
    Rows of S are scored in chunks of ~4M scratch doubles."""
    nt = len(T)
    chunk = max(1, (4 << 20) // max(nt, 1))
    out = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]
    for s in range(0, len(S), chunk):
        C = exact_cos_matrix(S[s : s + chunk], T)
        if sids is not None:
            C[sids[s : s + chunk, None] == tids[None, :]] = -np.inf
        mask = np.isfinite(C)
        if nt > k:
            kth = np.partition(C, nt - k, axis=1)[:, nt - k]
            mask &= C >= (kth - band)[:, None]
        li, lj = np.nonzero(mask)
        out.append((li + s, lj, C[li, lj]))
    return tuple(np.concatenate(a) for a in zip(*out))


def _block_topk(
    scan: DataFrame,
    qids: np.ndarray,
    qvecs: np.ndarray,
    routes: dict[int, np.ndarray],
    k: int,
    query_t: str,
    margin: bool = False,
) -> DataFrame:
    """The one block scorer: ``scan`` holds (block, neighbor_id, vec),
    ``routes`` maps a block to the indexes of its probing queries. Rows
    of unprobed blocks and NULL ids are filtered out in the JVM.

    Top-k mode skips each query's own id, keeps each query's top-k per
    batch by ``np.lexsort`` on (cosine desc, id asc), and one window
    merges them: (query_id, neighbor_id, block, rank, cos_sim). Margin
    mode keeps every pair within 1e-9 of its block's k-th cosine (a rank
    change under rounding to 12 places needs cosines within 1e-12) and
    returns them unranked, rounded to 12 places in the JVM."""
    spark = scan.sparkSession
    types = dict(scan.dtypes)
    bc = spark.sparkContext.broadcast((qids, qvecs, routes))
    kk, band = int(k), (1e-9 if margin else 0.0)

    def score(batches):
        import pandas as pd

        ids, Q, rt = bc.value
        for pdf in batches:
            ok, T = _candidate_matrix(pdf["vec"].to_numpy(), Q.shape[1])
            blocks = pdf["block"].to_numpy()[ok]
            nids = pdf["neighbor_id"].to_numpy()[ok]
            parts = []
            for b in np.unique(blocks):
                grp = np.flatnonzero(blocks == b)
                qs, tn = rt[int(b)], nids[grp]
                own = (None, None) if margin else (ids[qs], tn)
                li, lj, c = _block_candidates(Q[qs], T[grp], kk, band, *own)
                parts.append((qs[li], tn[lj], np.full(len(li), b), c))
            if not parts:
                continue
            qi, nid, blk, cos = (np.concatenate(p) for p in zip(*parts))
            if not margin:
                o = np.lexsort((nid, -cos, qi))
                o = o[np.arange(len(o)) - np.searchsorted(qi[o], qi[o]) < kk]
                qi, nid, blk, cos = qi[o], nid[o], blk[o], cos[o]
            yield pd.DataFrame(
                {"query_id": ids[qi], "neighbor_id": nid, "block": blk, "cos_sim": cos}
            )

    scored = scan.filter(
        F.col("block").isin(sorted(routes)) & F.col("neighbor_id").isNotNull()
    ).mapInPandas(
        score,
        schema=f"query_id {query_t}, neighbor_id {types['neighbor_id']}, "
        f"block {types['block']}, cos_sim double",
    )
    if margin:
        return scored.withColumn("cos_sim", F.round("cos_sim", 12))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _scan(df: DataFrame, block, id_col: str, vec_col: str) -> DataFrame:
    """The scorer's (block, neighbor_id, vec) scan of ``df``."""
    return df.select(
        block.alias("block"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-match
    excluded): the JVM-fold reference every scorer path is tested
    against. Norms and double casts are computed once per vector."""

    def prepped(df, id_alias, v):
        out = df.select(
            F.col(id_col).alias(id_alias),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(v),
        )
        return out.withColumn(f"{v}_nrm", F.sqrt(dot(F.col(v), F.col(v))))

    scored = (
        prepped(corpus, "neighbor_id", "c_vec")
        .crossJoin(F.broadcast(prepped(queries, "query_id", "q_vec")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_vec_nrm") * F.col("c_vec_nrm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _hyperplane_bucket(vec_col, dim: int, n_planes: int):
    """Deterministic random-hyperplane LSH bucket id (0..2^n_planes-1).

    Plane p's direction is pseudo-random per (plane, coordinate) via
    xxhash64 -> uniform in [-1, 1]: reproducible with no RNG state and
    computable identically at write time (index build) and query time.
    The projection onto a plane is the sequential fold of functions.dot
    over the first ``dim`` coordinates: one compact expression per
    plane. A vector shorter than ``dim`` (or NULL) projects to NULL and
    lands in no plane's positive side.
    """
    two63 = float(1 << 63)
    head = F.slice(vec_col, 1, dim)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(
            *[
                F.xxhash64(F.lit(_SEED), F.lit(p), F.lit(j)).cast("double") / two63
                for j in range(dim)
            ]
        )
        proj = dot(head, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH bucket.

    With n_planes=4 (16 buckets), ~1/16 of the corpus is scored per query.
    ``multiprobe`` additionally probes every bucket at Hamming distance 1
    from the query's (flip one hyperplane sign) — the standard
    multi-probe LSH recall knob: (1+n_planes)/2^n_planes of the corpus
    scored instead of 1/2^n_planes, recovering the neighbors that fall
    just across one hyperplane. The scorer's block is the bucket. Output
    schema matches cosine_topk; recall < 1 by design (rows-only
    correctness check + recall assertions in tests).
    """
    bucket = _hyperplane_bucket(F.col(vec_col), dim, n_planes)
    rows, qids, qvecs = _collect_queries(queries, id_col, vec_col, dim, (bucket,))
    probes = np.array([r[2] for r in rows], dtype=np.int64)[:, None]
    if multiprobe:
        probes = np.hstack([probes, probes ^ (1 << np.arange(n_planes))])
    return _block_topk(
        _scan(corpus, bucket, id_col, vec_col),
        qids, qvecs, _routes(probes), k, dict(queries.dtypes)[id_col],
    ).select("query_id", "neighbor_id", "rank", "cos_sim")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style ANN: score only within the query's coarse cell.

    Uses a precomputed coarse-quantizer cell column (here the dataset's
    ``label``) as the block scorer's block; at scale the cell id comes
    from a k-means codebook and the corpus is written partitionBy(cell)
    so a probe touches one partition (ann_index.probe_ivf). A query
    with a NULL cell probes nothing.
    """
    rows, qids, qvecs = _collect_queries(
        queries, id_col, vec_col, extra=(cell_col,)
    )
    return _block_topk(
        _scan(corpus, F.col(cell_col), id_col, vec_col),
        qids, qvecs, _routes([r[2]] for r in rows), k, dict(queries.dtypes)[id_col],
    ).select("query_id", "neighbor_id", F.col("block").alias("cell"), "rank", "cos_sim")


def margin_topk_match(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Margin-based best-match mining between two embedding sets.

    The bitext-mining criterion (Artetxe & Schwenk, 2019, forward
    direction): for every source vector, the best target by cosine plus
    a margin score = cos(best) / mean(cos of the top-k neighbors). A
    margin near 1 means the best match is no better than the local
    neighborhood (unreliable alignment); mining keeps pairs above a
    margin threshold. The standard tool for mining parallel documents
    out of two monolingual corpora.

    Plan shape: the source side is the bounded one — collected once and
    broadcast to the block scorer, whose one block is the whole target,
    scanned map-side (no corpus shuffle); then one top-k window per
    source over the scorer's candidates and a per-source aggregate over
    <= k rows. Determinism contract: cosine rounded to 12 decimals
    BEFORE ranking (ties broken by tgt_id), top-k mean summed as
    DECIMAL(38,12), margin rounded to 9 — bit-identical to the DuckDB
    twin.
    """
    rows, qids, qvecs = _collect_queries(src, id_col, vec_col)
    scored = _block_topk(
        _scan(tgt, F.lit(0), id_col, vec_col),
        qids, qvecs, _routes([0] for _ in rows), k, dict(src.dtypes)[id_col],
        margin=True,
    )
    return _margin_from_scored(
        scored.select(
            F.col("query_id").alias("src_id"), F.col("neighbor_id").alias("tgt_id"),
            "cos_sim",
        ),
        k,
    )


def _margin_from_scored(scored: DataFrame, k: int) -> DataFrame:
    """Shared margin tail: top-k window per source, then the per-source
    best/mean-of-top-k aggregate (determinism contract: cos already
    rounded to 12 before ranking; top-k mean summed as DECIMAL(38,12),
    margin rounded to 9)."""
    w = W.partitionBy("src_id").orderBy(F.desc("cos_sim"), F.asc("tgt_id"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    best_tgt = F.max(F.when(F.col("rank") == 1, F.col("tgt_id")))
    best_cos = F.max(F.when(F.col("rank") == 1, F.col("cos_sim")))
    avg_k = (
        F.sum(F.col("cos_sim").cast("decimal(38,12)")).cast("double")
        / F.count(F.lit(1))
    )
    return topk.groupBy("src_id").agg(
        best_tgt.alias("tgt_id"),
        best_cos.alias("cos_sim"),
        F.round(best_cos / avg_k, 9).alias("margin"),
    )


def margin_topk_match_blocked(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    n_cells: int = 8,
    nprobe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus-scale bitext margin mining: IVF-cell-routed candidate
    generation instead of ``margin_topk_match``'s broadcast source
    side.

    The broadcast form is right when the source side is a bounded query
    set; mining two *monolingual corpora* against each other makes both
    sides corpus-sized and a broadcast of either dies at 100x. Here the
    target corpus is IVF-indexed (seeded MLlib k-means codebook,
    ann_index.build_ivf_index), each source vector is routed to its
    ``nprobe`` nearest cells map-side against the tiny codebook
    (n_cells rows — bounded regardless of corpus size), and matching is
    a cell-keyed EQUI-join: both sides shuffle-partition by cell, no
    corpus-sized broadcast, no cartesian. Per-cell work is
    O(|cell| * |sources routed to it|) — the SemDeDup blocking pattern
    applied to the margin criterion.

    With ``nprobe == n_cells`` every cell is probed and the result is
    EXACT (equal to margin_topk_match bit for bit — same rounding
    contract) while the plan stays shuffle-partitioned: that is the
    configuration the x122 oracle pins. At scale the knob drops to
    nprobe << n_cells, trading recall for a ~n_cells/nprobe cost cut on
    the standard IVF curve; synthetic uniform embeddings have no cluster
    structure for the codebook to exploit, so the exact setting is also
    the honest default here.
    """
    from .ann_index import build_ivf_index

    indexed, centroids = build_ivf_index(
        tgt, k=n_cells, vec_col=vec_col, id_col=id_col
    )
    return margin_topk_match_indexed(
        src, indexed, centroids, k=k, nprobe=nprobe, vec_col=vec_col,
        id_col=id_col,
    )


def margin_topk_match_indexed(
    src: DataFrame,
    indexed_tgt: DataFrame,
    centroids,
    k: int = 4,
    nprobe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``margin_topk_match_blocked``'s matching tail against a
    PREBUILT IVF index: ``indexed_tgt`` already carries its ``cell``
    column (ann_index.build_ivf_index / load_ivf_index) and
    ``centroids`` its codebook. This is the deployment shape — the
    k-means fit is paid once when the index is persisted
    (ann_index.save_ivf_index) and every mining run serves from it,
    instead of re-fitting the codebook per run. Exactness contract is
    unchanged: with ``nprobe`` == number of centroids every cell is
    probed and the output equals margin_topk_match bit for bit.

    The corpus-sized source side is never collected: a ``mapInPandas``
    routes each source with ``_route`` (a degenerate source raises as a
    query does), and a per-cell pandas COGROUP scores each cell with
    the block scorer's kernel in margin mode, so the rank window sees
    |src| x k x nprobe rows instead of every scored pair."""
    cent = np.asarray(centroids, dtype=np.float64)
    dim = cent.shape[1]
    # the output keeps each side's id type, whatever the caller used
    id_t = dict(src.dtypes)[id_col]
    tgt_t = dict(indexed_tgt.dtypes)[id_col]
    kk = int(k)

    def route(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].tolist()
            S = np.array(
                [_check_query(i, v, dim, vec_col) for i, v in zip(ids, pdf[vec_col])]
            ).reshape(len(ids), dim)
            cells = _route(S, cent, nprobe)
            n = cells.shape[1]
            yield pd.DataFrame(
                {
                    "src_id": np.repeat(ids, n),
                    "q_vec": list(np.repeat(S, n, axis=0)),
                    "cell": cells.ravel(),
                }
            )

    probes = src.select(id_col, vec_col).mapInPandas(
        route, schema=f"src_id {id_t}, q_vec array<double>, cell int"
    )

    def score(tgt_pdf, src_pdf):
        import pandas as pd

        ok, T = _candidate_matrix(tgt_pdf["t_vec"].to_numpy(), dim)
        S = src_pdf["q_vec"].to_numpy()
        S = np.stack(S) if len(S) else np.zeros((0, dim))
        li, lj, c = _block_candidates(S, T, kk, 1e-9)
        return pd.DataFrame(
            {
                "src_id": src_pdf["src_id"].to_numpy()[li],
                "tgt_id": tgt_pdf["tgt_id"].to_numpy()[ok][lj],
                "cos_sim": c,
            }
        )

    tgt_sel = indexed_tgt.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("t_vec"),
        F.col("cell"),
    )
    scored = (
        tgt_sel.groupBy("cell")
        .cogroup(probes.groupBy("cell"))
        .applyInPandas(score, schema=f"src_id {id_t}, tgt_id {tgt_t}, cos_sim double")
        .withColumn("cos_sim", F.round("cos_sim", 12))
    )
    return _margin_from_scored(scored, k)


__all__ = [
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_topk",
    "margin_topk_match",
    "margin_topk_match_blocked",
    "margin_topk_match_indexed",
]
