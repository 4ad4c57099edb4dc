#!/usr/bin/env python
"""Generate RECALL.md: recall@k of every approximate-ANN path vs the
brute-force cosine baseline (x06), on the embeddings table at one or more
scale factors.

Methodology (reproducible: seeded planes/codebooks, fixed query set):
  - queries = the first 20 vec_ids (same convention as the registry
    entries x06/x15/x24/x75);
  - ground truth = cosine_topk(corpus, queries, k) exact top-k;
  - recall@k = |approx_pairs ∩ exact_pairs| / |exact_pairs| over the
    (query_id, neighbor_id) pair sets.

Usage: python scripts/recall.py [sf_dir ...]   (default sf0.01 sf0.1)
Writes RECALL.md at the repo root and prints it.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

K = 5
N_QUERIES = 20


def pairs(pdf) -> set[tuple]:
    return set(map(tuple, pdf[["query_id", "neighbor_id"]].to_numpy().tolist()))


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.ann_index import (
        build_ivf_index,
        encode_pq,
        probe_ivf,
        save_ivfpq_index,
        search_ivfpq,
        search_pq,
        train_pq_codebooks,
    )
    from azure_serverless_etl_pipeline_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows: list[str] = []
    for sf in sf_dirs:
        emb = load_table(spark, sf, "embeddings").cache()
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        exact = pairs(cosine_topk(emb, queries, k=K).toPandas())

        def bench(label: str, build):
            t0 = time.time()
            got = pairs(build().toPandas())
            dt = time.time() - t0
            r = len(got & exact) / len(exact)
            rows.append(
                f"| {sf.rsplit('/', 1)[-1]} | {n} | {label} | {r:.2f} | {dt:.1f} |"
            )

        def lsh(planes: int, mp: bool):
            return lambda: lsh_ann_topk(emb, queries, k=K, n_planes=planes,
                                        multiprobe=mp)

        for planes, mp in ((4, False), (4, True), (3, True)):
            frac = (1 + planes * mp) / 2**planes
            bench(
                f"x15 LSH ({planes} planes, multiprobe={mp}; "
                f"~{frac:.0%} corpus scored)",
                lsh(planes, mp),
            )

        indexed, centroids = build_ivf_index(emb, k=8)
        indexed = indexed.cache()
        indexed.count()

        def ivf(np_: int):
            return lambda: probe_ivf(indexed, queries, centroids, k=K,
                                     nprobe=np_)

        for np_ in (1, 3, 5):
            bench(f"x24 IVF k-means (nprobe {np_}/8)", ivf(np_))
        indexed.unpersist()

        books = train_pq_codebooks(emb, m=8, k=16)
        encoded = encode_pq(emb, books).cache()
        encoded.count()

        def pq(sl: int):
            return lambda: search_pq(encoded, emb, queries, books, k=K,
                                     shortlist=sl)

        for sl in (25, 50, 100, 200):
            bench(f"x75 PQ ADC (m=8, k=16, shortlist={sl})", pq(sl))
        encoded.unpersist()

        # x146: the composed IVFADC serving path — coarse cell prune ->
        # per-cell ADC shortlist over the codes tier -> exact re-rank;
        # the two knobs sweep the full plane (nprobe = coverage,
        # shortlist = refine depth); nprobe=8 + shortlist=corpus is the
        # exactness pin (== x06, driver-hashed)
        idx = f"/tmp/recall_ivfpq_{n}"
        save_ivfpq_index(emb, idx, k=8, m=8, pq_k=16)

        def ivfpq(np_: int, sl: int):
            return lambda: search_ivfpq(
                spark, idx, queries, k=K, nprobe=np_, shortlist=sl
            )

        for np_, sl in ((2, 50), (4, 50), (4, 100), (8, 100), (8, n)):
            bench(
                f"x146 IVFADC (k=8, m=8, nprobe={np_}, shortlist={sl})",
                ivfpq(np_, sl),
            )

        # x149: the SAME index after cell-split maintenance — rows AND
        # code rows relocated into child cells (no re-encode). nprobe
        # sweeps as a fraction of the GROWN codebook so coverage stays
        # comparable; the full-probe point is the x149 exactness pin.
        from azure_serverless_etl_pipeline_spark.operators.ann_index import (
            split_cells,
        )

        target = max(2, n // 16)
        for _ in range(8):
            if split_cells(spark, idx, target_occupancy=target).count() == 0:
                break
        k_after = spark.read.parquet(f"{idx}/centroids").count()
        for np_, sl in (
            (max(1, k_after // 4), 50),
            (max(1, k_after // 2), 100),
            (k_after, n),
        ):
            bench(
                f"x149 IVFADC post-split (k'={k_after}, nprobe={np_}, "
                f"shortlist={sl})",
                ivfpq(np_, sl),
            )

        # x151: RESIDUAL encoding at the SAME 8-byte budget (round 12).
        # On THIS corpus (isotropic gaussian -> loose coarse cells,
        # <x,c> << 1) the residual carries MORE energy than the vector
        # (E||r||^2 = 2 - 2<x,c> > 1), so raw should win — measured
        # honestly; the tight-cluster regime below is where residual
        # pays. The build-time mean-qerr baselines (printed per mode)
        # are the free decision rule.
        idxr = f"/tmp/recall_ivfpq_res_{n}"
        save_ivfpq_index(emb, idxr, k=8, m=8, pq_k=16, residual=True)

        def qerr_of(path):
            return float(
                spark.read.parquet(f"{path}/drift/baseline")
                .collect()[0]
                .mean_qerr
            )

        rows.append(
            f"| {sf.rsplit('/', 1)[-1]} | {n} | build mean-qerr raw vs "
            f"residual (decision rule) | {qerr_of(idx):.3f} | "
            f"{qerr_of(idxr):.3f} |"
        )

        def ivfpq_res(np_: int, sl: int):
            return lambda: search_ivfpq(
                spark, idxr, queries, k=K, nprobe=np_, shortlist=sl
            )

        for np_, sl in ((4, 50), (8, 100), (8, n)):
            bench(
                f"x151 IVFADC residual (k=8, m=8, nprobe={np_}, "
                f"shortlist={sl})",
                ivfpq_res(np_, sl),
            )
        emb.unpersist()

    # --- the residual regime A/B: a TIGHT clustered corpus (64 modes,
    # small within-mode spread) — here the residual carries ~10x less
    # energy and the same 8 bytes quantize it far more accurately
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(9)
    modes = rng.normal(size=(64, 64)) * 3.0
    picks = rng.integers(0, 64, size=2000)
    X = modes[picks] + rng.normal(size=(2000, 64)) * 0.3
    emb = (
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(2000, dtype=np.int64),
                    "embedding": [v.astype("float32").tolist() for v in X],
                }
            )
        )
        .select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("embedding"),
        )
        .cache()
    )
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = pairs(cosine_topk(emb, queries, k=K).toPandas())

    def bench2(label, build):
        t0 = time.time()
        got = pairs(build().toPandas())
        dt = time.time() - t0
        r = len(got & exact) / len(exact)
        rows.append(f"| synth-tight | {n} | {label} | {r:.2f} | {dt:.1f} |")

    # k == mode count: one coarse cell per mode is the regime residual
    # is for (k far below it leaves multi-mode cells and raw-sized
    # residuals — the loose regime the gaussian rows above measure)
    tight_qerr: dict[str, float] = {}
    for tag, residual in (("raw", False), ("residual", True)):
        idx = f"/tmp/recall_tight_{tag}"
        save_ivfpq_index(emb, idx, k=64, m=8, pq_k=16, residual=residual)
        tight_qerr[tag] = float(
            spark.read.parquet(f"{idx}/drift/baseline")
            .collect()[0]
            .mean_qerr
        )
        rows.append(
            f"| synth-tight | {n} | build mean-qerr ({tag}) | "
            f"{tight_qerr[tag]:.4f} | |"
        )
        for np_, sl in ((8, 20), (16, 50), (64, n)):
            bench2(
                f"IVFADC {tag} (k=64, nprobe={np_}, shortlist={sl})",
                (lambda p, a, b: lambda: search_ivfpq(
                    spark, p, queries, k=K, nprobe=a, shortlist=b
                ))(idx, np_, sl),
            )
    emb.unpersist()

    out = "\n".join(
        [
            "# RECALL — approximate ANN vs brute-force cosine",
            "",
            f"Generated by `python scripts/recall.py` (recall@{K}, "
            f"{N_QUERIES} queries, ground truth = x06 brute force).",
            "Search wall-clock on local[8]; the IVF index and PQ codes are "
            "built once per sf and cached, as a served deployment would.",
            "",
            "| sf | corpus | method | recall@5 | search s |",
            "|---|---|---|---|---|",
            *rows,
            "",
            "Each method's knob sweep (LSH `n_planes`/`multiprobe`, IVF "
            "`nprobe`, PQ `shortlist`) shows the recall/cost curve; "
            "monotonicity is pytest-asserted in test_ann_index. Registry "
            "defaults: 4 planes + multiprobe, nprobe=3, shortlist=50.",
            "",
            "Round-12 residual A/B (x151): at the same 8-byte budget, "
            "residual encoding wins exactly when the coarse cells are "
            "TIGHT (the synth-tight rows: build mean-qerr drops "
            f"~{tight_qerr['raw'] / tight_qerr['residual']:.0f}x "
            f"({tight_qerr['raw']:.3f} -> {tight_qerr['residual']:.4f}) — "
            "the accuracy the within-cell ranking actually uses); on the "
            "LOOSE-cell gaussian testdata E||r||^2 = 2 - 2<x,c> > 1 and "
            "residual reads BELOW raw — so the engine default stays "
            "raw, and the free decision rule is the build-time "
            "mean-qerr baseline each mode records (build a sample both "
            "ways, keep the lower). Exactness pins hold in both modes "
            "(re-rank uses full vectors); x151 driver-hashes the "
            "residual full probe against x06.",
            "",
            "The synth-tight indexes are rebuilt on every run and the build "
            "is not bit-reproducible from run to run, so those recall rows "
            "can move by a few hundredths between runs of the same code; "
            "compare search paths on one saved index instead.",
            "",
        ]
    )
    (REPO / "RECALL.md").write_text(out)
    print(out)


if __name__ == "__main__":
    main()
