"""Dedup + text operators on handcrafted corpora with known ground truth
(the synthetic documents table has no near-dups by construction, so the
interesting cases are built here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = [
    # 0 and 1: identical
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    # 2: near-dup of 0 (one word changed)
    (2, "the quick brown fox leaps over the lazy dog again and again"),
    # 3: unrelated
    (3, "completely different content about spark query engines and shuffles"),
    # 4: short doc (< shingle width)
    (4, "tiny doc"),
    # 5: another near-dup pair with 6
    (5, "data pipelines need dedup quality filters and token counts for training"),
    (6, "data pipelines need dedup quality filters and token counts for pretraining"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs).toPandas()
    assert len(out) == 6  # 7 docs, one exact pair
    dup = out[out.n_copies == 2]
    assert len(dup) == 1 and dup.iloc[0]["doc_id"] == 0  # min-id representative


def test_jaccard_pairs_ground_truth(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy().tolist()))
    assert (0, 1) in got  # identical -> jaccard 1.0
    assert (0, 2) in got and (1, 2) in got  # one-word edit
    assert (5, 6) in got
    assert not any(3 in p or 4 in p for p in got)
    exact = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["jaccard"].iloc[0]
    assert exact == 1.0


def test_max_shingle_freq_noop_when_above_max_df(spark, docs):
    """A cap above every shingle's document frequency must be a no-op
    (this is the invariant that keeps x22/x31 oracle-exact at test
    scales)."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    key = ["id_a", "id_b"]
    base = ngram_jaccard_pairs(docs, threshold=0.5).toPandas().sort_values(
        key, ignore_index=True
    )
    capped = (
        ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50)
        .toPandas()
        .sort_values(key, ignore_index=True)
    )
    assert base.equals(capped)


def test_max_shingle_freq_prunes_boilerplate(spark):
    """Docs that share ONLY a ubiquitous boilerplate shingle must not pair
    under the cap, while true near-dups (overlap beyond boilerplate)
    survive with their exact Jaccard intact."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter today"
    rows = [
        # true near-dup pair: distinct body, shared boilerplate
        (0, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (1, f"alpha beta gamma delta epsilon eta {boiler}"),
    ] + [
        # 20 unrelated docs sharing only the boilerplate tail
        (i, f"unique{i} token{i} filler{i} words{i} here{i} {boiler}")
        for i in range(2, 22)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # boilerplate shingles appear in all 22 docs -> df=22 > cap=10
    capped = ngram_jaccard_pairs(df, threshold=0.3, max_shingle_freq=10).toPandas()
    got = set(map(tuple, capped[["id_a", "id_b"]].to_numpy().tolist()))
    assert (0, 1) in got
    # boilerplate-only pairs (e.g. 2-3) must be pruned by the cap
    assert all(p == (0, 1) for p in got), got
    # the surviving pair's score is the exact full-set Jaccard (cap only
    # gates candidate generation, never the verify arithmetic)
    uncapped = ngram_jaccard_pairs(df, threshold=0.3).toPandas()
    j_cap = capped.set_index(["id_a", "id_b"]).loc[(0, 1), "jaccard"]
    j_unc = uncapped.set_index(["id_a", "id_b"]).loc[(0, 1), "jaccard"]
    assert j_cap == j_unc


def test_minhash_finds_true_pairs(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    truth = set(
        map(
            tuple,
            ngram_jaccard_pairs(docs, threshold=0.5)
            .toPandas()[["id_a", "id_b"]]
            .to_numpy()
            .tolist(),
        )
    )
    got = set(
        map(
            tuple,
            minhash_lsh_pairs(docs, threshold=0.5)
            .toPandas()[["id_a", "id_b"]]
            .to_numpy()
            .tolist(),
        )
    )
    assert got <= truth  # precision 1.0 (verified candidates)
    assert len(got) >= len(truth) - 1  # recall allows the rare LSH miss


def test_simhash_identical_zero_distance(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.dedup import simhash_pairs

    pairs = simhash_pairs(docs, max_hamming=3).toPandas()
    z = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]
    assert len(z) == 1 and z.iloc[0]["hamming"] == 0


def test_embedding_near_dup_blocking(spark):
    from azure_serverless_etl_pipeline_spark.operators.dedup import embedding_near_dup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.04, 0.0, 0.0], 0),   # near-dup of 1, same block
        (3, [1.0, 0.0, 0.0, 0.0], 1),      # identical to 1 but other block
        (4, [0.0, 1.0, 0.0, 0.0], 0),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = embedding_near_dup(df, threshold=0.95, block_col="label").toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].to_numpy().tolist()))
    assert got == {(1, 2)}  # blocked: (1,3) never compared; (1,4) below threshold


def test_lang_id_markers(spark):
    from azure_serverless_etl_pipeline_spark.operators.text import lang_id

    rows = [
        (1, "the cat and the dog of the house is to be found"),
        (2, "el la de que y el la de"),
        (3, "der die und das ist der die"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lang_id(df).toPandas().set_index("doc_id")
    assert out.loc[1, "predicted_lang"] == "en"
    assert out.loc[2, "predicted_lang"] == "es"
    assert out.loc[3, "predicted_lang"] == "de"


def test_quality_score_bounds(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.text import quality_score

    out = quality_score(docs).toPandas()
    assert out["quality"].between(0, 1).all()


def test_fingerprint_exact_dup_same_hash(spark, docs):
    from azure_serverless_etl_pipeline_spark.operators.text import fingerprint

    fp = fingerprint(docs).toPandas().set_index("doc_id")
    assert fp.loc[0, "exact_hash"] == fp.loc[1, "exact_hash"]
    assert fp.loc[0, "exact_hash"] != fp.loc[3, "exact_hash"]
    # short doc falls back to whole-text hash without error
    assert fp.loc[4].notna().all()


def test_dup_clusters_transitive(spark):
    from azure_serverless_etl_pipeline_spark.operators.dedup import dup_clusters

    # chain 1-2-3-4 (no direct 1~4 edge), pair 10-11, singleton edges 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    out = dup_clusters(pairs).toPandas().set_index("doc_id")["cluster_id"]
    assert out[1] == out[2] == out[3] == out[4] == 1  # chain collapses to min
    assert out[10] == out[11] == 10
    assert out[20] == out[21] == 20
    assert len(out) == 8  # 4 chain + 2 + 2 nodes


def test_dup_clusters_python_reference(spark):
    import random

    from azure_serverless_etl_pipeline_spark.operators.dedup import dup_clusters

    rng = random.Random(42)
    edges = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(40)]
    edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dup_clusters(pairs).toPandas().set_index("doc_id")["cluster_id"].to_dict()

    # union-find reference
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    assert got == expected


def test_line_dedup_separator_mode(spark):
    """\\n-separated docs: a line shared by >=2 docs is boilerplate and is
    removed from every doc; unique lines survive in original order."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\ncookie notice\nunique beta"),
            (2, "cookie notice\nother text"),
            (3, "standalone doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, sep="\n", min_docs=2).collect()
    }
    assert out[1]["text"] == "unique alpha\nunique beta"
    assert out[1]["n_removed"] == 1 and out[1]["n_lines"] == 3
    assert out[2]["text"] == "other text"
    assert out[3]["text"] == "standalone doc" and out[3]["n_removed"] == 0


def test_line_dedup_full_removal_and_within_doc_repeat(spark):
    """A doc made entirely of boilerplate becomes empty (not dropped); a
    line repeated WITHIN one doc counts once toward the distinct-doc
    threshold, so it is kept."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "banner\nbanner\nbanner"),   # repeated within one doc only
            (2, "shared line\nown text"),
            (3, "shared line"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in line_dedup(docs, sep="\n", min_docs=2).collect()
    }
    # within-doc repetition is not corpus-level boilerplate
    assert out[1]["text"] == "banner\nbanner\nbanner"
    # doc 3 is nothing but the shared line -> empty string, still present
    assert out[3]["text"] == "" and out[3]["n_removed"] == 1
    assert out[2]["text"] == "own text"


def test_line_dedup_chunk_mode_alignment(spark):
    """Span mode: only ALIGNED identical 3-token chunks dedup; the final
    partial chunk participates like any other line."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f tail"),      # chunks: "a b c","d e f","tail"
            (2, "a b c x y z"),           # shares aligned chunk "a b c"
            (3, "z a b c d e"),           # contains a-b-c but misaligned
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, chunk_tokens=3, min_docs=2).collect()
    }
    assert out[1]["text"] == "d e f tail"
    assert out[2]["text"] == "x y z"
    assert out[3]["text"] == "z a b c d e"  # misaligned -> untouched


def test_line_dedup_literal_separator_and_no_forced_broadcast(spark):
    """sep is a LITERAL delimiter, not a regex: sep="." must split on dots
    only (unquoted, "." is regex-any-char and shatters every document into
    empty strings). And the anti-join must not carry a mandatory broadcast
    hint — the duplicate-line table's size is data-dependent, so the
    strategy is AQE's call at runtime."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha.cookie notice.unique beta"),
            (2, "cookie notice.other text"),
            (3, "standalone doc"),
        ],
        ["doc_id", "text"],
    )
    result = line_dedup(docs, sep=".", min_docs=2)
    out = {r["doc_id"]: r for r in result.collect()}
    assert out[1]["text"] == "unique alpha.unique beta"
    assert out[1]["n_removed"] == 1 and out[1]["n_lines"] == 3
    assert out[2]["text"] == "other text"
    assert out[3]["text"] == "standalone doc" and out[3]["n_removed"] == 0

    analyzed = result._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced broadcast anywhere


def test_semantic_dedup_properties(spark):
    """SemDeDup composition invariants on the embeddings table: total
    coverage (every vector appears once), representative = min id of its
    cluster, kept count = cluster count, every within-cell near-dup pair
    ends up in one cluster, and the whole op is deterministic."""
    from azure_serverless_etl_pipeline_spark.operators.ann_index import (
        build_ivf_index,
    )
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        embedding_near_dup,
        semantic_dedup,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    out = semantic_dedup(emb, threshold=0.25, n_cells=8).toPandas()

    n = emb.count()
    assert len(out) == n and out["vec_id"].is_unique
    # representative is the min member and is kept; kept == one per cluster
    g = out.groupby("cluster_id")["vec_id"]
    assert (g.min() == g.min().index).all()
    assert out["kept"].sum() == out["cluster_id"].nunique()
    assert set(out.loc[out["kept"], "vec_id"]) == set(out["cluster_id"].unique())

    # every within-cell pair the blocked cosine finds is clustered together
    indexed, _ = build_ivf_index(emb, k=8)
    pairs = embedding_near_dup(indexed, 0.25, block_col="cell").toPandas()
    assert len(pairs) > 0  # non-vacuous at this threshold
    lab = out.set_index("vec_id")["cluster_id"]
    assert (lab[pairs["id_a"]].to_numpy() == lab[pairs["id_b"]].to_numpy()).all()

    # deterministic end to end (seeded k-means, min-label clustering)
    again = semantic_dedup(emb, threshold=0.25, n_cells=8).toPandas()
    assert out.equals(again)


def test_bloom_incremental_dedup_matches_anti_join(spark):
    """The Bloom-pruned incremental dedup must be BIT-IDENTICAL to the
    plain left_anti join for any fpp (false positives die in the verify
    join, false negatives cannot exist), and at a punishing fpp the
    provably-new path must still route most rows around the join."""
    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        bloom_incremental_dedup,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    fp = F.md5(F.col("text"))
    seen = docs.filter(F.col("doc_id") < 250).select(fp.alias("fp"))
    new = docs.filter(F.col("doc_id") >= 250).withColumn("fp", fp)
    expected = (
        new.join(seen, "fp", "left_anti").select("doc_id").toPandas()["doc_id"]
    )
    for fpp in (0.01, 0.5):
        got = (
            bloom_incremental_dedup(new, seen, key="fp",
                                    expected_items=1000, fpp=fpp)
            .select("doc_id")
            .toPandas()["doc_id"]
        )
        assert sorted(got) == sorted(expected), fpp


def test_semantic_dedup_prebuilt_index(spark):
    """Passing a prebuilt cell index (the amortized deployment path) must
    give the identical result to the self-building path."""
    from azure_serverless_etl_pipeline_spark.operators.ann_index import (
        build_ivf_index,
    )
    from azure_serverless_etl_pipeline_spark.operators.dedup import semantic_dedup
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    auto = semantic_dedup(emb, threshold=0.25, n_cells=8).toPandas()
    indexed, _ = build_ivf_index(emb, k=8)
    pre = semantic_dedup(
        emb, threshold=0.25, n_cells=8, indexed=indexed
    ).toPandas()
    assert auto.equals(pre)


def test_canonical_map_semantics(spark):
    """canonical_map: highest-quality member wins, ties to lowest id,
    singletons map to themselves, every cluster has exactly one
    canonical."""
    import pandas as pd
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import canonical_map

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6]})
    )
    clusters = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4, 5], "cluster_id": [1, 1, 1, 4, 4]}
        )
    )
    scores = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                # cluster 1: doc 2 best; cluster 4: tie 0.5/0.5 -> doc 4
                "quality": [0.1, 0.9, 0.4, 0.5, 0.5, 0.3],
            }
        )
    )
    out = (
        canonical_map(docs, clusters, scores)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "canonical_id"] == 2
    assert out.loc[2, "canonical_id"] == 2 and bool(out.loc[2, "is_canonical"])
    assert out.loc[3, "canonical_id"] == 2
    assert out.loc[4, "canonical_id"] == 4 and bool(out.loc[4, "is_canonical"])
    assert out.loc[5, "canonical_id"] == 4
    # singleton: own cluster, own canonical
    assert out.loc[6, "cluster_id"] == 6 and out.loc[6, "canonical_id"] == 6
    # exactly one canonical per cluster
    cc = out.groupby("cluster_id")["is_canonical"].sum()
    assert (cc == 1).all()


def test_incremental_pairs_and_clusters_equal_batch(spark):
    """Split the corpus into an 'existing' and an 'arriving' half:
    (a) the incremental pair generator returns EXACTLY the batch pairs
    that touch the new half; (b) star-edge cluster merging reproduces
    the one-shot connected components bit-for-bit."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        incremental_dup_clusters,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    full_pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    fp = {
        (int(r.id_a), int(r.id_b))
        for r in full_pairs.select("id_a", "id_b").collect()
    }
    assert fp, "fixture corpus must contain near-dup pairs"
    inc = ngram_jaccard_pairs_incremental(new, old, threshold=0.5)
    ip = {(int(r.id_a), int(r.id_b)) for r in inc.select("id_a", "id_b").collect()}
    touching_new = {p for p in fp if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert ip == touching_new

    old_map = dup_clusters(ngram_jaccard_pairs(old, threshold=0.5))
    merged = incremental_dup_clusters(old_map, inc).toPandas()
    full = dup_clusters(full_pairs).toPandas()
    got = dict(zip(merged["doc_id"], merged["cluster_id"]))
    want = dict(zip(full["doc_id"], full["cluster_id"]))
    assert got == want


def test_incremental_bridge_merges_old_clusters(spark):
    """A new doc similar to members of two previously-SEPARATE clusters
    must merge them (the transitive case star edges + propagation have
    to get right)."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        incremental_dup_clusters,
    )

    old_map = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 10, 11], "cluster_id": [1, 1, 10, 10]}
        )
    )
    # new doc 20 pairs with both cluster 1 and cluster 10 members
    inc_pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [2, 11], "id_b": [20, 20]})
    )
    out = incremental_dup_clusters(old_map, inc_pairs).toPandas()
    got = dict(zip(out["doc_id"], out["cluster_id"]))
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 20: 1}


def test_incremental_indexed_equals_derived(spark, tmp_path):
    """The materialized-state tail (x117b's path, the bucketed posting
    index) must produce exactly the derived-state output: same
    incremental pairs, same merged clusters, with the old corpus read
    only from its persisted artifacts."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        incremental_dup_clusters,
        materialize_incremental_state,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
        ngram_jaccard_pairs_incremental_bucketed,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    materialize_incremental_state(old, state, threshold=0.5, max_shingle_freq=50)

    got = ngram_jaccard_pairs_incremental_bucketed(
        spark, new, state, threshold=0.5, max_shingle_freq=50
    )
    want = ngram_jaccard_pairs_incremental(
        new, old, threshold=0.5, max_shingle_freq=50
    ).toPandas()
    key = lambda df: sorted(map(tuple, df[["id_a", "id_b", "jaccard"]].values.tolist()))
    assert key(got.toPandas()) == key(want)

    merged = incremental_dup_clusters(
        spark.read.parquet(f"{state}/old_map"), got
    ).toPandas()
    full = dup_clusters(ngram_jaccard_pairs(docs, threshold=0.5)).toPandas()
    got_map = dict(zip(merged["doc_id"], merged["cluster_id"]))
    want_map = dict(zip(full["doc_id"], full["cluster_id"]))
    assert got_map == want_map


def test_incremental_fold_nonindexed_path_releases_its_caches(spark):
    """Cache-emptiness contract for the derived-state arrival path
    (ADVICE r7): ngram_jaccard_pairs_incremental caches its batch
    shingle frames, with and without the max_shingle_freq cap, and
    releases them itself — the SQL CacheManager is empty as soon as the
    generator returns, before any fold, and still empty after the fold
    (localCheckpoint blocks are lifecycle-bound results, not leaks)."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        incremental_dup_clusters,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old_map = dup_clusters(ngram_jaccard_pairs(old, threshold=0.5))
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    for cap in (None, 50):
        spark.catalog.clearCache()  # isolate from other tests' entries
        pairs = ngram_jaccard_pairs_incremental(
            new, old, threshold=0.5, max_shingle_freq=cap
        )
        assert cache_mgr.isEmpty(), f"generator leaked caches (cap={cap})"
        merged = incremental_dup_clusters(old_map, pairs)
        assert merged.count() > 0  # materialize the returned plan
        assert cache_mgr.isEmpty(), f"fold leaked caches (cap={cap})"


def test_incremental_indexed_redelivered_id_no_self_edges(spark, tmp_path):
    """A doc_id present in BOTH the new batch and the materialized state
    (an updated/re-delivered document) must not create a degenerate
    id_a == id_b self-edge, and the verify must score against the NEW
    shingle set — the one-shot path can produce neither shape."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        materialize_incremental_state,
        ngram_jaccard_pairs_incremental_bucketed,
    )

    old_docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "alpha beta gamma delta epsilon zeta",
                    "totally different words here now please",
                ],
            }
        )
    )
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old_docs, state, threshold=0.5, posting_buckets=4
    )
    # doc 1 re-delivered with updated text that still overlaps its old
    # shingles; doc 3 is a near-dup of the NEW text only
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 3],
                "text": [
                    "alpha beta gamma delta epsilon updated",
                    "alpha beta gamma delta epsilon updated",
                ],
            }
        )
    )
    out = ngram_jaccard_pairs_incremental_bucketed(
        spark, new, state, threshold=0.5
    ).toPandas()
    assert (out["id_a"] != out["id_b"]).all()
    # exact duplicate of the NEW text for doc 1 -> jaccard 1.0; against
    # the stale OLD shingles it would be < 1
    pair13 = out[(out["id_a"] == 1) & (out["id_b"] == 3)]
    assert len(pair13) == 1
    assert pair13["jaccard"].iloc[0] == 1.0


def test_minhash_bucket_cap_guards_boilerplate(spark, docs):
    """The mega-bucket guard: a planted boilerplate family (many docs
    sharing one template text) must not reach the candidate join when
    capped, while ordinary near-dup pairs are found identically with
    and without the cap (their buckets are small)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    template = "this exact template sentence repeats across every member here"
    boiler = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1000 + i for i in range(40)],
                "text": [template] * 40,
            }
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(boiler)

    base = minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    capped = minhash_lsh_pairs(
        corpus, threshold=0.5, max_bucket_size=10
    ).toPandas()
    uncapped = minhash_lsh_pairs(corpus, threshold=0.5).toPandas()

    key = lambda df: set(map(tuple, df[["id_a", "id_b"]].to_numpy().tolist()))
    # ordinary pairs unaffected by the cap
    assert key(base) <= key(capped)
    # the 40-member family's 780 pairs are pruned by the cap...
    fam = {p for p in key(capped) if p[0] >= 1000}
    assert fam == set()
    # ...and dominate the unguarded run (the blow-up the guard exists for)
    fam_unc = {p for p in key(uncapped) if p[0] >= 1000}
    assert len(fam_unc) == 40 * 39 // 2


def test_minhash_calibrated_geometry_recall(spark):
    """x03's registered geometry (r=4/b=16, S-curve midpoint exactly at
    the 0.5 threshold) on the driver corpus at sf0.001: precision stays
    1.0 (exact verify) and recall vs the exact-Jaccard truth must hold
    at the level RECALL.md's curve claims for well-separated dups."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    truth = set(
        map(
            tuple,
            ngram_jaccard_pairs(docs, threshold=0.5)
            .toPandas()[["id_a", "id_b"]].to_numpy().tolist(),
        )
    )
    got = set(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, threshold=0.5, num_perm=64, bands=16,
                max_bucket_size=200,
            )
            .toPandas()[["id_a", "id_b"]].to_numpy().tolist(),
        )
    )
    assert got <= truth
    assert len(got) >= 0.9 * len(truth), (len(got), len(truth))


@pytest.mark.slow
def test_incremental_bucketed_equals_derived(spark, tmp_path):
    """The BUCKETED tail (x117b's round-9 path — partition-pruned
    posting index + pushed In filters) must produce exactly the
    derived-state output, capped and uncapped, and fold to the one-shot
    cluster map: pruning is an I/O property, never a semantic one."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        dup_clusters,
        incremental_dup_clusters,
        materialize_incremental_state,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
        ngram_jaccard_pairs_incremental_bucketed,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old, state, threshold=0.5, max_shingle_freq=50, posting_buckets=16
    )

    key = lambda df: sorted(
        map(tuple, df[["id_a", "id_b", "jaccard"]].values.tolist())
    )
    for cap in (50, None):
        got = ngram_jaccard_pairs_incremental_bucketed(
            spark, new, state, threshold=0.5, max_shingle_freq=cap
        ).toPandas()
        want = ngram_jaccard_pairs_incremental(
            new, old, threshold=0.5, max_shingle_freq=cap
        ).toPandas()
        assert key(got) == key(want), f"cap={cap}"

    merged = incremental_dup_clusters(
        spark.read.parquet(f"{state}/old_map"),
        ngram_jaccard_pairs_incremental_bucketed(
            spark, new, state, threshold=0.5, max_shingle_freq=50
        ),
    ).toPandas()
    full = dup_clusters(ngram_jaccard_pairs(docs, threshold=0.5)).toPandas()
    got_map = dict(zip(merged["doc_id"], merged["cluster_id"]))
    want_map = dict(zip(full["doc_id"], full["cluster_id"]))
    assert got_map == want_map


def test_incremental_bucketed_large_regime_bit_identical(spark, tmp_path):
    """The de-collected LARGE-BATCH regime (VERDICT r9 item 6): with
    max_in_pushdown=0 every key probe takes the semi-join branch and no
    key list is ever materialized on the driver — output must still be
    bit-identical to the pushed-In regime, capped and uncapped, and the
    redelivery df-subtraction must survive regime selection too."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        materialize_incremental_state,
        ngram_jaccard_pairs_incremental_bucketed,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    # include a re-delivered slice so the stale-count fetch (the
    # batch-ids probe) is exercised in the semi regime as well
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    )
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old, state, threshold=0.5, max_shingle_freq=50, posting_buckets=16
    )
    key = lambda df: sorted(
        map(tuple, df[["id_a", "id_b", "jaccard"]].values.tolist())
    )
    for cap in (50, None):
        semi = ngram_jaccard_pairs_incremental_bucketed(
            spark, new, state, threshold=0.5, max_shingle_freq=cap,
            max_in_pushdown=0,
        ).toPandas()
        pushed = ngram_jaccard_pairs_incremental_bucketed(
            spark, new, state, threshold=0.5, max_shingle_freq=cap,
        ).toPandas()
        assert key(semi) == key(pushed), f"cap={cap}"


def test_incremental_bucketed_redelivered_matches_oneshot(spark, tmp_path):
    """Re-delivery through the bucketed path: the stale copy's postings
    must leave the candidate side via the pruned anti-join, the union
    document frequency must match the one-shot corpus (stale counts
    subtracted from the PERSISTED per-shingle table), and the verify
    must score against the NEW shingle set. A shingle sits exactly at
    the cap in the one-shot corpus; double-counting the stale copy would
    push it over and lose pairs the one-shot run finds."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        materialize_incremental_state,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental_bucketed,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    filler = "one two three four five six"
    old_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 9], "text": [shared, shared, filler]})
    )
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old_docs, state, threshold=0.5, max_shingle_freq=3, posting_buckets=4
    )
    new = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 3], "text": [shared, shared]})
    )
    got = ngram_jaccard_pairs_incremental_bucketed(
        spark, new, state, threshold=0.5, max_shingle_freq=3
    ).toPandas()
    assert (got["id_a"] != got["id_b"]).all()
    oneshot_docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 9, 3], "text": [shared, shared, filler, shared]}
        )
    )
    want = ngram_jaccard_pairs(
        oneshot_docs, threshold=0.5, max_shingle_freq=3
    ).toPandas()
    assert set(map(tuple, got[["id_a", "id_b", "jaccard"]].values)) == set(
        map(tuple, want[["id_a", "id_b", "jaccard"]].values)
    ) == {(1.0, 2.0, 1.0), (1.0, 3.0, 1.0), (2.0, 3.0, 1.0)}


def test_incremental_bucketed_empty_batch_and_cache_release(spark, tmp_path):
    """An empty arriving batch returns an empty, correctly-typed pair
    frame; the generator releases every cached frame it pinned before
    it returns (the CacheManager is empty before any fold) and the fold
    pins none (the same contract as the derived-state arrival path)."""
    from pyspark.sql import functions as F

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        incremental_dup_clusters,
        materialize_incremental_state,
        ngram_jaccard_pairs_incremental_bucketed,
    )
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    spark.catalog.clearCache()
    docs = load_table(spark, SF_ORACLE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old, state, threshold=0.5, max_shingle_freq=50, posting_buckets=16
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    empty = docs.filter(F.lit(False))
    out = ngram_jaccard_pairs_incremental_bucketed(
        spark, empty, state, threshold=0.5, max_shingle_freq=50
    )
    assert cache_mgr.isEmpty(), "empty-batch generator leaked caches"
    assert out.columns == ["id_a", "id_b", "jaccard"]
    assert out.count() == 0

    pairs = ngram_jaccard_pairs_incremental_bucketed(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1),
        state,
        threshold=0.5,
        max_shingle_freq=50,
    )
    assert cache_mgr.isEmpty(), "bucketed generator leaked caches"
    merged = incremental_dup_clusters(
        spark.read.parquet(f"{state}/old_map"), pairs
    )
    assert merged.count() > 0
    assert cache_mgr.isEmpty(), "bucketed fold leaked cached DataFrames"


def test_incremental_bucketed_failure_releases_its_caches(
    spark, tmp_path, monkeypatch
):
    """An eager job that fails inside the bucketed generator (here the
    first capped-key probe, which runs right after the batch caches are
    pinned) still releases every cache the generator took."""
    from azure_serverless_etl_pipeline_spark.operators import dedup
    from azure_serverless_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    state = str(tmp_path / "state")
    dedup.materialize_incremental_state(
        docs.filter(F.col("doc_id") % 2 == 0), state, threshold=0.5,
        max_shingle_freq=50, posting_buckets=16,
    )
    spark.catalog.clearCache()  # isolate from other tests' entries

    def failing_probe(key_frame, max_in):
        raise RuntimeError("probe job failed")

    monkeypatch.setattr(dedup, "_capped_keys", failing_probe)
    with pytest.raises(RuntimeError, match="probe job failed"):
        dedup.ngram_jaccard_pairs_incremental_bucketed(
            spark, docs.filter(F.col("doc_id") % 2 == 1), state,
            threshold=0.5, max_shingle_freq=50,
        )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "failed generator left its caches behind"


def test_incremental_bucketed_all_shingles_over_cap(spark, tmp_path):
    """When every batch shingle exceeds the cap, the capped lookup set
    is empty: no posting may be read (the cap-first ordering's promise)
    and the output is empty — matching the one-shot operator, which
    also drops every candidate."""
    import pandas as pd

    from azure_serverless_etl_pipeline_spark.operators.dedup import (
        materialize_incremental_state,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental_bucketed,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    old_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [shared, shared]})
    )
    state = str(tmp_path / "state")
    materialize_incremental_state(
        old_docs, state, threshold=0.5, max_shingle_freq=0, posting_buckets=4
    )
    new = spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "text": [shared]})
    )
    got = ngram_jaccard_pairs_incremental_bucketed(
        spark, new, state, threshold=0.5, max_shingle_freq=0
    )
    assert got.count() == 0
    oneshot = ngram_jaccard_pairs(
        old_docs.unionByName(new), threshold=0.5, max_shingle_freq=0
    )
    assert oneshot.count() == 0
