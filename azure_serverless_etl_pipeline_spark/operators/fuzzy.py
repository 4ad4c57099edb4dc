"""Blocked edit-distance (fuzzy) self-join (north-star extension).

Finds all pairs of documents whose normalized key strings are within
Levenshtein distance `d` — the classic record-linkage / near-duplicate
primitive that neither exact dedup (x01) nor set-based Jaccard (x02)
captures (character-level typos shift every shingle).

A naive formulation is an all-pairs cross join with levenshtein() in the
predicate — O(n^2) comparisons, each O(len^2): dead at scale. The
distributed plan combines two classic EXACT filters (sound supersets,
never drop a true pair):

 1. q-gram count bound (Gravano et al., VLDB 2001):
        lev(a,b) <= d  =>  multiset-overlap(Gq(a), Gq(b))
                              >= max(|a|,|b|) - q + 1 - d*q
    so any true pair shares all but at most d*q of its positional
    q-gram occurrences.
 2. prefix filtering on that overlap threshold (AllPairs/PPJoin,
    Bayardo et al., WWW 2007 — same machinery as dedup.py's Jaccard
    join): order every doc's gram OCCURRENCES by a global canonical
    order (ascending document frequency, then gram, then occurrence
    index) and keep only the first d*q + 1 per doc. Two docs whose
    overlap meets the bound MUST share an occurrence inside these
    prefixes, so the candidate join runs on the rare-gram prefixes
    only — frequent grams ("e the", " and ") never generate candidates,
    which is what turns the O(sum df^2) inverted-index join into
    something bounded by the rare tail.

Candidates then get ONE levenshtein() verify each (built-in codegen
expression, O(len^2) on the 64-char keys = trivial); no UDFs anywhere.

Completeness for SHORT keys (bound <= 0, filters vacuous): keys shorter
than C = q + d*q + d chars are routed to a dedicated exhaustive block —
any true pair with one side short has both sides < C (length bound), and
the short population of a document corpus is a bounded sliver, so its
cross join is tiny at any scale. The two paths partition the pair space
disjointly (gram path = both sides >= C): the union is exact.

Keys are a normalized fixed-length prefix of the text (lowercase,
whitespace-collapsed, first `key_len` chars): bounding the key bounds
the gram fan-out, the prefix size, and the verify cost, which is how the
operator stays predictable on 100 TB of variable-length documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def normalized_key(text: Column, key_len: int = 64) -> Column:
    """Lowercased, whitespace-collapsed prefix used as the fuzzy key."""
    return F.substring(
        F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), 1, key_len
    )


def _positional_qgrams(key: Column, q: int) -> Column:
    """array of the |key| - q + 1 positional q-grams (non-distinct)."""
    n = F.length(key) - q + 1
    return F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), n), lambda i: key.substr(i, F.lit(q))),
    ).otherwise(F.array(key))


def fuzzy_pairs(
    df: DataFrame,
    max_dist: int = 3,
    q: int = 5,
    key_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All unordered pairs (a < b) with lev(key_a, key_b) <= max_dist.

    Returns (a, b, dist). Exact w.r.t. the normalized keys: prefix
    filtering over the q-gram occurrence multiset is a sound superset
    for long keys, short keys get an exhaustive block, levenshtein
    verifies every candidate.
    """
    short_cut = q + max_dist * q + max_dist  # both sides of any short pair < this
    prefix_len = max_dist * q + 1
    keyed = df.select(
        F.col(id_col).alias("id"), normalized_key(F.col(text_col), key_len).alias("key")
    ).withColumn("len", F.length("key"))
    # Read by the gram stream, both verify sides, and the short block.
    keyed = keyed.localCheckpoint(eager=True)

    # --- long-long path: rare-gram prefix filter + verify ---------------
    # Gram OCCURRENCES (gram, j): j numbers repeats so the occurrence set
    # is the multiset — required for repeated-gram keys ("xxxx...").
    occ = (
        keyed.where(F.col("len") >= short_cut)
        .select(
            "id",
            "len",
            F.posexplode(_positional_qgrams(F.col("key"), q)).alias("pos", "gram"),
        )
        .withColumn(
            "j", F.row_number().over(W.partitionBy("id", "gram").orderBy("pos"))
        )
        .drop("pos")
    )
    gfreq = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("gf"))
    # Canonical global order: rarest first; ties by gram text then
    # occurrence index. Keep each doc's first d*q + 1 occurrence-elements.
    # Checkpointed: the self-join below reads it from BOTH sides, and it is
    # the reduced prefix stream ((d*q + 1) rows per doc), not the corpus.
    pref = (
        occ.join(gfreq, "gram")
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("id").orderBy("gf", "gram", "j")
            ),
        )
        .where(F.col("r") <= prefix_len)
        .select("id", "len", "gram", "j")
        .localCheckpoint(eager=True)
    )
    cand = (
        pref.alias("pa")
        .join(pref.alias("pb"), ["gram", "j"])
        .where(
            (F.col("pa.id") < F.col("pb.id"))
            # length bound inside the candidate join: |len| diff > d can
            # never verify, so it must not survive to the distinct
            & (F.abs(F.col("pa.len") - F.col("pb.len")) <= max_dist)
        )
        .select(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
        .distinct()
    )
    ka = keyed.select(F.col("id").alias("a"), F.col("key").alias("key_a"))
    kb = keyed.select(F.col("id").alias("b"), F.col("key").alias("key_b"))
    long_pairs = (
        cand.join(ka, "a")
        .join(kb, "b")
        .withColumn("dist", F.levenshtein("key_a", "key_b"))
        .where(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )

    # --- short block: exhaustive over the (tiny) short-key population ---
    # Any true pair with min(len) < short_cut has max(len) < short_cut +
    # max_dist; join shorts against everything under that ceiling and
    # keep pairs where at least one side is strictly short.
    s = keyed.where(F.col("len") < short_cut).select(
        F.col("id").alias("a"), F.col("key").alias("key_a"), F.col("len").alias("len_a")
    )
    t = keyed.where(F.col("len") < short_cut + max_dist).select(
        F.col("id").alias("b"), F.col("key").alias("key_b"), F.col("len").alias("len_b")
    )
    short_pairs = (
        s.join(
            t,
            (F.col("a") < F.col("b"))
            | ((F.col("b") < F.col("a")) & (F.col("len_b") >= short_cut)),
        )
        .withColumn(
            "pa", F.when(F.col("a") < F.col("b"), F.col("a")).otherwise(F.col("b"))
        )
        .withColumn(
            "pb", F.when(F.col("a") < F.col("b"), F.col("b")).otherwise(F.col("a"))
        )
        .withColumn("dist", F.levenshtein("key_a", "key_b"))
        .where(F.col("dist") <= max_dist)
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"), "dist")
    )

    return long_pairs.unionByName(short_pairs).select(
        "a", "b", F.col("dist").cast("int").alias("dist")
    )
