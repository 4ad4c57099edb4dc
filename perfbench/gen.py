"""Seeded inputs for the perfbench workloads.

Every input the benchmark hands the program comes from here, and every
function is a pure function of its seed: the same seed gives
byte-identical files (checked by ``test_gen.py``). Nothing here imports
Spark or the package under test.

- ``write_tables``: the TPC-H-ish star tables plus ``events``,
  ``documents`` and ``embeddings`` at a scale factor, as parquet, in the
  schema the package's catalog reads (lineitem/orders/events drive the
  dashboard queries; documents/embeddings seed the corpus index).
- ``energy_csv``: one reference-schema energy CSV with a known number
  of defective rows (rows the ingest's validation must divert).
- ``doc_batch``: an arriving document batch with fresh ids and a known
  set of injected near-duplicates of base-corpus documents.
- ``vector_batch``: perturbed copies of corpus vectors, for appends and
  for probe queries (separate streams, separate ids).
- ``request_mix``: the Zipf-skewed dashboard request sequence.

Run ``python3 perfbench/gen.py --seed 7 --out DIR`` to write one full
input set and print its sha256 manifest.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

ENERGY_HEADERS = [
    "Home ID",
    "Appliance Type",
    "Energy Consumption (kWh)",
    "Time",
    "Date",
    "Outdoor Temperature (°C)",
    "Season",
    "Household Size",
]
APPLIANCES = [
    "Air Conditioning", "Computer", "Dishwasher", "Fridge", "Heater",
    "Lights", "Microwave", "Oven", "TV", "Washing Machine",
]

EMBED_DIM = 64
EMBED_CENTRES = 10

# What the workloads hand the program. ``write_all`` writes exactly these
# inputs, so the CLI and the determinism test cover what a run uses.
API_SF = 0.02
API_TABLES = ("orders", "lineitem", "events")
API_CYCLE = 32  # requests asked of request_mix per cycle (40 after rounding)
# Zipf exponent of the request mix: steep enough that ranks 1 and 2 hold
# more than half of a cycle, so the median request lies inside their
# cluster of cheap requests and not on the slope up to the heavier ones
ZIPF_S = 2.0
CORPUS_SF = 0.02
CORPUS_TABLES = ("documents", "embeddings")
FIRST_FILE_ROWS = 200  # the set-up drain that creates the stream checkpoint
ENERGY_ROWS = 2000
ENERGY_HOMES = 40
DEFECT_SHARE = 0.02
DOC_BATCH = 60
DOC_DUPS = 6
FIRST_DOC_ID = 1_000_000
VEC_BATCH = 32
FIRST_VEC_ID = 1_000_000
QUERIES_PER_PROBE = 4
PROBES_PER_ITERATION = 3
FIRST_QUERY_ID = 2_000_000_000

# The dashboard surface: every query the API workload may request, in
# popularity order (rank 1 is requested most). No record of the reference
# API's endpoint usage exists, so the order is an assumption: cheapest
# first, as on a dashboard whose light tiles refresh most and whose model
# scorers are opened least. The rank is each query's warm request
# latency measured in the api workload (perfbench/README.md), so p50
# falls among the cheap, fixed-cost requests and the heavy ones show in
# api_p90_ms and throughput. The order is fixed so the mix's shape does
# not depend on the seed; the seed picks the sequence and the filter
# values.
API_QUERIES = [
    "x29_tpch_q6",
    "g01_scan_filter",
    "g10_ingest_validation",
    "g02_groupby_sum",
    "x11_event_hourly",
    "x27_tpch_q1",
    "g09_grouping_sets",
    "m02_forecast",
    "g05_topk",
    "g06_join_global_avg",
    "g08_rolling_features",
    "g07_date_spine",
    "x119_daily_trend",
    "g04_global_kpis",
    "g03_multikey_agg",
    "m01_anomaly_scores",
]

# Output key a filtered request binds, per query (absent: never filtered).
API_FILTER_KEYS = {
    "g01_scan_filter": "l_orderkey",
    "g02_groupby_sum": "l_returnflag",
    "g03_multikey_agg": "l_returnflag",
    "g06_join_global_avg": "o_custkey",
    "g07_date_spine": "user_id",
    "g08_rolling_features": "user_id",
    "m01_anomaly_scores": "user_id",
    "x11_event_hourly": "event_type",
    "x119_daily_trend": "event_type",
    "x27_tpch_q1": "l_returnflag",
}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts the values another one draws."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def embedding_centres(seed: int) -> np.ndarray:
    c = _rng(seed, 90).normal(size=(EMBED_CENTRES, EMBED_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "customers": int(150_000 * sf),
        "parts": int(200_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _orders(seed: int, n: dict[str, int]) -> pa.Table:
    rng = _rng(seed, 1)
    o_n = n["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(o_n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customers"], o_n)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o_n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, o_n), 2)),
            "o_orderdate": pa.array(
                EPOCH_1995_US + rng.integers(0, 2405, o_n) * DAY_US, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o_n)]),
        }
    )


def _lineitem(seed: int, n: dict[str, int]) -> pa.Table:
    rng = _rng(seed, 2)
    l_n = n["lineitem"]
    qty = rng.integers(1, 51, l_n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(np.sort(rng.integers(0, n["orders"], l_n))),
            "l_partkey": pa.array(rng.integers(0, n["parts"], l_n)),
            "l_suppkey": pa.array(rng.integers(0, max(n["parts"] // 20, 1), l_n)),
            "l_linenumber": pa.array(rng.integers(1, 8, l_n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, l_n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, l_n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, l_n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, l_n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, l_n)]),
            "l_shipdate": pa.array(
                EPOCH_1995_US + rng.integers(1, 2500, l_n) * DAY_US, pa.timestamp("us")
            ),
        }
    )


def _events(seed: int, n: dict[str, int]) -> pa.Table:
    rng = _rng(seed, 3)
    e_n = n["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, e_n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(e_n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], e_n)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e_n)]),
            "value": pa.array(np.round(rng.gamma(2.0, 50.0, e_n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e_n)]),
        }
    )


def _documents(seed: int, n: dict[str, int]) -> pa.Table:
    ids, texts = base_documents(seed, n["documents"])
    rng = _rng(seed, 4)
    langs = np.array(["de", "en", "es", "fr", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, 5, len(ids))]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(ids))]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(seed: int, n: dict[str, int]) -> pa.Table:
    vec_ids, vecs, labels = base_vectors(seed, n["embeddings"])
    return pa.table(
        {
            "vec_id": pa.array(vec_ids),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


TABLES = {
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(
    out_dir: str, seed: int, sf: float = 0.1, names: tuple[str, ...] = tuple(TABLES)
) -> dict[str, int]:
    """Write the ``names`` tables as parquet under ``out_dir``; return
    each table's row count. A table's rows depend only on (seed, sf)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    counts = {}
    for name in names:
        table = TABLES[name](seed, n)
        _write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def base_documents(seed: int, n_docs: int) -> tuple[np.ndarray, list[str]]:
    """The base corpus: ids 0..n-1, 10 to 90 words each."""
    rng = _rng(seed, 10)
    lengths = rng.integers(10, 91, n_docs)
    return np.arange(n_docs, dtype=np.int64), [_text(rng, k) for k in lengths]


def doc_batch(
    seed: int,
    batch_no: int,
    first_id: int,
    n_docs: int,
    n_dups: int,
    base_texts: list[str],
) -> tuple[list[int], list[str], list[tuple[int, int]]]:
    """One arriving batch: ``n_docs`` fresh random documents plus
    ``n_dups`` near-duplicates, each a copy of a long base document with
    one word replaced (word-3-gram Jaccard >= 0.8 against its source).
    Ids run from ``first_id``. Returns (ids, texts, [(dup_id, source_id)])."""
    rng = _rng(seed, 11, batch_no)
    texts = [_text(rng, k) for k in rng.integers(10, 91, n_docs)]
    long_ids = [i for i, t in enumerate(base_texts) if t.count(" ") >= 39]
    pairs: list[tuple[int, int]] = []
    for src in rng.choice(long_ids, n_dups, replace=False):
        words = base_texts[src].split(" ")
        pos = int(rng.integers(0, len(words)))
        words[pos] = WORDS[(WORDS.index(words[pos]) + 1) % len(WORDS)]
        pairs.append((first_id + len(texts), int(src)))
        texts.append(" ".join(words))
    ids = list(range(first_id, first_id + len(texts)))
    return ids, texts, pairs


def base_vectors(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clustered unit-ish float32 vectors: a centre plus Gaussian noise."""
    rng = _rng(seed, 20)
    centres = embedding_centres(seed)
    labels = rng.integers(0, EMBED_CENTRES, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.08, size=(n, EMBED_DIM))
    return np.arange(n, dtype=np.int64), vecs.astype(np.float32), labels


def vector_batch(
    seed: int, stream: int, batch_no: int, first_id: int, n: int, base: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` vectors with ids from ``first_id``: perturbed copies of
    random rows of ``base`` (small noise, so each lands near its source)."""
    rng = _rng(seed, stream, batch_no)
    src = rng.integers(0, len(base), n)
    noise = rng.normal(scale=0.05, size=(n, base.shape[1]))
    vecs = (base[src].astype(np.float64) + noise).astype(np.float32)
    return np.arange(first_id, first_id + n, dtype=np.int64), vecs


def energy_rows(seed: int, file_no: int, n_rows: int, n_homes: int) -> list[list[str]]:
    rng = _rng(seed, 30, file_no)
    homes = rng.integers(1, n_homes + 1, n_rows)
    appl = rng.integers(0, len(APPLIANCES), n_rows)
    kwh = rng.uniform(0.1, 5.0, n_rows)
    hour = rng.integers(0, 24, n_rows)
    minute = rng.integers(0, 60, n_rows)
    day = rng.integers(1, 29, n_rows)
    month = rng.integers(1, 7, n_rows)
    temp = rng.uniform(-10.0, 40.0, n_rows)
    season = rng.integers(0, 2, n_rows)
    size = rng.integers(1, 6, n_rows)
    return [
        [
            str(homes[i]),
            APPLIANCES[appl[i]],
            f"{kwh[i]:.2f}",
            f"{hour[i]}:{minute[i]:02d}",
            f"{day[i]:02d}-{month[i]:02d}-2023",
            f"{temp[i]:.1f}",
            ("Winter", "Spring")[season[i]],
            str(size[i]),
        ]
        for i in range(n_rows)
    ]


def energy_csv(
    seed: int, file_no: int, n_rows: int, n_homes: int, defect_share: float
) -> tuple[bytes, int]:
    """One landing file's bytes and its defect count. Defects cycle
    through the three shapes validation rejects: empty Home ID, empty
    Appliance Type, non-numeric energy."""
    rows = energy_rows(seed, file_no, n_rows, n_homes)
    n_bad = int(round(n_rows * defect_share))
    rng = _rng(seed, 31, file_no)
    for j, i in enumerate(rng.choice(n_rows, n_bad, replace=False)):
        col, val = ((0, ""), (1, ""), (2, "n/a"))[j % 3]
        rows[i][col] = val
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(ENERGY_HEADERS)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8"), n_bad


def energy_file(seed: int, file_no: int) -> tuple[bytes, int, int]:
    """Landing file ``file_no`` of a corpus run as (bytes, rows, defects):
    file 0 is the small set-up file, every later one ENERGY_ROWS rows."""
    rows = FIRST_FILE_ROWS if file_no == 0 else ENERGY_ROWS
    data, bad = energy_csv(seed, file_no, rows, ENERGY_HOMES, DEFECT_SHARE)
    return data, rows, bad


def corpus_batch(
    seed: int, batch_no: int, base_texts: list[str], base_vecs: np.ndarray
) -> tuple[list[int], list[str], list[tuple[int, int]], np.ndarray, np.ndarray]:
    """Iteration ``batch_no`` (from 1) of a corpus run: its document batch
    (ids, texts, injected (dup, source) pairs) and its vector batch (ids,
    vectors). Ids are fresh and follow on from the previous batch's."""
    n_docs = DOC_BATCH + DOC_DUPS
    ids, texts, pairs = doc_batch(
        seed, batch_no, FIRST_DOC_ID + (batch_no - 1) * n_docs, DOC_BATCH, DOC_DUPS, base_texts
    )
    vid, vecs = vector_batch(
        seed, 50, batch_no, FIRST_VEC_ID + (batch_no - 1) * VEC_BATCH, VEC_BATCH, base_vecs
    )
    return ids, texts, pairs, vid, vecs


def probe_queries(seed: int, probe_no: int, base_vecs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The query vectors of probe ``probe_no`` (from 1)."""
    first = FIRST_QUERY_ID + 100 * probe_no
    return vector_batch(seed, 60, probe_no, first, QUERIES_PER_PROBE, base_vecs)


def request_mix(seed: int, n: int) -> list[tuple[str, bool]]:
    """About ``n`` dashboard requests as (query, filtered). Popularity is
    Zipf (s=ZIPF_S) over ``API_QUERIES``'s fixed rank order, rounded so every
    query appears; half (rounded up) of each filterable query's requests
    carry a filter. Only the order depends on the seed, so every seed
    requests the same multiset."""
    weights = 1.0 / np.arange(1, len(API_QUERIES) + 1) ** ZIPF_S
    quota = np.maximum(1, np.round(weights / weights.sum() * n)).astype(int)
    reqs = []
    for q, k in zip(API_QUERIES, quota):
        n_filtered = (int(k) + 1) // 2 if q in API_FILTER_KEYS else 0
        reqs += [(q, i < n_filtered) for i in range(k)]
    order = _rng(seed, 40).permutation(len(reqs))
    return [reqs[i] for i in order]


def pick_filter_value(seed: int, query: str, keys: list) -> object:
    """The bound filter value for ``query``'s filtered requests: one of
    the query's own output keys, chosen by the seed."""
    rng = _rng(seed, 41, API_QUERIES.index(query))
    return keys[int(rng.integers(0, len(keys)))]


def write_all(out_dir: str, seed: int, iterations: int = 4) -> dict[str, str]:
    """The inputs a run with ``seed`` hands the program: the api tables
    and request cycle, the corpus tables, and the landing files, document
    and vector batches and probe queries of the first ``iterations``
    corpus iterations. Writes them under ``out_dir``; returns
    {relative path: sha256}."""
    write_tables(os.path.join(out_dir, "api"), seed, API_SF, API_TABLES)
    counts = write_tables(os.path.join(out_dir, "corpus"), seed, CORPUS_SF, CORPUS_TABLES)
    land = os.path.join(out_dir, "energy")
    os.makedirs(land, exist_ok=True)
    for f in range(iterations + 1):
        data, _rows, _bad = energy_file(seed, f)
        with open(os.path.join(land, f"energy-{f:05d}.csv"), "wb") as fh:
            fh.write(data)
    _ids, base_texts = base_documents(seed, counts["documents"])
    _vec_ids, base_vecs, _labels = base_vectors(seed, counts["embeddings"])
    with open(os.path.join(out_dir, "batches.txt"), "w") as fh:
        for b in range(1, iterations + 1):
            ids, texts, pairs, vid, vecs = corpus_batch(seed, b, base_texts, base_vecs)
            fh.write(f"{ids}\n{texts}\n{pairs}\n{vid.tolist()}\n{vecs.tobytes().hex()}\n")
            for p in range((b - 1) * PROBES_PER_ITERATION, b * PROBES_PER_ITERATION):
                qid, qvecs = probe_queries(seed, p + 1, base_vecs)
                fh.write(f"{qid.tolist()}\n{qvecs.tobytes().hex()}\n")
        fh.write(f"{request_mix(seed, API_CYCLE)}\n")
    digests = {}
    for root, _dirs, files in os.walk(out_dir):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                digests[os.path.relpath(p, out_dir)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(digests.items()))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write the inputs into")
    args = ap.parse_args(argv)
    for rel, digest in write_all(args.out, args.seed).items():
        print(f"{digest}  {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
