"""The perfbench workloads. Each drives the package only through its
public functions, with inputs from ``gen`` and state under its own work
directory, and returns its metrics and output-check tally.

- ``ApiDashboard``: closed loop, two client threads. A request is
  ``serving.run_named_query`` (the plans layer builds the DataFrame) then
  ``serving.to_json_response`` (execution, collect and JSON). The first
  response per distinct (query, filter) is checked against the package's
  DuckDB oracle; later ones must match it.
- ``CorpusIndex``: closed loop, one client: the write side. Each
  iteration lands one energy CSV and drains it through
  ``start_energy_file_ingest`` (the blob-trigger analog), folds one
  document batch into the dedup state (then ``compact_state``), appends
  one vector batch to the IVFPQ index, then probes the index three times.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from collections import Counter

import numpy as np

import gen
from harness import Recorder, fold_event_log, quantile


def _parquet_stats(path: str) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet files under ``path``; rows
    come from the footers."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                full = os.path.join(root, name)
                files += 1
                size += os.path.getsize(full)
                rows += pq.read_metadata(full).num_rows
    return files, size, rows


class Workload:
    name = ""
    attribute_ungrouped = False

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.rec: Recorder | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tally = threading.Lock()
        self.setup: dict[str, list[float]] = {}

    # -- session ---------------------------------------------------------
    def start_session(self, trace: bool = False):
        from azure_serverless_etl_pipeline_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if trace:
            os.makedirs(f"{self.work}/eventlog", exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.work}/eventlog",
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name=f"perfbench-{self.name}", extra_conf=conf)
        if self.rec is None:
            self.rec = Recorder(self.spark, self.name, self.attribute_ungrouped)
        else:
            self.rec.rebind(self.spark)
        return self.spark

    def timed_setup(self, build_state) -> float:
        """One full set-up: session, package shipping, workload state.
        Records its parts and returns its total seconds."""
        from azure_serverless_etl_pipeline_spark.deploy import ship_package

        t0 = time.perf_counter()
        spark = self.start_session()
        t1 = time.perf_counter()
        ship_package(spark)
        t2 = time.perf_counter()
        build_state()
        t3 = time.perf_counter()
        for key, val in (
            ("get_spark_s", t1 - t0),
            ("ship_package_s", t2 - t1),
            ("state_build_s", t3 - t2),
        ):
            self.setup.setdefault(key, []).append(val)
        return t3 - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.rec.count_jobs()
            self.spark.stop()
            self.spark = None

    def attempt(self) -> None:
        with self.tally:
            self.attempted += 1

    def fail(self, what: str) -> None:
        with self.tally:
            self.failed += 1
            self.failures.append(what)

    def check(self, what: str, ok: bool) -> None:
        self.attempt()
        if not ok:
            self.fail(what)

    # -- run -------------------------------------------------------------
    def run(self, trace: bool) -> tuple[dict, dict]:
        """Set up and measure. Returns (end-to-end, per-layer) metrics.

        A traced run first times the workload's reference operation
        untraced (``overhead_base``), restarts the session with the event
        log on, and measures there: its calls run warm, and
        ``trace.overhead_pct`` compares the same operation warm, traced
        against untraced."""
        self.prepare()
        if trace:
            base = self.overhead_base()
            self.stop_session()
            self.start_session(trace=True)
            self.restarted()
        mark = len(self.rec.spans)
        self.measure()
        self.rec.count_jobs()
        phase = self.summary(mark)
        self.final_checks()
        layer = self.layer_metrics(mark, phase)
        if trace:
            spans = self.rec.spans[mark:]
            self.stop_session()  # flushes and closes the event log
            layer.update(fold_event_log(f"{self.work}/eventlog", spans))
            layer["trace.overhead_pct"] = 100.0 * (layer[self.OVERHEAD_METRIC] - base) / base
        return phase, layer

    def restarted(self) -> None:
        """Reload whatever the workload holds per session."""


class ApiDashboard(Workload):
    name = "api_dashboard"
    OVERHEAD_METRIC = "api_p50_ms"
    CLIENTS = 2
    TABLES = gen.API_TABLES

    def prepare(self) -> None:
        import duckdb

        from azure_serverless_etl_pipeline_spark.plans import all_oracles_full

        self.tables = f"{self.work}/tables"
        gen.write_tables(self.tables, self.seed, gen.API_SF, self.TABLES)
        # expected outputs from the DuckDB oracles, before Spark starts
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        oracles = all_oracles_full()
        self.expected = {q: con.execute(oracles[q]).df() for q in gen.API_QUERIES if q in oracles}
        con.close()
        self.filters = {}
        for q, col in gen.API_FILTER_KEYS.items():
            src = self.expected.get(q, self.expected.get("g08_rolling_features"))
            keys = sorted(src[col].dropna().unique().tolist())
            self.filters[q] = {col: gen.pick_filter_value(self.seed, q, keys)}
        self.cycle = gen.request_mix(self.seed, gen.API_CYCLE)

        # the first set-up launches the JVM; the median of five is a warm
        # one, taken from four
        totals = []
        for _ in range(5):
            self.stop_session()
            totals.append(self.timed_setup(self.build_state))
        self.setup_s = float(np.median(totals))
        self.first_response: dict[tuple, tuple[str, str]] = {}
        self.lock = threading.Lock()
        # one untimed cycle: every request type's first execution (code
        # generation, first reads) and its oracle check happen here; in a
        # cold cycle the median falls between cold and warm requests and
        # moves by a sixth from run to run
        self.measure(seconds=0)

    def overhead_base(self) -> float:
        """p50 of one untraced cycle."""
        mark = len(self.rec.spans)
        self.measure(seconds=0)
        return self.summary(mark)["p50_ms"]

    def build_state(self) -> None:
        from azure_serverless_etl_pipeline_spark.plans import all_queries
        from azure_serverless_etl_pipeline_spark.sources.catalog import register_views

        def build():
            all_queries()
            register_views(self.spark, self.tables, *self.TABLES)

        self.rec.timed("setup", "registry", build)

    def respond(self, query: str, filters: dict | None, request: int) -> str:
        from azure_serverless_etl_pipeline_spark import serving

        df = self.rec.timed(
            "plans",
            query,
            lambda: serving.run_named_query(self.spark, query, self.tables, filters),
            request,
        )
        return self.rec.timed("serving", query, lambda: serving.to_json_response(df), request)

    def measure(self, seconds: float | None = None) -> None:
        self.next_index = 0
        self.t0 = time.perf_counter()
        self.min_seconds = self.seconds if seconds is None else seconds
        threads = [threading.Thread(target=self.client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.phase_wall = time.perf_counter() - self.t0

    def take(self) -> int | None:
        """Next request index; stops only at a cycle boundary, so every
        run serves whole cycles (the same multiset of requests)."""
        with self.lock:
            i = self.next_index
            if i and i % len(self.cycle) == 0 and time.perf_counter() - self.t0 >= self.min_seconds:
                return None
            self.next_index += 1
            return i

    def client(self) -> None:
        while (i := self.take()) is not None:
            query, filtered = self.cycle[i % len(self.cycle)]
            filters = self.filters[query] if filtered else None
            self.attempt()
            try:
                body = self.respond(query, filters, i)
            except Exception as exc:  # a failed request is counted, the loop goes on
                self.fail(f"{query} {filters}: {type(exc).__name__}: {exc}")
                continue
            self.check_response(query, filters, body)

    def check_response(self, query: str, filters: dict | None, body: str) -> None:
        key = _request_key(query, filters)
        digest = hashlib.sha256(body.encode()).hexdigest()
        with self.lock:
            first = self.first_response.get(key)
            if first is None:
                self.first_response[key] = (digest, body)
        if first is None:
            ok = self.matches_oracle(query, filters, body)
        else:
            ok = digest == first[0] or _canonical(json.loads(body)) == _canonical(
                json.loads(first[1])
            )
        if not ok:
            self.fail(f"{query} {filters}: response mismatch")

    def matches_oracle(self, query: str, filters: dict | None, body: str) -> bool:
        rows = json.loads(body)
        if query not in self.expected:  # model scorers: no SQL oracle
            return isinstance(rows, list) and len(rows) > 0
        want = self.expected[query]
        for col, val in (filters or {}).items():
            want = want[want[col] == val]
        want_rows = want.to_dict("records")
        if rows and sorted(rows[0]) != sorted(want.columns):
            return False
        got, exp = _canonical(rows), _canonical(want_rows)
        if len(want_rows) <= 10_000:
            return got == exp
        return len(rows) == 10_000 and not (got - exp)

    def summary(self, since: int) -> dict[str, float]:
        plans = self.rec.of("plans", since=since)
        serving = self.rec.of("serving", since=since)
        by_req = {s.request: s.wall_s for s in plans}
        lat = [by_req[s.request] + s.wall_s for s in serving if s.request in by_req]
        return {
            "setup_s": self.setup_s,
            "p50_ms": 1000.0 * quantile(lat, 0.5),
            "throughput_per_s": len(lat) / self.phase_wall,
            "api_p90_ms": 1000.0 * quantile(lat, 0.9),
            "requests": len(lat),
        }

    def layer_metrics(self, since: int, phase: dict) -> dict[str, float]:
        plans = self.rec.of("plans", since=since)
        serving = self.rec.of("serving", since=since)
        n = max(len(serving), 1)
        out = _setup_metrics(self.setup)
        out.update(
            {
                "api_p50_ms": phase["p50_ms"],
                "api_p90_ms": phase["api_p90_ms"],
                "api_qps": phase["throughput_per_s"],
                "api_requests": phase["requests"],
                "plans.build_s": quantile([s.wall_s for s in plans], 0.5),
                "plans.build_jobs": sum(s.jobs for s in plans) / n,
                "serving.respond_s": quantile([s.wall_s for s in serving], 0.5),
                "serving.exec_jobs": sum(s.jobs for s in serving) / n,
                "serving.response_bytes": self.response_bytes(),
            }
        )
        return out

    def response_bytes(self) -> float:
        """Mean body size over one cycle of requests."""
        sizes = {k: len(body) for k, (_d, body) in self.first_response.items()}
        total = 0
        for query, filtered in self.cycle:
            total += sizes.get(_request_key(query, self.filters[query] if filtered else None), 0)
        return total / len(self.cycle)

    def restarted(self) -> None:
        self.build_state()

    def final_checks(self) -> None:
        wanted = {_request_key(q, self.filters[q] if f else None) for q, f in self.cycle}
        self.check("a distinct request was never answered", wanted <= set(self.first_response))


def _request_key(query: str, filters: dict | None) -> tuple[str, str]:
    return query, json.dumps(filters, sort_keys=True, default=str)


def _norm(v):
    """One cell in a form both engines agree on: numbers to 9 significant
    digits, NULL/NaN/NaT to None, timestamps to their str()."""
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v)
        return None if f != f else float(f"{f:.9g}")
    if isinstance(v, pd.Timestamp):
        return None if pd.isna(v) else str(v.to_pydatetime())
    if v is pd.NaT:
        return None
    return str(v)


def _canonical(rows: list[dict]) -> Counter:
    return Counter(tuple((k, _norm(r[k])) for k in sorted(r)) for r in rows)


def _setup_metrics(setup: dict[str, list[float]]) -> dict[str, float]:
    return {f"setup.{k}": float(np.median(v)) for k, v in setup.items()}


class CorpusIndex(Workload):
    name = "corpus_index"
    OVERHEAD_METRIC = "probe_p50_ms"
    attribute_ungrouped = True
    TOP_K = 10
    WRITE_OPS = (("ingest", "drain"), ("dedup", "fold"), ("dedup", "compact"), ("ann", "append"))

    def prepare(self) -> None:
        self.tables = f"{self.work}/tables"
        counts = gen.write_tables(self.tables, self.seed, gen.CORPUS_SF, gen.CORPUS_TABLES)
        self.n_base_docs = counts["documents"]
        _ids, self.base_texts = gen.base_documents(self.seed, self.n_base_docs)
        vec_ids, self.base_vecs, _labels = gen.base_vectors(self.seed, counts["embeddings"])
        self.index_ids = list(vec_ids)
        self.index_vecs = [self.base_vecs]
        self.dirs = {
            k: f"{self.work}/{k}"
            for k in ("landing", "valid", "quarantine", "checkpoint", "dedup", "ann")
        }
        os.makedirs(self.dirs["landing"])
        self.landed: list[str] = []
        self.rows_landed = 0
        self.defects_landed = 0
        self.batch_docs: list[tuple[int, str]] = []
        self.injected: list[tuple[int, int]] = []
        self.batch = 0
        self.n_probes = 0
        self.recalls: list[float] = []
        # one set-up: it takes about 40 s, most of it the JVM's first
        # Python workers and code generation; a second one would add about
        # 17 s to every run
        self.setup_s = self.timed_setup(self.build_state)

    def build_state(self) -> None:
        from azure_serverless_etl_pipeline_spark.operators.ann_index import save_ivfpq_index
        from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import fold_batch

        spark = self.spark
        self.rec.timed(
            "setup",
            "ann_build",
            lambda: save_ivfpq_index(
                spark.read.parquet(f"{self.tables}/embeddings.parquet"), self.dirs["ann"]
            ),
        )
        docs = spark.read.parquet(f"{self.tables}/documents.parquet").select("doc_id", "text")
        self.rec.timed("setup", "dedup_base", lambda: fold_batch(spark, docs, 0, self.dirs["dedup"]))
        # the stream's first drain creates its checkpoint; a small file
        # keeps that one-off cost out of the timed drains
        self.land_file()
        self.rec.timed("setup", "ingest_first_drain", self.drain)

    def land_file(self) -> tuple[float, int]:
        """Land the next energy file; returns (landing time, its rows)."""
        n = len(self.landed)
        data, rows, bad = gen.energy_file(self.seed, n)
        path = os.path.join(self.dirs["landing"], f"energy-{n:05d}.csv")
        tmp = os.path.join(self.work, f".landing-{n}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)  # the file source never sees a partial file
        self.landed.append(os.path.basename(path))
        self.rows_landed += rows
        self.defects_landed += bad
        return time.perf_counter(), rows

    def drain(self):
        from azure_serverless_etl_pipeline_spark.streaming.file_ingest import (
            start_energy_file_ingest,
        )

        d = self.dirs
        q = start_energy_file_ingest(
            self.spark, d["landing"], d["valid"], d["quarantine"], d["checkpoint"]
        )
        q.awaitTermination()
        return q

    def measure(self) -> None:
        t0 = time.perf_counter()
        self.phase_iters: list[float] = []
        self.lags, self.progress, self.recalls = [], [], []
        self.records = 0
        while not self.phase_iters or time.perf_counter() - t0 < self.seconds:
            start = time.perf_counter()
            self.iteration()
            self.phase_iters.append(time.perf_counter() - start)

    def op(self, layer: str, name: str, fn):
        self.attempt()
        try:
            return self.rec.timed(layer, name, fn)
        except Exception as exc:  # a failed call is counted, the loop goes on
            self.fail(f"{layer}.{name} batch {self.batch}: {type(exc).__name__}: {exc}")
            return None

    def iteration(self) -> None:
        """One energy file drained, one document batch folded and the
        state compacted, one vector batch appended: the write path. Then
        PROBES_PER_ITERATION probes of the updated index: the read path."""
        from azure_serverless_etl_pipeline_spark.operators.ann_index import append_to_ivfpq_index
        from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
            DOC_SCHEMA,
            compact_state,
            fold_batch,
        )

        spark = self.spark
        self.batch += 1
        b = self.batch

        landed_at, rows = self.land_file()
        q = self.op("ingest", "drain", self.drain)
        if q is not None:
            self.lags.append(time.perf_counter() - landed_at)
            self.progress.append([p for p in q.recentProgress if p.get("numInputRows")])

        ids, texts, pairs, vid, vecs = gen.corpus_batch(self.seed, b, self.base_texts, self.base_vecs)
        docs = spark.createDataFrame(list(zip(ids, texts)), DOC_SCHEMA)
        self.op("dedup", "fold", lambda: fold_batch(spark, docs, b, self.dirs["dedup"]))
        self.batch_docs += list(zip(ids, texts))
        self.injected += pairs
        # compaction after every fold: a run measures one iteration, so a
        # sparser cadence would make runs differ in whether it ran at all
        self.op("dedup", "compact", lambda: compact_state(spark, self.dirs["dedup"]))

        new = _vector_frame(spark, vid, vecs)
        self.op("ann", "append", lambda: append_to_ivfpq_index(new, self.dirs["ann"], batch_id=b))
        self.index_ids += list(vid)
        self.index_vecs.append(vecs)
        self.records += rows + len(ids) + len(vid)

        for _ in range(gen.PROBES_PER_ITERATION):
            self.probe()

    def probe(self) -> float | None:
        """One ``search_ivfpq`` call for a fresh batch of query vectors,
        checked against exact top-k; returns its wall seconds."""
        from azure_serverless_etl_pipeline_spark.operators.ann_index import search_ivfpq

        spark = self.spark
        self.n_probes += 1
        qid, qvec = gen.probe_queries(self.seed, self.n_probes, self.base_vecs)
        qdf = _vector_frame(spark, qid, qvec)
        rows = self.op(
            "ann",
            "probe",
            lambda: search_ivfpq(
                spark, self.dirs["ann"], qdf, k=self.TOP_K, nprobe=4, shortlist=50
            ).collect(),
        )
        if rows is None:
            return None
        self.check_probe(qid, qvec, rows)
        return self.rec.spans[-1].wall_s

    def overhead_base(self) -> float:
        """Wall of a warm, untraced probe (after one first probe), ms."""
        self.probe()
        return 1000.0 * (self.probe() or float("nan"))

    def check_probe(self, qid: np.ndarray, qvec: np.ndarray, rows) -> None:
        """recall@k against exact cosine top-k over the index contents;
        a query answered with fewer than k neighbours is a failure."""
        ids = np.asarray(self.index_ids)
        mat = np.vstack(self.index_vecs).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        qm = qvec.astype(np.float64)
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        sims = qm @ mat.T
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        for i, q in enumerate(qid):
            order = np.lexsort((ids, -sims[i]))[: self.TOP_K]
            exact = set(ids[order].tolist())
            approx = got.get(int(q), set())
            self.check(f"probe {q} returned {len(approx)} of {self.TOP_K}", len(approx) == self.TOP_K)
            self.recalls.append(len(approx & exact) / self.TOP_K)

    def summary(self, since: int) -> dict[str, float]:
        """p50_ms is the read path: the median probe. throughput_per_s is
        the write path: energy rows, documents and vectors committed per
        second of drain, fold, compact and append time."""
        spans = self.rec.spans[since:]
        write_s = sum(s.wall_s for s in spans if (s.layer, s.op) in self.WRITE_OPS)
        return {
            "setup_s": self.setup_s,
            "p50_ms": 1000.0 * quantile([s.wall_s for s in spans if s.op == "probe"], 0.5),
            "throughput_per_s": self.records / max(write_s, 1e-9),
        }

    def layer_metrics(self, since: int, phase: dict) -> dict[str, float]:
        def walls(layer, op):
            return [s.wall_s for s in self.rec.of(layer, op, since)]

        def jobs(layer, op):
            spans = self.rec.of(layer, op, since)
            return sum(s.jobs for s in spans) / max(len(spans), 1)

        batches = [b for drain in self.progress for b in drain]
        drains = self.rec.of("ingest", "drain", since)
        rows_in = sum(b["numInputRows"] for b in batches)

        def progress_ms(key):
            return quantile([b["durationMs"].get(key, 0) for b in batches], 0.5)

        out = _setup_metrics(self.setup)
        out.update(
            {
                "ingest_lag_p50_s": quantile(self.lags, 0.5),
                "ingest_lag_p90_s": quantile(self.lags, 0.9),
                "ingest_rows_per_s": rows_in / max(sum(s.wall_s for s in drains), 1e-9),
                "ingest.drain_s": quantile(walls("ingest", "drain"), 0.5),
                "ingest.batches_per_drain": len(batches) / max(len(self.progress), 1),
                "ingest.addBatch_ms": progress_ms("addBatch"),
                "ingest.walCommit_ms": progress_ms("walCommit"),
                "ingest.commitOffsets_ms": progress_ms("commitOffsets"),
                "ingest.queryPlanning_ms": progress_ms("queryPlanning"),
                "ingest.latestOffset_ms": progress_ms("latestOffset"),
                "fold_p50_s": quantile(walls("dedup", "fold"), 0.5),
                "fold_p90_s": quantile(walls("dedup", "fold"), 0.9),
                "dedup.fold_jobs": jobs("dedup", "fold"),
                "dedup.compact_s": quantile(walls("dedup", "compact"), 0.5),
                "dedup.compact_jobs": jobs("dedup", "compact"),
                "append_p50_s": quantile(walls("ann", "append"), 0.5),
                "probe_p50_ms": 1000.0 * quantile(walls("ann", "probe"), 0.5),
                "ann.probe_jobs": jobs("ann", "probe"),
                "ann.append_jobs": jobs("ann", "append"),
                "ann.recall_at_k": float(np.mean(self.recalls)) if self.recalls else 0.0,
            }
        )
        out.update(self.state_metrics)
        return out

    def final_checks(self) -> None:
        """Ingest totals and exactly-once, the folded map against a
        one-shot clustering, and the on-disk state sizes."""
        from azure_serverless_etl_pipeline_spark.operators.dedup import (
            dup_clusters,
            ngram_jaccard_pairs,
        )
        from azure_serverless_etl_pipeline_spark.streaming.dedup_stream import (
            DOC_SCHEMA,
            current_map,
        )

        spark = self.spark
        spark.sparkContext.setJobGroup(f"{self.name}:bench:check", "perfbench")
        d = self.dirs
        v_files, v_bytes, n_valid = _parquet_stats(d["valid"])
        q_files, q_bytes, n_quar = _parquet_stats(d["quarantine"])
        self.check(
            f"ingest rows {n_valid}+{n_quar} != landed {self.rows_landed}",
            n_valid + n_quar == self.rows_landed,
        )
        self.check(
            f"quarantine {n_quar} != injected defects {self.defects_landed}",
            n_quar == self.defects_landed,
        )
        committed = _committed_files(f"{d['checkpoint']}/sources/0")
        self.check(
            f"file-source log {sorted(committed)} != landed once each",
            sorted(committed) == sorted(self.landed),
        )

        got = current_map(spark, d["dedup"]).toPandas()
        got_map = dict(zip(got["doc_id"].tolist(), got["cluster_id"].tolist()))
        base = spark.read.parquet(f"{self.tables}/documents.parquet").select("doc_id", "text")
        docs = base.unionByName(spark.createDataFrame(self.batch_docs, DOC_SCHEMA))
        truth = dup_clusters(ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=50))
        t = truth.toPandas()
        truth_map = dict(zip(t["doc_id"].tolist(), t["cluster_id"].tolist()))
        self.check("folded map != one-shot dup_clusters", got_map == truth_map)
        found = sum(
            1 for dup, src in self.injected if dup in got_map and got_map.get(src) == got_map[dup]
        )

        ingest_rows = n_valid + n_quar
        s_files, s_bytes, _ = _parquet_stats(d["dedup"])
        a_files, a_bytes, _ = _parquet_stats(d["ann"])
        n_docs = self.n_base_docs + len(self.batch_docs)
        self.state_metrics = {
            "writers.files_per_krow": 1000.0 * (v_files + q_files) / ingest_rows,
            "writers.bytes_per_row": (v_bytes + q_bytes) / ingest_rows,
            "dedup.state_files": float(s_files),
            "dedup.state_bytes_per_doc": s_bytes / n_docs,
            "dedup.injected_dup_recall": found / max(len(self.injected), 1),
            "ann.index_files": float(a_files),
            "ann.index_bytes_per_vec": a_bytes / len(self.index_ids),
        }


def _vector_frame(spark, ids: np.ndarray, vecs: np.ndarray):
    return spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)], "vec_id long, embedding array<float>"
    )


def _committed_files(source_log: str) -> list[str]:
    """Base names of every file the stream's file-source log committed,
    once per commit (a file committed twice appears twice). Every
    ``compactInterval`` batches the log writes ``<n>.compact``, which
    holds every entry up to batch n; it is read with the batch files
    after it, and the batch files it covers are skipped."""
    names = os.listdir(source_log)
    compacted = [int(n.split(".")[0]) for n in names if n.endswith(".compact")]
    last = max(compacted, default=-1)
    logs = [f"{last}.compact"] if compacted else []
    logs += sorted((n for n in names if n.isdigit() and int(n) > last), key=int)
    out = []
    for name in logs:
        with open(os.path.join(source_log, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                out.append(os.path.basename(json.loads(line)["path"]))
    return out


WORKLOADS = {w.name: w for w in (ApiDashboard, CorpusIndex)}
