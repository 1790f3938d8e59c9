"""The benchmark's workloads: each a closed loop with one client.

A workload sets up its inputs and warms up (``setup``), verifies its
outputs once (``verify``), then runs operations (``op``) until the
measuring time is spent. Every operation reports its wall time, the
number of input items it covered and whether it failed; an operation
that raises or fails its output check counts as failed and the loop
goes on.

Traced operations record spans around each call into the engine and
read Spark's counters; the per-layer metrics come from those. Stage
self times come from noop-sink probes: write stage k's output to the
noop sink and subtract the time of the stages it depends on.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import corpus
import tables

# The inputs are fixed, so their reference outputs (the staged path's
# graph digest, DuckDB's query results) are computed once per checkout;
# the run seed permutes the query order. The XML corpus is FILES x
# DOCS_PER_FILE documents; the streaming probe of a traced run drains one
# more file of DOCS_PER_FILE documents. Fixed per-job cost dominates at
# these sizes: on 4 cores, 4x the documents costs 1.5x the time, 10x
# the table rows 1.1x.
CORPUS_SEED = 42
FILES = 4
DOCS_PER_FILE = 250
TABLE_SEED = 42
TABLE_ORDERS = 1500

# Iterative queries spend their time in driver-side construction (eager
# localCheckpoint/collect, many SQL executions); scan queries in a few
# executions of scan, per-row expressions, exchange and aggregation.
ITERATIVE = [
    "q169_label_propagation",
    "q93_pagerank",
]
SCAN = [
    "q01_pricing_summary",
    "q33_simhash",
    "q151_winsorized_stats",
    "q172_weighted_median",
]

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

NODE_KEYS = ["label", "key"]
EDGE_KEYS = ["src", "dst", "rel_type"]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def digest(df, cols: list[str]) -> list[int]:
    """Order-independent digest of the distinct ``cols`` rows: [rows,
    sum of their 64-bit hashes]. One Spark job."""
    from pyspark.sql import functions as F

    row = (
        df.select(*cols)
        .distinct()
        .select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return [int(row["n"]), int(row["s"] or 0)]


def graph_digest(nodes, edges) -> list:
    return [digest(nodes, NODE_KEYS), digest(edges, EDGE_KEYS)]


def cached(name: str, key: bytes, compute):
    """``compute()``'s JSON result, kept in the checkout under ``name``
    and a hash of ``key``, so a reference output is computed once."""
    path = os.path.join(CACHE, f"{name}-{hashlib.sha256(key).hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    os.makedirs(CACHE, exist_ok=True)
    with open(f"{path}.{os.getpid()}", "w") as f:
        json.dump(out, f)
    os.replace(f"{path}.{os.getpid()}", path)
    return out


def source_bytes(*paths: str) -> bytes:
    """The contents of the .py files under ``paths``, in path order."""
    out = []
    for top in paths:
        files = [top] if os.path.isfile(top) else [
            os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns if n.endswith(".py")
        ]
        for f in sorted(files):
            with open(f, "rb") as fh:
                out.append(f.encode() + fh.read())
    return b"".join(out)


def parquet_files(path: str) -> set[str]:
    out = set()
    for root, _, names in os.walk(path):
        out.update(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return out


def land(src_dir: str, landing: str) -> None:
    """Move a copy of each file of ``src_dir`` into ``landing`` by an
    atomic rename, so a stream never sees a partial file."""
    for name in sorted(os.listdir(src_dir)):
        tmp = os.path.join(os.path.dirname(landing), f".{name}")
        shutil.copyfile(os.path.join(src_dir, name), tmp)
        os.rename(tmp, os.path.join(landing, name))


@dataclass
class OpResult:
    wall: float
    items: int
    failed: int
    traced: bool = False
    key: str = "op"
    layer: dict = field(default_factory=dict)
    attempted: int = 1


class CountingClassifier:
    """Wraps a classifier and keeps each DataFrame that reaches it, so the
    rows sent to classification can be counted afterwards."""

    def __init__(self, inner):
        self.inner = inner
        self.seen = []

    def classify(self, terms):
        self.seen.append(terms)
        return self.inner.classify(terms)


class Workload:
    name = ""
    ops_per_pass = 1

    def __init__(self, spark, tracer, counters, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.work = work
        self.seed = seed

    def counted(self, tag: str, body):
        """Run ``body`` under its own job group; return its result and
        the spark.* counters of that run."""
        gid = f"perfbench-{tag}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        e0 = self.counters.sql_executions()
        out = body()
        jobs, shuffle = self.counters.group_stats([gid])
        return out, {
            "spark.sql_executions": self.counters.sql_executions() - e0,
            "spark.jobs": jobs,
            "spark.shuffle_bytes": shuffle,
        }

    def traced_extras(self) -> OpResult | None:
        """Layers a traced run measures once, outside the operations."""
        return None


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class XmlToGraph(Workload):
    """Bulk XML → classified property graph → deduplicated parquet."""

    name = "xml_to_graph"

    def setup(self) -> None:
        """Write the corpus and warm up with one fused run, so that no
        measured run pays for first codegen."""
        import oculus_data_pipeline_spark

        self.corpus = corpus.generate(CORPUS_SEED, FILES, DOCS_PER_FILE, increments=1)
        self.xml_dir = os.path.join(self.work, "xml")
        self.corpus.bulk.write(self.xml_dir)
        self.increment_dir = os.path.join(self.work, "increment")
        self.corpus.increments[0].write(self.increment_dir)
        key = source_bytes(corpus.__file__, os.path.dirname(oculus_data_pipeline_spark.__file__))
        self.corpus_key = key + repr((CORPUS_SEED, FILES, DOCS_PER_FILE)).encode()
        warm = os.path.join(self.work, "warm")
        self.run_once(warm)
        shutil.rmtree(warm)

    def verify(self) -> tuple[int, int]:
        """One-time checks, as (checks made, checks failed): none here.
        It computes the graph digest every operation must match, the
        staged path's over the corpus. That takes about as long as
        set-up, so the digest is kept, keyed by the corpus and the
        engine's code."""
        self.expected_digest = cached("staged", self.corpus_key, self.staged_digest)
        return 0, 0

    def staged_digest(self) -> list:
        """The graph digest of the staged path: ingest→classify→uri→graph
        through JSONL boundaries."""
        from oculus_data_pipeline_spark.operators.classify import EchoClassifier
        from oculus_data_pipeline_spark.plans import stages
        from oculus_data_pipeline_spark.sources.json_docs import read_documents_json

        base = os.path.join(self.work, "staged")
        read_enriched = self.spark.read.schema(stages.ENRICHED_DOCUMENT_SCHEMA).json
        stages.ingest_stage(self.spark, self.xml_dir).write.json(f"{base}/docs")
        docs = read_documents_json(self.spark, f"{base}/docs")
        stages.classify_stage(docs, EchoClassifier()).write.json(f"{base}/cls")
        stages.uri_stage(read_enriched(f"{base}/cls")).write.json(f"{base}/uri")
        out = graph_digest(*stages.graph_stage(read_enriched(f"{base}/uri")))
        shutil.rmtree(base)
        return out

    def run_once(self, out_dir: str) -> float:
        from oculus_data_pipeline_spark.operators.classify import EchoClassifier
        from oculus_data_pipeline_spark.plans.pipeline import run_pipeline
        from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("op", workload=self.name):
            with tr.span("pipeline.construct"):
                nodes, edges = run_pipeline(self.spark, self.xml_dir, EchoClassifier())
            with tr.span("sink.write"):
                write_graph_parquet(nodes, edges, out_dir)
        return time.perf_counter() - t0

    def parquet_digest(self, out_dir: str) -> list:
        read = self.spark.read.parquet
        return graph_digest(read(f"{out_dir}/nodes"), read(f"{out_dir}/edges"))

    def pipeline_digest(self, xml_dir: str) -> list:
        """The digest of the graph ``run_pipeline`` writes for ``xml_dir``."""
        from oculus_data_pipeline_spark.operators.classify import EchoClassifier
        from oculus_data_pipeline_spark.plans.pipeline import run_pipeline
        from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet

        out_dir = os.path.join(self.work, "reference")
        write_graph_parquet(*run_pipeline(self.spark, xml_dir, EchoClassifier()), out_dir)
        out = self.parquet_digest(out_dir)
        shutil.rmtree(out_dir)
        return out

    def check(self, out_dir: str) -> list[str]:
        from pyspark.sql import functions as F

        nodes = self.spark.read.parquet(f"{out_dir}/nodes")
        edges = self.spark.read.parquet(f"{out_dir}/edges")
        problems = []
        got = graph_digest(nodes, edges)
        if got != self.expected_digest:
            problems.append(f"graph digest {got} != staged path {self.expected_digest}")
        if (nodes.count(), edges.count()) != (got[0][0], got[1][0]):
            problems.append("the sink left duplicate keys")
        exp = self.corpus.bulk.expected
        n_docs = nodes.where(F.col("label") == "Document").count()
        if n_docs != exp.documents:
            problems.append(f"Document nodes {n_docs} != {exp.documents}")
        counts = {r["rel_type"]: r["count"] for r in edges.groupBy("rel_type").count().collect()}
        for rel, n in exp.edge_counts().items():
            if counts.get(rel, 0) != n:
                problems.append(f"{rel} edges {counts.get(rel, 0)} != {n}")
        return problems

    def op(self, i: int, traced: bool) -> OpResult:
        out_dir = os.path.join(self.work, f"graph-{i}")
        layer = {}
        try:
            if traced:
                wall, layer = self.counted(f"op-{i}", lambda: self.run_once(out_dir))
                layer["pipeline.construct_s"] = self.tracer.durations("pipeline.construct")[-1]
                layer.update(self.stage_probe(out_dir))
                layer["sink.write_s"] = self.tracer.durations("sink.write")[-1] - layer.pop("probe.graph_s")
            else:
                wall = self.run_once(out_dir)
            problems = self.check(out_dir)
        except Exception:
            traceback.print_exc()
            return OpResult(0.0, 0, 1, traced)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        for p in problems:
            log(f"{self.name} op {i}: {p}")
        docs = self.corpus.bulk.expected.documents
        return OpResult(wall, docs, int(bool(problems)), traced, layer=layer)

    def stage_probe(self, out_dir: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from oculus_data_pipeline_spark.functions.text import normalize_term
        from oculus_data_pipeline_spark.operators.classify import EchoClassifier
        from oculus_data_pipeline_spark.plans import pipeline as P

        clf = CountingClassifier(EchoClassifier())
        tr = self.tracer
        with tr.span("probe.sources"):
            docs = P.read_documents_xml(self.spark, self.xml_dir)
            _, t_docs = timed(noop, docs)
        with tr.span("probe.extract_terms"):
            terms = P.extract_terms(docs)
            _, t_terms = timed(noop, terms)
        with tr.span("probe.known_entities"):
            known = P.known_entities_from_docs(docs)
            _, t_known = timed(noop, known)
        with tr.span("probe.classify"):
            classified = P.classify_document_terms(terms, known, clf)
            _, t_cls = timed(noop, classified)
        with tr.span("probe.build_graph"):
            # the observations count the rows that reach the sink, with
            # no extra job
            nodes, edges = P.build_document_graph(docs, classified)
            obs_nodes, obs_edges = Observation(), Observation()
            _, t_nodes = timed(noop, nodes.observe(obs_nodes, F.count(F.lit(1)).alias("rows")))
            _, t_edges = timed(noop, edges.observe(obs_edges, F.count(F.lit(1)).alias("rows")))
        known_self = t_known - t_docs
        layer = {
            "sources.xml_scan_s": t_docs,
            "pipeline.extract_terms_s": t_terms - t_docs,
            "pipeline.known_entities_s": known_self,
            "classify.self_s": t_cls - t_terms - known_self,
            # nodes and edges each recompute the classified terms
            "pipeline.build_graph_s": t_nodes + t_edges - 2 * t_cls,
            "probe.graph_s": t_nodes + t_edges,
        }
        parts = terms.select(F.explode(F.array("main", "midsub", "sub")).alias("t"))
        parts = parts.where(F.length("t") > 0)
        n_parts = parts.count()
        distinct = parts.select(normalize_term("t")).distinct().count()
        rows_in = sum(df.count() for df in clf.seen)
        layer.update(
            {
                "classify.rows_in": rows_in,
                "classify.distinct_ratio": distinct / n_parts,
                "classify.known_hit_ratio": (distinct - rows_in) / distinct,
                "sink.rows_in": obs_nodes.get["rows"] + obs_edges.get["rows"],
            }
        )
        files = parquet_files(out_dir)
        size = sum(os.path.getsize(f) for f in files)
        layer.update(
            {
                "sink.rows_out": self.spark.read.parquet(f"{out_dir}/nodes").count()
                + self.spark.read.parquet(f"{out_dir}/edges").count(),
                "sink.bytes": size,
                "sink.files": len(files),
                "sink.bytes_per_input_byte": size / self.corpus.bulk.input_bytes,
            }
        )
        return layer

    def traced_extras(self) -> OpResult:
        """The streaming form of the pipeline: land the increment by an
        atomic rename and drain it with ``availableNow``. The rows it
        appends, deduplicated, must equal ``run_pipeline`` over the
        increment alone."""
        from oculus_data_pipeline_spark.operators.classify import EchoClassifier
        from oculus_data_pipeline_spark.streaming.ingest import stream_pipeline_to_graph

        base = os.path.join(self.work, "stream")
        landing, out_dir, ckpt = (os.path.join(base, d) for d in ("landing", "graph", "ckpt"))
        os.makedirs(landing)
        try:
            t_land = time.perf_counter()
            with self.tracer.span("stream.increment"):
                land(self.increment_dir, landing)
                called = time.time()
                q = stream_pipeline_to_graph(
                    self.spark, landing, out_dir, EchoClassifier(), ckpt, available_now=True
                )
                q.awaitTermination()
            wall = time.perf_counter() - t_land
            files = parquet_files(out_dir)
            got = self.parquet_digest(out_dir)
            want = cached("increment", self.corpus_key, lambda: self.pipeline_digest(self.increment_dir))
        except Exception:
            traceback.print_exc()
            return OpResult(0.0, 0, 1, True, "stream")
        finally:
            shutil.rmtree(base, ignore_errors=True)
        if got != want:
            log(f"stream increment: appended {got} != run_pipeline {want}")
        prog = _progress(q)
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in prog) / 1000.0  # noqa: E731
        jobs, shuffle = self.counters.group_stats([str(q.runId)])
        layer = {
            "stream.start_s": _epoch(prog[0]["timestamp"]) - called,
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.planning_s": dur("queryPlanning"),
            "stream.offset_commit_s": dur("latestOffset") + dur("walCommit"),
            "stream.batches_per_increment": sum(1 for p in prog if p.get("numInputRows", 0) > 0),
            "stream.jobs_per_increment": jobs,
            "stream.shuffle_bytes_per_increment": shuffle,
            "stream.increment_s": wall,
            "sink.files_per_increment": len(files),
        }
        return OpResult(wall, 0, int(got != want), True, "stream", layer)


class Queries(Workload):
    """Registry queries over the generated tables, in seed-permuted order."""

    name = "queries"

    def setup(self) -> None:
        from oculus_data_pipeline_spark.queries import QUERIES

        self.sf_dir = os.path.join(self.work, "tables")
        self.tables = tables.make_tables(TABLE_SEED, TABLE_ORDERS)
        tables.write_tables(self.tables, self.sf_dir)
        self.order = ITERATIVE + SCAN
        random.Random(self.seed).shuffle(self.order)
        self.ops_per_pass = len(self.order)
        # warm-up pass; its results are what verify() checks
        self.results = {}
        for q in self.order:
            df = QUERIES[q](self.spark, self.sf_dir)
            self.results[q] = rows_digest(df.columns, df.collect())

    def oracle_digests(self) -> dict[str, str]:
        """DuckDB's result digest for each query."""
        import duckdb

        from oculus_data_pipeline_spark.queries import ORACLE

        conn = duckdb.connect()
        conn.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in self.tables:
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        out = {}
        for q in sorted(self.order):
            res = conn.execute(ORACLE[q])
            out[q] = rows_digest([d[0] for d in res.description], res.fetchall())
        conn.close()
        return out

    def verify(self) -> tuple[int, int]:
        """Each warm-up result against its DuckDB oracle entry. DuckDB
        takes about 10 s over these tables, nearly all of it in q169's
        oracle, so its digests are kept, keyed by the table generator,
        the DuckDB version and the oracle SQL."""
        import duckdb

        from oculus_data_pipeline_spark.queries import ORACLE

        key = source_bytes(tables.__file__) + repr(
            (TABLE_SEED, TABLE_ORDERS, duckdb.__version__, sorted((q, ORACLE[q]) for q in self.order))
        ).encode()
        oracle = cached("oracle", key, self.oracle_digests)
        bad = [q for q in self.order if oracle[q] != self.results[q]]
        for q in bad:
            log(f"{q}: result differs from the DuckDB oracle")
        return len(self.order), len(bad)

    def op(self, i: int, traced: bool) -> OpResult:
        from oculus_data_pipeline_spark.queries import QUERIES

        q = self.order[i % len(self.order)]
        tr = self.tracer

        def body():
            t0 = time.perf_counter()
            with tr.span("op", workload=self.name, query=q):
                with tr.span(f"{q}.construct"):
                    df = QUERIES[q](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span(f"{q}.execute"):
                    rows = df.collect()
            t2 = time.perf_counter()
            return rows_digest(df.columns, rows), t2 - t0, t1 - t0, t2 - t1

        layer = {}
        try:
            if traced:
                (got, wall, c, e), counts = self.counted(f"op-{i}", body)
                layer = {f"{q}.construct_s": c, f"{q}.execute_s": e}
                layer.update({f"{q}.{k[6:]}": v for k, v in counts.items()})
            else:
                got, wall, _, _ = body()
            wrong = got != self.results[q]
        except Exception:
            traceback.print_exc()
            return OpResult(0.0, 0, 1, traced, q)
        if wrong:
            log(f"{q} op {i}: result differs from the warm-up result")
        return OpResult(wall, 1, int(wrong), traced, q, layer)


def rows_digest(cols: list[str], rows) -> str:
    """Order-independent digest of a query result: columns sorted by
    name, rows sorted by the repr of their normalized values."""
    from tests.oracle_harness import _norm

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (XmlToGraph, Queries)}
