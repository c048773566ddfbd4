"""The three workloads. Each drives one layer through its public functions:

- ``search``: closed loop, 2 clients, seeded request mix over the
  ``api.TraceEngine`` reader endpoints (operators + sources per request;
  ``search_traces`` and ``get_trace`` also run the ``transform`` chain);
- ``ingest``: ``streaming.run_backfill`` of a JSON span corpus into fresh
  tables (the write half of what ``search`` reads);
- ``dedup``: ``datapipe`` MinHash-LSH pairs plus ``dup_clusters`` over
  documents with planted near-dup clusters and one hot band bucket.

``search`` serves requests, so its runs warm up before timing. A backfill
and a dedup pass are batch jobs that run once per fresh session, so their
untraced runs time that first job, JIT and code generation included. Each
job carries a fixed micro-batch and job overhead whatever its input size
(on a 4-core box about 10 s warm and 25-40 s cold), so several jobs per
run would not fit the run budget.

BENCHMARK.json lists ``search`` and ``dedup`` only. A run takes about
50-70 s on a 4-core box, and repeated ten-seed sets of all three workloads
would take over an hour, so ``ingest`` is run by hand (``--workload
ingest`` or ``--workload all``); its streaming metrics read 0 on the other
two.

A workload generates its inputs in ``setup`` (seeded, see gen.py); the
program only sees the files written there.
"""

from __future__ import annotations

import itertools
import shutil
import threading
from pathlib import Path

import gen
import oracle

TABLES = ("trace_store", "trace_index", "service_catalog")


def table_bytes(tables_dir) -> dict:
    """On-disk parquet bytes of each engine table under ``tables_dir``."""
    return {t: sum(p.stat().st_size for p in (Path(tables_dir) / t).rglob("*.parquet"))
            for t in TABLES}


def cleanup(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    name = ""
    #: closed-loop client threads
    clients = 1
    #: requests per cycle of the request mix: a measurement ends on a cycle
    #: boundary, so that every run times the same composition of requests
    cycle = 1
    #: operations run by ``warmup`` before anything is timed
    n_warm = 1
    #: a batch job timed cold, from a fresh session (see the module
    #: docstring); traced runs still warm up, so that the traced pass is
    #: compared with warm untraced passes
    one_shot = False
    #: whether the workload has a span corpus (rows, truth)
    has_spans = False

    def __init__(self, seed: int):
        self.seed = seed

    def setup(self, spark, d: Path) -> None:
        """Generate the inputs under ``d`` and build what the operations read."""
        raise NotImplementedError

    def requests(self, warm: bool = False):
        """Endless seeded iterator of operation requests."""
        raise NotImplementedError

    def run(self, req):
        """One timed operation → a plain-Python result the checks compare."""
        raise NotImplementedError

    def items(self, req, result) -> int:
        """Work items one operation completed (for ``items_per_s``)."""
        return 1

    def wrong(self, done: list[tuple[dict, object]]) -> int:
        """Number of operations whose result is wrong."""
        raise NotImplementedError

    def check_inputs(self, spark) -> None:
        """Untimed, after the measurement (so that it does not warm up what
        a one-shot run times): raise if the generated inputs lack a
        property the workload exists to exercise."""

    def warmup(self) -> None:
        """Run ``n_warm`` operations of a separate seeded stream, untimed,
        split over the ``clients`` threads the measurement uses."""
        reqs = list(itertools.islice(self.requests(warm=True), self.n_warm))
        errors = []

        def client(part):
            try:
                for req in part:
                    self.run(req)
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=client, args=(reqs[i::self.clients],))
                   for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]


def _expression(req):
    from haystack_traces_spark.operators.expression import (
        GREATER_THAN, NOT_EQUAL, ExpressionTree, Field)

    k = req["kind"]
    if k in ("ids_flat", "search_traces", "trace_counts"):
        ops = (Field("servicename", req["service"]),)
    elif k == "ids_tag":
        ops = (Field("errorcode", req["errorcode"]),)
    elif k == "ids_duration":
        ops = (Field("duration", req["min_duration"], GREATER_THAN),)
    elif k == "ids_not_equal":
        ops = (Field("role", req["role"], NOT_EQUAL),)
    else:  # ids_span_level: both fields on one (service, operation) group
        ops = (ExpressionTree((Field("servicename", req["service"]),
                               Field("operationname", req["operation"])), is_span_level=True),)
    return ExpressionTree(ops)


def _processed(rows) -> dict:
    """trace id → (span count, root count) of processed traces."""
    return {r["trace_id"]: (len(r["spans"]), sum(1 for s in r["spans"] if not s["parent_span_id"]))
            for r in rows}


class Search(Workload):
    """Set-up: a span corpus, and the trace store, trace index and service
    catalog built from it with the batch builders and written as parquet."""

    name = "search"
    clients = 2
    n_warm = len(gen.REQUEST_MIX)  # the warm stream starts with one of each kind
    cycle = gen.MIX_CYCLE
    has_spans = True
    n_spans = 15_000

    def setup(self, spark, d: Path) -> None:
        from haystack_traces_spark.api import TraceEngine
        from haystack_traces_spark.operators.field_values import build_service_catalog
        from haystack_traces_spark.operators.index import build_trace_index, write_trace_index
        from haystack_traces_spark.schemas import SPAN
        from haystack_traces_spark.sources.spans import build_trace_store, write_trace_store

        self.d = d
        self.rows, self.truth, self.ids = gen.span_corpus(self.seed, self.n_spans, d / "corpus")
        spans = spark.read.schema(SPAN).json(str(d / "corpus"))
        write_trace_store(build_trace_store(spans), str(d / "trace_store"))
        write_trace_index(build_trace_index(spans, with_partition_cols=True), str(d / "trace_index"))
        build_service_catalog(spans).write.parquet(str(d / "service_catalog"))
        self.engine = TraceEngine(
            spans, **{t: spark.read.parquet(str(d / t)) for t in TABLES})
        self._oracle = None

    def requests(self, warm=False):
        valid = [t for t in self.ids if self.truth[t]["valid"]]
        if warm:
            mix = gen.request_mix(self.seed + 10_000, valid, 200)
            return iter(list({r["kind"]: r for r in mix}.values()))
        return itertools.cycle(gen.request_mix(self.seed, valid, 200 * self.cycle))

    def run(self, req):
        from haystack_traces_spark.operators.counts import TraceCountsRequest
        from haystack_traces_spark.operators.expression import Field
        from haystack_traces_spark.operators.search import SearchRequest

        eng, k = self.engine, req["kind"]
        if k.startswith("ids_"):
            sr = SearchRequest(req["start"], req["end"], req["limit"], _expression(req))
            return [(r["traceid"], r["starttime"]) for r in eng.search_trace_ids(sr).collect()]
        if k == "search_traces":
            sr = SearchRequest(req["start"], req["end"], req["limit"], _expression(req))
            return _processed(eng.search_traces(sr).collect())
        if k == "get_trace":
            spans = eng.get_trace(req["trace_id"])
            return (len(spans), sum(1 for s in spans if not s["parent_span_id"]))
        if k == "get_raw_traces":
            return {r["trace_id"]: len(r["spans"]) for r in eng.get_raw_traces(req["trace_ids"]).collect()}
        if k == "trace_counts":
            cr = TraceCountsRequest(req["start"], req["end"], req["interval"], _expression(req))
            return sorted((r["timestamp"], r["count"]) for r in eng.get_trace_counts(cr).collect())
        if k == "field_values":
            flt = [Field("servicename", req["service"])] if "service" in req else None
            return [r["value"] for r in eng.get_field_values(req["field"], flt).collect()]
        if k == "call_graph":
            return eng.get_trace_call_graph(req["trace_id"]).count()
        raise ValueError(k)

    def wrong(self, done):
        if self._oracle is None:
            self._oracle = oracle.SpanOracle(self.rows, self.truth)
        return self._oracle.wrong(done)


class Ingest(Workload):
    name = "ingest"
    one_shot = True
    has_spans = True
    n_spans = 5_000

    def setup(self, spark, d: Path) -> None:
        self.spark, self.d = spark, d
        self.rows, self.truth, self.ids = gen.span_corpus(self.seed, self.n_spans, d / "corpus", n_files=4)
        self._n = itertools.count()

    def requests(self, warm=False):
        while True:
            yield {"kind": "backfill", "id": next(self._n)}

    def run(self, req):
        """One backfill into fresh table and checkpoint directories."""
        from haystack_traces_spark.streaming import ingest

        out = self.d / f"run{req['id']}"
        ingest.run_backfill(self.spark, str(self.d / "corpus"), str(out / "tables"),
                            str(out / "ckpt"))
        return str(out / "tables")

    def items(self, req, result):
        return len(self.rows)

    def wrong(self, done):
        return sum(oracle.check_ingest(t, self.truth, self.rows) > 0 for _, t in done)


class Dedup(Workload):
    name = "dedup"
    one_shot = True
    threshold = 0.8
    #: verified pairs, collected apart from the timed operations by traced
    #: runs (datapipe counters and the per-pair Jaccard check)
    pairs = None

    n_background, n_clusters, n_hot = 1500, 40, 400

    def setup(self, spark, d: Path) -> None:
        self.docs, self.clusters, self.hot = gen.documents(
            self.seed, self.n_background, self.n_clusters, self.n_hot, d / "docs.json")
        spark.read.schema("doc_id long, text string").json(str(d / "docs.json")) \
            .write.parquet(str(d / "docs"))
        self.df = spark.read.parquet(str(d / "docs"))

    def check_inputs(self, spark) -> None:
        """The hot bucket exists only because gen.HOT_WORDS hashes low under
        the engine's MinHash seeds: count the largest band bucket the
        engine forms among the hot documents, so a change of its hashing
        cannot drop the bucket unnoticed. A few percent of them hold another
        shingle that hashes lower still and land elsewhere, hence the 90%
        floor."""
        import pyspark.sql.functions as F

        from haystack_traces_spark import session
        from haystack_traces_spark.datapipe import dedup

        hot = self.df.filter(F.col("doc_id").isin(self.hot))
        self.max_bucket_rows = (dedup.minhash_band_rows(hot).groupBy("band", "v0", "v1")
                                .count().agg(F.max("count")).first()[0])
        session.release_materialized()
        if self.max_bucket_rows < 0.9 * self.n_hot:
            raise RuntimeError(f"largest MinHash band bucket holds {self.max_bucket_rows} docs, "
                               f"the hot bucket needs {self.n_hot}: regenerate gen.HOT_WORDS")

    def requests(self, warm=False):
        return itertools.repeat({"kind": "dedup"})

    def run(self, req):
        from haystack_traces_spark import session
        from haystack_traces_spark.datapipe import dedup

        pairs = dedup.minhash_lsh_pairs(self.df, threshold=self.threshold)
        labels = {r["doc_id"]: r["cluster"] for r in dedup.dup_clusters(pairs).collect()}
        session.release_materialized()
        return labels

    def items(self, req, result):
        return len(self.docs)

    def verified_pairs(self):
        from haystack_traces_spark import session
        from haystack_traces_spark.datapipe import dedup

        self.pairs = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                      dedup.minhash_lsh_pairs(self.df, threshold=self.threshold).collect()]
        session.release_materialized()
        return self.pairs

    def wrong(self, done):
        bad_pairs = oracle.check_pairs(self.docs, self.pairs, self.threshold) if self.pairs else 0
        return sum(bool(bad_pairs or oracle.check_clusters(
            self.docs, self.threshold, self.clusters, labels)) for _, labels in done)


WORKLOADS = {w.name: w for w in (Search, Ingest, Dedup)}
