"""Per-layer metrics of a traced run (BENCHMARK.json ``per_layer``).

Every workload reports every metric. A layer the workload does not drive
reports 0: that is the work it did there. :data:`PER_LAYER` is the one list
of names and units; BENCHMARK.json repeats it.
"""

from __future__ import annotations

import statistics
import time

import duckdb

from pyspark.sql.streaming import StreamingQueryListener

import layers
import workloads

ENDPOINTS = ("search_trace_ids", "search_traces", "get_trace", "get_raw_traces",
             "get_trace_counts", "get_field_values", "get_trace_call_graph")
#: request kind → TraceEngine endpoint it calls
KIND_ENDPOINT = {
    "ids_flat": "search_trace_ids", "ids_tag": "search_trace_ids",
    "ids_duration": "search_trace_ids", "ids_not_equal": "search_trace_ids",
    "ids_span_level": "search_trace_ids", "search_traces": "search_traces",
    "get_trace": "get_trace",
    "get_raw_traces": "get_raw_traces", "trace_counts": "get_trace_counts",
    "field_values": "get_field_values", "call_graph": "get_trace_call_graph",
}
FETCH_KINDS = ("get_trace", "get_raw_traces", "call_graph", "search_traces")

PER_LAYER = [
    *[(f"session.spark.{k}", u) for k, u in (
        ("analysis_ms", "ms"), ("optimization_ms", "ms"), ("planning_ms", "ms"),
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("deserialize_s", "s"),
        ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB"), ("task_skew", "ratio"),
        ("scheduler_remainder_s", "s"), ("cores_busy_frac", "frac"))],
    *[(f"api.{e}.{k}", u) for e in ENDPOINTS for k, u in (("calls", "count"), ("p50_ms", "ms"))],
    ("api.read_tail_ms", "ms"),
    ("operators.search.plan_ms", "ms"),
    ("operators.search.index_rows_per_result", "rows"),
    ("sources.spans.store_rows_per_trace", "rows"),
    ("sources.spans.fetch_mb", "MB"),
    ("operators.index.bytes_per_span", "bytes"),
    ("sources.spans.store_bytes_per_span", "bytes"),
    ("operators.field_values.catalog_rows", "count"),
    ("transform.process_ms_per_trace", "ms"),
    ("transform.spans_out_per_in", "ratio"),
    ("transform.invalid_trace_frac", "frac"),
    ("transform.python_rows", "count"),
    ("transform.python_mb", "MB"),
    ("streaming.batches", "count"),
    ("streaming.process_batch_p50_ms", "ms"),
    *[(f"streaming.trigger.{k}_ms", "ms") for k in ("addBatch", "queryPlanning", "getBatch", "walCommit")],
    ("streaming.state.rows_total", "count"),
    ("streaming.state.memory_mb", "MB"),
    ("streaming.state.rows_dropped_by_watermark", "count"),
    ("streaming.emitted_spans_per_input", "ratio"),
    ("streaming.stored_bytes_per_span", "bytes"),
    ("streaming.single_core_spans_per_s", "1/s"),
    ("datapipe.candidate_pairs", "count"),
    ("datapipe.verified_pairs", "count"),
    ("datapipe.verify_yield", "frac"),
    ("datapipe.max_bucket_rows", "count"),
    ("datapipe.max_task_s", "s"),
    *[(f"{lay}.self_ms", "ms") for lay in layers.LAYERS],
    ("bench.trace_overhead_frac", "frac"),
    ("bench.remainder_frac", "frac"),
]


#: which end-to-end metric each layer metric should move, on which workload
#: (metric-name prefix → [(workload, end-to-end metric)]); every pairing
#: not listed is predicted unchanged.
MOVES = {
    "session.spark.analysis_ms": [("search", "op_p50_ms")],
    "session.spark.optimization_ms": [("search", "op_p50_ms")],
    "session.spark.planning_ms": [("search", "op_p50_ms")],
    "session.spark.scheduler_remainder_s": [("search", "op_p50_ms")],
    "session.spark.tasks": [("ingest", "items_per_s"), ("search", "op_tail (api.read_tail_ms)")],
    "session.spark.task_skew": [("ingest", "items_per_s"), ("search", "op_tail (api.read_tail_ms)")],
    "api.": [("search", "op_p50_ms"), ("search", "op_tail (api.read_tail_ms)")],
    "operators.search.": [("search", "op_p50_ms")],
    "sources.spans.store_rows_per_trace": [("search", "op_tail (api.read_tail_ms)")],
    "sources.spans.fetch_mb": [("search", "op_tail (api.read_tail_ms)")],
    "operators.index.bytes_per_span": [("ingest", "items_per_s"), ("ingest", "streaming.stored_bytes_per_span")],
    "sources.spans.store_bytes_per_span": [("ingest", "items_per_s"), ("ingest", "streaming.stored_bytes_per_span")],
    "operators.field_values.catalog_rows": [("ingest", "items_per_s")],
    "transform.": [("search", "op_p50_ms")],
    "streaming.": [("ingest", "items_per_s")],
    "datapipe.": [("dedup", "items_per_s")],
}


class StreamProgress(StreamingQueryListener):
    """Keeps every streaming progress event of the traced pass."""

    def __init__(self):
        self.events: list[dict] = []

    @classmethod
    def attach(cls, spark) -> "StreamProgress":
        lst = cls()
        spark.streams.addListener(lst)
        return lst

    def detach(self, spark) -> None:
        spark.streams.removeListener(self)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({
            "input": p.numInputRows, "dur": dict(p.durationMs or {}),
            "state": [(s.numRowsTotal, s.memoryUsedBytes, s.numRowsDroppedByWatermark)
                      for s in p.stateOperators],
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _n_results(kind, result) -> int:
    if kind in ("get_trace", "call_graph"):
        return 1
    return len(result) if hasattr(result, "__len__") else 0


def direct_transform(rows, truth) -> dict:
    """TraceProcessor.process called directly on the generated traces."""
    from haystack_traces_spark.transform.pipeline import TraceProcessor
    from haystack_traces_spark.transform.transformers import InvalidTraceError

    by: dict[str, list] = {}
    for r in rows:
        by.setdefault(r["trace_id"], []).append(dict(r))
    proc = TraceProcessor()
    n_in = n_out = invalid = 0
    t0 = time.perf_counter()
    for tid, spans in by.items():
        try:
            out = proc.process(tid, spans)
        except InvalidTraceError:
            invalid += 1
            continue
        n_in += len(spans)
        n_out += len(out)
    dt = time.perf_counter() - t0
    return {"transform.process_ms_per_trace": 1000.0 * dt / max(1, len(by)),
            "transform.spans_out_per_in": n_out / max(1, n_in),
            "transform.invalid_trace_frac": invalid / max(1, len(by))}


def collect(wl, tracer, ops, records, summary, listener, cores) -> dict:
    v = {name: 0.0 for name, _ in PER_LAYER}
    n = max(1, len(records))
    for key in ("analysis", "optimization", "planning"):
        v[f"session.spark.{key}_ms"] = _mean(r["phases"][key] for r in records)
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "deserialize_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        v[f"session.spark.{key}"] = _mean(r[key] for r in records)
    v["session.spark.peak_exec_mem_mb"] = max((r["peak_exec_mem_mb"] for r in records), default=0.0)
    v["session.spark.task_skew"] = _median(r["task_skew"] for r in records)
    v["session.spark.scheduler_remainder_s"] = _mean(
        r["self_ms"].get("session.spark.remainder", 0.0) / 1000.0 for r in records)
    wall_s = sum(r["wall_ms"] for r in records) / 1000.0
    v["session.spark.cores_busy_frac"] = (
        sum(r["executor_run_s"] for r in records) / (wall_s * cores) if wall_s else 0.0)

    for e in ENDPOINTS:
        walls = [r["wall_ms"] for r, op in zip(records, ops) if KIND_ENDPOINT.get(op["kind"]) == e]
        v[f"api.{e}.calls"] = len(walls)
        v[f"api.{e}.p50_ms"] = _median(walls)
    if wl.name == "search":
        v["api.read_tail_ms"] = layers.tail_ms([r["wall_ms"] for r in records])[1]

    # operators.search: Python time of top-level operators.search.* spans per op
    by_id = {sp["id"]: sp for sp in tracer.spans}
    plan = {}
    for sp in tracer.spans:
        if sp["name"].startswith("operators.search.") and sp["end"] is not None:
            par = by_id.get(sp["parent"])
            if par is None or not par["name"].startswith("operators.search."):
                plan[sp["rid"]] = plan.get(sp["rid"], 0.0) + (sp["end"] - sp["start"]) * 1000.0
    v["operators.search.plan_ms"] = _median(plan.values())
    idx_rows = res = st_rows = fetched = st_bytes = n_fetch = 0
    for r, op in zip(records, ops):
        scans, k = r["scans"], op["kind"]
        if k.startswith("ids_") or k == "search_traces":
            idx_rows += scans.get("trace_index", (0, 0))[0]
            res += _n_results(k, op["result"])
        if k in FETCH_KINDS:
            st_rows += scans.get("trace_store", (0, 0))[0]
            st_bytes += scans.get("trace_store", (0, 0))[1]
            fetched += _n_results(k, op["result"])
            n_fetch += 1
    v["operators.search.index_rows_per_result"] = idx_rows / res if res else 0.0
    v["sources.spans.store_rows_per_trace"] = st_rows / fetched if fetched else 0.0
    v["sources.spans.fetch_mb"] = st_bytes / 2**20 / n_fetch if n_fetch else 0.0

    if wl.has_spans:
        tables_dir = ops[-1]["result"] if wl.name == "ingest" else wl.d
        tables = workloads.table_bytes(tables_dir)
        n_spans = len(wl.rows)
        v["operators.index.bytes_per_span"] = tables["trace_index"] / n_spans
        v["sources.spans.store_bytes_per_span"] = tables["trace_store"] / n_spans
        v["operators.field_values.catalog_rows"] = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{tables_dir}/service_catalog/*.parquet')").fetchone()[0]
        v.update(direct_transform(wl.rows, wl.truth))
        v["transform.python_rows"] = _mean(r["python_rows"] for r in records)
        v["transform.python_mb"] = _mean(r["python_bytes"] / 2**20 for r in records)

    if listener is not None:
        batches = [sp for sp in tracer.spans if sp["name"] == "streaming.process_batch"]
        v["streaming.batches"] = len(batches) / n
        v["streaming.process_batch_p50_ms"] = _median(
            (sp["end"] - sp["start"]) * 1000.0 for sp in batches if sp["end"])
        ev = [e for e in listener.events if e["input"] > 0]
        for k in ("addBatch", "queryPlanning", "getBatch", "walCommit"):
            v[f"streaming.trigger.{k}_ms"] = _mean(e["dur"].get(k, 0) for e in ev)
        st = [s for e in listener.events for s in e["state"]]
        v["streaming.state.rows_total"] = max((s[0] for s in st), default=0)
        v["streaming.state.memory_mb"] = max((s[1] for s in st), default=0) / 2**20
        v["streaming.state.rows_dropped_by_watermark"] = sum(s[2] for s in st)
        inputs = sum(e["input"] for e in listener.events)
        emitted = sum(written_spans(op["result"]) for op in ops
                      if not isinstance(op["result"], Exception))
        v["streaming.emitted_spans_per_input"] = emitted / inputs if inputs else 0.0
        v["streaming.stored_bytes_per_span"] = sum(tables.values()) / len(wl.rows)

    if wl.name == "dedup":
        v.update(datapipe_counts(wl))
    v["datapipe.max_task_s"] = max((r["max_task_s"] for r in records), default=0.0) \
        if wl.name == "dedup" else 0.0

    for lay in layers.LAYERS:
        v[f"{lay}.self_ms"] = _mean(r["self_ms"].get(lay, 0.0) for r in records)
    v["bench.trace_overhead_frac"] = summary["overhead_frac"]
    v["bench.remainder_frac"] = summary["remainder_frac"]
    units = dict(PER_LAYER)
    return {k: {"value": float(x), "unit": units[k]} for k, x in v.items()}


def written_spans(tables_dir) -> int:
    """Spans one backfill wrote to its trace store."""
    return duckdb.sql(f"SELECT coalesce(sum(len(spans)), 0) FROM "
                      f"read_parquet('{tables_dir}/trace_store/*.parquet')").fetchone()[0]


def datapipe_counts(wl) -> dict:
    """Candidate and verified pair counts, read with extra actions after
    the traced pass, and the largest band bucket (Dedup.check_inputs)."""
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import dedup

    cand = dedup.minhash_candidates(wl.df).count()
    session.release_materialized()
    verified = len(wl.verified_pairs())
    return {"datapipe.candidate_pairs": cand, "datapipe.verified_pairs": verified,
            "datapipe.verify_yield": verified / cand if cand else 0.0,
            "datapipe.max_bucket_rows": wl.max_bucket_rows}
