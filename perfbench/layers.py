"""Outside-in layer collector: spans around calls into each layer, plus
Spark's own planner, status-store and SQL-metric counters.

Nothing here edits the program. :func:`instrument` swaps selected public
functions of ``haystack_traces_spark`` (and the pyspark action methods) for
thin wrappers that open one span per call and restores the originals on
exit. Spans stay in memory and are written out when the run ends. Spark's
counters are read after the traced pass:

- planner phases (analysis / optimization / planning) from
  ``queryExecution().tracker()`` of every DataFrame an action ran on;
- per-stage metrics from the status store, attributed to an operation by
  its job group (set per operation) or, for jobs of streaming queries,
  by submission time inside the operation's window;
- Python-node and scan SQL metrics from the executed plan.

Per operation, self times of all spans plus the Spark split of action time
(planning, stage execution, remainder) add up to the operation's wall time
by construction; the remainder is reported, never hidden.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

#: (module, attribute path, span name): the layer-boundary functions timed
#: in the traced run. Names imported into ``api`` / ``streaming.ingest`` /
#: ``datapipe.dedup`` are patched where they are looked up.
TARGETS = [
    *[("haystack_traces_spark.api", f"TraceEngine.{m}", f"api.{m}") for m in (
        "search_trace_ids", "search_traces", "get_trace", "get_raw_traces",
        "get_trace_counts", "get_field_values", "get_trace_call_graph")],
    ("haystack_traces_spark.operators.search", "search_trace_ids", "operators.search.search_trace_ids"),
    ("haystack_traces_spark.operators.search", "fetch_traces", "operators.search.fetch_traces"),
    ("haystack_traces_spark.operators.search", "search_traces", "operators.search.search_traces"),
    ("haystack_traces_spark.api", "trace_counts", "operators.counts.trace_counts"),
    ("haystack_traces_spark.api", "field_values", "operators.field_values.field_values"),
    ("haystack_traces_spark.api", "catalog_services", "operators.field_values.catalog_services"),
    ("haystack_traces_spark.api", "catalog_operations", "operators.field_values.catalog_operations"),
    ("haystack_traces_spark.api", "trace_call_graph", "operators.callgraph.trace_call_graph"),
    ("haystack_traces_spark.api", "get_raw_trace", "sources.spans.get_raw_trace"),
    ("haystack_traces_spark.api", "read_trace_records", "sources.spans.read_trace_records"),
    ("haystack_traces_spark.api", "transform_traces", "transform.transform_traces"),
    ("haystack_traces_spark.api", "process_single", "transform.process_single"),
    ("haystack_traces_spark.streaming.ingest", "run_backfill", "streaming.run_backfill"),
    ("haystack_traces_spark.streaming.ingest", "IngestTopology.start_backfill", "streaming.start_backfill"),
    ("haystack_traces_spark.streaming.ingest", "IngestTopology.process_batch", "streaming.process_batch"),
    ("haystack_traces_spark.streaming.ingest", "buffers_to_spans", "streaming.buffers_to_spans"),
    ("haystack_traces_spark.streaming.sessionize", "sessionize_event_time", "streaming.sessionize_event_time"),
    ("haystack_traces_spark.streaming.ingest", "build_trace_index", "operators.index.build_trace_index"),
    ("haystack_traces_spark.streaming.ingest", "build_service_catalog", "operators.field_values.build_service_catalog"),
    ("haystack_traces_spark.datapipe.dedup", "minhash_lsh_pairs", "datapipe.minhash_lsh_pairs"),
    ("haystack_traces_spark.datapipe.dedup", "minhash_candidates", "datapipe.minhash_candidates"),
    ("haystack_traces_spark.datapipe.dedup", "minhash_band_rows", "datapipe.minhash_band_rows"),
    ("haystack_traces_spark.datapipe.dedup", "cap_buckets", "datapipe.cap_buckets"),
    ("haystack_traces_spark.datapipe.dedup", "_verify_jaccard", "datapipe.verify_jaccard"),
    ("haystack_traces_spark.datapipe.dedup", "dup_clusters", "datapipe.dup_clusters"),
    ("haystack_traces_spark.datapipe.dedup", "materialize", "session.materialize"),
    ("haystack_traces_spark.session", "release_materialized", "session.release_materialized"),
]

#: pyspark methods that run Spark jobs: their spans are "spark.action" and
#: their self time is split into planning, stage execution and remainder.
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame", (
        "collect", "count", "toPandas", "take", "isEmpty", "localCheckpoint")),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("parquet", "save")),
    ("pyspark.sql.streaming.query", "StreamingQuery", ("awaitTermination",)),
]

LAYERS = ("bench", "api", "operators", "sources", "transform", "streaming",
          "datapipe", "session", "session.spark.planning", "session.spark.exec",
          "session.spark.remainder")


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    request id). Parent links follow a per-thread stack; a span opened on a
    thread with an empty stack (foreachBatch callbacks run on a py4j
    thread) hangs under the innermost open span of :attr:`fallback`, the
    stack of the single client thread, which is blocked in that span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.fallback: list | None = None

    def _stack(self):
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str) -> dict:
        """Open a span under the current one; a root span starts a new
        request id (its own span id)."""
        st = self._stack()
        if st:
            parent = st[-1]
        else:
            parent = self.fallback[-1] if self.fallback else None
        sp = {"name": name, "start": time.perf_counter(), "end": None,
              "parent": parent["id"] if parent else None}
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        sp["rid"] = parent["rid"] if parent else sp["id"]
        st.append(sp)
        return sp

    def adopt_orphans(self) -> None:
        """Hang spans opened on threads with no open span under the calling
        thread's innermost span (one client thread only)."""
        self.fallback = self._stack()

    def close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({k: sp[k] for k in (
                    "id", "name", "start", "end", "parent", "rid")}) + "\n")


@contextmanager
def instrument(tracer: Tracer):
    """Wrap every TARGET and ACTION for the duration of the block."""
    undo = []

    def patch(owner, attr, name, action):
        fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*a, **k):
            sp = tracer.open(name)
            try:
                out = fn(*a, **k)
            finally:
                tracer.close(sp)
            if action:
                sp["df"] = getattr(a[0], "_df", a[0])
            elif hasattr(out, "_jdf"):
                sp["df"] = out
            return out

        setattr(owner, attr, wrapper)
        undo.append((owner, attr, fn))

    for mod, path, name in TARGETS:
        owner = importlib.import_module(mod)
        *cls, attr = path.split(".")
        for c in cls:
            owner = getattr(owner, c)
        patch(owner, attr, name, False)
    for mod, cls, methods in ACTIONS:
        owner = getattr(importlib.import_module(mod), cls)
        for m in methods:
            patch(owner, m, "spark.action", True)
    try:
        yield tracer
    finally:
        for owner, attr, fn in reversed(undo):
            setattr(owner, attr, fn)


# ------------------------------------------------------------ Spark side --

def _opt(o):
    return o.get() if o.isDefined() else None


def planner_ms(df) -> dict:
    """Planner phase durations of an executed DataFrame (empty when no
    action planned it)."""
    try:
        ph = df._jdf.queryExecution().tracker().phases()
    except (AttributeError, Py4JError):  # no DataFrame behind the action
        return {}
    if not ph.contains("planning"):
        return {}
    return {k: float(ph.get(k).get().durationMs()) for k in
            ("analysis", "optimization", "planning") if ph.contains(k)}


def plan_metrics(df) -> dict:
    """Executed-plan SQL metrics: Python-node rows and bytes, and per
    scanned table (directory name) the parquet rows and bytes read."""
    out = {"python_rows": 0, "python_bytes": 0, "scans": {}}
    try:
        plan = df._jdf.queryExecution().executedPlan()
    except (AttributeError, Py4JError):  # no DataFrame behind the action
        return out
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if "QueryStageExec" in cls:
            stack.append(p.plan())
        m = p.metrics()

        def val(key):
            return m.get(key).get().value() if m.contains(key) else 0

        if "Python" in cls or "InPandas" in cls:
            out["python_rows"] += val("pythonNumRowsReceived")
            out["python_bytes"] += val("pythonDataReceived")
        if cls == "FileSourceScanExec":
            table = p.relation().location().rootPaths().head().getName()
            rows, size = out["scans"].get(table, (0, 0))
            out["scans"][table] = (rows + val("numOutputRows"), size + val("filesSize"))
        ch = p.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


class SparkCounters:
    """Reads jobs and stages from the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self.q = gw.new_array(gw.jvm.double, 2)
        self.q[0], self.q[1] = 0.5, 1.0

    def drain(self):
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        store = self.jsc.statusStore()
        seq = store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = _opt(j.submissionTime())
            ids = j.stageIds()
            out.append({"id": j.jobId(), "group": _opt(j.jobGroup()),
                        "submit_ms": sub.getTime() if sub is not None else None,
                        "stages": [ids.apply(k) for k in range(ids.size())]})
        return out

    def stage(self, sid: int) -> dict | None:
        store = self.jsc.statusStore()
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:  # evicted or never submitted
            return None
        sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
        if sub is None or done is None:
            return None  # skipped stage
        skew, max_task = 1.0, 0.0
        summ = _opt(store.taskSummary(sid, st.attemptId(), self.q))
        if summ is not None:
            rt = summ.executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            max_task = mx / 1000.0
            if st.numTasks() >= 2 and med > 0:
                skew = mx / med
        return {
            "t0": sub.getTime() / 1000.0, "t1": done.getTime() / 1000.0,
            "tasks": st.numTasks(),
            "executor_run_s": st.executorRunTime() / 1000.0,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "deserialize_s": st.executorDeserializeTime() / 1000.0,
            "gc_s": st.jvmGcTime() / 1000.0,
            "shuffle_read_mb": (st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()) / 2**20,
            "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
            "peak_exec_mem_mb": st.peakExecutionMemory() / 2**20,
            "task_skew": skew, "max_task_s": max_task,
        }


def _union(intervals) -> float:
    tot, cur0, cur1 = 0.0, None, None
    for a, b in sorted(intervals):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                tot += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        tot += cur1 - cur0
    return tot


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def tail_ms(lat: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it → (p, value);
    the maximum when there are fewer than 11 samples."""
    n = len(lat)
    if n < 11:
        return 100.0, max(lat, default=0.0)
    k = n - 11  # index with exactly 10 samples above it
    return 100.0 * (k + 1) / n, sorted(lat)[k]


def layer_of(name: str) -> str:
    if name == "spark.action":
        return "spark.action"
    return name.split(".")[0]


def analyse(tracer: Tracer, ops: list[dict], counters: SparkCounters, wall_offset: float):
    """Per-op layer breakdown. ``ops`` items carry ``span`` (the op's root
    span) and ``group`` (its job group). ``wall_offset`` maps
    perf_counter() to epoch seconds (status-store timestamps).

    → one record per op: wall, self time per layer, planner phases, stage
    counters and plan SQL metrics."""
    counters.drain()
    jobs = counters.jobs()
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    groups = {op["group"] for op in ops}
    stage_cache: dict[int, dict | None] = {}
    children: dict[int, list[dict]] = {}
    for sp in tracer.spans:
        if sp["parent"] is not None and sp["end"] is not None:
            children.setdefault(sp["parent"], []).append(sp)

    def stage(sid):
        if sid not in stage_cache:
            stage_cache[sid] = counters.stage(sid)
        return stage_cache[sid]

    records = []
    for op in ops:
        root = op["span"]
        t0, t1 = root["start"] + wall_offset, root["end"] + wall_offset
        mine = list(by_group.get(op["group"], []))
        # streaming micro-batch jobs run under the query's own job group
        mine += [j for g, js in by_group.items() if g not in groups for j in js
                 if j["submit_ms"] is not None and t0 <= j["submit_ms"] / 1000.0 <= t1]
        stages = [s for s in (stage(sid) for j in mine for sid in j["stages"]) if s]
        self_ms = {}
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        pm = {"python_rows": 0, "python_bytes": 0, "scans": {}}
        seen_df = set()
        todo = [root]
        while todo:
            sp = todo.pop()
            kids = children.get(sp["id"], [])
            todo.extend(kids)
            s0, s1 = sp["start"], sp["end"]
            covered = _union(_clip([(k["start"], k["end"]) for k in kids], s0, s1))
            lay = layer_of(sp["name"])
            self_ms[lay] = self_ms.get(lay, 0.0) + (s1 - s0 - covered) * 1000.0
            df = sp.get("df")
            if df is not None and id(df) not in seen_df:
                seen_df.add(id(df))
                for k, v in planner_ms(df).items():
                    phases[k] += v
                if lay == "spark.action":
                    got = plan_metrics(df)
                    pm["python_rows"] += got["python_rows"]
                    pm["python_bytes"] += got["python_bytes"]
                    for t, (rows, size) in got["scans"].items():
                        r0, b0 = pm["scans"].get(t, (0, 0))
                        pm["scans"][t] = (r0 + rows, b0 + size)
        action_ms = self_ms.pop("spark.action", 0.0)
        plan_ms = min(action_ms, phases["optimization"] + phases["planning"])
        # stage time inside the op window, capped by the action time left
        # after planning (stages of one action can overlap other spans)
        exec_ms = 1000.0 * _union(_clip([(s["t0"], s["t1"]) for s in stages], t0, t1))
        exec_ms = max(0.0, min(exec_ms, action_ms - plan_ms))
        self_ms["session.spark.planning"] = plan_ms
        self_ms["session.spark.exec"] = exec_ms
        self_ms["session.spark.remainder"] = action_ms - plan_ms - exec_ms
        wall_ms = (root["end"] - root["start"]) * 1000.0
        rec = {"kind": op["kind"], "wall_ms": wall_ms, "self_ms": self_ms,
               "phases": phases, "jobs": len(mine), "stages": len(stages)}
        rec.update(pm)
        for key in ("tasks", "executor_run_s", "executor_cpu_s", "deserialize_s", "gc_s",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            rec[key] = sum(s[key] for s in stages)
        rec["peak_exec_mem_mb"] = max((s["peak_exec_mem_mb"] for s in stages), default=0.0)
        rec["task_skew"] = max((s["task_skew"] for s in stages), default=1.0)
        rec["max_task_s"] = max((s["max_task_s"] for s in stages), default=0.0)
        records.append(rec)
    return records


def self_time_table(records: list[dict], untraced_ms: list[float]) -> tuple[str, dict]:
    """Render the per-layer self-time table → (text, summary). Self times
    add up to the traced wall by construction; the traced wall is then
    compared with the untraced passes' wall (the tracing overhead)."""
    n = max(1, len(records))
    tot_wall = sum(r["wall_ms"] for r in records)
    per = {lay: sum(r["self_ms"].get(lay, 0.0) for r in records) for lay in LAYERS}
    lines = [f"{'layer':28s} {'self ms/op':>12s} {'share':>7s}"]
    for lay, v in per.items():
        lines.append(f"{lay:28s} {v / n:12.2f} {v / tot_wall if tot_wall else 0:7.1%}")
    acc = sum(per.values())
    untraced = sum(untraced_ms) / len(untraced_ms) if untraced_ms else 0.0
    overhead = (tot_wall / n / untraced - 1.0) if untraced else 0.0
    unexplained = per["session.spark.remainder"] + per["bench"]
    lines += [
        f"{'sum of self times':28s} {acc / n:12.2f} (traced op wall {tot_wall / n:.2f} ms)",
        f"untraced op wall {untraced:.2f} ms over {len(untraced_ms)} ops: "
        f"tracing overhead {overhead:+.1%}",
        f"unexplained (scheduler remainder + benchmark self) {unexplained / n:.2f} ms/op "
        f"= {unexplained / tot_wall if tot_wall else 0:.1%}",
    ]
    return "\n".join(lines), {
        "overhead_frac": overhead,
        "remainder_frac": unexplained / tot_wall if tot_wall else 0.0,
    }
