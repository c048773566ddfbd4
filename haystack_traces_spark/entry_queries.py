"""Query registry backing __spark_entry__.py.

Every entry here is one operator from SURVEY.md §2 (or a datapipe operator),
expressed twice:
  - a (spark, sf_dir) -> DataFrame callable (the engine), and
  - an equivalent DuckDB SQL string (the oracle), sharing the
    events→spans mapping CTE from sources/events.py.

Column names/aliases MUST match pairwise — the driver sorts columns by name
and hash-compares values.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from haystack_traces_spark.operators import search as search_ops
from haystack_traces_spark.operators.callgraph import span_call_edges
from haystack_traces_spark.operators.counts import TraceCountsRequest, trace_counts
from haystack_traces_spark.operators.expression import (
    EQUAL,
    GREATER_THAN,
    LESS_THAN,
    NOT_EQUAL,
    ExpressionTree,
    Field,
)
from haystack_traces_spark.operators.field_values import (
    build_service_catalog,
    field_cardinalities,
    field_values,
)
from haystack_traces_spark.operators.index import build_trace_index
from haystack_traces_spark.session import fan_out, memo
from haystack_traces_spark.sources.events import EVENT_SPANS_CTE, spans_from_events

# Fixed query window: testdata events start 2024-01-01 UTC.
T0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, micros
T1 = 1_767_225_600_000_000  # 2026-01-01
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
HB_US = 6 * HOUR_US  # trace_index 6 h partition bucket
COUNTS_START = T0
COUNTS_END = T0 + 7 * DAY_US
COUNTS_INTERVAL = 6 * HOUR_US

DUR_THRESHOLD = 100_000  # micros

# DuckDB mirror of the trace_index trace-level aggregation (A1/A2/Q8):
# per-trace min second-truncated start, root duration, lowcard durations.
_IDX_CTE = """
, idx AS (
  SELECT trace_id,
         MIN(start_time - start_time % 1000000) AS starttime,
         COALESCE(MAX(CASE WHEN parent_span_id = '' THEN duration END), 0) AS rootduration,
         BOOL_OR(lower(service_name) = 'error') AS has_error_svc,
         BOOL_OR((CASE WHEN duration > 20000000
                       THEN duration - duration % 1000000
                       ELSE duration END) > {dur}) AS has_big_dur
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
""".format(dur=DUR_THRESHOLD)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE events.parquet scan every trace-side query starts from."""
    return memo(
        spark,
        sf_dir,
        "events",
        lambda: fan_out(spark.read.parquet(f"{sf_dir}/events.parquet")),
    )


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark, sf_dir, "spans", lambda: spans_from_events(_events(spark, sf_dir))
    )


def _index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark, sf_dir, "index", lambda: build_trace_index(_spans(spark, sf_dir))
    )


# ---------------------------------------------------------------- queries --

def q_search_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 flagship: servicename='error' AND duration>threshold (independent
    trace-level operands), newest 50. SURVEY §3.2."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=50,
        expression=ExpressionTree(
            (
                Field("servicename", "error", EQUAL),
                Field("duration", DUR_THRESHOLD, GREATER_THAN),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_traces() -> str:
    return (
        EVENT_SPANS_CTE
        + _IDX_CTE
        + f"""
SELECT trace_id AS traceid, starttime
FROM idx
WHERE starttime BETWEEN {T0} AND {T1} AND has_error_svc AND has_big_dur
ORDER BY starttime DESC, traceid DESC
LIMIT 50
"""
    )


def q_search_traces_promoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship search answered ENTIRELY from the promoted wl_<name>
    trace-wide value unions (build_trace_index(promote_whitelist=True)):
    same request, same results, but the plan never projects the nested
    spans column (plan-asserted in test_plans.py; measured at 10x in
    SCALE.md §2). Oracle: identical to search_traces — promotion is a
    physical layout change, not a semantics change."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=50,
        expression=ExpressionTree(
            (
                Field("servicename", "error", EQUAL),
                Field("duration", DUR_THRESHOLD, GREATER_THAN),
            )
        ),
    )
    idx = build_trace_index(_spans(spark, sf_dir), promote_whitelist=True)
    return search_ops.search_trace_ids(idx, req)


def sql_search_traces_promoted() -> str:
    return sql_search_traces()


def q_search_span_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level co-occurrence group (Q1): fields must match the SAME
    (service, operation) group — one nested bool in the reference
    (SpansIndexQueryGenerator.scala:83-93)."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=100,
        expression=ExpressionTree(
            (
                ExpressionTree(
                    (
                        Field("servicename", "error", EQUAL),
                        Field("duration", DUR_THRESHOLD, GREATER_THAN),
                    ),
                    is_span_level=True,
                ),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_span_level() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         BOOL_OR((CASE WHEN duration > 20000000
                       THEN duration - duration % 1000000
                       ELSE duration END) > {DUR_THRESHOLD}) AS has_big_dur
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2, 3
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id
                AND g.servicename = 'error' AND g.has_big_dur)
ORDER BY i.starttime DESC, traceid DESC
LIMIT 100
"""
    )


def q_trace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 histogram with empty buckets + range clipping."""
    req = TraceCountsRequest(COUNTS_START, COUNTS_END, COUNTS_INTERVAL)
    return trace_counts(_index(spark, sf_dir), req)


def sql_trace_counts() -> str:
    i = COUNTS_INTERVAL
    first = (COUNTS_START // i) * i
    last = (COUNTS_END // i) * i
    return (
        EVENT_SPANS_CTE
        + _IDX_CTE
        + f"""
, buckets AS (
  SELECT UNNEST(generate_series({first}, {last}, {i})) AS timestamp
), counts AS (
  SELECT starttime - starttime % {i} AS timestamp, COUNT(*) AS c
  FROM idx WHERE starttime BETWEEN {COUNTS_START} AND {COUNTS_END}
  GROUP BY 1
)
SELECT b.timestamp, CAST(COALESCE(c.c, 0) AS BIGINT) AS count
FROM buckets b LEFT JOIN counts c USING (timestamp)
WHERE b.timestamp BETWEEN {COUNTS_START} AND {COUNTS_END}
"""
    )


def q_field_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: operation names co-filtered by service (FieldValuesQueryGenerator)."""
    return field_values(
        _index(spark, sf_dir), "operationname", [Field("servicename", "click", EQUAL)]
    )


def sql_field_values() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT DISTINCT lower(operation_name) AS value
FROM spans
WHERE lower(service_name) = 'click'
  AND service_name <> '' AND operation_name <> ''
ORDER BY value
LIMIT 1000
"""
    )


def q_field_values_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 on a WHITELISTED tag field (errorcode): values come from the
    group's accumulated value SET (explode path), co-filtered by service —
    the scalar-field queries don't touch this branch."""
    return field_values(
        _index(spark, sf_dir), "errorcode", [Field("servicename", "view", EQUAL)]
    )


def sql_field_values_tag() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT DISTINCT CAST(errorcode AS VARCHAR) AS value
FROM spans
WHERE lower(service_name) = 'view'
  AND service_name <> '' AND operation_name <> ''
ORDER BY value
LIMIT 1000
"""
    )


def q_field_values_by_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 with ES terms-agg ordering (doc count desc, term asc —
    SpansIndexQueryGenerator.scala:162-179). limit 3 < distinct values, so
    the emitted SET itself proves the count ranking; the returned n column
    is the terms-agg doc_count."""
    return field_values(
        _index(spark, sf_dir), "operationname", order_by="count", limit=3
    )


def sql_field_values_by_count() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, groups AS (
  SELECT DISTINCT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname
  FROM spans WHERE service_name <> '' AND operation_name <> ''
)
SELECT operationname AS value, CAST(COUNT(*) AS BIGINT) AS n
FROM groups GROUP BY 1
ORDER BY n DESC, value ASC
LIMIT 3
"""
    )


def q_field_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field distinct-value cardinality (terms-agg sizing metadata);
    exact path registered for the oracle, approx_count_distinct variant
    covered by a tolerance unit test."""
    return field_cardinalities(
        _index(spark, sf_dir), ("servicename", "operationname", "errorcode")
    )


def sql_field_cardinalities() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, valid AS (
  SELECT * FROM spans WHERE service_name <> '' AND operation_name <> ''
)
SELECT 'errorcode' AS field,
       CAST(COUNT(DISTINCT CAST(errorcode AS VARCHAR)) AS BIGINT) AS n_values
FROM valid
UNION ALL
SELECT 'operationname', CAST(COUNT(DISTINCT lower(operation_name)) AS BIGINT)
FROM valid
UNION ALL
SELECT 'servicename', CAST(COUNT(DISTINCT lower(service_name)) AS BIGINT)
FROM valid
ORDER BY field
"""
    )


def q_service_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 distinct (service, operation) catalog."""
    return build_service_catalog(_spans(spark, sf_dir)).orderBy(
        "servicename", "operationname"
    )


def sql_service_catalog() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT DISTINCT lower(service_name) AS servicename,
       lower(operation_name) AS operationname
FROM spans WHERE service_name <> '' AND operation_name <> ''
ORDER BY 1, 2
"""
    )


def q_trace_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat projection of the A1 index build: per-trace starttime,
    rootduration, group count, and whitelisted-tag extraction (errorcode)."""
    idx = _index(spark, sf_dir)
    return idx.select(
        "traceid",
        "starttime",
        F.col("rootduration").cast("long").alias("rootduration"),
        F.size("spans").cast("long").alias("n_groups"),
        F.expr("array_max(flatten(transform(spans, g -> g.errorcode)))")
        .cast("long")
        .alias("max_errorcode"),
    )


def sql_trace_index_stats() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT trace_id AS traceid,
       MIN(start_time - start_time % 1000000) AS starttime,
       COALESCE(MAX(CASE WHEN parent_span_id = '' THEN duration END), 0) AS rootduration,
       CAST(COUNT(DISTINCT lower(service_name) || '|' || lower(operation_name)) AS BIGINT) AS n_groups,
       MAX(errorcode) AS max_errorcode
FROM spans
WHERE service_name <> '' AND operation_name <> ''
GROUP BY trace_id
"""
    )


def q_call_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 corpus call graph: parent→child service edges."""
    e = span_call_edges(_spans(spark, sf_dir))
    return e.select(
        "from_service",
        "to_service",
        F.col("calls").cast("long").alias("calls"),
        F.round("avg_duration", 6).alias("avg_duration"),
    )


def sql_call_graph() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT p.service_name AS from_service,
       c.service_name AS to_service,
       CAST(COUNT(*) AS BIGINT) AS calls,
       ROUND(AVG(c.duration), 6) AS avg_duration
FROM spans c JOIN spans p
  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
WHERE c.parent_span_id <> ''
GROUP BY 1, 2
"""
    )


def q_get_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 key lookup: flat spans of one trace (getRawTrace without pipeline)."""
    from haystack_traces_spark.sources.spans import build_trace_store, get_raw_trace

    store = build_trace_store(_spans(spark, sf_dir))
    return (
        get_raw_trace(store, "42")
        .select(F.explode("spans").alias("s"))
        .select(
            "s.trace_id",
            "s.span_id",
            "s.parent_span_id",
            "s.service_name",
            "s.operation_name",
            "s.start_time",
            "s.duration",
        )
    )


def sql_get_trace() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT trace_id, span_id, parent_span_id, service_name, operation_name,
       start_time, duration
FROM spans WHERE trace_id = '42'
"""
    )


def _cs_spans_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE events→cs-span projection path (scan + fan_out + pair
    explode) — single-consumer callers (network_deltas) use it unpinned;
    multi-consumer pipeline queries go through :func:`_cs_spans`."""
    from haystack_traces_spark.sources.events import spans_cs_from_events

    return memo(
        spark,
        sf_dir,
        "cs_spans_raw",
        lambda: spans_cs_from_events(_events(spark, sf_dir)),
    )


def _cs_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haystack_traces_spark.session import materialize

    # the cs projection (scan + trace window + pair explode) feeds BOTH the
    # search-index build inside _cs_search_ids AND the fetch semi-join of
    # the same query — materialize so it is evaluated once per query (and
    # Spark's cache manager shares it across the processed/call-graph pair
    # until release_materialized()); on a cluster this is "write the
    # projected span table once", the reference's own indexer architecture
    return materialize(_cs_spans_raw(spark, sf_dir))


# Search over the cs-span index shared by the two pipeline queries: traces
# with an 'error'-service span in [T0, T1], newest 25.
_CS_IDS_SQL = f"""
, idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime,
         BOOL_OR(lower(service_name) = 'error') AS has_err
  FROM cs_spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
), ids AS (
  SELECT trace_id FROM idx
  WHERE starttime BETWEEN {T0} AND {T1} AND has_err
  ORDER BY starttime DESC, trace_id DESC
  LIMIT 25
)
"""


def _cs_search_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=25,
        expression=ExpressionTree((Field("servicename", "error", EQUAL),)),
    )
    return search_ops.search_trace_ids(
        build_trace_index(_cs_spans(spark, sf_dir)), req
    ).select("traceid")


def q_search_traces_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reader path incl. the per-trace transform pipeline (U1-U11) over
    client/server span pairs: index→fetch→U2 log synthesis→U4 partial-span
    merge (network delta, aux tags)→U5/U6 (kind/order-gated)→U11 sort, via
    applyInPandas. The merged output is exact arithmetic over the events
    projection, so the whole pipeline is DuckDB-oracle-verified — including
    output ORDER via the pos column (root first, rest by start time)."""
    from haystack_traces_spark.transform.pipeline import transform_traces
    from haystack_traces_spark.transform.tags import (
        CLIENT_DURATION,
        CLIENT_OP_NAME,
        CLIENT_SERVICE_NAME,
        CLIENT_START_TIME,
        IS_MERGED_SPAN,
        NETWORK_DELTA,
        tag_str,
    )

    ids = _cs_search_ids(spark, sf_dir)
    cs = _cs_spans(spark, sf_dir).join(
        F.broadcast(ids.withColumnRenamed("traceid", "trace_id")),
        "trace_id",
        "left_semi",
    )
    out = transform_traces(cs, with_pos=True)
    return out.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        "service_name",
        "operation_name",
        "start_time",
        "duration",
        "pos",
        F.coalesce(tag_str("tags", IS_MERGED_SPAN) == "true", F.lit(False)).alias(
            "is_merged"
        ),
        tag_str("tags", NETWORK_DELTA).try_cast("long").alias("network_delta"),
        tag_str("tags", CLIENT_SERVICE_NAME).alias("client_service"),
        tag_str("tags", CLIENT_OP_NAME).alias("client_operation"),
        tag_str("tags", CLIENT_START_TIME).try_cast("long").alias("client_start"),
        tag_str("tags", CLIENT_DURATION).try_cast("long").alias("client_duration"),
    )


def sql_search_traces_processed() -> str:
    from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

    return (
        EVENT_SPANS_CS_CTE
        + _CS_IDS_SQL
        + """
SELECT e.trace_id, e.span_id, e.parent_span_id, e.service_name,
       e.operation_name, e.start_time, e.duration,
       ROW_NUMBER() OVER (
         PARTITION BY e.trace_id
         ORDER BY CASE WHEN e.parent_span_id = '' THEN 0 ELSE 1 END,
                  e.start_time, e.span_id
       ) AS pos,
       e.parent_span_id <> '' AS is_merged,
       CASE WHEN e.parent_span_id <> '' THEN 2 * e.net END AS network_delta,
       CASE WHEN e.parent_span_id <> '' THEN e.parent_service END AS client_service,
       CASE WHEN e.parent_span_id <> '' THEN e.parent_operation END AS client_operation,
       CASE WHEN e.parent_span_id <> '' THEN e.start_time - e.net END AS client_start,
       CASE WHEN e.parent_span_id <> '' THEN e.duration + 2 * e.net END AS client_duration
FROM ev e JOIN ids USING (trace_id)
"""
    )


def q_get_raw_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getRawTraces (TraceReader.scala:121-125): multi-id point lookup, flat
    spans, no pipeline. S7 IN-list semantics."""
    from haystack_traces_spark.sources.spans import build_trace_store, read_trace_records

    store = build_trace_store(_spans(spark, sf_dir))
    return (
        read_trace_records(store, ["7", "42", "99"])
        .select(F.explode("spans").alias("s"))
        .select(
            "s.trace_id",
            "s.span_id",
            "s.parent_span_id",
            "s.service_name",
            "s.operation_name",
            "s.start_time",
            "s.duration",
        )
    )


def sql_get_raw_traces() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT trace_id, span_id, parent_span_id, service_name, operation_name,
       start_time, duration
FROM spans WHERE trace_id IN ('7', '42', '99')
"""
    )


def q_get_raw_traces_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/O5 multi-backend fan-out (GrpcTraceReaders.scala:52-66) inside the
    correctness gate: the store is SPLIT across two backends by span parity
    with a dead third in the list; the fan-out read must recover the dead
    backend to empty and reassemble spans identical to the single-store
    oracle."""
    from haystack_traces_spark.sources.spans import (
        build_trace_store,
        read_traces_fanout,
    )

    spans = _spans(spark, sf_dir)
    store_a = build_trace_store(spans.filter(F.col("span_id").cast("long") % 2 == 0))
    store_b = build_trace_store(spans.filter(F.col("span_id").cast("long") % 2 == 1))

    def dead_backend():
        return spark.read.parquet(f"{sf_dir}/no_such_backend.parquet")

    merged = read_traces_fanout([store_a, dead_backend, store_b], ["7", "42", "99"])
    return merged.select(F.explode("spans").alias("s")).select(
        "s.trace_id",
        "s.span_id",
        "s.parent_span_id",
        "s.service_name",
        "s.operation_name",
        "s.start_time",
        "s.duration",
    )


def sql_get_raw_traces_fanout() -> str:
    return sql_get_raw_traces()  # fan-out must equal the single-store read


def q_get_raw_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getRawSpan (TraceReader.scala:58-68): one (traceId, spanId) point
    lookup. The spanId is resolved to the trace's first span so the entry is
    stable across scale factors (point lookups are driver-initiated by
    nature — the reference takes the literal id from the gRPC request)."""
    from haystack_traces_spark.sources.spans import build_trace_store, get_raw_span

    spans = _spans(spark, sf_dir)
    store = build_trace_store(spans)
    row = (
        spans.filter(F.col("trace_id") == "42")
        .agg(F.min(F.col("span_id").cast("long")).alias("sid"))
        .collect()
    )
    sid = str(row[0]["sid"]) if row and row[0]["sid"] is not None else "-1"
    return get_raw_span(store, "42", sid).select(
        "trace_id", "span_id", "parent_span_id", "service_name",
        "operation_name", "start_time", "duration",
    )


def sql_get_raw_span() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT trace_id, span_id, parent_span_id, service_name, operation_name,
       start_time, duration
FROM spans
WHERE trace_id = '42'
  AND CAST(span_id AS BIGINT) =
      (SELECT MIN(CAST(span_id AS BIGINT)) FROM spans WHERE trace_id = '42')
"""
    )


def q_field_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getFieldNames (EsIndexedTraceStore.scala:90-102): whitelist-configured
    field names + the two intrinsic fields, sorted."""
    from haystack_traces_spark.config import DEFAULT_WHITELIST

    names = sorted(DEFAULT_WHITELIST.field_names() + ["servicename", "operationname"])
    # a VALUES literal plans as a LocalRelation — createDataFrame's
    # python→JVM row conversion costs ~0.5 s per call for 4 rows
    values = ", ".join(f"('{n}')" for n in names)
    return spark.sql(f"SELECT name FROM (VALUES {values}) AS t(name)")


def sql_field_names() -> str:
    return """
SELECT * FROM (VALUES ('errorcode'), ('operationname'), ('role'), ('servicename'))
AS t(name) ORDER BY name
"""


def q_search_not_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT_EQUAL + LESS_THAN coverage. NOT_EQUAL replicates mustNot-inside-
    nested (SpansIndexQueryGenerator.scala:149-150): ∃ span group where the
    value does NOT occur — not a trace-level negation."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=50,
        expression=ExpressionTree(
            (
                Field("servicename", "click", NOT_EQUAL),
                Field("duration", 5_000, LESS_THAN),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_not_equal() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         BOOL_OR((CASE WHEN duration > 20000000
                       THEN duration - duration % 1000000
                       ELSE duration END) < 5000) AS has_small_dur
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2, 3
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id AND g.servicename <> 'click')
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id AND g.has_small_dur)
ORDER BY i.starttime DESC, traceid DESC
LIMIT 50
"""
    )


def q_search_flat_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 deprecated flat-field query (SpansIndexQueryGenerator.scala:44-63):
    span-context fields form ONE co-occurrence group — servicename='view'
    and whitelisted tag errorcode=3 must hit the same (svc, op) group."""
    from haystack_traces_spark.operators.expression import compile_fields

    idx = _index(spark, sf_dir)
    pred = compile_fields(
        [Field("servicename", "view", EQUAL), Field("errorcode", 3, EQUAL)]
    )
    return (
        idx.filter(F.col("starttime").between(T0, T1))
        .filter(pred)
        .select("traceid", "starttime")
        .orderBy(F.col("starttime").desc(), F.col("traceid").desc())
        .limit(50)
    )


def sql_search_flat_fields() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         BOOL_OR(errorcode = 3) AS has_ec3
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2, 3
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id
                AND g.servicename = 'view' AND g.has_ec3)
ORDER BY i.starttime DESC, traceid DESC
LIMIT 50
"""
    )


def q_search_span_not_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 NOT_EQUAL inside a SPAN-LEVEL group: mustNot applies within the
    nested co-occurrence bool (SpansIndexQueryGenerator.scala:149-150) —
    ∃ a (service, operation) group that IS 'error' and is NOT op_1. The
    trace-level search_not_equal can't distinguish this from a global
    negation; this shape can."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=45,
        expression=ExpressionTree(
            (
                ExpressionTree(
                    (
                        Field("servicename", "error", EQUAL),
                        Field("operationname", "op_1", NOT_EQUAL),
                    ),
                    is_span_level=True,
                ),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_span_not_equal() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT DISTINCT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname
  FROM spans WHERE service_name <> '' AND operation_name <> ''
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id
                AND g.servicename = 'error' AND g.operationname <> 'op_1')
ORDER BY i.starttime DESC, traceid DESC
LIMIT 45
"""
    )


def q_search_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 depth-2 composition: one TRACE-level field (own nested query) AND
    one SPAN-level subtree (co-occurrence group) in the same AND — the full
    operand-partitioning shape of SpansIndexQueryGenerator.scala:66-96 that
    the single-shape queries don't exercise together."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=60,
        expression=ExpressionTree(
            (
                Field("servicename", "click", EQUAL),
                ExpressionTree(
                    (
                        Field("servicename", "error", EQUAL),
                        Field("duration", DUR_THRESHOLD, GREATER_THAN),
                    ),
                    is_span_level=True,
                ),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_mixed() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         BOOL_OR((CASE WHEN duration > 20000000
                       THEN duration - duration % 1000000
                       ELSE duration END) > {DUR_THRESHOLD}) AS has_big_dur
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2, 3
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id AND g.servicename = 'click')
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id
                AND g.servicename = 'error' AND g.has_big_dur)
ORDER BY i.starttime DESC, traceid DESC
LIMIT 60
"""
    )


def q_search_tag_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 range predicate on a WHITELISTED typed tag (errorcode LONG):
    value coerced per whitelist type, compared inside the group's
    accumulated value set (SpansIndexQueryGenerator.scala:111-138). The
    duration-range queries cover the intrinsic-long path; this covers the
    whitelist-coercion path."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T1,
        limit=40,
        expression=ExpressionTree(
            (
                Field("errorcode", 2, GREATER_THAN),
                Field("errorcode", 5, LESS_THAN),
            )
        ),
    )
    return search_ops.search_trace_ids(_index(spark, sf_dir), req)


def sql_search_tag_range() -> str:
    return (
        EVENT_SPANS_CTE
        + _IDX_CTE
        + f"""
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE i.starttime BETWEEN {T0} AND {T1}
  AND EXISTS (SELECT 1 FROM spans s
              WHERE s.trace_id = i.trace_id AND s.service_name <> ''
                AND s.operation_name <> '' AND s.errorcode > 2)
  AND EXISTS (SELECT 1 FROM spans s
              WHERE s.trace_id = i.trace_id AND s.service_name <> ''
                AND s.operation_name <> '' AND s.errorcode < 5)
ORDER BY i.starttime DESC, traceid DESC
LIMIT 40
"""
    )


def q_trace_counts_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 histogram with a predicate (getTraceCounts accepts the same
    ExpressionTree as search, TraceCountsQueryGenerator.scala:76-99)."""
    req = TraceCountsRequest(
        COUNTS_START,
        COUNTS_END,
        COUNTS_INTERVAL,
        expression=ExpressionTree((Field("servicename", "error", EQUAL),)),
    )
    return trace_counts(_index(spark, sf_dir), req)


def sql_trace_counts_filtered() -> str:
    i = COUNTS_INTERVAL
    first = (COUNTS_START // i) * i
    last = (COUNTS_END // i) * i
    return (
        EVENT_SPANS_CTE
        + _IDX_CTE
        + f"""
, buckets AS (
  SELECT UNNEST(generate_series({first}, {last}, {i})) AS timestamp
), counts AS (
  SELECT starttime - starttime % {i} AS timestamp, COUNT(*) AS c
  FROM idx
  WHERE starttime BETWEEN {COUNTS_START} AND {COUNTS_END} AND has_error_svc
  GROUP BY 1
)
SELECT b.timestamp, CAST(COALESCE(c.c, 0) AS BIGINT) AS count
FROM buckets b LEFT JOIN counts c USING (timestamp)
WHERE b.timestamp BETWEEN {COUNTS_START} AND {COUNTS_END}
"""
    )


def q_trace_call_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful G1: per-trace call graph from MERGED client/server spans of
    processed traces (TraceReader.scala:127-155) — every edge extracted from
    the X-HAYSTACK-* aux tags the merge pipeline stamped. Full DuckDB oracle:
    edges = parent→child service/operation pairs with networkDelta = 2*net."""
    from haystack_traces_spark.operators.callgraph import trace_call_graph
    from haystack_traces_spark.transform.pipeline import transform_traces

    ids = _cs_search_ids(spark, sf_dir)
    cs = _cs_spans(spark, sf_dir).join(
        F.broadcast(ids.withColumnRenamed("traceid", "trace_id")),
        "trace_id",
        "left_semi",
    )
    return trace_call_graph(transform_traces(cs))


def sql_trace_call_graph() -> str:
    from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

    return (
        EVENT_SPANS_CS_CTE
        + _CS_IDS_SQL
        + """
SELECT e.trace_id,
       e.parent_service AS from_service,
       e.parent_operation AS from_operation,
       e.service_name AS to_service,
       e.operation_name AS to_operation,
       2 * e.net AS network_delta
FROM ev e JOIN ids USING (trace_id)
WHERE e.parent_span_id <> ''
"""
    )


def q_search_nested_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 nested variant (use.root.doc.starttime=false, reader base.conf:40):
    the time range tests the per-group starttime SETS inside the spans array
    instead of the denormalized root starttime."""
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T0 + 3 * DAY_US,
        limit=50,
        expression=ExpressionTree((Field("servicename", "error", EQUAL),)),
    )
    return search_ops.search_trace_ids(
        _index(spark, sf_dir), req, use_root_doc_starttime=False
    )


def sql_search_nested_time() -> str:
    t_hi = T0 + 3 * DAY_US
    return (
        EVENT_SPANS_CTE
        + f"""
, groups AS (
  SELECT trace_id, lower(service_name) AS servicename,
         BOOL_OR((start_time - start_time % 1000000) BETWEEN {T0} AND {t_hi}) AS in_range
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2
), idx AS (
  SELECT trace_id, MIN(start_time - start_time % 1000000) AS starttime
  FROM spans WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
)
SELECT i.trace_id AS traceid, i.starttime
FROM idx i
WHERE EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id AND g.in_range)
  AND EXISTS (SELECT 1 FROM groups g
              WHERE g.trace_id = i.trace_id AND g.servicename = 'error')
ORDER BY i.starttime DESC, traceid DESC
LIMIT 50
"""
    )


# -------------------------------------------------------------- registry --

def q_service_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trends-style per-service latency percentile rollup (exact path;
    percentile_approx variant covered by a tolerance unit test)."""
    from haystack_traces_spark.streaming.metrics import service_latency_percentiles

    return service_latency_percentiles(_spans(spark, sf_dir))


def sql_service_latency_percentiles() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT service_name,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(quantile_cont(duration, 0.5), 6) AS p50,
       ROUND(quantile_cont(duration, 0.9), 6) AS p90,
       ROUND(quantile_cont(duration, 0.99), 6) AS p99
FROM spans
GROUP BY service_name
ORDER BY service_name
"""
    )


def q_trace_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfall rows (depth + offset) for every trace — the UI's trace
    view feed; oracle recomputes depth with a recursive CTE."""
    from haystack_traces_spark.operators.timeline import trace_timeline

    return trace_timeline(_spans(spark, sf_dir))


#: Recursive span-depth CTE (root = empty or dangling parent; depth
#: grows down the tree). ONE definition — sql_trace_timeline,
#: sql_error_root_causes and sql_depth_profile all splice this exact
#: fragment so root/cycle handling can never drift between the oracles.
#: Requires the surrounding WITH to be RECURSIVE.
_DEPTH_CTE_SQL = """
, d(trace_id, span_id, depth) AS (
  SELECT s.trace_id, s.span_id, 0
  FROM spans s
  WHERE s.parent_span_id = '' OR s.parent_span_id NOT IN (
    SELECT span_id FROM spans s2 WHERE s2.trace_id = s.trace_id)
  UNION ALL
  SELECT c.trace_id, c.span_id, d.depth + 1
  FROM spans c JOIN d ON d.trace_id = c.trace_id
                     AND c.parent_span_id = d.span_id
)"""


def sql_trace_timeline() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + _DEPTH_CTE_SQL
        + """,
t0 AS (SELECT trace_id, MIN(start_time) AS t0 FROM spans GROUP BY trace_id)
SELECT s.trace_id, s.span_id, CAST(d.depth AS BIGINT) AS depth,
       s.start_time - t0.t0 AS offset_us, s.duration,
       s.service_name AS servicename
FROM spans s JOIN d USING (trace_id, span_id) JOIN t0 USING (trace_id)
"""
    )


def q_span_self_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flamegraph feed: duration minus direct-children time per span."""
    from haystack_traces_spark.operators.timeline import span_self_time

    return span_self_time(_spans(spark, sf_dir))


def sql_span_self_time() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, child AS (
  SELECT trace_id, parent_span_id AS span_id, SUM(duration) AS child_time
  FROM spans WHERE parent_span_id <> '' GROUP BY 1, 2
)
SELECT s.trace_id, s.span_id, s.service_name AS servicename, s.duration,
       CAST(COALESCE(c.child_time, 0) AS BIGINT) AS child_time,
       CAST(s.duration - COALESCE(c.child_time, 0) AS BIGINT) AS self_time
FROM spans s LEFT JOIN child c USING (trace_id, span_id)
"""
    )


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest root-to-leaf cumulative-duration chain per trace."""
    from haystack_traces_spark.operators.timeline import critical_path

    return critical_path(_spans(spark, sf_dir))


def sql_critical_path() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + """
, paths(trace_id, span_id, path_spans, path_duration) AS (
  SELECT s.trace_id, s.span_id, 1, s.duration
  FROM spans s
  WHERE s.parent_span_id = '' OR s.parent_span_id NOT IN (
    SELECT span_id FROM spans s2 WHERE s2.trace_id = s.trace_id)
  UNION ALL
  SELECT c.trace_id, c.span_id, p.path_spans + 1, p.path_duration + c.duration
  FROM spans c JOIN paths p ON p.trace_id = c.trace_id
                           AND c.parent_span_id = p.span_id
),
leaves AS (
  SELECT p.* FROM paths p
  WHERE NOT EXISTS (SELECT 1 FROM spans ch
                    WHERE ch.trace_id = p.trace_id
                      AND ch.parent_span_id = p.span_id)
),
ranked AS (
  SELECT trace_id, span_id AS leaf_span_id,
         CAST(path_spans AS BIGINT) AS path_spans,
         CAST(path_duration AS BIGINT) AS path_duration,
         ROW_NUMBER() OVER (PARTITION BY trace_id
                            ORDER BY path_duration DESC, span_id ASC) AS rn
  FROM leaves
)
SELECT trace_id, leaf_span_id, path_spans, path_duration
FROM ranked WHERE rn = 1
"""
    )


def q_trace_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B trace diff — the UI's trace-comparison view: per (service,
    operation) span counts and total durations of two traces side by side
    with the duration delta. The compared pair here is the two numerically
    smallest trace ids (deterministic at any sf); production callers pass
    explicit ids. Full-outer on the op key so rows unique to either trace
    surface with zeros."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    ids = (
        spans.select(F.col("trace_id").cast("long").alias("tid"))
        .distinct()
        .orderBy("tid")
        .limit(2)
        .withColumn("ab", F.row_number().over(Window.orderBy("tid")))
    )
    tagged = spans.join(
        F.broadcast(ids), spans["trace_id"].cast("long") == ids["tid"]
    )
    return (
        tagged.groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
        )
        .agg(
            F.sum(F.when(F.col("ab") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("ab") == 1, F.col("duration")).otherwise(0))
            .cast("long")
            .alias("dur_a"),
            F.sum(F.when(F.col("ab") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
            F.sum(F.when(F.col("ab") == 2, F.col("duration")).otherwise(0))
            .cast("long")
            .alias("dur_b"),
        )
        .withColumn("dur_delta", (F.col("dur_b") - F.col("dur_a")).cast("long"))
        .orderBy("servicename", "operationname")
    )


def sql_trace_compare() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, ids AS (
  SELECT tid, ROW_NUMBER() OVER (ORDER BY tid) AS ab
  FROM (SELECT DISTINCT CAST(trace_id AS BIGINT) AS tid FROM spans
        ORDER BY tid LIMIT 2)
)
SELECT lower(s.service_name) AS servicename,
       lower(s.operation_name) AS operationname,
       CAST(SUM(CASE WHEN i.ab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN i.ab = 1 THEN s.duration ELSE 0 END) AS BIGINT) AS dur_a,
       CAST(SUM(CASE WHEN i.ab = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM(CASE WHEN i.ab = 2 THEN s.duration ELSE 0 END) AS BIGINT) AS dur_b,
       CAST(SUM(CASE WHEN i.ab = 2 THEN s.duration ELSE 0 END)
            - SUM(CASE WHEN i.ab = 1 THEN s.duration ELSE 0 END) AS BIGINT) AS dur_delta
FROM spans s JOIN ids i ON CAST(s.trace_id AS BIGINT) = i.tid
GROUP BY 1, 2
ORDER BY 1, 2
"""
    )


SLOW_SVC = "click"
SLOW_K = 5


def q_slowest_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k traces by a service's total time in them — "which requests
    hurt service X most". TakeOrderedAndProject over a per-trace aggregate
    restricted to the service's spans; ties break on traceid."""
    spans = _spans(spark, sf_dir)
    return (
        spans.filter(F.lower("service_name") == SLOW_SVC)
        .groupBy(F.col("trace_id").alias("traceid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("duration").cast("long").alias("svc_time"),
        )
        .orderBy(F.col("svc_time").desc(), F.col("traceid").asc())
        .limit(SLOW_K)
    )


def sql_slowest_traces() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT trace_id AS traceid,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(duration) AS BIGINT) AS svc_time
FROM spans WHERE lower(service_name) = '{SLOW_SVC}'
GROUP BY trace_id
ORDER BY svc_time DESC, traceid ASC
LIMIT {SLOW_K}
"""
    )


ERROR_THRESHOLD = 50


def _errorcode() -> F.Column:
    """Typed errorcode tag as LONG, 0 when the tag is absent — the shared
    left side of the `errorcode >= ERROR_THRESHOLD` demo predicate every
    error-analytics operator applies (one definition so the operators
    cannot drift on tag handling)."""
    from haystack_traces_spark.transform.tags import tag_str

    return F.coalesce(tag_str("tags", "errorcode").try_cast("long"), F.lit(0))


def q_operation_error_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(service, operation) error-rate rollup — the reader-side ops
    dashboard aggregate. The synthetic corpus has no boolean error tag, so
    errorcode >= ERROR_THRESHOLD is the documented demo predicate (the
    reference's `error` span tag is the real-world source)."""
    from haystack_traces_spark.transform.tags import tag_str

    spans = _spans(spark, sf_dir)
    # coalesce: a span without the errorcode tag counts as NON-error (the
    # oracle's CASE WHEN ... ELSE 0), not NULL-poisoning the group's sum
    err = F.coalesce(
        (tag_str("tags", "errorcode").try_cast("long") >= ERROR_THRESHOLD).cast(
            "long"
        ),
        F.lit(0),
    )
    return (
        spans.groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(err).alias("n_errors"),
        )
        .withColumn(
            "error_rate", F.round(F.col("n_errors") / F.col("n_spans"), 6)
        )
        .orderBy("servicename", "operationname")
    )


def sql_operation_error_rates() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       lower(operation_name) AS operationname,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       ROUND(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate
FROM spans
GROUP BY 1, 2
ORDER BY 1, 2
"""
    )


def q_service_rate_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed per-service span-rate rollup — the batch face of
    streaming/metrics.py (same function; the streaming run adds the
    watermark). Oracle = epoch-aligned minute buckets, which is exactly
    Spark's default window() alignment."""
    from haystack_traces_spark.streaming.metrics import service_rate_metrics

    return service_rate_metrics(_spans(spark, sf_dir))


def sql_service_rate_metrics() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT (start_time // 60000000) * 60000000 AS window_start,
       service_name,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(duration) AS BIGINT) AS total_duration,
       ROUND(AVG(duration), 6) AS avg_duration,
       CAST(MAX(duration) AS BIGINT) AS max_duration
FROM spans
GROUP BY 1, 2
"""
    )


ANOMALY_Z = 3.0


def q_span_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spans abnormally slow for their (service, operation) population —
    the trends/anomaly diagnostic. Stats table broadcast, z rounded before
    the threshold compare (cross-engine float discipline)."""
    from haystack_traces_spark.operators.anomaly import span_anomalies

    return span_anomalies(_spans(spark, sf_dir), ANOMALY_Z)


def sql_span_anomalies() -> str:
    return (
        EVENT_SPANS_CTE
        + f""", stats AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         AVG(duration) AS mu, STDDEV_POP(duration) AS sigma
  FROM spans GROUP BY 1, 2 HAVING STDDEV_POP(duration) > 0
)
SELECT s.trace_id, s.span_id, st.servicename, st.operationname,
       CAST(s.duration AS BIGINT) AS duration,
       ROUND((s.duration - st.mu) / st.sigma, 6) AS z
FROM spans s JOIN stats st
  ON lower(s.service_name) = st.servicename
 AND lower(s.operation_name) = st.operationname
WHERE ROUND((s.duration - st.mu) / st.sigma, 6) >= {ANOMALY_Z}
"""
    )


EXEMPLAR_K = 3


def q_slow_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(service, operation) slowest-span exemplars — the "show me an
    example slow request" drill-down the UI offers from every trends
    panel. Per-GROUP window (never global), deterministic ties
    (duration desc, trace_id asc, span_id asc)."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    w = Window.partitionBy("servicename", "operationname").orderBy(
        F.col("duration").desc(), F.col("trace_id").asc(), F.col("span_id").asc()
    )
    return (
        spans.select(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
            "trace_id",
            "span_id",
            F.col("duration").cast("long").alias("duration"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= EXEMPLAR_K)
        .select(
            "servicename", "operationname", "trace_id", "span_id",
            "duration", F.col("rank").cast("long").alias("rank"),
        )
    )


def sql_slow_exemplars() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT servicename, operationname, trace_id, span_id, duration, rank FROM (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         trace_id, span_id, CAST(duration AS BIGINT) AS duration,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lower(service_name), lower(operation_name)
           ORDER BY duration DESC, trace_id ASC, span_id ASC
         ) AS BIGINT) AS rank
  FROM spans
) WHERE rank <= {EXEMPLAR_K}
"""
    )


def q_latency_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(service, operation, hour, log2-duration-bucket) span counts —
    the latency-heatmap view (duration distribution drift over time, the
    trends panel behind p99 alerts). Integer-deterministic bucketing: the
    bucket is the BIT LENGTH of the duration (== floor(log2 d) + 1 for
    d > 0), computed via base-2 string conversion on both engines — no
    float log at all. One map-side-combinable aggregate; at 100 TB the
    (dt, hb)-partitioned scan prunes the hour range first."""
    spans = _spans(spark, sf_dir)
    hour = (F.col("start_time") - F.col("start_time") % HOUR_US).alias("hour_start")
    dur_bucket = F.length(
        F.conv(F.col("duration").cast("string"), 10, 2)
    ).cast("long")
    return (
        spans.groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
            hour,
            dur_bucket.alias("dur_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("servicename", "operationname", "hour_start", "dur_bucket")
    )


def sql_latency_heatmap() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       lower(operation_name) AS operationname,
       start_time - start_time % {HOUR_US} AS hour_start,
       CAST(length(bin(duration)) AS BIGINT) AS dur_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM spans
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2, 3, 4
"""
    )


def q_trace_shape_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace SHAPE summary — span count, distinct services, max tree
    depth, total span time: the corpus-level "what do my traces look like"
    rollup capacity planning and sessionizer state sizing start from.
    Depth rides the same grouped-map walk as trace_timeline; the rest is
    one aggregate on the shared trace exchange."""
    from haystack_traces_spark.operators.timeline import trace_timeline

    spans = _spans(spark, sf_dir)
    tl = trace_timeline(spans)
    return (
        tl.groupBy("trace_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.countDistinct("servicename").cast("long").alias("n_services"),
            F.max("depth").cast("long").alias("max_depth"),
            F.sum("duration").cast("long").alias("total_span_time"),
        )
        .orderBy("trace_id")
    )


def sql_trace_shape_stats() -> str:
    return f"""
WITH tl AS ({sql_trace_timeline()})
SELECT trace_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(DISTINCT servicename) AS BIGINT) AS n_services,
       CAST(MAX(depth) AS BIGINT) AS max_depth,
       CAST(SUM(duration) AS BIGINT) AS total_span_time
FROM tl
GROUP BY trace_id
ORDER BY trace_id
"""


def q_error_rate_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(service, hour) error-rate time series — the trends panel the
    reference ecosystem renders from haystack-trends metricpoints,
    computed here straight from the span tags. One map-side-combinable
    aggregate on the (dt, hb)-prunable scan."""
    from haystack_traces_spark.transform.tags import tag_str

    spans = _spans(spark, sf_dir)
    err = F.coalesce(
        (tag_str("tags", "errorcode").try_cast("long") >= ERROR_THRESHOLD).cast(
            "long"
        ),
        F.lit(0),
    )
    hour = (F.col("start_time") - F.col("start_time") % HOUR_US).alias("hour_start")
    return (
        spans.groupBy(F.lower("service_name").alias("servicename"), hour)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(err).alias("n_errors"),
        )
        .withColumn(
            "error_rate", F.round(F.col("n_errors") / F.col("n_spans"), 6)
        )
        .orderBy("servicename", "hour_start")
    )


def sql_error_rate_trends() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       start_time - start_time % {HOUR_US} AS hour_start,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       ROUND(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate
FROM spans
GROUP BY 1, 2
ORDER BY 1, 2
"""
    )


PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85


def q_service_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the service call graph — the
    structural "most depended on" ranking. Oracle = unrolled CTE chain
    (one CTE per iteration, generated)."""
    from haystack_traces_spark.operators.callgraph import service_pagerank

    return service_pagerank(_spans(spark, sf_dir), PAGERANK_ITERS, PAGERANK_DAMPING)


def sql_service_pagerank() -> str:
    d = PAGERANK_DAMPING
    ctes = [
        """sv AS (SELECT DISTINCT lower(service_name) AS s FROM spans),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sv),
e AS (
  SELECT lower(p.service_name) AS u, lower(c.service_name) AS v,
         CAST(COUNT(*) AS DOUBLE) AS calls
  FROM spans c JOIN spans p
    ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
  WHERE c.parent_span_id <> ''
  GROUP BY 1, 2
),
ot AS (SELECT u, SUM(calls) AS oc FROM e GROUP BY u),
w AS (SELECT e.u, e.v, e.calls / ot.oc AS w FROM e JOIN ot USING (u)),
p0 AS (SELECT s, 1.0 / n AS pr FROM sv, ns)"""
    ]
    for i in range(PAGERANK_ITERS):
        ctes.append(
            f"""p{i + 1} AS (
  SELECT sv.s, (1.0 - {d}) / ns.n + {d} * COALESCE(c.inflow, 0.0) AS pr
  FROM sv CROSS JOIN ns
  LEFT JOIN (
    SELECT w.v AS s, SUM(p{i}.pr * w.w) AS inflow
    FROM p{i} JOIN w ON p{i}.s = w.u GROUP BY w.v
  ) c USING (s)
)"""
        )
    return (
        EVENT_SPANS_CTE
        + ", "
        + ",\n".join(ctes)
        + f"""
SELECT s AS servicename, ROUND(pr, 6) AS pagerank
FROM p{PAGERANK_ITERS} ORDER BY servicename
"""
    )


CHEAPEST_PATH_ROUNDS = 8


def q_service_cheapest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source cheapest cumulative-latency paths (Bellman-Ford
    min-plus, CHEAPEST_PATH_ROUNDS relaxation rounds) from the
    lexicographically-smallest calling service. Integer edge weights
    (truncating mean child duration) keep the fixed point exact on both
    faces. Oracle = unrolled relaxation CTEs, literal-free."""
    from haystack_traces_spark.operators.callgraph import service_cheapest_paths

    return service_cheapest_paths(_spans(spark, sf_dir), CHEAPEST_PATH_ROUNDS)


def sql_service_cheapest_paths() -> str:
    # AS MATERIALIZED is load-bearing: every d_k references d_{k-1}
    # TWICE (carry + relax), so an inlined chain re-expands the whole
    # prefix 2^k times — DuckDB ran out of memory at sf0.1 before the
    # hint (each round's frame is only |services| rows once pinned)
    ctes = [
        """e AS MATERIALIZED (
  SELECT lower(p.service_name) AS u, lower(c.service_name) AS v,
         CAST(SUM(c.duration) // COUNT(*) AS BIGINT) AS w
  FROM spans c JOIN spans p
    ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
  WHERE c.parent_span_id <> ''
  GROUP BY 1, 2
),
d0 AS MATERIALIZED (SELECT MIN(u) AS s, CAST(0 AS BIGINT) AS cost FROM e)"""
    ]
    for k in range(1, CHEAPEST_PATH_ROUNDS + 1):
        ctes.append(f"""d{k} AS MATERIALIZED (
  SELECT s, MIN(cost) AS cost FROM (
    SELECT s, cost FROM d{k - 1}
    UNION ALL
    SELECT e.v AS s, d.cost + e.w AS cost
    FROM d{k - 1} d JOIN e ON d.s = e.u
  ) GROUP BY s
)""")
    return (
        EVENT_SPANS_CTE
        + ", "
        + ",\n".join(ctes)
        + f"""
SELECT s AS servicename, cost FROM d{CHEAPEST_PATH_ROUNDS}
ORDER BY servicename
"""
    )


def q_hourly_trace_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct traces per hour: the HLL estimate (the streaming
    EventTimeDistinct gate's batch face — one mergeable 2^p-register
    sketch per hour instead of shuffling every trace id) NEXT TO the
    exact count and realized error, computable here because the corpus
    is at rest. The monitoring face of trace-volume cardinality."""
    from haystack_traces_spark.streaming.hll_stream import (
        HLL_HOUR_US,
        hourly_distinct_hll,
    )

    rows = _spans(spark, sf_dir).select(
        F.col("start_time").alias("ts"), F.col("trace_id").alias("value")
    )
    est = hourly_distinct_hll(rows)
    exact = (
        rows.select(
            (F.col("ts") - F.col("ts") % HLL_HOUR_US).alias("hour_ts"), "value"
        )
        .groupBy("hour_ts")
        .agg(F.countDistinct("value").cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, "hour_ts")
        .select(
            "hour_ts",
            "n_exact",
            "n_hll",
            F.round(
                (F.col("n_hll") - F.col("n_exact"))
                / F.nullif(F.col("n_exact"), F.lit(0)),
                6,
            ).alias("rel_err"),
        )
        .orderBy("hour_ts")
    )


def sql_hourly_trace_hll() -> str:
    from haystack_traces_spark.datapipe.queries import hll_core_sql

    hour = 3_600_000_000
    return (
        EVENT_SPANS_CTE
        + f""", hsrc AS (
  SELECT start_time - start_time % {hour} AS g, trace_id AS w FROM spans
),
{hll_core_sql()},
ex AS (SELECT g, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
       FROM hsrc GROUP BY 1)
SELECT g AS hour_ts, n_exact, ROUND(e, 3) AS n_hll,
       ROUND((ROUND(e, 3) - n_exact) / NULLIF(n_exact, 0), 6) AS rel_err
FROM est JOIN ex USING (g)
ORDER BY hour_ts
"""
    )


def q_error_root_causes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause attribution: for every failing trace, the DEEPEST error
    span is the likely origin (errors propagate up the call tree); the
    rollup ranks (service, operation) pairs by how many traces they
    root-caused — the on-call "what actually broke" view, versus
    operation_error_rates' flat error volume. Depth rides the shared
    timeline walk; ties break deepest-then-lowest-span_id."""
    from haystack_traces_spark.operators.timeline import trace_timeline

    spans = _spans(spark, sf_dir)
    err_spans = spans.select(
        "trace_id",
        "span_id",
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        (_errorcode() >= ERROR_THRESHOLD).alias("is_err"),
    ).filter("is_err")
    # the grouped-map depth walk is the dominant cost — run it over the
    # FAILING traces only (depth is per-trace-local, so the semi-join
    # cannot change any depth value); at scale error traces are a small
    # fraction of the corpus
    failing = spans.join(
        F.broadcast(err_spans.select("trace_id").distinct()),
        "trace_id",
        "left_semi",
    )
    depths = trace_timeline(failing).select("trace_id", "span_id", "depth")
    root = (
        err_spans.join(depths, ["trace_id", "span_id"])
        .groupBy("trace_id")
        .agg(
            # min over (-depth, span_id): deepest error span first, ties to
            # the LOWEST span_id — one struct aggregate, no window
            F.min(
                F.struct(
                    (-F.col("depth")).alias("nd"),
                    F.col("span_id").alias("sid"),
                    F.col("servicename"),
                    F.col("operationname"),
                )
            ).alias("m")
        )
    )
    return (
        root.groupBy(
            F.col("m.servicename").alias("servicename"),
            F.col("m.operationname").alias("operationname"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_traces"))
        .orderBy(F.col("n_traces").desc(), "servicename", "operationname")
    )


def sql_error_root_causes() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + _DEPTH_CTE_SQL
        + f""",
err AS (
  -- LEFT join + COALESCE 0: spans inside a parent CYCLE are unreachable
  -- from any root, so the recursive CTE never assigns them a depth;
  -- Spark's trace_timeline roots cycle members via its cycle guard —
  -- mirror the fallback so an error span in a cyclic chain is attributed
  -- instead of silently dropped (pinned by
  -- test_error_root_causes_attributes_cycle_spans). Residual caveat:
  -- the Spark walk gives LATER-visited cycle members depths ≥ 1 in
  -- row-order-dependent fashion, so whenever a trace mixes a cycle-member
  -- error with ANY other error span (inside or outside the cycle) the
  -- exact depth comparison is not mirrorable; only the
  -- single-error-span-per-cyclic-trace case (the realistic corruption)
  -- agrees exactly — multi-error cyclic traces are a documented gap
  SELECT s.trace_id,
         MIN(struct_pack(nd := -COALESCE(d.depth, 0), sid := s.span_id,
                         servicename := lower(s.service_name),
                         operationname := lower(s.operation_name))) AS m
  FROM spans s LEFT JOIN d USING (trace_id, span_id)
  WHERE COALESCE(s.errorcode, 0) >= {ERROR_THRESHOLD}
  GROUP BY s.trace_id
)
SELECT m['servicename'] AS servicename, m['operationname'] AS operationname,
       CAST(COUNT(*) AS BIGINT) AS n_traces
FROM err
GROUP BY 1, 2
ORDER BY n_traces DESC, servicename, operationname
"""
    )


def q_trace_duration_percentiles(
    spark: SparkSession, sf_dir: str, approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """END-TO-END trace duration percentiles per ROOT service — the
    user-facing latency number (span percentiles measure components;
    the root-service trace envelope measures what the caller felt).
    Trace duration = max(start+duration) − min(start) over the trace's
    spans; exact `percentile` (≡ DuckDB quantile_cont interpolation) is
    the oracle face; ``approx=True`` is the 100 TB SCALE DEFAULT
    (SCALE.md §5 dual-face table): `percentile_approx` merges map-side
    where exact percentile buffers every group value. Same plan shape."""
    spans = _spans(spark, sf_dir)
    per_trace = (
        spans.groupBy("trace_id")
        .agg(
            F.max(F.col("start_time") + F.col("duration")).alias("t_end"),
            F.min("start_time").alias("t_start"),
            F.max(
                F.when(
                    F.col("parent_span_id") == "",
                    F.lower("service_name"),
                )
            ).alias("root_service"),
        )
        .withColumn("trace_dur", F.col("t_end") - F.col("t_start"))
        .filter(F.col("root_service").isNotNull())
    )
    if approx:
        def q(p):
            return F.expr(
                f"percentile_approx(trace_dur, {p}, {accuracy})"
            ).cast("double")
    else:
        def q(p):
            return F.expr(f"percentile(trace_dur, {p})")

    return (
        per_trace.groupBy(F.col("root_service").alias("servicename"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.round(q(0.5), 6).alias("p50"),
            F.round(q(0.95), 6).alias("p95"),
            F.round(q(0.99), 6).alias("p99"),
        )
        .orderBy("servicename")
    )


def sql_trace_duration_percentiles() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per_trace AS (
  SELECT trace_id,
         MAX(start_time + duration) - MIN(start_time) AS trace_dur,
         MAX(CASE WHEN parent_span_id = '' THEN lower(service_name) END)
           AS root_service
  FROM spans GROUP BY trace_id
)
SELECT root_service AS servicename,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       ROUND(quantile_cont(trace_dur, 0.5), 6) AS p50,
       ROUND(quantile_cont(trace_dur, 0.95), 6) AS p95,
       ROUND(quantile_cont(trace_dur, 0.99), 6) AS p99
FROM per_trace
WHERE root_service IS NOT NULL
GROUP BY root_service
ORDER BY servicename
"""
    )


APDEX_T = 50_000  # micros: satisfied <= T, tolerating <= 4T


def q_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex score per service (Apdex standard: (satisfied + tolerating/2)
    / total with the satisfied threshold T and tolerating bound 4T) — the
    one-number user-satisfaction rollup ops dashboards headline. One
    map-side-combinable aggregate."""
    spans = _spans(spark, sf_dir)
    d = F.col("duration")
    sat = (d <= APDEX_T).cast("long")
    tol = ((d > APDEX_T) & (d <= 4 * APDEX_T)).cast("long")
    return (
        spans.groupBy(F.lower("service_name").alias("servicename"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(sat).alias("n_satisfied"),
            F.sum(tol).alias("n_tolerating"),
        )
        .withColumn(
            "apdex",
            F.round(
                (F.col("n_satisfied") + F.col("n_tolerating") / 2)
                / F.col("n_spans"),
                6,
            ),
        )
        .orderBy("servicename")
    )


def sql_apdex() -> str:
    t = APDEX_T
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN duration <= {t} THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
       CAST(SUM(CASE WHEN duration > {t} AND duration <= {4 * t} THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
       ROUND((SUM(CASE WHEN duration <= {t} THEN 1 ELSE 0 END)
              + SUM(CASE WHEN duration > {t} AND duration <= {4 * t} THEN 1 ELSE 0 END) / 2)
             / CAST(COUNT(*) AS DOUBLE), 6) AS apdex
FROM spans
GROUP BY 1 ORDER BY 1
"""
    )


def q_service_concurrency(
    spark: SparkSession, sf_dir: str, bucket_hours: float | None = None
) -> DataFrame:
    """Peak concurrent in-flight spans per service — the saturation view
    (how many requests a service was actually serving at once, the number
    capacity planning sizes thread pools against). Classic sweep: ±1
    events at span start/end, running sum per service ordered by
    (ts, delta) — ends processed before starts at the same microsecond,
    so back-to-back spans do not double-count. The window partitions by
    SERVICE (never global); ``bucket_hours`` (VERDICT r4 #6) splits the
    sweep by time bucket for a single hot service at 100 TB: local
    running sums per (service, bucket), then a per-service cumulative
    carry-in over the TINY per-bucket net totals — peak = max over
    buckets of carry_in + local peak, algebraically identical to the
    one-window sweep (prefix-sum decomposition; equivalence pinned by
    test_service_concurrency_bucketed_matches_unbucketed)."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    starts = spans.select(
        F.lower("service_name").alias("servicename"),
        F.col("start_time").alias("ts"),
        F.lit(1).alias("delta"),
    )
    ends = spans.select(
        F.lower("service_name").alias("servicename"),
        (F.col("start_time") + F.col("duration")).alias("ts"),
        F.lit(-1).alias("delta"),
    )
    ev = starts.unionByName(ends)
    if bucket_hours:
        bucket_us = int(bucket_hours * 3_600_000_000)
        ev = ev.withColumn("bkt", F.floor(F.col("ts") / F.lit(bucket_us)))
        wloc = (
            Window.partitionBy("servicename", "bkt")
            .orderBy(F.col("ts").asc(), F.col("delta").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        per_bkt = (
            ev.withColumn("run", F.sum("delta").over(wloc))
            .groupBy("servicename", "bkt")
            .agg(
                F.max("run").alias("local_peak"),
                F.sum("delta").alias("net"),
            )
        )
        # carry-in: cumulative net of all EARLIER buckets — a second
        # window, but over one row per (service, bucket), not per event
        wcum = (
            Window.partitionBy("servicename")
            .orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            per_bkt.withColumn(
                "carry", F.coalesce(F.sum("net").over(wcum), F.lit(0))
            )
            .groupBy("servicename")
            .agg(
                F.max(F.col("carry") + F.col("local_peak"))
                .cast("long")
                .alias("peak_concurrency")
            )
            .orderBy("servicename")
        )
    w = (
        Window.partitionBy("servicename")
        .orderBy(F.col("ts").asc(), F.col("delta").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("load", F.sum("delta").over(w))
        .groupBy("servicename")
        .agg(F.max("load").cast("long").alias("peak_concurrency"))
        .orderBy("servicename")
    )


def sql_service_concurrency() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, ev AS (
  SELECT lower(service_name) AS servicename, start_time AS ts, 1 AS delta
  FROM spans
  UNION ALL
  SELECT lower(service_name), start_time + duration, -1 FROM spans
),
load AS (
  SELECT servicename,
         SUM(delta) OVER (PARTITION BY servicename ORDER BY ts, delta
                          ROWS UNBOUNDED PRECEDING) AS load
  FROM ev
)
SELECT servicename, CAST(MAX(load) AS BIGINT) AS peak_concurrency
FROM load GROUP BY servicename ORDER BY servicename
"""
    )


def q_trace_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level trace WELL-FORMEDNESS rollup — the V1-V3 validator
    logic (transform/validators.py) as an analytics surface: how many
    traces have exactly one root, how many have dangling parent links,
    how many are repair candidates. The number an operator watches to
    decide whether an instrumentation rollout broke span parentage.
    Two aggregates on the shared trace exchange; the dangling check is a
    within-trace span-id set membership, no self-join."""
    spans = _spans(spark, sf_dir)
    per_trace = (
        spans.groupBy("trace_id")
        .agg(
            F.sum((F.col("parent_span_id") == "").cast("long")).alias("n_roots"),
            F.collect_list("span_id").alias("ids"),
            F.collect_list("parent_span_id").alias("pids"),
        )
        .select(
            "trace_id",
            "n_roots",
            F.size(
                F.array_except(
                    F.filter("pids", lambda p: p != F.lit("")), "ids"
                )
            )
            .cast("long")
            .alias("n_dangling"),
        )
        .withColumn(
            "well_formed",
            (F.col("n_roots") == 1) & (F.col("n_dangling") == 0),
        )
    )
    return per_trace.agg(
        F.count(F.lit(1)).cast("long").alias("n_traces"),
        F.sum(F.col("well_formed").cast("long")).alias("n_well_formed"),
        F.sum((F.col("n_roots") == 0).cast("long")).alias("n_rootless"),
        F.sum((F.col("n_roots") > 1).cast("long")).alias("n_multi_root"),
        F.sum((F.col("n_dangling") > 0).cast("long")).alias("n_with_dangling"),
    )


def sql_trace_completeness() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per AS (
  SELECT s.trace_id,
         SUM(CASE WHEN parent_span_id = '' THEN 1 ELSE 0 END) AS n_roots,
         SUM(CASE WHEN parent_span_id <> '' AND parent_span_id NOT IN (
               SELECT span_id FROM spans s2 WHERE s2.trace_id = s.trace_id)
             THEN 1 ELSE 0 END) > 0 AS has_dangling
  FROM spans s GROUP BY s.trace_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_traces,
       CAST(SUM(CASE WHEN n_roots = 1 AND NOT has_dangling THEN 1 ELSE 0 END) AS BIGINT) AS n_well_formed,
       CAST(SUM(CASE WHEN n_roots = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rootless,
       CAST(SUM(CASE WHEN n_roots > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_root,
       CAST(SUM(CASE WHEN has_dangling THEN 1 ELSE 0 END) AS BIGINT) AS n_with_dangling
FROM per
"""
    )


def q_span_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-kind breakdown per service over the client/server pair
    projection — exercises the §2.9 ``span_kind`` resolver (explicit
    span.kind tag, else zipkin log markers, SpanUtils.scala:45-55) as an
    end-to-end query surface rather than unit-only; the client/server mix
    is the sanity panel for instrumentation coverage (a service emitting
    only client spans has no server-side instrumentation)."""
    from haystack_traces_spark.functions.span_funcs import span_kind

    # _cs_spans rows already carry the (empty) logs column the resolver's
    # zipkin-marker branch inspects
    cs = _cs_spans(spark, sf_dir)
    return (
        cs.select(
            F.lower("service_name").alias("servicename"),
            F.coalesce(span_kind("tags", "logs"), F.lit("unknown")).alias("kind"),
        )
        .groupBy("servicename", "kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
        .orderBy("servicename", "kind")
    )


def sql_span_kinds() -> str:
    from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

    return (
        EVENT_SPANS_CS_CTE
        + """
SELECT lower(service_name) AS servicename, kind,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM (
  SELECT service_name, 'server' AS kind FROM ev
  UNION ALL
  SELECT parent_service AS service_name, 'client' AS kind
  FROM ev WHERE parent_span_id <> ''
)
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_critical_path_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level critical-path ATTRIBUTION: which services own the
    latency that actually gates traces. Per service: how many traces have
    it on their critical path, its summed on-path span time, and its
    share of total on-path time — the prioritized optimization list
    (a service can dominate span volume yet never gate anything;
    this view ranks by what blocks end-to-end latency).

    Composition: :func:`critical_path_members` (the per-trace argmax
    root-to-leaf chain, same grouped-map walk + tie-breaks as
    critical_path) joined back to spans for service/duration, then one
    tiny rollup + a broadcast total for the share. Oracle mirrors the
    walk with a recursive CTE that CARRIES the member list.

    Known oracle divergence (same class as critical_path itself, and the
    cycle-guard notes on error_root_causes): a trace whose spans form a
    ROOTLESS parent cycle has no seed row in the recursive CTE, so the
    oracle drops it entirely, while the Spark walk's cycle guard still
    emits a chain (rooted at a guard-chosen member — row-order dependent,
    hence not mirrorable). Well-formed corpora — including the driver's —
    agree exactly; the guard behavior is pinned by
    test_timeline_cycle_guard_terminates."""
    from haystack_traces_spark.operators.timeline import critical_path_members
    from haystack_traces_spark.session import materialize

    spans = _spans(spark, sf_dir)
    members = critical_path_members(spans)
    j = members.join(
        spans.select(
            "trace_id",
            "span_id",
            F.lower("service_name").alias("servicename"),
            "duration",
        ),
        ["trace_id", "span_id"],
    )
    # per is |services|-bounded and feeds BOTH the output and its own
    # total — unpinned, the mapInPandas path walk underneath ran twice
    # per action (r12-opt)
    per = materialize(
        j.groupBy("servicename").agg(
            F.countDistinct("trace_id").cast("long").alias("n_traces"),
            F.sum("duration").cast("long").alias("path_time"),
        )
    )
    tot = per.agg(F.sum("path_time").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "servicename",
            "n_traces",
            "path_time",
            F.round(F.col("path_time") / F.col("t"), 6).alias("share"),
        )
        .orderBy("servicename")
    )


def sql_critical_path_contrib() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + f"""{_CRITICAL_PATH_MEM_CTES}
j AS (
  SELECT m.trace_id, lower(s.service_name) AS servicename, s.duration
  FROM mem m JOIN spans s USING (trace_id, span_id)
),
per AS (
  SELECT servicename, COUNT(DISTINCT trace_id) AS n_traces,
         SUM(duration) AS path_time
  FROM j GROUP BY 1
),
tot AS (SELECT SUM(path_time) AS t FROM per)
SELECT servicename, CAST(n_traces AS BIGINT) AS n_traces,
       CAST(path_time AS BIGINT) AS path_time,
       ROUND(path_time / CAST(t AS DOUBLE), 6) AS share
FROM per, tot ORDER BY servicename
"""
    )


#: The ONE SQL mirror of critical_path_members' argmax root-to-leaf
#: walk (recursive CTE carrying the member list; same tie-breaks as
#: critical_path) — shared by the contrib and drift oracles so a
#: tie-break or cycle-guard change propagates everywhere or nowhere
#: (rule 19; review r9 finding). Requires the surrounding WITH to be
#: RECURSIVE; consumers read (trace_id, span_id) from ``mem``.
_CRITICAL_PATH_MEM_CTES = """
, paths(trace_id, span_id, path_duration, members) AS (
  SELECT s.trace_id, s.span_id, s.duration, [s.span_id]
  FROM spans s
  WHERE s.parent_span_id = '' OR s.parent_span_id NOT IN (
    SELECT span_id FROM spans s2 WHERE s2.trace_id = s.trace_id)
  UNION ALL
  SELECT c.trace_id, c.span_id, p.path_duration + c.duration,
         list_append(p.members, c.span_id)
  FROM spans c JOIN paths p ON p.trace_id = c.trace_id
                           AND c.parent_span_id = p.span_id
),
leaves AS (
  SELECT p.* FROM paths p
  WHERE NOT EXISTS (SELECT 1 FROM spans ch
                    WHERE ch.trace_id = p.trace_id
                      AND ch.parent_span_id = p.span_id)
),
winner AS (
  SELECT trace_id, members,
         ROW_NUMBER() OVER (PARTITION BY trace_id
                            ORDER BY path_duration DESC, span_id ASC) AS rn
  FROM leaves
),
mem AS (
  SELECT trace_id, UNNEST(members) AS span_id FROM winner WHERE rn = 1
),"""


def q_critical_path_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, path_time_early, path_time_late, share_early,
    share_late, drift): has the latency GATE moved — per-service share of
    critical-path time in the first vs second half of the observed range
    (traces split at the midpoint of their start times), drift =
    share_late − share_early. critical_path_contrib ranks who gates
    latency NOW; this face ranks whose gating share is GROWING — the
    regression-hunt view after a deploy window (a service whose
    path-share doubled is the lead suspect even if its absolute latency
    barely moved).

    Composition: the same critical_path_members walk + span join as
    critical_path_contrib (and the same rootless-cycle oracle caveat),
    plus the per-trace t0 (rides the trace exchange) and workload_drift's
    bounded 1-row driver midpoint; one conditional rollup per service,
    half totals broadcast back. Shares are computed from exact long sums
    by one double division each, drift from the two ROUNDED shares —
    engine-stable everywhere."""
    from haystack_traces_spark.operators.timeline import critical_path_members
    from haystack_traces_spark.session import materialize

    spans = _spans(spark, sf_dir)
    # tr0 feeds BOTH the driver midpoint action and the member join —
    # pin it or the spans scan + groupBy exchange run twice (house
    # 2-branch rule; review r9 pass-2 finding)
    tr0 = materialize(
        spans.groupBy("trace_id").agg(F.min("start_time").alias("t0"))
    )
    row = tr0.agg(F.min("t0").alias("lo"), F.max("t0").alias("hi")).first()
    mid = 0 if row["lo"] is None else (int(row["lo"]) + int(row["hi"])) // 2
    members = critical_path_members(spans)
    j = members.join(
        spans.select(
            "trace_id",
            "span_id",
            F.lower("service_name").alias("servicename"),
            "duration",
        ),
        ["trace_id", "span_id"],
    ).join(tr0, "trace_id")
    late = F.col("t0") > F.lit(mid)
    # per is |services|-bounded and feeds BOTH the output and its own
    # totals — unpinned, the path walk + joins underneath ran twice per
    # action (r12-opt)
    per = materialize(
        j.groupBy("servicename").agg(
            F.sum(F.when(~late, F.col("duration")).otherwise(0))
            .cast("long")
            .alias("path_time_early"),
            F.sum(F.when(late, F.col("duration")).otherwise(0))
            .cast("long")
            .alias("path_time_late"),
        )
    )
    tot = per.agg(
        F.sum("path_time_early").alias("te"),
        F.sum("path_time_late").alias("tl"),
    )
    share_early = F.round(
        F.col("path_time_early")
        / F.nullif(F.col("te").cast("double"), F.lit(0.0)),
        6,
    )
    share_late = F.round(
        F.col("path_time_late")
        / F.nullif(F.col("tl").cast("double"), F.lit(0.0)),
        6,
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "servicename",
            "path_time_early",
            "path_time_late",
            share_early.alias("share_early"),
            share_late.alias("share_late"),
        )
        .select(
            "*",
            F.round(F.col("share_late") - F.col("share_early"), 6).alias(
                "drift"
            ),
        )
        .orderBy("servicename")
    )


def sql_critical_path_drift() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + f"""{_CRITICAL_PATH_MEM_CTES}
tr0 AS (SELECT trace_id, MIN(start_time) AS t0 FROM spans GROUP BY 1),
mid AS (SELECT (MIN(t0) + MAX(t0)) // 2 AS mid FROM tr0),
j AS (
  SELECT m.trace_id, lower(s.service_name) AS servicename, s.duration, t.t0
  FROM mem m JOIN spans s USING (trace_id, span_id)
             JOIN tr0 t USING (trace_id)
),
per AS (
  SELECT servicename,
         CAST(SUM(CASE WHEN j.t0 <= d.mid THEN duration ELSE 0 END) AS BIGINT)
           AS path_time_early,
         CAST(SUM(CASE WHEN j.t0 > d.mid THEN duration ELSE 0 END) AS BIGINT)
           AS path_time_late
  FROM j CROSS JOIN mid d GROUP BY 1
),
tot AS (SELECT SUM(path_time_early) AS te, SUM(path_time_late) AS tl FROM per),
sh AS (
  SELECT servicename, path_time_early, path_time_late,
         ROUND(path_time_early / NULLIF(CAST(te AS DOUBLE), 0.0), 6)
           AS share_early,
         ROUND(path_time_late / NULLIF(CAST(tl AS DOUBLE), 0.0), 6)
           AS share_late
  FROM per, tot
)
SELECT servicename, path_time_early, path_time_late, share_early, share_late,
       ROUND(share_late - share_early, 6) AS drift
FROM sh ORDER BY servicename
"""
    )


def q_span_fanout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service call FAN-OUT profile: how many direct children a
    service's spans spawn (avg and max) and what fraction of its spans
    are leaves — the orchestration-vs-worker fingerprint (a gateway has
    high fan-out, a leaf datastore none), and the input to sizing the
    span-buffer sessionizer state per service.

    One map-side-combinable child-count aggregate keyed by
    (trace_id, parent_span_id) joined back onto the span row (the
    span_self_time shape, counting instead of summing), then a tiny
    per-service rollup. No windows, no walk."""
    spans = _spans(spark, sf_dir)
    child_n = (
        spans.filter(F.col("parent_span_id") != "")
        .groupBy("trace_id", F.col("parent_span_id").alias("span_id"))
        .agg(F.count(F.lit(1)).alias("n_children"))
    )
    per_span = spans.select(
        "trace_id", "span_id", F.lower("service_name").alias("servicename")
    ).join(child_n, ["trace_id", "span_id"], "left")
    return (
        per_span.groupBy("servicename")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.round(F.avg(F.coalesce("n_children", F.lit(0))), 6).alias(
                "avg_fanout"
            ),
            F.max(F.coalesce("n_children", F.lit(0)))
            .cast("long")
            .alias("max_fanout"),
            F.round(
                F.avg((F.col("n_children").isNull()).cast("double")), 6
            ).alias("leaf_frac"),
        )
        .orderBy("servicename")
    )


def sql_span_fanout_stats() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, child_n AS (
  SELECT trace_id, parent_span_id AS span_id, COUNT(*) AS n_children
  FROM spans WHERE parent_span_id <> ''
  GROUP BY 1, 2
)
SELECT lower(s.service_name) AS servicename,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(AVG(COALESCE(c.n_children, 0)), 6) AS avg_fanout,
       CAST(MAX(COALESCE(c.n_children, 0)) AS BIGINT) AS max_fanout,
       ROUND(AVG(CASE WHEN c.n_children IS NULL THEN 1.0 ELSE 0.0 END), 6)
         AS leaf_frac
FROM spans s LEFT JOIN child_n c USING (trace_id, span_id)
GROUP BY 1 ORDER BY 1
"""
    )


def q_error_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which services FAIL TOGETHER: for every unordered service pair,
    the number of traces where both carry an error span, with the
    Jaccard of their failing-trace sets — cascade detection (a high
    co-failure Jaccard between a pair that error_root_causes attributes
    to only ONE of them is the signature of fault propagation along a
    dependency edge).

    Scale shape: the distinct (trace, service) failing set is tiny
    relative to spans (one combinable aggregate); the pair join is a
    self-join keyed on trace_id whose per-trace row count is the
    failing-services-per-trace fan-out (single digits), never span
    volume. Pairs are canonical (svc_a < svc_b)."""
    spans = _spans(spark, sf_dir)
    fail = (
        spans.select(
            "trace_id",
            F.lower("service_name").alias("svc"),
            _errorcode().alias("ec"),
        )
        .filter(F.col("ec") >= ERROR_THRESHOLD)
        .select("trace_id", "svc")
        .distinct()
    )
    per_svc = fail.groupBy("svc").agg(F.count(F.lit(1)).alias("n_traces"))
    a = fail.select("trace_id", F.col("svc").alias("svc_a"))
    b = fail.select("trace_id", F.col("svc").alias("svc_b"))
    both = (
        a.join(b, "trace_id")
        .filter(F.col("svc_a") < F.col("svc_b"))
        .groupBy("svc_a", "svc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = per_svc.select(F.col("svc").alias("svc_a"), F.col("n_traces").alias("na"))
    nb = per_svc.select(F.col("svc").alias("svc_b"), F.col("n_traces").alias("nb"))
    return (
        both.join(F.broadcast(na), "svc_a")
        .join(F.broadcast(nb), "svc_b")
        .select(
            "svc_a",
            "svc_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("na") + F.col("nb") - F.col("n_both")),
                6,
            ).alias("cofail_jaccard"),
        )
        .orderBy("svc_a", "svc_b")
    )


def sql_error_cooccurrence() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, fail AS (
  SELECT DISTINCT trace_id, lower(service_name) AS svc
  FROM spans WHERE COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
),
per_svc AS (SELECT svc, COUNT(*) AS n FROM fail GROUP BY 1),
cof AS (
  SELECT a.svc AS svc_a, b.svc AS svc_b, COUNT(*) AS n_both
  FROM fail a JOIN fail b ON b.trace_id = a.trace_id AND a.svc < b.svc
  GROUP BY 1, 2
)
SELECT svc_a, svc_b, CAST(n_both AS BIGINT) AS n_both,
       ROUND(n_both / CAST(na.n + nb.n - n_both AS DOUBLE), 6)
         AS cofail_jaccard
FROM cof
JOIN per_svc na ON na.svc = cof.svc_a
JOIN per_svc nb ON nb.svc = cof.svc_b
ORDER BY svc_a, svc_b
"""
    )


def q_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the time sits in the CALL TREE: span count, mean duration and
    total time per tree depth — the "is latency at the edge or in the
    fan-out" fingerprint (depth-0-heavy = gateway-bound; deep-tail-heavy
    = amplification in the backends). Depth rides the shared per-trace
    timeline walk; the rollup is one tiny aggregate keyed by depth.
    (Parent-cycle spans: the walk roots them at guard-chosen depths while
    the oracle's recursive CTE drops them — same documented divergence
    class as error_root_causes/critical_path; well-formed corpora agree.)
    """
    from haystack_traces_spark.operators.timeline import trace_timeline

    spans = _spans(spark, sf_dir)
    tl = trace_timeline(spans)
    return (
        tl.groupBy("depth")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.round(F.avg("duration"), 6).alias("avg_duration"),
            F.sum("duration").cast("long").alias("total_duration"),
        )
        .select(F.col("depth").cast("long").alias("depth"),
                "n_spans", "avg_duration", "total_duration")
        .orderBy("depth")
    )


def sql_depth_profile() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + _DEPTH_CTE_SQL
        + """
SELECT CAST(d.depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(AVG(s.duration), 6) AS avg_duration,
       CAST(SUM(s.duration) AS BIGINT) AS total_duration
FROM d JOIN spans s USING (trace_id, span_id)
GROUP BY 1 ORDER BY 1
"""
    )


# the streaming gate owns the tail-sampling policy AND its thresholds —
# one source so the batch and streaming faces cannot drift (review fix)
from haystack_traces_spark.streaming.sampling_stream import (  # noqa: E402
    DEFAULT_RATE_PCT as SAMPLING_RATE_PCT,
    DEFAULT_SLOW_US as SAMPLING_SLOW_US,
)


def q_tail_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL-BASED sampling decisions — the policy a tracing pipeline
    applies once a trace is COMPLETE (vs head-based coin flips at the
    first span): keep every trace with an error span, keep every trace
    slower than the threshold, hash-sample the boring rest at a fixed
    rate. The decision table is what the sampler sink writes; `reason`
    is the audit column (error > slow > hash precedence).

    Scale shape: one combinable per-trace aggregate on the shared trace
    exchange; the keep decision is pure expressions (deterministic
    hash60 on trace_id — reproducible across engines and restarts, no
    RNG state). The policy expression is shared with the streaming gate
    (streaming/sampling_stream.py) so the two faces cannot drift."""
    from haystack_traces_spark.streaming.sampling_stream import sampling_reason

    spans = _spans(spark, sf_dir)
    per_trace = spans.groupBy("trace_id").agg(
        F.max(
            (_errorcode() >= ERROR_THRESHOLD).cast("int")
        ).alias("has_error"),
        (
            F.max(F.col("start_time") + F.col("duration"))
            - F.min("start_time")
        ).alias("trace_dur"),
    )
    reason = sampling_reason(SAMPLING_SLOW_US, SAMPLING_RATE_PCT)
    return (
        per_trace.select(
            "trace_id",
            (F.col("has_error") == 1).alias("has_error"),
            F.col("trace_dur").cast("long").alias("trace_dur"),
            reason.alias("reason"),
        )
        .withColumn("sampled", F.col("reason") != "drop")
        .orderBy("trace_id")
    )


def sql_tail_sampling() -> str:
    from haystack_traces_spark.datapipe.hashing import hash60_sql

    b = f"{hash60_sql('trace_id', seed='tail:')} % 100"
    return (
        EVENT_SPANS_CTE
        + f"""
, per_trace AS (
  SELECT trace_id,
         MAX(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
                  THEN 1 ELSE 0 END) AS has_error,
         MAX(start_time + duration) - MIN(start_time) AS trace_dur
  FROM spans GROUP BY trace_id
)
SELECT trace_id, has_error = 1 AS has_error,
       CAST(trace_dur AS BIGINT) AS trace_dur,
       CASE WHEN has_error = 1 THEN 'error'
            WHEN trace_dur > {SAMPLING_SLOW_US} THEN 'slow'
            WHEN {b} < {SAMPLING_RATE_PCT} THEN 'hash'
            ELSE 'drop' END AS reason,
       CASE WHEN has_error = 1 THEN 'error'
            WHEN trace_dur > {SAMPLING_SLOW_US} THEN 'slow'
            WHEN {b} < {SAMPLING_RATE_PCT} THEN 'hash'
            ELSE 'drop' END <> 'drop' AS sampled
FROM per_trace ORDER BY trace_id
"""
    )


def q_retry_storms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated identical (service, operation) invocations inside one
    trace — the retry-amplification signature (a client retrying a flaky
    dependency shows up as the same logical call N times in a single
    trace). Per (service, operation): how many traces repeat it, the
    worst burst, and the total extra calls retries added.

    Scale shape: two map-side-combinable hash aggregates — the first
    keyed (trace_id, svc, op) rides the shared trace exchange, the
    second reduces to the (svc, op) catalog (tiny). No joins, no
    windows."""
    spans = _spans(spark, sf_dir)
    per_trace = (
        spans.groupBy("trace_id", "service_name", "operation_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
    )
    return (
        per_trace.groupBy("service_name", "operation_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.max("c").cast("long").alias("max_repeats"),
            F.sum(F.col("c") - 1).cast("long").alias("extra_calls"),
        )
        .orderBy("service_name", "operation_name")
    )


def sql_retry_storms() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per_trace AS (
  SELECT trace_id, service_name, operation_name, COUNT(*) AS c
  FROM spans GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
)
SELECT service_name, operation_name,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       CAST(MAX(c) AS BIGINT) AS max_repeats,
       CAST(SUM(c - 1) AS BIGINT) AS extra_calls
FROM per_trace GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_error_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-chain edges: for every ERROR span whose parent span ALSO
    errored, the (parent service → child service) propagation edge —
    distinguishing faults that travel along the call chain from faults
    that originate locally (parent clean). Complements
    error_cooccurrence (set overlap, no direction) and error_root_causes
    (deepest attribution) with the edge-level propagation rate.

    Scale shape: the child side is pre-filtered to error spans (a small
    fraction of volume) before the join; both sides shuffle on
    (trace_id, span-key) — the parent lookup is a keyed equi-join, never
    a cartesian, and the output is bounded by the service-pair
    catalog."""
    spans = _spans(spark, sf_dir)
    base = spans.select(
        "trace_id", "span_id", "parent_span_id", "service_name",
        _errorcode().alias("ec"),
    )
    child = base.filter(
        (F.col("ec") >= ERROR_THRESHOLD) & (F.col("parent_span_id") != "")
    ).select(
        "trace_id", "parent_span_id", F.col("service_name").alias("child_svc")
    )
    parent = base.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.col("service_name").alias("parent_svc"),
        (F.col("ec") >= ERROR_THRESHOLD).cast("long").alias("parent_err"),
    )
    return (
        child.join(parent, ["trace_id", "parent_span_id"])
        .groupBy("parent_svc", "child_svc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child_errors"),
            F.sum("parent_err").cast("long").alias("n_propagated"),
        )
        .withColumn(
            "propagation_rate",
            F.round(F.col("n_propagated") / F.col("n_child_errors"), 6),
        )
        .orderBy("parent_svc", "child_svc")
    )


def sql_error_propagation() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT p.service_name AS parent_svc, c.service_name AS child_svc,
       CAST(COUNT(*) AS BIGINT) AS n_child_errors,
       CAST(SUM(CASE WHEN p.errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_propagated,
       ROUND(SUM(CASE WHEN p.errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS propagation_rate
FROM spans c
JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
WHERE c.errorcode >= {ERROR_THRESHOLD} AND c.parent_span_id <> ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_service_entry_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service ENTRY-POINT profile: which operations appear as trace
    roots, with each operation's share of the service's root traffic —
    the "what do callers actually hit first" view used for gateway
    capacity planning and SLO scoping.

    Scale shape: one combinable aggregate on the root filter (pushed to
    the scan), then a window partitioned by SERVICE over the tiny
    (svc, op) catalog — never over span volume."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    counts = (
        spans.filter(F.col("parent_span_id") == "")
        .groupBy("service_name", "operation_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_roots"))
    )
    w = Window.partitionBy("service_name")
    return counts.select(
        "service_name",
        "operation_name",
        "n_roots",
        F.round(F.col("n_roots") / F.sum("n_roots").over(w), 6).alias("share"),
    ).orderBy("service_name", "operation_name")


def sql_service_entry_points() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT service_name, operation_name,
       CAST(COUNT(*) AS BIGINT) AS n_roots,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY service_name)
             AS DOUBLE), 6) AS share
FROM spans WHERE parent_span_id = ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_operation_latency_trend(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Per-(service, operation, day) p50 latency with the day-over-day
    delta — the regression-detection trend line behind "did yesterday's
    deploy make this endpoint slower". Exact percentile keeps the oracle
    hash-exact; ``approx=True`` is the 100 TB face (percentile_approx,
    a mergeable sketch) — see SCALE.md's dual-face table.

    Scale shape: one combinable aggregate keyed (svc, op, day); the LAG
    window partitions per (svc, op) over day buckets (bounded by the
    calendar, not data volume)."""
    from pyspark.sql import Window

    p50 = (
        F.percentile_approx("duration", F.lit(0.5), F.lit(10000))
        if approx
        else F.percentile("duration", F.lit(0.5))
    )
    spans = _spans(spark, sf_dir)
    day = (F.col("start_time") - F.col("start_time") % DAY_US).alias("day_us")
    daily = spans.groupBy("service_name", "operation_name", day).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.round(p50, 6).alias("p50"),
    )
    w = Window.partitionBy("service_name", "operation_name").orderBy("day_us")
    return daily.select(
        "service_name",
        "operation_name",
        "day_us",
        "n_spans",
        "p50",
        F.round(F.col("p50") - F.lag("p50").over(w), 6).alias("p50_delta"),
    ).orderBy("service_name", "operation_name", "day_us")


def sql_operation_latency_trend() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, daily AS (
  SELECT service_name, operation_name,
         start_time - start_time % {DAY_US} AS day_us,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         ROUND(quantile_cont(duration, 0.5), 6) AS p50
  FROM spans GROUP BY 1, 2, 3
)
SELECT service_name, operation_name, day_us, n_spans, p50,
       ROUND(p50 - LAG(p50) OVER (PARTITION BY service_name, operation_name
                                  ORDER BY day_us), 6) AS p50_delta
FROM daily ORDER BY service_name, operation_name, day_us
"""
    )


def q_network_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(caller → callee) network-delta profile from the client/server
    span pairs: networkDelta = client duration − server duration, the
    U4/SpanMerger quantity (SpanMerger.scala:96-106) rolled up as an
    analytics surface — "how much latency does the WIRE between these
    two services add".

    The engine computes it the honest way (pair the two kinds per
    span_id, subtract); the oracle derives the same number independently
    from the generative model (2*net per non-root event), so the merge
    arithmetic is cross-checked, not mirrored.

    Scale shape: one aggregate keyed (trace_id, span_id) — rides the
    trace exchange — then a tiny (caller, callee) rollup."""
    return network_deltas(_cs_spans_raw(spark, sf_dir))


def network_deltas(cs: DataFrame) -> DataFrame:
    """The (caller → callee) networkDelta rollup over any client/server
    span frame (tags carry span.kind) — split out of q_network_deltas so
    crafted frames can exercise the pairing arithmetic directly."""
    from haystack_traces_spark.transform.tags import tag_str

    kind = tag_str("tags", "span.kind")
    per_span = (
        cs.groupBy("trace_id", "span_id")
        .agg(
            F.max(F.when(kind == "client", F.col("service_name"))).alias(
                "client_svc"
            ),
            F.max(F.when(kind == "server", F.col("service_name"))).alias(
                "server_svc"
            ),
            F.max(F.when(kind == "client", F.col("duration"))).alias("client_dur"),
            F.max(F.when(kind == "server", F.col("duration"))).alias("server_dur"),
        )
        .filter(F.col("client_svc").isNotNull() & F.col("server_svc").isNotNull())
    )
    delta = F.col("client_dur") - F.col("server_dur")
    return (
        per_span.groupBy("client_svc", "server_svc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.round(F.avg(delta), 6).alias("avg_delta"),
            F.max(delta).cast("long").alias("max_delta"),
        )
        .orderBy("client_svc", "server_svc")
    )


def sql_network_deltas() -> str:
    from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

    return (
        EVENT_SPANS_CS_CTE
        + """
SELECT parent_service AS client_svc, service_name AS server_svc,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       ROUND(AVG(2 * net), 6) AS avg_delta,
       CAST(MAX(2 * net) AS BIGINT) AS max_delta
FROM ev WHERE parent_span_id <> ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_error_latency_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service latency TAX of failure: mean duration of errored spans
    vs clean spans and their ratio — errors that are also slow (timeouts,
    retry exhaustion) read > 1, fast-fail errors < 1. The triage hint
    that separates "failing slow" (capacity/timeout work) from "failing
    fast" (validation/4xx work). Services with no error spans report a
    NULL tax (consistent cross-engine: AVG over an empty slice).
    Lowercased service key — same normalization as the apdex/error-rate
    family it sits beside.

    Scale shape: ONE map-side-combinable aggregate (conditional sums) —
    no joins, no windows."""
    spans = _spans(spark, sf_dir)
    is_err = _errorcode() >= ERROR_THRESHOLD
    return (
        spans.groupBy(F.lower("service_name").alias("servicename"))
        .agg(
            F.count(F.when(~is_err, 1)).cast("long").alias("n_ok"),
            F.count(F.when(is_err, 1)).cast("long").alias("n_err"),
            F.round(F.avg(F.when(~is_err, F.col("duration"))), 6).alias("avg_ok"),
            F.round(F.avg(F.when(is_err, F.col("duration"))), 6).alias("avg_err"),
        )
        .withColumn(
            "tax_ratio", F.round(F.col("avg_err") / F.col("avg_ok"), 6)
        )
        .orderBy("servicename")
    )


def sql_error_latency_tax() -> str:
    # COALESCE(errorcode, 0): a span without the tag is a CLEAN span on
    # both faces (the Spark side's _errorcode() contract) — a bare
    # `errorcode < T` would silently drop NULLs from n_ok/avg_ok
    return (
        EVENT_SPANS_CTE
        + f"""
, t AS (
  SELECT lower(service_name) AS servicename,
         CAST(COUNT(CASE WHEN COALESCE(errorcode, 0) < {ERROR_THRESHOLD} THEN 1 END) AS BIGINT) AS n_ok,
         CAST(COUNT(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD} THEN 1 END) AS BIGINT) AS n_err,
         ROUND(AVG(CASE WHEN COALESCE(errorcode, 0) < {ERROR_THRESHOLD} THEN duration END), 6) AS avg_ok,
         ROUND(AVG(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD} THEN duration END), 6) AS avg_err
  FROM spans GROUP BY 1
)
SELECT servicename, n_ok, n_err, avg_ok, avg_err,
       ROUND(avg_err / avg_ok, 6) AS tax_ratio
FROM t ORDER BY servicename
"""
    )


MAD_K = 5.0


def q_span_mad_outliers(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """Robust-statistics counterpart of span_anomalies: spans whose
    |duration − median| exceeds ``MAD_K`` × the group's median absolute
    deviation, per (service, operation). Unlike the z-score face, the
    median/MAD pair is immune to the outliers it is hunting (one 10-min
    hang inflates a stddev enough to hide second-tier stragglers; it
    moves a median by one rank). Groups with MAD 0 (constant durations)
    are excluded — any deviation there is trivially "infinite".

    Scale shape: two combinable (svc, op) aggregates (median, then MAD of
    deviations against the broadcast median table) + the tiny stats
    broadcast back onto the span scan; robust z rounded before the
    threshold compare (cross-engine float discipline). ``approx=True``
    is the 100 TB face: both percentiles become mergeable sketches —
    median/MAD only anchor a 5x threshold, so sketch error is tolerated
    by design (SCALE.md dual-face table)."""
    def med_of(col):
        if approx:
            return F.percentile_approx(col, F.lit(0.5), F.lit(10000))
        return F.percentile(col, F.lit(0.5))

    spans = _spans(spark, sf_dir).select(
        "trace_id", "span_id", "service_name", "operation_name", "duration"
    )
    med = spans.groupBy("service_name", "operation_name").agg(
        med_of("duration").alias("med")
    )
    dev = spans.join(F.broadcast(med), ["service_name", "operation_name"])
    mad = dev.groupBy("service_name", "operation_name").agg(
        med_of(F.abs(F.col("duration") - F.col("med"))).alias("mad")
    )
    rz = F.round(F.abs(F.col("duration") - F.col("med")) / F.col("mad"), 6)
    return (
        dev.join(F.broadcast(mad), ["service_name", "operation_name"])
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", rz)
        .filter(F.col("robust_z") >= MAD_K)
        .select(
            "trace_id",
            "span_id",
            "service_name",
            "operation_name",
            F.col("duration").cast("long").alias("duration"),
            "robust_z",
        )
        .orderBy("trace_id", "span_id")
    )


def sql_span_mad_outliers() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, med AS (
  SELECT service_name, operation_name, quantile_cont(duration, 0.5) AS med
  FROM spans GROUP BY 1, 2
),
madt AS (
  SELECT s.service_name, s.operation_name,
         quantile_cont(abs(s.duration - m.med), 0.5) AS mad
  FROM spans s JOIN med m USING (service_name, operation_name)
  GROUP BY 1, 2
)
SELECT s.trace_id, s.span_id, s.service_name, s.operation_name,
       CAST(s.duration AS BIGINT) AS duration,
       ROUND(abs(s.duration - m.med) / t.mad, 6) AS robust_z
FROM spans s
JOIN med m USING (service_name, operation_name)
JOIN madt t USING (service_name, operation_name)
WHERE t.mad > 0 AND ROUND(abs(s.duration - m.med) / t.mad, 6) >= {MAD_K}
ORDER BY s.trace_id, s.span_id
"""
    )


def q_operation_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment-surface tracking: how many NEVER-BEFORE-SEEN
    (service, operation) pairs first appear on each day — a spike marks a
    rollout (new endpoints), a trickle marks instrumentation drift. Two
    combinable aggregates ((svc, op) → min day, then day → count); output
    is calendar-bounded."""
    spans = _spans(spark, sf_dir)
    day = F.col("start_time") - F.col("start_time") % DAY_US
    first = spans.groupBy("service_name", "operation_name").agg(
        F.min(day).alias("day_us")
    )
    return (
        first.groupBy("day_us")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_ops"))
        .orderBy("day_us")
    )


def sql_operation_first_seen() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, first AS (
  SELECT service_name, operation_name,
         MIN(start_time - start_time % {DAY_US}) AS day_us
  FROM spans GROUP BY 1, 2
)
SELECT day_us, CAST(COUNT(*) AS BIGINT) AS n_new_ops
FROM first GROUP BY day_us ORDER BY day_us
"""
    )


def q_parent_child_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(parent service → child service) HANDOFF latency: the gap
    between the parent span's start and each child span's start — queue
    wait + network + parent-side processing before the downstream call
    is issued. Complements network_deltas (wire-only, from the cs pairs)
    with the full scheduling delay along every call edge.

    Scale shape: keyed equi-join of spans to their parents on
    (trace_id, span-key) — same shape as error_propagation but over full
    span volume, so both sides shuffle once on the trace-key composite;
    the rollup is bounded by the service-pair catalog."""
    spans = _spans(spark, sf_dir)
    child = spans.filter(F.col("parent_span_id") != "").select(
        "trace_id",
        "parent_span_id",
        F.col("service_name").alias("child_svc"),
        F.col("start_time").alias("child_start"),
    )
    parent = spans.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.col("service_name").alias("parent_svc"),
        F.col("start_time").alias("parent_start"),
    )
    gap = F.col("child_start") - F.col("parent_start")
    return (
        child.join(parent, ["trace_id", "parent_span_id"])
        .groupBy("parent_svc", "child_svc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.round(F.avg(gap), 6).alias("avg_gap"),
            F.max(gap).cast("long").alias("max_gap"),
        )
        .orderBy("parent_svc", "child_svc")
    )


def sql_parent_child_latency() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT p.service_name AS parent_svc, c.service_name AS child_svc,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       ROUND(AVG(c.start_time - p.start_time), 6) AS avg_gap,
       CAST(MAX(c.start_time - p.start_time) AS BIGINT) AS max_gap
FROM spans c
JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
WHERE c.parent_span_id <> ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_span_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clock-skew / containment audit: a child span should run inside its
    parent's [start, end] window; children that start before the parent
    or end after it betray clock skew between hosts, async fire-and-forget
    mis-instrumented as child calls, or buffered-flush timestamping. Per
    (parent service → child service) edge: children checked, escapees,
    escape rate — the data-quality panel that tells you which service
    pair's timings you cannot trust before you read a waterfall.

    Scale shape: the same keyed parent-lookup equi-join as
    parent_child_latency; the containment test is pure expressions on the
    joined row; output bounded by the service-pair catalog."""
    spans = _spans(spark, sf_dir)
    child = spans.filter(F.col("parent_span_id") != "").select(
        "trace_id",
        "parent_span_id",
        F.col("service_name").alias("child_svc"),
        F.col("start_time").alias("c_start"),
        (F.col("start_time") + F.col("duration")).alias("c_end"),
    )
    parent = spans.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.col("service_name").alias("parent_svc"),
        F.col("start_time").alias("p_start"),
        (F.col("start_time") + F.col("duration")).alias("p_end"),
    )
    escapes = (
        (F.col("c_start") < F.col("p_start")) | (F.col("c_end") > F.col("p_end"))
    ).cast("long")
    return (
        child.join(parent, ["trace_id", "parent_span_id"])
        .groupBy("parent_svc", "child_svc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_children"),
            F.sum(escapes).cast("long").alias("n_escaping"),
        )
        .withColumn(
            "escape_rate", F.round(F.col("n_escaping") / F.col("n_children"), 6)
        )
        .orderBy("parent_svc", "child_svc")
    )


def sql_span_containment() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT p.service_name AS parent_svc, c.service_name AS child_svc,
       CAST(COUNT(*) AS BIGINT) AS n_children,
       CAST(SUM(CASE WHEN c.start_time < p.start_time
                       OR c.start_time + c.duration > p.start_time + p.duration
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_escaping,
       ROUND(SUM(CASE WHEN c.start_time < p.start_time
                        OR c.start_time + c.duration > p.start_time + p.duration
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS escape_rate
FROM spans c
JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
WHERE c.parent_span_id <> ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )



def q_sampling_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (service_name, n_full, n_kept, p50_full, p50_kept, p95_full,
    p95_kept, p95_rel_err): does the SHIPPED tail-sampling policy
    preserve each service's latency distribution — exact per-service
    p50/p95 over ALL spans vs over spans of KEPT traces only, with the
    relative p95 error derived from the UNROUNDED quantiles (house
    rule). `sampling_bias_report` says what the sampler keeps; this says
    what the dashboards built on the kept data will MIS-READ (tail
    sampling over-keeps slow traces by design, so kept-p95 skews high —
    the number an SRE must know before trusting a sampled SLO, and the
    distortion `sampling_debias_weights` exists to correct).

    Scale shape: the decision table rides the shared trace exchange;
    spans join it on the same key; two combinable per-service quantile
    rollups (exact face — the approx_percentile swap is the documented
    scale path for percentiles, SCALE.md §5)."""
    spans = _spans(spark, sf_dir)
    kept_ids = q_tail_sampling(spark, sf_dir).filter(
        F.col("reason") != "drop"
    ).select("trace_id")
    sv = spans.filter(F.col("service_name") != "").select(
        "trace_id", "service_name", "duration"
    )
    full = sv.groupBy("service_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_full"),
        F.expr("percentile(duration, 0.5)").alias("_p50_full"),
        F.expr("percentile(duration, 0.95)").alias("_p95_full"),
    )
    kept = (
        sv.join(kept_ids, "trace_id")
        .groupBy("service_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.expr("percentile(duration, 0.5)").alias("_p50_kept"),
            F.expr("percentile(duration, 0.95)").alias("_p95_kept"),
        )
    )
    return (
        full.join(kept, "service_name", "left")
        .select(
            "service_name",
            "n_full",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.round("_p50_full", 6).alias("p50_full"),
            F.round("_p50_kept", 6).alias("p50_kept"),
            F.round("_p95_full", 6).alias("p95_full"),
            F.round("_p95_kept", 6).alias("p95_kept"),
            F.round(
                F.abs(F.col("_p95_kept") - F.col("_p95_full"))
                / F.nullif(F.col("_p95_full"), F.lit(0.0)),
                6,
            ).alias("p95_rel_err"),
        )
        .orderBy("service_name")
    )


def sql_sampling_fidelity() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, kept AS (
  SELECT trace_id FROM ({sql_tail_sampling()}) t WHERE reason <> 'drop'
),
sv AS (
  SELECT trace_id, service_name, duration FROM spans
  WHERE service_name <> ''
),
fullq AS (
  SELECT service_name, CAST(COUNT(*) AS BIGINT) AS n_full,
         quantile_cont(duration, 0.5) AS p50f,
         quantile_cont(duration, 0.95) AS p95f
  FROM sv GROUP BY 1
),
keptq AS (
  SELECT service_name, CAST(COUNT(*) AS BIGINT) AS n_kept,
         quantile_cont(duration, 0.5) AS p50k,
         quantile_cont(duration, 0.95) AS p95k
  FROM sv JOIN kept USING (trace_id) GROUP BY service_name
)
SELECT f.service_name, f.n_full, COALESCE(k.n_kept, 0) AS n_kept,
       ROUND(f.p50f, 6) AS p50_full, ROUND(k.p50k, 6) AS p50_kept,
       ROUND(f.p95f, 6) AS p95_full, ROUND(k.p95k, 6) AS p95_kept,
       ROUND(ABS(k.p95k - f.p95f) / NULLIF(f.p95f, 0), 6) AS p95_rel_err
FROM fullq f LEFT JOIN keptq k USING (service_name)
ORDER BY f.service_name
"""
    )


def q_sampling_bias_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the tail-sampling policy: per decision reason, how many
    traces, what share of the corpus, and the mean trace duration — the
    table an SRE reads to confirm the sampler keeps what matters (error
    and slow means should dwarf the hash bucket's) and to predict storage
    from the keep fraction. Composition over the shared tail_sampling
    decision table; ONE pass — the reasons partition the population, so
    the total is a window SUM over the ≤4-row rollup (the
    service_entry_points share pattern), never a second scan of the
    decision lineage."""
    from pyspark.sql import Window

    decisions = q_tail_sampling(spark, sf_dir)
    rolled = decisions.groupBy("reason").agg(
        F.count(F.lit(1)).cast("long").alias("n_traces"),
        F.round(F.avg("trace_dur"), 6).alias("avg_dur"),
    )
    total = F.sum("n_traces").over(Window.partitionBy())
    return rolled.select(
        "reason",
        "n_traces",
        F.round(F.col("n_traces") / total, 6).alias("share"),
        "avg_dur",
    ).orderBy("reason")


def sql_sampling_bias_report() -> str:
    return f"""
WITH d AS ({sql_tail_sampling().strip()})
SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_traces,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share,
       ROUND(AVG(trace_dur), 6) AS avg_dur
FROM d GROUP BY reason ORDER BY reason
"""


def q_service_scorecard(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """One-row-per-service HEALTH SCORECARD: traffic, error rate, apdex
    and p95 latency in a single pass — the overview panel every other
    operator drills down from (operation_error_rates, apdex,
    service_latency_percentiles each expand one column of this table).
    Lowercased service key, SAME normalization as q_apdex (the
    column-consistency test pins them equal).

    Scale shape: ONE map-side-combinable aggregate per service
    (conditional sums + exact percentile; ``approx=True`` is the 100 TB
    face: percentile_approx for the p95 column — SCALE.md dual-face
    table)."""
    p95 = (
        F.percentile_approx("duration", F.lit(0.95), F.lit(10000))
        if approx
        else F.percentile("duration", F.lit(0.95))
    )
    spans = _spans(spark, sf_dir)
    is_err = _errorcode() >= ERROR_THRESHOLD
    sat = F.col("duration") <= APDEX_T
    tol = (F.col("duration") > APDEX_T) & (
        F.col("duration") <= 4 * APDEX_T
    )
    return (
        spans.groupBy(F.lower("service_name").alias("servicename"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.round(
                F.sum(is_err.cast("long")) / F.count(F.lit(1)), 6
            ).alias("error_rate"),
            F.round(
                (F.sum(sat.cast("long")) + F.sum(tol.cast("long")) / 2)
                / F.count(F.lit(1)),
                6,
            ).alias("apdex"),
            F.round(p95, 6).alias("p95"),
        )
        .orderBy("servicename")
    )


def sql_service_scorecard() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(SUM(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate,
       ROUND((SUM(CASE WHEN duration <= {APDEX_T} THEN 1 ELSE 0 END)
              + SUM(CASE WHEN duration > {APDEX_T}
                          AND duration <= {4 * APDEX_T}
                         THEN 1 ELSE 0 END) / 2.0)
             / CAST(COUNT(*) AS DOUBLE), 6) AS apdex,
       ROUND(quantile_cont(duration, 0.95), 6) AS p95
FROM spans GROUP BY 1 ORDER BY 1
"""
    )


SESSION_GAP_US = 12 * HOUR_US  # batch sessionization gap (~median gap 8 h)


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization of the raw event stream — the gaps-and-islands
    analog of the T1 streaming sessionizer: a new session opens whenever a
    user's inter-event gap exceeds ``SESSION_GAP_US``; per session the
    rollup reports event count, start and wall duration. The offline
    backfill face of session analytics (streaming keeps state per live
    key; batch recomputes the same islands from history).

    Scale shape: one LAG + one running-SUM window, both partitioned by
    USER (the trace key — same exchange every trace operator shuffles
    on), then a combinable (user, session) rollup. No global window."""
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    ev = events.select(
        "user_id", "event_id", _epoch_micros(events).alias("tus")
    )
    return sessionize_events(ev)


def island_index(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    gap: int,
    order_cols: tuple = (),
) -> DataFrame:
    """THE gaps-and-islands core (one definition — sessionization and
    incident-window merging both ride it): adds ``island_idx`` (1-based
    per key), where a new island opens whenever the gap to the previous
    row exceeds ``gap``. ``order_cols`` break ordering ties at equal
    timestamps (deterministic islands need a total order)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    return (
        df.withColumn(
            "_new_island",
            F.when(
                F.coalesce(
                    F.col(ts_col) - F.lag(ts_col).over(w), F.lit(gap + 1)
                )
                > gap,
                1,
            ).otherwise(0),
        )
        .withColumn("island_idx", F.sum("_new_island").over(w))
        .drop("_new_island")
    )


def sessionize_events(ev: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Session rollup over any (user_id, event_id, tus) frame — split out
    of q_event_sessions so crafted frames can pin the island boundaries
    directly; islands come from the shared :func:`island_index`."""
    flagged = island_index(
        ev, ["user_id"], "tus", gap_us, order_cols=("event_id",)
    ).withColumnRenamed("island_idx", "session_idx")
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("tus").alias("session_start"),
            (F.max("tus") - F.min("tus")).cast("long").alias("session_dur"),
        )
        .orderBy("user_id", "session_idx")
    )


def _islands_cte_sql() -> str:
    """THE islands oracle chain (one definition — sql_event_sessions and
    sql_native_session_windows differ only in their final projection):
    ev → flagged (LAG gap rule, ``> gap`` — Spark's native session
    windows MERGE the exact-gap boundary, so both faces share the rule)
    → sess (running-SUM island index)."""
    return f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
),
flagged AS (
  SELECT user_id, event_id, tus,
         CASE WHEN COALESCE(tus - LAG(tus) OVER w, {SESSION_GAP_US + 1})
                   > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
sess AS (
  -- same (tus, event_id) total order as the flag window: without the
  -- event_id tiebreak, same-ts peers could be summed before the row
  -- that opened their session and land in the previous island
  SELECT user_id, tus,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
"""


def sql_event_sessions() -> str:
    return (
        _islands_cte_sql()
        + """
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(tus) AS session_start,
       CAST(MAX(tus) - MIN(tus) AS BIGINT) AS session_dur
FROM sess GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


#: Anchored-session window — same horizon as the gap face so the two
#: sessionization rules are directly comparable on one corpus.
ANCHOR_WINDOW_US = SESSION_GAP_US


def anchored_sessions(ev: DataFrame, window_us: int = ANCHOR_WINDOW_US) -> DataFrame:
    """BATCH face of round 7's event-time ANCHORED sessionization (the
    T1 window-from-first-seen rule transplanted onto the event clock):
    a session opens at its first event and admits every event in
    [anchor, anchor + window); the next event opens a new session. The
    island rule is the STREAMING face's own `_split_islands` — one
    definition, so the batch backfill and the live replay
    (`sessionize_event_time(mode="anchored")`) cannot drift.

    Scale shape: one exchange on the user key (the same one every
    session operator shuffles on); per-user history is the bounded unit
    of work, exactly as in the streaming state. Unlike the gap rule (a
    LAG window), anchored islands are a sequential fold — the anchor
    depends on every prior event — so a Python pass is required; it runs
    as ONE mapInPandas stream per partition over key-sorted rows
    (r12-opt, guide §4.1/§4.5) instead of the former per-user
    applyInPandas grouped map, whose one-pandas-call-per-user overhead
    dominated at ~1 500 users/trace keys (measured 4.5 s → the fold
    itself is ~50 ms of Python at sf0.1). Group boundaries are detected
    in-stream; a user's rows never split across partitions (hash
    repartition on user_id), and the tail user's rows are carried across
    Arrow batch boundaries."""
    import pandas as pd

    from haystack_traces_spark.streaming.sessionize import _split_islands

    cols = ["user_id", "session_idx", "n_events", "session_start", "session_end"]

    def fold_stream(pdfs):
        out: list[tuple] = []

        def emit(uid, evs):
            for i, isl in enumerate(_split_islands(evs, "anchored", window_us)):
                out.append((uid, i + 1, len(isl), isl[0][0], isl[-1][0]))

        pend_uid, pend = None, []
        for pdf in pdfs:
            for u, t, e in zip(
                pdf["user_id"].tolist(),
                pdf["tus"].tolist(),
                pdf["event_id"].tolist(),
            ):
                if u != pend_uid:
                    if pend_uid is not None:
                        emit(pend_uid, pend)
                    pend_uid, pend = u, []
                pend.append((t, e))
            if len(out) >= 65536:  # bound per-partition buffering
                yield pd.DataFrame(out, columns=cols)
                out = []
        if pend_uid is not None:
            emit(pend_uid, pend)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "tus", "event_id")
        .mapInPandas(
            fold_stream,
            "user_id long, session_idx long, n_events long, "
            "session_start long, session_end long",
        )
        .orderBy("user_id", "session_idx")
    )


def q_anchored_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    return anchored_sessions(
        events.select("user_id", "event_id", _epoch_micros(events).alias("tus"))
    )


def sql_anchored_sessions() -> str:
    """Recursive ground truth: anchors advance island-by-island (each
    step finds MIN(tus) ≥ previous anchor + window per user — iterations
    bounded by sessions-per-user, not events), then each event joins its
    unique half-open [anchor, anchor + W) interval (anchors are ≥ W
    apart by construction)."""
    w = ANCHOR_WINDOW_US
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
),
anchors AS (
  SELECT user_id, MIN(tus) AS anchor, CAST(1 AS BIGINT) AS session_idx
  FROM ev GROUP BY user_id
  UNION ALL
  SELECT e.user_id, MIN(e.tus) AS anchor, a.session_idx + 1
  FROM anchors a JOIN ev e
    ON e.user_id = a.user_id AND e.tus >= a.anchor + {w}
  GROUP BY e.user_id, a.session_idx
)
SELECT e.user_id, a.session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(e.tus) AS session_start,
       MAX(e.tus) AS session_end
FROM ev e JOIN anchors a
  ON a.user_id = e.user_id
 AND e.tus >= a.anchor AND e.tus < a.anchor + {w}
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_service_cost_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, n_spans, total_time_us, share, cum_share): the
    "cloud bill" Pareto of total span time by service — which handful of
    services own 80% of all compute-time in the corpus, with exact
    BIGINT time sums and cumulative share in (total desc, name asc)
    order. service_scorecard rates each service in isolation; this is
    the cross-service prioritization table capacity planning actually
    sorts by.

    Scale shape: one combinable per-service rollup over the span scan,
    then windows over |services| rows (thousands at ANY corpus size)."""
    spans = _spans(spark, sf_dir)
    from pyspark.sql import Window

    per = (
        spans.filter(F.col("service_name") != "")
        .groupBy(F.lower("service_name").alias("servicename"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("duration").cast("long").alias("total_time_us"),
        )
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy(
        F.col("total_time_us").desc(), F.col("servicename").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per.withColumn("tot", F.sum("total_time_us").over(wall))
        .withColumn("cum", F.sum("total_time_us").over(wcum))
        .select(
            "servicename",
            "n_spans",
            "total_time_us",
            F.round(F.col("total_time_us") / F.col("tot"), 6).alias("share"),
            F.round(F.col("cum") / F.col("tot"), 6).alias("cum_share"),
        )
        .orderBy(F.col("total_time_us").desc(), F.col("servicename").asc())
    )


def sql_service_cost_pareto() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per AS (
  SELECT lower(service_name) AS servicename,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(duration) AS BIGINT) AS total_time_us
  FROM spans WHERE service_name <> '' GROUP BY 1
)
SELECT servicename, n_spans, total_time_us,
       ROUND(total_time_us * 1.0 / SUM(total_time_us) OVER (), 6) AS share,
       ROUND(SUM(total_time_us) OVER (ORDER BY total_time_us DESC,
                                      servicename ASC
                                      ROWS UNBOUNDED PRECEDING)
             * 1.0 / SUM(total_time_us) OVER (), 6) AS cum_share
FROM per ORDER BY total_time_us DESC, servicename ASC
"""
    )


PATH_STEPS = 3  # leading steps that define a session's path signature


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    return session_paths_from(
        events.select(
            "user_id",
            "event_id",
            F.lower("event_type").alias("etype"),
            _epoch_micros(events).alias("tus"),
        )
    )


def session_paths_from(ev: DataFrame) -> DataFrame:
    """→ (path, n_sessions, avg_session_events): frequency table of
    session OPENINGS — the first PATH_STEPS event types of each session,
    joined 'a>b>c'. The navigation-pattern rollup product teams read
    next to `funnel_steps`: funnels count a FIXED step sequence, paths
    surface the sequences users actually take (a hot 'view>view>view'
    path says browse-heavy sessions dominate; 'view>click>purchase'
    sessions convert fast). Sessions come from the SAME island core as
    `event_sessions` (one definition). avg_session_events uses exact
    integer sums, rounded once.

    Scale shape: islands ride the user-key window exchange every session
    operator shares; the path string is built from ≤PATH_STEPS rows per
    session via a sorted-struct fold (deterministic at equal timestamps
    by the event_id tiebreak); output rows are bounded by the event-type
    alphabet ^ PATH_STEPS, not by traffic. Takes any
    (user_id, event_id, etype, tus) frame so crafted tests pin the
    exact path strings (house rule 7)."""
    flagged = island_index(
        ev, ["user_id"], "tus", SESSION_GAP_US, order_cols=("event_id",)
    ).withColumnRenamed("island_idx", "session_idx")
    per_sess = flagged.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.transform(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("tus", "event_id", "etype"))
                ),
                1,
                PATH_STEPS,
            ),
            lambda s: s["etype"],
        ).alias("steps"),
    )
    return (
        per_sess.select(
            F.array_join("steps", ">").alias("path"), "n_events"
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.round(
                F.sum("n_events") / F.count(F.lit(1)), 6
            ).alias("avg_session_events"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
    )


def sql_session_paths() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, event_id, lower(event_type) AS etype, epoch_us(ts) AS tus
  FROM events
),
flagged AS (
  SELECT user_id, event_id, etype, tus,
         CASE WHEN COALESCE(tus - LAG(tus) OVER w, {SESSION_GAP_US + 1})
                   > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
sess AS (
  SELECT user_id, event_id, etype, tus,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
),
stepped AS (
  SELECT user_id, session_idx, etype, tus, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                            ORDER BY tus, event_id) AS rn
  FROM sess
),
per_sess AS (
  SELECT user_id, session_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         string_agg(etype, '>' ORDER BY tus, event_id)
           FILTER (WHERE rn <= {PATH_STEPS}) AS path
  FROM stepped GROUP BY 1, 2
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(SUM(n_events) * 1.0 / COUNT(*), 6) AS avg_session_events
FROM per_sess GROUP BY path ORDER BY n_sessions DESC, path
"""


#: Salt planner target: index GROUPS per output file (groups dominate
#: index bytes; a few hundred k groups ≈ a few hundred MB of parquet).
SALT_TARGET_GROUPS = 2_000


def _index_grid(idx: DataFrame) -> DataFrame:
    """THE (day_us, hb) occupancy rollup of a trace_index frame — one
    definition shared by index_partition_profile and index_salt_plan (a
    drift between the two would disagree about which buckets exist)."""
    day = F.col("starttime") - F.col("starttime") % DAY_US
    hb = F.floor((F.col("starttime") % DAY_US) / HB_US).cast("long")
    return (
        idx.select(
            day.alias("day_us"),
            hb.alias("hb"),
            F.size("spans").cast("long").alias("n_groups"),
        )
        .groupBy("day_us", "hb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.sum("n_groups").cast("long").alias("n_groups_total"),
            F.max("n_groups").cast("long").alias("max_groups_per_trace"),
        )
    )


#: Shared oracle fragment of :func:`_index_grid` — appends per_trace and
#: grid CTEs to the spans CTE chain.
_INDEX_GRID_SQL = f"""
, per_trace AS (
  SELECT trace_id,
         MIN(start_time - start_time % 1000000) AS starttime,
         CAST(COUNT(DISTINCT lower(service_name) || '|'
                    || lower(operation_name)) AS BIGINT) AS n_groups
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY trace_id
),
grid AS (
  SELECT starttime - starttime % {DAY_US} AS day_us,
         CAST(FLOOR((starttime % {DAY_US}) / {HB_US}) AS BIGINT) AS hb,
         CAST(COUNT(*) AS BIGINT) AS n_traces,
         CAST(SUM(n_groups) AS BIGINT) AS n_groups_total,
         CAST(MAX(n_groups) AS BIGINT) AS max_groups_per_trace
  FROM per_trace GROUP BY 1, 2
)"""


def q_index_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (day_us, hb, n_traces, n_groups_total, files_needed, salted):
    the OPERATIONAL output of `index_partition_profile` — for each
    occupied (day, 6h) partition of the trace_index grid, how many
    right-sized files the write should produce (⌈groups / target⌉, pure
    integer arithmetic) and whether the SCALE.md §1 salt is needed
    (files > 1). write_trace_index repartitions by (dt, hb), which
    yields ONE file per partition; this table is where a 100 TB operator
    reads which buckets outgrow that and sizes the salt column — plan
    from data, not incident.

    Scale shape: identical to index_partition_profile (one tiny grid
    rollup on the index build's own exchange) plus per-row integer
    derivations."""
    grid = _index_grid(_index(spark, sf_dir))
    files = F.expr(
        f"(n_groups_total + {SALT_TARGET_GROUPS - 1}) div {SALT_TARGET_GROUPS}"
    )
    return (
        grid.select(
            "day_us",
            "hb",
            "n_traces",
            "n_groups_total",
            files.cast("long").alias("files_needed"),
            (files > 1).alias("salted"),
        )
        .orderBy("day_us", "hb")
    )


def sql_index_salt_plan() -> str:
    return (
        EVENT_SPANS_CTE
        + _INDEX_GRID_SQL
        + f"""
SELECT day_us, hb, n_traces, n_groups_total,
       CAST((n_groups_total + {SALT_TARGET_GROUPS - 1})
            // {SALT_TARGET_GROUPS} AS BIGINT) AS files_needed,
       (n_groups_total + {SALT_TARGET_GROUPS - 1})
         // {SALT_TARGET_GROUPS} > 1 AS salted
FROM grid ORDER BY day_us, hb
"""
    )


CP_BUCKET_US = HOUR_US   # changepoint series granularity
CP_MIN_BUCKETS = 6       # below this a "split" is noise, not a regime


def q_latency_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latency_changepoint_from(_spans(spark, sf_dir))


def latency_changepoint_from(spans: DataFrame) -> DataFrame:
    """→ (servicename, operationname, n_buckets, split_bucket,
    mean_before_us, mean_after_us, gain_share): single CHANGEPOINT per
    operation — the hour-bucket boundary whose two-segment split of the
    bucket-mean latency series maximizes the between-group sum of
    squares (the first step of binary segmentation, Scott & Knott 1974).
    `operation_latency_trend` says WHETHER latency moves; this says
    WHEN it stepped and by how much — the "which deploy did it" query.
    split_bucket is the LAST bucket of the before-segment; gain_share
    is the variance fraction the split explains (0 = flat, → 1 = clean
    step).

    Cross-engine discipline: per-bucket means are exact BIGINT integer
    divisions (sum div count — truncating on both engines for the
    non-negative inputs here), anchored on the per-operation minimum
    before squaring (house anchoring rule: raw squares of ~1e6 µs means
    pass 2^53). The argmax ranks on the EXACT integer floor of the gain:
    gain = N/D with N = s1²·(n_b−k)·n_b + (t1−s1)²·k·n_b − t1²·k·(n_b−k)
    and D = k·(n_b−k)·n_b, both accumulated in DECIMAL(38,0) (HUGEINT on
    the DuckDB face) so `N div D` is bit-identical on both engines —
    gains sit at ~1e9–1e12 where a double ulp (~1e-4) exceeds any fixed
    decimal rounding quantum, so the house "rank on ROUND(x, 6)" rule
    cannot absorb cross-engine float noise here (VERDICT r9 §wrong #3);
    the 1 µs² floor quantum is ≫ below the ≥1e6 observed top-2 gaps and
    exact ties at that quantum break on the earlier bucket. N ≤ ~4e30
    fits DECIMAL(38,0); the quotient (= ⌊gain⌋ ≤ ~5e18) fits BIGINT.
    The reported gain/sst stay double — only the rank key is exact.

    Scale shape: one combinable (svc, op, bucket) rollup over the span
    scan, then windows over at most buckets-per-operation rows — the
    series table is hours × operations regardless of span volume."""
    from pyspark.sql import Window

    per = (
        spans.filter(
            (F.col("service_name") != "") & (F.col("operation_name") != "")
        )
        .groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
            (F.col("start_time") - F.col("start_time") % CP_BUCKET_US).alias(
                "bucket"
            ),
        )
        .agg(
            F.sum("duration").alias("d_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "servicename",
            "operationname",
            "bucket",
            F.expr("d_sum div n").alias("mean_us"),
        )
    )
    wop = Window.partitionBy("servicename", "operationname")
    word = wop.orderBy("bucket")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    a = F.col("mean_us") - F.min("mean_us").over(wop)
    cur = (
        per.withColumn("a", a)
        .withColumn("k", F.row_number().over(word))
        .withColumn("s1", F.sum("a").over(wcum))
        .withColumn("n_b", F.count(F.lit(1)).over(wop))
        .withColumn("t1", F.sum("a").over(wop))
        .withColumn("t2", F.sum(F.col("a") * F.col("a")).over(wop))
        .withColumn("minv", F.min("mean_us").over(wop))
    )
    k, s1 = F.col("k").cast("double"), F.col("s1").cast("double")
    n_b, t1 = F.col("n_b").cast("double"), F.col("t1").cast("double")
    r1, rk = t1 - s1, n_b - k
    gain = (s1 * s1 / k + r1 * r1 / rk) - t1 * t1 / n_b
    sst = F.col("t2").cast("double") - t1 * t1 / n_b
    kd = F.col("k").cast("decimal(38,0)")
    s1d = F.col("s1").cast("decimal(38,0)")
    nbd = F.col("n_b").cast("decimal(38,0)")
    t1d = F.col("t1").cast("decimal(38,0)")
    r1d, rkd = t1d - s1d, nbd - kd
    cand = (
        cur.filter((F.col("n_b") >= CP_MIN_BUCKETS) & (F.col("k") < F.col("n_b")))
        .withColumn("gain", gain)
        .withColumn("sst", sst)
        .withColumn(
            "gain_num",
            s1d * s1d * rkd * nbd + r1d * r1d * kd * nbd - t1d * t1d * kd * rkd,
        )
        .withColumn("gain_den", kd * rkd * nbd)
    )
    wpick = Window.partitionBy("servicename", "operationname").orderBy(
        F.expr("gain_num div gain_den").desc(), F.col("bucket").asc()
    )
    return (
        cand.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select(
            "servicename",
            "operationname",
            F.col("n_b").cast("long").alias("n_buckets"),
            F.col("bucket").alias("split_bucket"),
            F.expr("(s1 + k * minv) div k").alias("mean_before_us"),
            F.expr("(t1 - s1 + (n_b - k) * minv) div (n_b - k)").alias(
                "mean_after_us"
            ),
            F.round(
                F.col("gain") / F.nullif(F.col("sst"), F.lit(0.0)), 6
            ).alias("gain_share"),
        )
        .orderBy("servicename", "operationname")
    )


def sql_latency_changepoint() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, per AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         start_time - start_time % {CP_BUCKET_US} AS bucket,
         SUM(duration) // COUNT(*) AS mean_us
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2, 3
),
anch AS (
  SELECT servicename, operationname, bucket,
         mean_us - MIN(mean_us) OVER wop AS a,
         MIN(mean_us) OVER wop AS minv
  FROM per WINDOW wop AS (PARTITION BY servicename, operationname)
),
cum AS (
  SELECT servicename, operationname, bucket, a, minv,
         ROW_NUMBER() OVER word AS k,
         SUM(a) OVER wcum AS s1,
         COUNT(*) OVER wop AS n_b,
         SUM(a) OVER wop AS t1,
         SUM(a * a) OVER wop AS t2
  FROM anch
  WINDOW wop AS (PARTITION BY servicename, operationname),
         word AS (PARTITION BY servicename, operationname ORDER BY bucket),
         wcum AS (PARTITION BY servicename, operationname ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING)
),
cand AS (
  SELECT *,
         (CAST(s1 AS DOUBLE) * s1 / k
          + CAST(t1 - s1 AS DOUBLE) * (t1 - s1) / (n_b - k))
         - CAST(t1 AS DOUBLE) * t1 / n_b AS gain,
         CAST(t2 AS DOUBLE) - CAST(t1 AS DOUBLE) * t1 / n_b AS sst
  FROM cum WHERE n_b >= {CP_MIN_BUCKETS} AND k < n_b
),
picked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY servicename, operationname
                               ORDER BY (s1 * s1 * (n_b - k) * n_b
                                         + (t1 - s1) * (t1 - s1) * k * n_b
                                         - t1 * t1 * k * (n_b - k))
                                        // (k * (n_b - k) * n_b) DESC,
                                        bucket ASC)
            AS pick
  FROM cand
)
SELECT servicename, operationname,
       CAST(n_b AS BIGINT) AS n_buckets,
       bucket AS split_bucket,
       -- CAST: windowed SUM over BIGINT widens to HUGEINT in DuckDB and
       -- pandas renders HUGEINT as float64 (49015.0 vs Spark's int64
       -- 49015) — the driver hash distinguishes them (VERDICT r9 #1)
       CAST((s1 + k * minv) // k AS BIGINT) AS mean_before_us,
       CAST((t1 - s1 + (n_b - k) * minv) // (n_b - k) AS BIGINT)
         AS mean_after_us,
       ROUND(gain / NULLIF(sst, 0), 6) AS gain_share
FROM picked WHERE pick = 1 ORDER BY servicename, operationname
"""
    )


FUNNEL_STEPS = ("view", "click", "signup", "purchase")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: a user reaches
    step k when their FIRST occurrence of each step 1..k is strictly
    later than the previous step's first occurrence (classic min-ts
    ordered-funnel semantics). Output: users reaching each step + the
    conversion rate vs step 1 — the product-analytics staple computed
    without any sessionization.

    Scale shape: ONE conditional-min aggregate per user (combinable,
    rides the user-key exchange), pure-expression order checks, one
    global 4-long sum, and a 4-row explode. Nothing bigger than |users|
    touches a shuffle."""
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    return funnel_counts(
        events.select("user_id", "event_type", _epoch_micros(events).alias("tus"))
    )


def funnel_counts(ev: DataFrame) -> DataFrame:
    """Ordered-funnel core over any (user_id, event_type, tus) frame —
    split out of q_funnel_steps for crafted-frame tests."""
    ts = F.col("tus")
    firsts = [
        F.min(F.when(F.col("event_type") == s, ts)).alias(f"t{i}")
        for i, s in enumerate(FUNNEL_STEPS, 1)
    ]
    per_user = ev.groupBy("user_id").agg(*firsts)
    reached_prev = F.col("t1").isNotNull()
    flags = [reached_prev.cast("long").alias("c1")]
    for i in range(2, len(FUNNEL_STEPS) + 1):
        reached_prev = (
            reached_prev
            & F.col(f"t{i}").isNotNull()
            & (F.col(f"t{i}") > F.col(f"t{i-1}"))
        )
        flags.append(reached_prev.cast("long").alias(f"c{i}"))
    tot = per_user.select(*flags).agg(
        *[F.sum(f"c{i}").alias(f"s{i}") for i in range(1, len(FUNNEL_STEPS) + 1)]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step_idx"),
                F.lit(s).alias("step"),
                F.col(f"s{i}").cast("long").alias("n_users"),
                F.when(
                    F.col("s1") > 0, F.round(F.col(f"s{i}") / F.col("s1"), 6)
                ).alias("conversion"),
            )
            for i, s in enumerate(FUNNEL_STEPS, 1)
        ]
    )
    return (
        tot.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("step_idx")
    )


def sql_funnel_steps() -> str:
    mins = ",\n         ".join(
        f"MIN(CASE WHEN event_type = '{s}' THEN epoch_us(ts) END) AS t{i}"
        for i, s in enumerate(FUNNEL_STEPS, 1)
    )
    conds = ["t1 IS NOT NULL"]
    for i in range(2, len(FUNNEL_STEPS) + 1):
        conds.append(f"{conds[-1]} AND t{i} IS NOT NULL AND t{i} > t{i-1}")
    sums = ",\n         ".join(
        f"SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS s{i}"
        for i, c in enumerate(conds, 1)
    )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, '{s}' AS step, CAST(s{i} AS BIGINT) AS n_users, "
        f"CASE WHEN s1 > 0 THEN ROUND(s{i} / CAST(s1 AS DOUBLE), 6) END AS conversion "
        f"FROM tot"
        for i, s in enumerate(FUNNEL_STEPS, 1)
    )
    return f"""
WITH pu AS (
  SELECT user_id,
         {mins}
  FROM events GROUP BY user_id
),
tot AS (
  SELECT {sums}
  FROM pu
)
SELECT * FROM ({selects}) ORDER BY step_idx
"""


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution via the generic AS-OF join
    (operators/asof.py): for every purchase event, the user's most
    recent click AT OR BEFORE it, plus the click→purchase lag. The
    time-series join Spark lacks natively, exercised end-to-end; the
    oracle computes the same answer with an independent inequality-join
    + MAX aggregation (not the window trick), so the linearization is
    cross-checked, not mirrored. Purchases with no prior click keep
    NULL attribution (left semantics).

    Scale shape: one shuffle on the user key + one sorted window — the
    equi-join cost, never the per-key cross product a naive range join
    pays."""
    from haystack_traces_spark.operators.asof import asof_join
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    ev = events.select(
        "user_id", "event_id", "event_type", _epoch_micros(events).alias("tus")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("tus").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("tus").alias("click_ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="click_ts",
        value_cols=["click_ts"],
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        "purchase_ts",
        "click_ts",
        (F.col("purchase_ts") - F.col("click_ts")).cast("long").alias("lag_us"),
    ).orderBy("user_id", "purchase_event_id")


def sql_purchase_attribution() -> str:
    return """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
),
p AS (SELECT user_id, event_id, tus FROM ev WHERE event_type = 'purchase'),
c AS (SELECT user_id, tus AS click_ts FROM ev WHERE event_type = 'click')
SELECT p.user_id, p.event_id AS purchase_event_id, p.tus AS purchase_ts,
       MAX(c.click_ts) AS click_ts,
       CAST(p.tus - MAX(c.click_ts) AS BIGINT) AS lag_us
FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.click_ts <= p.tus
GROUP BY 1, 2, 3
ORDER BY 1, 2
"""


INCIDENT_MULT = 1.2  # incident day: daily errors > 1.2x the service's mean


def q_incident_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident detection + RANGE JOIN: days where a service's error
    count exceeds ``INCIDENT_MULT``× its own daily mean are merged
    (gaps-and-islands) into variable-length incident windows, then every
    span of that service is range-joined back into its windows
    (operators/asof.py interval_join — bucketized equi-join, never a
    per-key cross product) to report the window's true span volume and
    error rate. The "what was the blast radius of each bad stretch"
    table; the data-relative threshold keeps the operator meaningful at
    any scale factor.

    Oracle cross-check: DuckDB runs the SAME window derivation but a
    plain inequality join for the containment step, so the
    linearization is verified against an independent join strategy."""
    from haystack_traces_spark.operators.asof import interval_join

    spans = _spans(spark, sf_dir).select(
        F.lower("service_name").alias("servicename"),
        "start_time",
        (_errorcode() >= ERROR_THRESHOLD).cast("long").alias("is_err"),
    )
    day = F.col("start_time") - F.col("start_time") % DAY_US
    daily = spans.groupBy("servicename", day.alias("day")).agg(
        F.sum("is_err").alias("n_err")
    )
    avg = daily.groupBy("servicename").agg(
        F.round(F.lit(INCIDENT_MULT) * F.avg("n_err"), 6).alias("thresh")
    )
    hot = (
        daily.join(F.broadcast(avg), "servicename")
        .filter(F.col("n_err") > F.col("thresh"))
        .select("servicename", "day")
    )
    islands = (
        island_index(hot, ["servicename"], "day", DAY_US)
        .groupBy("servicename", "island_idx")
        .agg(
            F.min("day").alias("w_start"),
            (F.max("day") + DAY_US).alias("w_end"),
        )
    )
    joined = interval_join(
        spans,
        islands,
        on=["servicename"],
        point_ts="start_time",
        start_col="w_start",
        end_col="w_end",
        bucket=DAY_US,
    )
    return (
        joined.groupBy("servicename", "w_start", "w_end")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("is_err").cast("long").alias("n_errors"),
        )
        .withColumn(
            "n_days", ((F.col("w_end") - F.col("w_start")) / DAY_US).cast("long")
        )
        .withColumn(
            "window_error_rate",
            F.round(F.col("n_errors") / F.col("n_spans"), 6),
        )
        .select(
            "servicename", "w_start", "w_end", "n_days", "n_spans",
            "n_errors", "window_error_rate",
        )
        .orderBy("servicename", "w_start")
    )


def sql_incident_windows() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, s AS (
  SELECT lower(service_name) AS servicename, start_time,
         CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
              THEN 1 ELSE 0 END AS is_err
  FROM spans
),
daily AS (
  SELECT servicename, start_time - start_time % {DAY_US} AS day,
         SUM(is_err) AS n_err
  FROM s GROUP BY 1, 2
),
thr AS (
  SELECT servicename, ROUND({INCIDENT_MULT} * AVG(n_err), 6) AS thresh
  FROM daily GROUP BY 1
),
hot AS (
  SELECT d.servicename, d.day
  FROM daily d JOIN thr USING (servicename)
  WHERE d.n_err > thr.thresh
),
flagged AS (
  SELECT servicename, day,
         CASE WHEN COALESCE(day - LAG(day) OVER w, {2 * DAY_US}) > {DAY_US}
              THEN 1 ELSE 0 END AS new_w
  FROM hot WINDOW w AS (PARTITION BY servicename ORDER BY day)
),
isl AS (
  SELECT servicename, day,
         SUM(new_w) OVER (PARTITION BY servicename ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS win_idx
  FROM flagged
),
win AS (
  SELECT servicename, MIN(day) AS w_start, MAX(day) + {DAY_US} AS w_end
  FROM isl GROUP BY servicename, win_idx
)
SELECT s.servicename, w.w_start, w.w_end,
       CAST((w.w_end - w.w_start) / {DAY_US} AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(s.is_err) AS BIGINT) AS n_errors,
       ROUND(SUM(s.is_err) / CAST(COUNT(*) AS DOUBLE), 6) AS window_error_rate
FROM s JOIN win w
  ON w.servicename = s.servicename
 AND s.start_time >= w.w_start AND s.start_time < w.w_end
GROUP BY 1, 2, 3
ORDER BY 1, 2
"""
    )


def q_service_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day traffic profile per service (UTC): span counts and
    each hour's share of the service's traffic — the seasonality
    baseline that autoscaling and anomaly thresholds are normalized
    against (a 2 a.m. spike is an incident; a 2 p.m. one is Tuesday).

    Scale shape: one combinable (service, hour-of-day) aggregate; the
    share window runs over ≤24 rows per service."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    # integer DIV, not cast(double): Spark's double->long cast truncates
    # while DuckDB's rounds — the documented text_stats trap
    hod = F.expr(f"start_time DIV {HOUR_US}") % 24
    counts = spans.groupBy(
        F.lower("service_name").alias("servicename"), hod.alias("hour_of_day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    w = Window.partitionBy("servicename")
    return counts.select(
        "servicename",
        "hour_of_day",
        "n_spans",
        F.round(F.col("n_spans") / F.sum("n_spans").over(w), 6).alias("share"),
    ).orderBy("servicename", "hour_of_day")


def sql_service_seasonality() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT lower(service_name) AS servicename,
       (start_time // {HOUR_US}) % 24 AS hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lower(service_name))
             AS DOUBLE), 6) AS share
FROM spans GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


KANON_K = 5


def q_user_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the behavioral quasi-identifier: each
    user's SET of event types is a signature; a signature shared by
    fewer than ``KANON_K`` users is a re-identification handle (the
    release-gate check a privacy review runs before event data feeds a
    training pipeline — the behavioral sibling of pii_scan's content
    regexes).

    Scale shape: distinct (user, type) pairs ride one combinable
    shuffle; signature assembly is a per-user collect_set over ≤
    |event-type catalog| elements; the rollup is signature-keyed."""
    events = _events(spark, sf_dir)
    # unit-separator join (0x1f): a comma inside an event-type name would
    # collide distinct signatures — e.g. one user with the single type
    # 'a,b' hiding inside the {'a','b'} cohort, defeating the k gate
    sigs = (
        events.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("event_type")), "\x1f"
            ).alias("signature")
        )
    )
    return (
        sigs.groupBy("signature")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .withColumn("at_risk", F.col("n_users") < KANON_K)
        .orderBy("signature")
    )


def sql_user_kanonymity() -> str:
    return f"""
WITH pairs AS (SELECT DISTINCT user_id, event_type FROM events),
sigs AS (
  SELECT user_id,
         string_agg(event_type, chr(31) ORDER BY event_type) AS signature
  FROM pairs GROUP BY user_id
)
SELECT signature, CAST(COUNT(*) AS BIGINT) AS n_users,
       COUNT(*) < {KANON_K} AS at_risk
FROM sigs GROUP BY signature ORDER BY signature
"""


PERIOD_US = 30 * DAY_US  # retention period (30-day buckets from T0)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream: users cohort by
    their FIRST-seen 30-day period; each later period reports how many
    of the cohort were active and the retention fraction — the classic
    product-analytics triangle, on integer period arithmetic (no
    calendar-month cross-engine hazards).

    Scale shape: distinct (user, period) pairs ride one combinable
    shuffle; the per-user first period is a min aggregate; cohort sizes
    broadcast back; output is bounded by periods²."""
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    period = F.expr(f"(tus - {T0}) DIV {PERIOD_US}")
    active = (
        events.select("user_id", _epoch_micros(events).alias("tus"))
        .select("user_id", period.alias("period"))
        .distinct()
    )
    first = active.groupBy("user_id").agg(F.min("period").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    return (
        active.join(first, "user_id")
        .groupBy("cohort", (F.col("period") - F.col("cohort")).alias("periods_since"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort"),
            F.col("periods_since").cast("long").alias("periods_since"),
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_users"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort", "periods_since")
    )


def sql_retention_cohorts() -> str:
    return f"""
WITH active AS (
  SELECT DISTINCT user_id, (epoch_us(ts) - {T0}) // {PERIOD_US} AS period
  FROM events
),
first AS (SELECT user_id, MIN(period) AS cohort FROM active GROUP BY 1),
sizes AS (SELECT cohort, COUNT(*) AS cohort_users FROM first GROUP BY 1)
SELECT CAST(f.cohort AS BIGINT) AS cohort,
       CAST(a.period - f.cohort AS BIGINT) AS periods_since,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       ROUND(COUNT(*) / CAST(MAX(s.cohort_users) AS DOUBLE), 6) AS retention
FROM active a
JOIN first f USING (user_id)
JOIN sizes s ON s.cohort = f.cohort
GROUP BY 1, 2 ORDER BY 1, 2
"""


#: Demo SLO for the burn-rate query: 90% of spans below the error
#: threshold. The synthetic corpus errors ~50% of spans (errorcode is
#: uniform 0..99 vs threshold 50), so burns land well above 1 — the
#: MATH is what the oracle pins, the target is a dial in production.
SLO_TARGET = 0.9
#: Long alerting window in hours (Google SRE multiwindow: page only when
#: both the 1 h and the 6 h burn exceed 1 — fast windows catch onset,
#: slow windows suppress blips).
SLO_LONG_HOURS = 6

_HOUR_US = 3_600_000_000


def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget burn rate per (service, hour) with the SRE
    multiwindow page signal: burn_short is this hour's error rate over
    the budget (1 - SLO), burn_long the same over the trailing
    6-hour window, and ``page`` fires only when BOTH exceed 1
    (Beyer et al., The Site Reliability Workbook ch. 5 — multiwindow,
    multi-burn-rate alerts).

    Scale shape: one map-side-combinable aggregate keyed
    (service, hour); the trailing window is a RANGE frame over the
    integer hour index per service — frame width 6 rows max, partition
    bounded by the calendar (hours), never by span volume."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    hourly = (
        spans.groupBy(
            F.lower("service_name").alias("servicename"),
            (F.col("start_time") - (F.col("start_time") % _HOUR_US)).alias(
                "hour_us"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum((_errorcode() >= ERROR_THRESHOLD).cast("long")).alias(
                "n_errors"
            ),
        )
    )
    budget = 1.0 - SLO_TARGET
    w = (
        Window.partitionBy("servicename")
        .orderBy("hour_us")
        .rangeBetween(-(SLO_LONG_HOURS - 1) * _HOUR_US, 0)
    )
    burn_short = F.col("n_errors") / F.col("n_spans") / budget
    burn_long = F.sum("n_errors").over(w) / F.sum("n_spans").over(w) / budget
    return (
        hourly.select(
            "servicename",
            "hour_us",
            "n_spans",
            "n_errors",
            F.round(burn_short, 6).alias("burn_short"),
            F.round(burn_long, 6).alias("burn_long"),
        )
        .withColumn(
            "page",
            ((F.col("burn_short") > 1) & (F.col("burn_long") > 1)).cast("long"),
        )
        .orderBy("servicename", "hour_us")
    )


def sql_slo_burn_rate() -> str:
    budget = 1.0 - SLO_TARGET
    return (
        EVENT_SPANS_CTE
        + f"""
, hourly AS (
  SELECT lower(service_name) AS servicename,
         start_time - start_time % {_HOUR_US} AS hour_us,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM spans GROUP BY 1, 2
), burn AS (
  SELECT servicename, hour_us, n_spans, n_errors,
         ROUND(n_errors / CAST(n_spans AS DOUBLE) / {budget}, 6) AS burn_short,
         ROUND(SUM(n_errors) OVER w / CAST(SUM(n_spans) OVER w AS DOUBLE) / {budget}, 6) AS burn_long
  FROM hourly
  WINDOW w AS (PARTITION BY servicename ORDER BY hour_us
               RANGE BETWEEN {(SLO_LONG_HOURS - 1) * _HOUR_US} PRECEDING AND CURRENT ROW)
)
SELECT *, CAST(CASE WHEN burn_short > 1 AND burn_long > 1 THEN 1 ELSE 0 END AS BIGINT) AS page
FROM burn ORDER BY servicename, hour_us
"""
    )


def q_hedged_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate sibling calls: groups of ≥2 spans under the SAME parent
    with the same (service, operation) — the signature of hedged /
    speculative retries (Dean & Barroso 2013, "The Tail at Scale") or
    accidental double-submits. Reports the busy time vs the wall span of
    the group; ``wasted_micros`` is duplicated work beyond the wall
    window, ``concurrent`` whether all copies overlap a common instant
    (true hedging) vs sequential retries.

    Scale shape: one combinable aggregate keyed (trace, parent, service,
    operation) — rides the trace-key exchange every trace operator
    shares; HAVING n>=2 prunes before any downstream join. No windows,
    no self-join."""
    spans = _spans(spark, sf_dir)
    end = F.col("start_time") + F.col("duration")
    g = (
        spans.filter(F.col("parent_span_id") != "")
        .groupBy(
            "trace_id",
            "parent_span_id",
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operation"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.sum("duration").cast("long").alias("busy_micros"),
            (F.max(end) - F.min("start_time")).cast("long").alias("span_micros"),
            (F.max("start_time") < F.min(end)).cast("long").alias("concurrent"),
        )
        .filter(F.col("n_calls") >= 2)
    )
    return g.select(
        "trace_id",
        "parent_span_id",
        "servicename",
        "operation",
        "n_calls",
        "busy_micros",
        "span_micros",
        F.greatest(
            F.lit(0).cast("long"), F.col("busy_micros") - F.col("span_micros")
        ).alias("wasted_micros"),
        "concurrent",
    ).orderBy("trace_id", "parent_span_id", "servicename", "operation")


def sql_hedged_requests() -> str:
    return (
        EVENT_SPANS_CTE
        + """
SELECT trace_id, parent_span_id,
       lower(service_name) AS servicename,
       lower(operation_name) AS operation,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(SUM(duration) AS BIGINT) AS busy_micros,
       CAST(MAX(start_time + duration) - MIN(start_time) AS BIGINT) AS span_micros,
       CAST(GREATEST(0, SUM(duration) - (MAX(start_time + duration) - MIN(start_time))) AS BIGINT) AS wasted_micros,
       CAST(CASE WHEN MAX(start_time) < MIN(start_time + duration) THEN 1 ELSE 0 END AS BIGINT) AS concurrent
FROM spans
WHERE parent_span_id <> ''
GROUP BY 1, 2, 3, 4
HAVING COUNT(*) >= 2
ORDER BY 1, 2, 3, 4
"""
    )


def q_operation_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which operations TRAVEL TOGETHER: for every unordered pair of
    (service:operation) keys, the number of traces containing both and
    the lift P(a,b) / (P(a)·P(b)) — the workload-decomposition view
    behind "these endpoints always fire in the same request" (basket
    analysis over traces instead of carts). error_cooccurrence is the
    failing-only sibling; this is all-traffic.

    Scale shape: ONE scan + ONE trace-key exchange builds the sorted
    per-trace key set (bounded by the operation catalog, not span
    count); pairs are generated by a JVM array comprehension over that
    set (no self-join of the span table), and the three downstream
    aggregates (pair counts, per-key counts, trace total) all hang off
    the same grouped exchange, which AQE reuses. Per-key totals
    broadcast onto the pair counts."""
    spans = _spans(spark, sf_dir)
    per_trace = (
        spans.groupBy("trace_id")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.concat_ws(
                        ":", F.lower("service_name"), F.lower("operation_name")
                    )
                )
            ).alias("ks")
        )
    )
    ks = F.col("ks")
    pair_arr = F.flatten(
        F.transform(
            ks,
            lambda x, i: F.transform(
                F.slice(ks, i + F.lit(2), F.size(ks)),
                lambda y: F.struct(x.alias("op_a"), y.alias("op_b")),
            ),
        )
    )
    totals = per_trace.agg(
        F.count(F.lit(1)).cast("long").alias("n_traces_total")
    )
    per_key = (
        per_trace.select(F.explode("ks").alias("op_key"))
        .groupBy("op_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_traces"))
    )
    both = (
        per_trace.select(F.explode(pair_arr).alias("p"))
        .select("p.op_a", "p.op_b")
        .groupBy("op_a", "op_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = per_key.select(F.col("op_key").alias("op_a"), F.col("n_traces").alias("na"))
    nb = per_key.select(F.col("op_key").alias("op_b"), F.col("n_traces").alias("nb"))
    return (
        both.join(F.broadcast(na), "op_a")
        .join(F.broadcast(nb), "op_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "op_a",
            "op_b",
            "n_both",
            F.round(
                F.col("n_both")
                * F.col("n_traces_total")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy("op_a", "op_b")
    )


def sql_operation_affinity() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, keys AS (
  SELECT DISTINCT trace_id,
         lower(service_name) || ':' || lower(operation_name) AS op_key
  FROM spans
),
totals AS (SELECT CAST(COUNT(DISTINCT trace_id) AS BIGINT) AS n_traces_total FROM keys),
per_key AS (SELECT op_key, CAST(COUNT(*) AS BIGINT) AS n_traces FROM keys GROUP BY 1)
SELECT a.op_key AS op_a, b.op_key AS op_b,
       CAST(COUNT(*) AS BIGINT) AS n_both,
       ROUND(COUNT(*) * CAST(MAX(t.n_traces_total) AS DOUBLE)
             / (MAX(ka.n_traces) * MAX(kb.n_traces)), 6) AS lift
FROM keys a
JOIN keys b ON a.trace_id = b.trace_id AND a.op_key < b.op_key
JOIN per_key ka ON ka.op_key = a.op_key
JOIN per_key kb ON kb.op_key = b.op_key
CROSS JOIN totals t
GROUP BY 1, 2
ORDER BY 1, 2
"""
    )


def q_trace_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural trace clustering: every trace is fingerprinted by the
    md5 of its SORTED distinct (service:operation) set, then shapes are
    ranked by population with their latency profile — "what kinds of
    requests flow through this system, and which shape is slow". The
    per-shape root-duration mean splits latency variance into
    between-shape (workload mix) vs within-shape (true jitter).

    Scale shape: one collect_set per trace on the shared trace-key
    exchange (set bounded by the operation catalog, not span count),
    then a combinable aggregate on the fingerprint — two shuffles, the
    first reused from every other trace-level operator."""
    spans = _spans(spark, sf_dir)
    per_trace = (
        spans.groupBy("trace_id")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.concat_ws(
                        ":", F.lower("service_name"), F.lower("operation_name")
                    )
                )
            ).alias("ops"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.coalesce(
                F.max(
                    F.when(F.col("parent_span_id") == "", F.col("duration"))
                ),
                F.lit(0),
            ).alias("rootduration"),
        )
        .select(
            F.md5(F.concat_ws("|", "ops")).alias("fingerprint"),
            F.concat_ws("|", "ops").alias("shape"),
            "n_spans",
            "rootduration",
        )
    )
    return (
        per_trace.groupBy("fingerprint")
        .agg(
            F.min("shape").alias("shape"),
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.round(F.avg("n_spans"), 6).alias("avg_spans"),
            F.round(F.avg("rootduration"), 6).alias("avg_root_duration"),
            F.max("rootduration").cast("long").alias("max_root_duration"),
        )
        .orderBy(F.desc("n_traces"), "fingerprint")
    )


def sql_trace_fingerprints() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per_trace AS (
  SELECT trace_id,
         array_to_string(list_sort(list(DISTINCT lower(service_name) || ':' || lower(operation_name))), '|') AS shape,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         COALESCE(MAX(CASE WHEN parent_span_id = '' THEN duration END), 0) AS rootduration
  FROM spans GROUP BY trace_id
)
SELECT md5(shape) AS fingerprint,
       MIN(shape) AS shape,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       ROUND(AVG(n_spans), 6) AS avg_spans,
       ROUND(AVG(rootduration), 6) AS avg_root_duration,
       CAST(MAX(rootduration) AS BIGINT) AS max_root_duration
FROM per_trace
GROUP BY 1
ORDER BY n_traces DESC, fingerprint
"""
    )


def q_bottleneck_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which operation is each trace's BOTTLENECK — the span with the
    largest SELF time (duration minus direct-children time, the
    flamegraph quantity) — rolled up by (service, operation): how many
    traces each op bottlenecks, its mean self time there, and its mean
    share of the trace's total self time. The capacity-planning cut of
    the flamegraph: `span_self_time` says where time goes per span,
    this says which op to fix FIRST per trace.

    Tie-break: equal self times resolve to the lexicographically
    smallest span_id (mirrored in the oracle's ROW_NUMBER). Share is
    NULL when a trace's total self time is 0 (degenerate zero-duration
    roots) — AVG skips NULLs identically on both engines.

    Scale shape: the child aggregate and the per-trace argmax window
    both key on trace_id — one trace exchange end to end; the final
    rollup is a tiny (service, operation) combinable aggregate."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    child = (
        spans.filter(F.col("parent_span_id") != "")
        .groupBy("trace_id", F.col("parent_span_id").alias("span_id"))
        .agg(F.sum("duration").alias("child_time"))
    )
    self_t = (
        spans.join(child, ["trace_id", "span_id"], "left")
        .select(
            "trace_id",
            "span_id",
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
            (F.col("duration") - F.coalesce("child_time", F.lit(0)))
            .cast("long")
            .alias("self_time"),
        )
    )
    tot = self_t.groupBy("trace_id").agg(
        F.sum("self_time").alias("total_self")
    )
    w = Window.partitionBy("trace_id").orderBy(
        F.col("self_time").desc(), F.col("span_id").asc()
    )
    top = (
        self_t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(tot, "trace_id")
    )
    share = F.when(
        F.col("total_self") > 0, F.col("self_time") / F.col("total_self")
    )
    return (
        top.groupBy("servicename", "operationname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.round(F.avg("self_time"), 6).alias("avg_self_time"),
            F.round(F.avg(share), 6).alias("avg_share"),
        )
        .orderBy(F.col("n_traces").desc(), "servicename", "operationname")
    )


def sql_bottleneck_ops() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, child AS (
  SELECT trace_id, parent_span_id AS span_id, SUM(duration) AS child_time
  FROM spans WHERE parent_span_id <> '' GROUP BY 1, 2
), self_t AS (
  SELECT s.trace_id, s.span_id,
         lower(s.service_name) AS servicename,
         lower(s.operation_name) AS operationname,
         CAST(s.duration - COALESCE(c.child_time, 0) AS BIGINT) AS self_time
  FROM spans s LEFT JOIN child c USING (trace_id, span_id)
), tot AS (
  SELECT trace_id, SUM(self_time) AS total_self FROM self_t GROUP BY 1
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY trace_id
                               ORDER BY self_time DESC, span_id ASC) AS rn
  FROM self_t
), top AS (
  SELECT r.servicename, r.operationname, r.self_time, t.total_self
  FROM ranked r JOIN tot t USING (trace_id) WHERE r.rn = 1
)
SELECT servicename, operationname,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       ROUND(AVG(self_time), 6) AS avg_self_time,
       ROUND(AVG(CASE WHEN total_self > 0
                      THEN self_time / CAST(total_self AS DOUBLE) END), 6)
         AS avg_share
FROM top GROUP BY 1, 2
ORDER BY n_traces DESC, servicename, operationname
"""
    )


def q_clock_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTP-style clock-skew and one-way-delay estimation per
    (caller → callee) service pair from the client/server span pairs:
    for each RPC, offset = ((server_start − client_start) +
    (server_end − client_end)) / 2 (the symmetric-path assumption of
    NTP's offset estimator — Mills RFC 5905 §8 applied to span
    timestamps) and delay = ((server_start − client_start) −
    (server_end − client_end)) / 2 (the one-way wire latency).

    The engine pairs the two kinds per span_id and applies the
    estimator; the oracle derives the SAME numbers independently from
    the generative model (a skew-free corpus: offset ≡ 0, delay = the
    per-event net term) — so the pairing arithmetic is cross-checked
    against ground truth, not mirrored. A skewed-clock crafted test
    covers the nonzero-offset path the synthetic corpus cannot.

    Scale shape: identical to `network_deltas` — one aggregate keyed
    (trace_id, span_id) riding the trace exchange, then a tiny
    (caller, callee) rollup."""
    return clock_skew(_cs_spans_raw(spark, sf_dir))


def clock_skew(cs: DataFrame) -> DataFrame:
    """The (caller → callee) skew/delay rollup over any client/server
    span frame (tags carry span.kind) — split out so crafted skewed
    frames can exercise the estimator directly."""
    from haystack_traces_spark.transform.tags import tag_str

    kind = tag_str("tags", "span.kind")
    per_span = (
        cs.groupBy("trace_id", "span_id")
        .agg(
            F.max(F.when(kind == "client", F.col("service_name"))).alias(
                "client_svc"
            ),
            F.max(F.when(kind == "server", F.col("service_name"))).alias(
                "server_svc"
            ),
            F.max(F.when(kind == "client", F.col("start_time"))).alias("c0"),
            F.max(
                F.when(kind == "client", F.col("start_time") + F.col("duration"))
            ).alias("c1"),
            F.max(F.when(kind == "server", F.col("start_time"))).alias("s0"),
            F.max(
                F.when(kind == "server", F.col("start_time") + F.col("duration"))
            ).alias("s1"),
        )
        .filter(F.col("client_svc").isNotNull() & F.col("server_svc").isNotNull())
    )
    offset = ((F.col("s0") - F.col("c0")) + (F.col("s1") - F.col("c1"))) / 2
    delay = ((F.col("s0") - F.col("c0")) - (F.col("s1") - F.col("c1"))) / 2
    return (
        per_span.groupBy("client_svc", "server_svc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rpcs"),
            F.round(F.avg(offset), 6).alias("avg_skew"),
            F.round(F.max(F.abs(offset)), 6).alias("max_abs_skew"),
            F.round(F.avg(delay), 6).alias("avg_delay"),
            F.round(F.max(delay), 6).alias("max_delay"),
        )
        .orderBy("client_svc", "server_svc")
    )


def sql_clock_skew() -> str:
    from haystack_traces_spark.sources.events import EVENT_SPANS_CS_CTE

    # Ground-truth derivation (not a mirror): the generator builds the
    # client span as (start − net, dur + 2·net) around the server span,
    # so offset = ((s0−c0)+(s1−c1))/2 = (net + (−net))/2 ≡ 0 and
    # delay = ((s0−c0)−(s1−c1))/2 = net exactly.
    return (
        EVENT_SPANS_CS_CTE
        + """
SELECT parent_service AS client_svc, service_name AS server_svc,
       CAST(COUNT(*) AS BIGINT) AS n_rpcs,
       ROUND(AVG(0.0), 6) AS avg_skew,
       ROUND(MAX(0.0), 6) AS max_abs_skew,
       ROUND(AVG(net), 6) AS avg_delay,
       ROUND(CAST(MAX(net) AS DOUBLE), 6) AS max_delay
FROM ev WHERE parent_span_id <> ''
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_callgraph_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology drift: the service call graph of the corpus's FIRST time
    half vs its SECOND (split at the midpoint of the span start-time
    range), per edge — call counts in each half, the second/first ratio,
    and a status (new / vanished / stable). The deploy-review view:
    which dependencies appeared, which died, which shifted load.

    Edge occurrences are assigned by the CHILD span's start time (the
    callee observes the call), so a trace straddling the midpoint
    contributes edges to both halves — intentional: drift is about call
    volume in wall-clock windows, not trace membership.

    Scale shape: the midpoint is a 1-row aggregate broadcast into the
    edge stream; edges come from the same parent-child join as
    `call_graph` (keyed on the trace exchange); the drift rollup is a
    tiny (from, to) combinable aggregate."""
    spans = _spans(spark, sf_dir)
    mid = spans.agg(
        ((F.min("start_time") + F.max("start_time")) / 2).alias("mid")
    )
    child = spans.filter(F.col("parent_span_id") != "").select(
        "trace_id",
        "parent_span_id",
        F.lower("service_name").alias("to_service"),
        "start_time",
    )
    parent = spans.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.lower("service_name").alias("from_service"),
    )
    edges = (
        child.join(parent, ["trace_id", "parent_span_id"])
        .crossJoin(F.broadcast(mid))
        .withColumn("second_half", (F.col("start_time") >= F.col("mid")).cast("long"))
    )
    agg = edges.groupBy("from_service", "to_service").agg(
        F.sum(1 - F.col("second_half")).cast("long").alias("n_first"),
        F.sum("second_half").cast("long").alias("n_second"),
    )
    return (
        agg.withColumn(
            "status",
            F.when(F.col("n_first") == 0, "new")
            .when(F.col("n_second") == 0, "vanished")
            .otherwise("stable"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("n_second") / F.nullif(F.col("n_first"), F.lit(0)), 6
            ),
        )
        .orderBy("from_service", "to_service")
    )


def sql_callgraph_drift() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, mid AS (SELECT (MIN(start_time) + MAX(start_time)) / 2 AS mid FROM spans),
edges AS (
  SELECT lower(p.service_name) AS from_service,
         lower(c.service_name) AS to_service,
         CASE WHEN c.start_time >= m.mid THEN 1 ELSE 0 END AS second_half
  FROM spans c
  JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
  CROSS JOIN mid m
  WHERE c.parent_span_id <> ''
), agg AS (
  SELECT from_service, to_service,
         CAST(SUM(1 - second_half) AS BIGINT) AS n_first,
         CAST(SUM(second_half) AS BIGINT) AS n_second
  FROM edges GROUP BY 1, 2
)
SELECT from_service, to_service, n_first, n_second,
       CASE WHEN n_first = 0 THEN 'new'
            WHEN n_second = 0 THEN 'vanished'
            ELSE 'stable' END AS status,
       ROUND(n_second / CAST(NULLIF(n_first, 0) AS DOUBLE), 6) AS ratio
FROM agg ORDER BY 1, 2
"""
    )


def q_span_idle_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduling/queueing idle time inside each parent span: parent
    duration minus the length of the INTERVAL UNION of its children
    (clipped to the parent window), rolled up per parent service. This
    is the overlap-aware sibling of `span_self_time`: self time goes
    negative when children run concurrently, while idle time is the
    true "parent was waiting on nothing" quantity (≥ 0 by
    construction) — high idle = lock waits, queue time, or untraced
    work between calls.

    Interval union via running-max gaps-and-islands: a new island opens
    when a child starts after the max end seen so far. (`island_index`
    — the lag-based core — is NOT reusable here: an early interval can
    extend past its immediate successor, so the gap test must compare
    against the running max, not the previous row.)

    Scale shape: the parent-child join, the per-parent running-max
    window, and the island rollup all key on (trace_id, parent) — the
    one trace exchange; the service rollup is tiny."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    parent = spans.select(
        "trace_id",
        F.col("span_id").alias("parent_span_id"),
        F.lower("service_name").alias("servicename"),
        F.col("start_time").alias("p_start"),
        (F.col("start_time") + F.col("duration")).alias("p_end"),
        F.col("duration").alias("p_dur"),
    )
    child = spans.filter(F.col("parent_span_id") != "").select(
        "trace_id",
        "parent_span_id",
        "span_id",
        F.col("start_time").alias("c_start"),
        (F.col("start_time") + F.col("duration")).alias("c_end"),
    )
    clipped = child.join(parent, ["trace_id", "parent_span_id"]).select(
        "trace_id",
        "parent_span_id",
        "span_id",
        "servicename",
        "p_dur",
        F.greatest("c_start", "p_start").alias("s"),
        F.least("c_end", "p_end").alias("e"),
    )
    roster = clipped.groupBy(
        "trace_id", "parent_span_id", "servicename", "p_dur"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_children"))
    iv = clipped.filter(F.col("e") > F.col("s"))
    w = Window.partitionBy("trace_id", "parent_span_id").orderBy(
        "s", "span_id"
    )
    run_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = iv.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(run_max, F.col("s") - 1)).cast("int"),
    ).withColumn("island_idx", F.sum("new_island").over(w))
    union_len = (
        islands.groupBy("trace_id", "parent_span_id", "island_idx")
        .agg((F.max("e") - F.min("s")).alias("ilen"))
        .groupBy("trace_id", "parent_span_id")
        .agg(F.sum("ilen").alias("union_len"))
    )
    per_parent = roster.join(
        union_len, ["trace_id", "parent_span_id"], "left"
    ).select(
        "servicename",
        "p_dur",
        "n_children",
        (F.col("p_dur") - F.coalesce("union_len", F.lit(0))).alias("idle"),
    )
    frac = F.when(F.col("p_dur") > 0, F.col("idle") / F.col("p_dur"))
    return (
        per_parent.groupBy("servicename")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parents"),
            F.round(F.avg("n_children"), 6).alias("avg_children"),
            F.round(F.avg("idle"), 6).alias("avg_idle"),
            F.round(F.avg(frac), 6).alias("avg_idle_frac"),
        )
        .orderBy("servicename")
    )


def sql_span_idle_gaps() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, clipped AS (
  SELECT c.trace_id, c.parent_span_id, c.span_id,
         lower(p.service_name) AS servicename, p.duration AS p_dur,
         GREATEST(c.start_time, p.start_time) AS s,
         LEAST(c.start_time + c.duration, p.start_time + p.duration) AS e
  FROM spans c
  JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
  WHERE c.parent_span_id <> ''
), roster AS (
  SELECT trace_id, parent_span_id, servicename, p_dur,
         CAST(COUNT(*) AS BIGINT) AS n_children
  FROM clipped GROUP BY 1, 2, 3, 4
), flags AS (
  SELECT trace_id, parent_span_id, span_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY trace_id, parent_span_id
                    ORDER BY s, span_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  s - 1)
              THEN 1 ELSE 0 END AS new_island
  FROM clipped WHERE e > s
), islands AS (
  SELECT trace_id, parent_span_id, s, e,
         SUM(new_island) OVER (PARTITION BY trace_id, parent_span_id
                               ORDER BY s, span_id) AS island_idx
  FROM flags
), union_len AS (
  SELECT trace_id, parent_span_id, SUM(ilen) AS union_len FROM (
    SELECT trace_id, parent_span_id, island_idx,
           MAX(e) - MIN(s) AS ilen
    FROM islands GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
), per_parent AS (
  SELECT r.servicename, r.p_dur, r.n_children,
         r.p_dur - COALESCE(u.union_len, 0) AS idle
  FROM roster r
  LEFT JOIN union_len u
    ON u.trace_id = r.trace_id AND u.parent_span_id = r.parent_span_id
)
SELECT servicename,
       CAST(COUNT(*) AS BIGINT) AS n_parents,
       ROUND(AVG(n_children), 6) AS avg_children,
       ROUND(AVG(idle), 6) AS avg_idle,
       ROUND(AVG(CASE WHEN p_dur > 0
                      THEN idle / CAST(p_dur AS DOUBLE) END), 6)
         AS avg_idle_frac
FROM per_parent GROUP BY 1 ORDER BY 1
"""
    )


def q_operation_cardinality_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operation-name cardinality audit per service: distinct operations,
    operations per 1k spans, and how many operations DEBUTED in the
    second time half (first-half split at the span start-time midpoint).
    The classic tracing cost bug — ids/timestamps leaking into operation
    names — shows up as ops_per_1k_spans drifting toward 1000 and a
    steady stream of new_ops at stable traffic; healthy services hold a
    small fixed operation set.

    Scale shape: one (service, operation) combinable aggregate with
    conditional half-presence flags against the broadcast 1-row
    midpoint, then a tiny per-service rollup."""
    spans = _spans(spark, sf_dir)
    mid = spans.agg(
        ((F.min("start_time") + F.max("start_time")) / 2).alias("mid")
    )
    per_op = (
        spans.crossJoin(F.broadcast(mid))
        .groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max((F.col("start_time") < F.col("mid")).cast("long")).alias(
                "in_first"
            ),
            F.max((F.col("start_time") >= F.col("mid")).cast("long")).alias(
                "in_second"
            ),
        )
    )
    return (
        per_op.groupBy("servicename")
        .agg(
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.count(F.lit(1)).cast("long").alias("n_ops"),
            F.sum(
                ((F.col("in_second") == 1) & (F.col("in_first") == 0)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("new_ops"),
        )
        .withColumn(
            "ops_per_1k_spans",
            F.round(F.col("n_ops") * 1000.0 / F.col("n_spans"), 6),
        )
        .orderBy("servicename")
    )


def sql_operation_cardinality_guard() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, mid AS (SELECT (MIN(start_time) + MAX(start_time)) / 2 AS mid FROM spans),
per_op AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         COUNT(*) AS n_spans,
         MAX(CASE WHEN start_time < m.mid THEN 1 ELSE 0 END) AS in_first,
         MAX(CASE WHEN start_time >= m.mid THEN 1 ELSE 0 END) AS in_second
  FROM spans CROSS JOIN mid m
  GROUP BY 1, 2
)
SELECT servicename,
       CAST(SUM(n_spans) AS BIGINT) AS n_spans,
       CAST(COUNT(*) AS BIGINT) AS n_ops,
       CAST(SUM(CASE WHEN in_second = 1 AND in_first = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS new_ops,
       ROUND(COUNT(*) * 1000.0 / SUM(n_spans), 6) AS ops_per_1k_spans
FROM per_op GROUP BY 1 ORDER BY 1
"""
    )


def q_dependency_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Architecture-smell detector: cyclic service dependencies in the
    call graph, enumerated exactly for the lengths that matter in
    practice — self-loops (a→a), mutual pairs (a⇄b) and directed
    triangles (a→b→c→a, canonicalized on the lexicographically smallest
    member so each directed cycle reports once). Cycles break deploy
    ordering, retry storms amplify around them, and most service maps
    assume a DAG — this is the audit that says whether yours is one.

    Scale shape: the edge list is a |services|²-bounded aggregate
    (service-level, independent of span volume); self/mutual/triangle
    enumeration joins that tiny table against itself — never the span
    table. The edge table is PINNED: it feeds six branches of one action
    (self/mutual×2/triangle×3) and without the pin each branch re-ran
    the span parent-child join from parquet (10 scans in the plan,
    zero ReusedExchange — r12-opt)."""
    from haystack_traces_spark.session import materialize

    edges = materialize(
        span_call_edges(_spans(spark, sf_dir))
        .select(
            F.lower("from_service").alias("a"),
            F.lower("to_service").alias("b"),
            F.col("calls").cast("long").alias("n"),
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("n"))
    )
    self_loops = edges.filter(F.col("a") == F.col("b")).select(
        F.lit("self").alias("cycle_type"),
        F.col("a").alias("members"),
        F.col("n").cast("long").alias("n_calls"),
    )
    e2 = edges.select(
        F.col("a").alias("b2"), F.col("b").alias("a2"), F.col("n").alias("n2")
    )
    mutual = (
        edges.join(
            e2, (F.col("a") == F.col("a2")) & (F.col("b") == F.col("b2"))
        )
        .filter(F.col("a") < F.col("b"))
        .select(
            F.lit("mutual").alias("cycle_type"),
            F.concat_ws(">", "a", "b").alias("members"),
            (F.col("n") + F.col("n2")).cast("long").alias("n_calls"),
        )
    )
    x = edges.select(
        F.col("a").alias("xa"), F.col("b").alias("xb"), F.col("n").alias("xn")
    )
    y = edges.select(
        F.col("a").alias("ya"), F.col("b").alias("yb"), F.col("n").alias("yn")
    )
    z = edges.select(
        F.col("a").alias("za"), F.col("b").alias("zb"), F.col("n").alias("zn")
    )
    triangles = (
        x.join(y, F.col("xb") == F.col("ya"))
        .join(z, (F.col("yb") == F.col("za")) & (F.col("zb") == F.col("xa")))
        .filter(
            (F.col("xa") < F.col("ya"))
            & (F.col("xa") < F.col("yb"))
            & (F.col("ya") != F.col("yb"))
        )
        .select(
            F.lit("triangle").alias("cycle_type"),
            F.concat_ws(">", "xa", "ya", "yb").alias("members"),
            (F.col("xn") + F.col("yn") + F.col("zn"))
            .cast("long")
            .alias("n_calls"),
        )
    )
    return (
        self_loops.unionByName(mutual)
        .unionByName(triangles)
        .orderBy("cycle_type", "members")
    )


def sql_dependency_cycles() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, edges AS (
  SELECT lower(p.service_name) AS a, lower(c.service_name) AS b,
         COUNT(*) AS n
  FROM spans c
  JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
  WHERE c.parent_span_id <> ''
  GROUP BY 1, 2
),
cycles AS (
  SELECT 'self' AS cycle_type, a AS members, CAST(n AS BIGINT) AS n_calls
  FROM edges WHERE a = b
  UNION ALL
  SELECT 'mutual', e.a || '>' || e.b, CAST(e.n + r.n AS BIGINT)
  FROM edges e JOIN edges r ON r.a = e.b AND r.b = e.a
  WHERE e.a < e.b
  UNION ALL
  SELECT 'triangle', x.a || '>' || y.a || '>' || y.b,
         CAST(x.n + y.n + z.n AS BIGINT)
  FROM edges x
  JOIN edges y ON y.a = x.b
  JOIN edges z ON z.a = y.b AND z.b = x.a
  WHERE x.a < y.a AND x.a < y.b AND y.a <> y.b
)
SELECT * FROM cycles ORDER BY cycle_type, members
"""
    )


def q_service_latency_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which services' latencies MOVE TOGETHER: Pearson correlation of
    per-trace total service time for every service pair co-occurring in
    enough traces. High coupling across a call edge is expected; high
    coupling WITHOUT an edge is the shared-resource smell (same database,
    same node pool, same lock). Correlation comes from the ONE shared
    raw-double-sums builder (`functions/stats.py pearson_corr`) —
    NULLIF'd zero variance and clamped cancellation, identical on both
    engines.

    Scale shape: per-(trace, service) totals ride the trace exchange;
    the pair join fans out only within each trace's service set (single
    digits); the rollup keys on the |services|²-bounded pair."""
    from haystack_traces_spark.functions.stats import pearson_corr

    # DOUBLE from the start: the moment sums (Σxy, Σx²) would overflow
    # BIGINT at scale — and DuckDB silently promotes to HUGEINT while
    # Spark wraps, so integer sums would also diverge cross-engine
    per = (
        _spans(spark, sf_dir)
        .groupBy("trace_id", F.lower("service_name").alias("svc"))
        .agg(F.sum("duration").cast("double").alias("dur"))
    )
    a = per.select("trace_id", F.col("svc").alias("svc_a"), F.col("dur").alias("x"))
    b = per.select("trace_id", F.col("svc").alias("svc_b"), F.col("dur").alias("y"))
    pairs = a.join(b, "trace_id").filter(F.col("svc_a") < F.col("svc_b"))
    return (
        pairs.groupBy("svc_a", "svc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            pearson_corr(F.col("x"), F.col("y")).alias("latency_corr"),
        )
        .filter(F.col("n_traces") >= 2)
        .orderBy("svc_a", "svc_b")
    )


def sql_service_latency_coupling() -> str:
    from haystack_traces_spark.functions.stats import pearson_corr_sql

    return (
        EVENT_SPANS_CTE
        + f"""
, per AS (
  SELECT trace_id, lower(service_name) AS svc,
         CAST(SUM(duration) AS DOUBLE) AS dur
  FROM spans GROUP BY 1, 2
)
SELECT a.svc AS svc_a, b.svc AS svc_b,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       {pearson_corr_sql("a.dur", "b.dur")} AS latency_corr
FROM per a JOIN per b ON b.trace_id = a.trace_id AND a.svc < b.svc
GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2
"""
    )


#: Calls counted as an operation's COLD-START window (ordered by start
#: time; ties broken on trace_id, span_id).
COLD_START_K = 5


def q_cold_start_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start latency TAX per (service, operation): mean duration of
    the operation's first COLD_START_K calls (chronological) vs the
    steady-state rest, and their ratio. JIT warm-up, cache fills,
    connection-pool growth and lazy init all land in the first calls —
    a tax well above 1 across many operations is the autoscaling
    argument for pre-warming. Operations with ≤ K calls have no steady
    state and report NULL rest/tax (AVG over an empty slice, identical
    cross-engine).

    Scale shape: one per-(service, operation) window for the rank (the
    partition is the op's own call history — the same per-group shape
    as slow_exemplars), then a combinable rollup."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    w = Window.partitionBy(
        F.lower("service_name"), F.lower("operation_name")
    ).orderBy("start_time", "trace_id", "span_id")
    ranked = spans.select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        "duration",
        F.row_number().over(w).alias("rn"),
    )
    is_cold = F.col("rn") <= COLD_START_K
    avg_cold = F.avg(F.when(is_cold, F.col("duration")))
    avg_warm = F.avg(F.when(~is_cold, F.col("duration")))
    return (
        ranked.groupBy("servicename", "operationname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.round(avg_cold, 6).alias("avg_cold"),
            F.round(avg_warm, 6).alias("avg_warm"),
            # ratio of the UNROUNDED avgs — the oracle divides unrounded
            # AVG()s, and round(round(c)/round(w)) can differ in the 6th
            # decimal from round(c/w)
            F.round(avg_cold / avg_warm, 6).alias("cold_tax"),
        )
        .orderBy("servicename", "operationname")
    )


def sql_cold_start_tax() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, ranked AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         duration,
         ROW_NUMBER() OVER (PARTITION BY lower(service_name),
                                         lower(operation_name)
                            ORDER BY start_time, trace_id, span_id) AS rn
  FROM spans
)
SELECT servicename, operationname,
       CAST(COUNT(*) AS BIGINT) AS n_calls,
       ROUND(AVG(CASE WHEN rn <= {COLD_START_K} THEN duration END), 6)
         AS avg_cold,
       ROUND(AVG(CASE WHEN rn > {COLD_START_K} THEN duration END), 6)
         AS avg_warm,
       ROUND(AVG(CASE WHEN rn <= {COLD_START_K} THEN duration END)
             / AVG(CASE WHEN rn > {COLD_START_K} THEN duration END), 6)
         AS cold_tax
FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
"""
    )


def q_trace_parallelism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How parallel are the traces actually running: per trace,
    factor = total span time / critical-path duration (1.0 = fully
    sequential; k = k-way effective concurrency — Amdahl's achievable
    ceiling for latency work on this workload), rolled up as a
    ⌊factor⌋-bucket histogram. A corpus stuck at 1.x says latency
    optimization must shorten the CHAIN (the critical path), not add
    parallelism that isn't there.

    Scale shape: the critical path rides the shared per-trace walk;
    totals are one combinable per-trace aggregate on the same exchange;
    the histogram is a ≤ buckets-row rollup. Zero-duration paths report
    no factor and are excluded (NULLIF guard, both engines)."""
    from haystack_traces_spark.operators.timeline import critical_path

    spans = _spans(spark, sf_dir)
    cp = critical_path(spans).select("trace_id", "path_duration")
    tot = spans.groupBy("trace_id").agg(
        F.sum("duration").alias("total_time")
    )
    factor = F.col("total_time") / F.nullif(
        F.col("path_duration").cast("double"), F.lit(0.0)
    )
    per_trace = (
        tot.join(cp, "trace_id")
        .select(factor.alias("factor"))
        .filter(F.col("factor").isNotNull())
    )
    return (
        per_trace.groupBy(
            F.floor("factor").cast("long").alias("parallelism_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_traces"),
            F.round(F.avg("factor"), 6).alias("avg_factor"),
        )
        .orderBy("parallelism_bucket")
    )


def sql_trace_parallelism() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + """
, paths(trace_id, span_id, path_duration) AS (
  SELECT s.trace_id, s.span_id, s.duration
  FROM spans s
  WHERE s.parent_span_id = '' OR s.parent_span_id NOT IN (
    SELECT span_id FROM spans s2 WHERE s2.trace_id = s.trace_id)
  UNION ALL
  SELECT c.trace_id, c.span_id, p.path_duration + c.duration
  FROM spans c JOIN paths p ON p.trace_id = c.trace_id
                           AND c.parent_span_id = p.span_id
),
cp AS (
  SELECT trace_id, MAX(path_duration) AS path_duration
  FROM paths p
  WHERE NOT EXISTS (SELECT 1 FROM spans ch
                    WHERE ch.trace_id = p.trace_id
                      AND ch.parent_span_id = p.span_id)
  GROUP BY trace_id
),
tot AS (SELECT trace_id, SUM(duration) AS total_time FROM spans GROUP BY 1),
f AS (
  SELECT t.total_time / CAST(NULLIF(c.path_duration, 0) AS DOUBLE) AS factor
  FROM tot t JOIN cp c USING (trace_id)
  WHERE c.path_duration <> 0
)
SELECT CAST(FLOOR(factor) AS BIGINT) AS parallelism_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_traces,
       ROUND(AVG(factor), 6) AS avg_factor
FROM f GROUP BY 1 ORDER BY 1
"""
    )


def q_error_recovery_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTTR at span granularity: for every ERROR span, the wall-clock gap
    to the NEXT successful call of the same (service, operation), rolled
    up per service — how quickly each service's operations return to
    health after a failure. Errors with no later success in the corpus
    are counted but excluded from the recovery average (NULL gap,
    AVG-skipped identically on both engines).

    Scale shape: one per-(service, operation) window ordered by start
    time; "next success" is a frame-bounded MIN over the following rows
    (no self-join); the service rollup is combinable."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    is_err = _errorcode() >= ERROR_THRESHOLD
    w = Window.partitionBy("servicename", "operationname").orderBy(
        "start_time", "trace_id", "span_id"
    )
    flagged = spans.select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        "start_time",
        is_err.alias("is_err"),
        F.when(~is_err, F.col("start_time")).alias("ok_start"),
        "trace_id",
        "span_id",
    ).withColumn(
        "next_ok",
        F.min("ok_start").over(
            w.rowsBetween(1, Window.unboundedFollowing)
        ),
    )
    errs = flagged.filter(F.col("is_err")).withColumn(
        "recovery_us", F.col("next_ok") - F.col("start_time")
    )
    return (
        errs.groupBy("servicename")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_errors"),
            F.count("recovery_us").cast("long").alias("n_recovered"),
            F.round(F.avg("recovery_us"), 6).alias("avg_recovery_us"),
            F.max("recovery_us").cast("long").alias("max_recovery_us"),
        )
        .orderBy("servicename")
    )


def sql_error_recovery_time() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, flagged AS (
  SELECT lower(service_name) AS servicename, start_time,
         COALESCE(errorcode, 0) >= {ERROR_THRESHOLD} AS is_err,
         MIN(CASE WHEN COALESCE(errorcode, 0) < {ERROR_THRESHOLD}
                  THEN start_time END)
           OVER (PARTITION BY lower(service_name), lower(operation_name)
                 ORDER BY start_time, trace_id, span_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_ok
  FROM spans
)
SELECT servicename,
       CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(COUNT(next_ok - start_time) AS BIGINT) AS n_recovered,
       ROUND(AVG(next_ok - start_time), 6) AS avg_recovery_us,
       CAST(MAX(next_ok - start_time) AS BIGINT) AS max_recovery_us
FROM flagged WHERE is_err
GROUP BY 1 ORDER BY 1
"""
    )


def q_load_latency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load-latency relationship per service: Pearson correlation of
    hourly call volume vs hourly mean duration across the corpus's
    hours. Near 0 = the service is over-provisioned for this traffic
    range; strongly positive = latency already climbs with load (the
    saturation-knee warning BEFORE p99 alarms fire). Correlation from
    the shared clamped raw-sums builder (`functions/stats.py`).

    Scale shape: the hourly rollup is one combinable aggregate keyed
    (service, hour); the per-service corr runs over hour-count-bounded
    groups."""
    from haystack_traces_spark.functions.stats import pearson_corr

    spans = _spans(spark, sf_dir)
    hourly = (
        spans.groupBy(
            F.lower("service_name").alias("servicename"),
            (F.col("start_time") - (F.col("start_time") % _HOUR_US)).alias(
                "hour_us"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("volume"),
            F.avg("duration").alias("avg_dur"),
        )
    )
    return (
        hourly.groupBy("servicename")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("volume").cast("long").alias("total_spans"),
            pearson_corr(F.col("volume"), F.col("avg_dur")).alias(
                "corr_load_latency"
            ),
        )
        .filter(F.col("n_hours") >= 2)
        .orderBy("servicename")
    )


def sql_load_latency_curve() -> str:
    from haystack_traces_spark.functions.stats import pearson_corr_sql

    return (
        EVENT_SPANS_CTE
        + f"""
, hourly AS (
  SELECT lower(service_name) AS servicename,
         start_time - start_time % {_HOUR_US} AS hour_us,
         CAST(COUNT(*) AS DOUBLE) AS volume,
         AVG(duration) AS avg_dur
  FROM spans GROUP BY 1, 2
)
SELECT servicename,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(volume) AS BIGINT) AS total_spans,
       {pearson_corr_sql("volume", "avg_dur")} AS corr_load_latency
FROM hourly GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1
"""
    )


#: Global span budget for the sampling planner, as a fraction of corpus
#: span volume.
SAMPLING_BUDGET_FRAC = 0.2


def q_sampling_rate_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-sampling BUDGET PLANNER: allocate a global span budget
    (SAMPLING_BUDGET_FRAC of corpus volume) across services by
    WATER-FILLING — small services are kept whole (uniform-rate
    sampling would starve them below statistical usefulness), large
    services split the remaining budget equally (the waterline). The
    max-min fair allocation, computed deterministically in one pass:
    services sorted by volume ascending; the waterline after fully
    keeping the k smallest is (B − cum_k) / (m − k); service k+1 is
    also kept whole iff its volume fits under that line.

    Output per service: volume, keep_rate (min(1, waterline/volume),
    6dp), kept_spans (floor). The complement of `sampling_bias_report`:
    that measures what a rate plan DID, this computes what it SHOULD
    be.

    Scale shape: the per-service volume aggregate is combinable; the
    water-filling window runs over |services| rows (catalog-bounded —
    the documented tiny-global-window class), and the chosen waterline
    is a 1-row broadcast."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    # NOTE (r12-opt): pinning vol was prototyped and REFUTED — AQE
    # exchange reuse already shares the volume aggregate across the
    # branches (7 jobs unpinned vs 10 pinned, wall neutral)
    vol = spans.groupBy(F.lower("service_name").alias("servicename")).agg(
        F.count(F.lit(1)).cast("double").alias("n_spans")
    )
    tot = vol.agg(
        F.sum("n_spans").alias("total"),
        F.count(F.lit(1)).alias("m"),
    )
    budget = F.floor(F.col("total") * SAMPLING_BUDGET_FRAC).cast("double")
    w = Window.orderBy("n_spans", "servicename")  # |services| rows
    ranked = (
        vol.crossJoin(F.broadcast(tot.withColumn("budget", budget)))
        .withColumn("k", F.row_number().over(w))
        .withColumn("cum", F.sum("n_spans").over(w))
    )
    # service k is kept WHOLE iff keeping it and splitting the rest of
    # the budget over the larger services stays feasible:
    # cum_k + n_k·(m − k) ≤ ... equivalently n_k ≤ (B − cum_{k−1})/(m−k+1)
    feasible = (
        F.col("n_spans") * (F.col("m") - F.col("k") + 1)
        <= F.col("budget") - (F.col("cum") - F.col("n_spans"))
    )
    flagged = ranked.withColumn("whole", feasible.cast("long"))
    # waterline from the LAST wholly-kept service (k*, cum*): the
    # remaining budget split over the m − k* larger services
    kstar = flagged.filter(F.col("whole") == 1).agg(
        F.max("k").alias("kstar"),
        F.max_by("cum", "k").alias("cumstar"),
    )
    line = (
        flagged.crossJoin(F.broadcast(kstar))
        .withColumn(
            "waterline",
            F.when(
                F.col("kstar").isNotNull() & (F.col("m") > F.col("kstar")),
                (F.col("budget") - F.col("cumstar"))
                / (F.col("m") - F.col("kstar")),
            ).otherwise(
                F.when(
                    F.col("kstar").isNull(),
                    F.col("budget") / F.col("m"),
                )
            ),
        )
    )
    rate = F.when(F.col("whole") == 1, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.col("waterline") / F.col("n_spans"))
    )
    return (
        line.select(
            "servicename",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.round(rate, 6).alias("keep_rate"),
            F.floor(F.col("n_spans") * F.round(rate, 6))
            .cast("long")
            .alias("kept_spans"),
        )
        .orderBy("servicename")
    )


def sql_sampling_rate_plan() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, vol AS (
  SELECT lower(service_name) AS servicename,
         CAST(COUNT(*) AS DOUBLE) AS n_spans
  FROM spans GROUP BY 1
),
tot AS (
  SELECT SUM(n_spans) AS total, COUNT(*) AS m,
         CAST(FLOOR(SUM(n_spans) * {SAMPLING_BUDGET_FRAC}) AS DOUBLE)
           AS budget
  FROM vol
),
ranked AS (
  SELECT v.*, t.m, t.budget,
         ROW_NUMBER() OVER (ORDER BY v.n_spans, v.servicename) AS k,
         SUM(v.n_spans) OVER (ORDER BY v.n_spans, v.servicename) AS cum
  FROM vol v CROSS JOIN tot t
),
flagged AS (
  SELECT *,
         CASE WHEN n_spans * (m - k + 1) <= budget - (cum - n_spans)
              THEN 1 ELSE 0 END AS whole
  FROM ranked
),
kstar AS (
  SELECT MAX(k) AS kstar, MAX_BY(cum, k) AS cumstar
  FROM flagged WHERE whole = 1
),
line AS (
  SELECT f.*,
         CASE WHEN s.kstar IS NOT NULL AND f.m > s.kstar
                THEN (f.budget - s.cumstar) / (f.m - s.kstar)
              WHEN s.kstar IS NULL THEN f.budget / f.m
         END AS waterline
  FROM flagged f CROSS JOIN kstar s
),
rates AS (
  SELECT servicename, n_spans,
         ROUND(CASE WHEN whole = 1 THEN 1.0
                    ELSE LEAST(1.0, waterline / n_spans) END, 6) AS keep_rate
  FROM line
)
SELECT servicename,
       CAST(n_spans AS BIGINT) AS n_spans,
       keep_rate,
       CAST(FLOOR(n_spans * keep_rate) AS BIGINT) AS kept_spans
FROM rates ORDER BY servicename
"""
    )


#: Maximum call-path length enumerated by hot_call_paths (service-hop
#: prefixes rooted at the trace root).
HOT_PATH_MAX_LEN = 3


def q_hot_call_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked CALL PATHS: every root-anchored service-hop
    prefix up to HOT_PATH_MAX_LEN hops ("gw", "gw>auth", "gw>auth>db"),
    with occurrence counts and the mean duration of the span at the
    path's end. `trace_fingerprints` groups traces by their unordered
    operation SET; this is the ordered drill-down — the paths where the
    traffic actually flows, the starting point for cache placement and
    timeout budgeting along a chain.

    Scale shape: fixed-depth iterative self-joins on the trace exchange
    (depth is a CONSTANT, not data-driven — no recursion in the engine);
    each level's rollup is a combinable aggregate on the path string."""
    spans = _spans(spark, sf_dir)
    base = spans.select(
        "trace_id",
        "span_id",
        "parent_span_id",
        F.lower("service_name").alias("svc"),
        "duration",
    )
    roots = base.filter(F.col("parent_span_id") == "").select(
        "trace_id",
        F.col("span_id").alias("tail_span"),
        F.col("svc").alias("path"),
        "duration",
    )
    levels = [roots]
    for _ in range(HOT_PATH_MAX_LEN - 1):
        prev = levels[-1]
        nxt = (
            base.join(
                prev.select(
                    "trace_id",
                    F.col("tail_span").alias("parent_span_id"),
                    F.col("path").alias("prefix"),
                ),
                ["trace_id", "parent_span_id"],
            )
            .select(
                "trace_id",
                F.col("span_id").alias("tail_span"),
                # F.concat, NOT concat_ws: concat_ws silently DROPS a
                # NULL svc (double-counting the parent's prefix) while
                # the oracle's || propagates NULL — both faces must
                # NULL-propagate identically
                F.concat(F.col("prefix"), F.lit(">"), F.col("svc")).alias(
                    "path"
                ),
                "duration",
            )
        )
        levels.append(nxt)
    allp = levels[0]
    for lv in levels[1:]:
        allp = allp.unionByName(lv)
    return (
        allp.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.round(F.avg("duration"), 6).alias("avg_tail_duration"),
        )
        .orderBy(F.col("n_occurrences").desc(), "path")
    )


def sql_hot_call_paths() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, base AS (
  SELECT trace_id, span_id, parent_span_id,
         lower(service_name) AS svc, duration
  FROM spans
),
l1 AS (
  SELECT trace_id, span_id AS tail_span, svc AS path, duration
  FROM base WHERE parent_span_id = ''
),
l2 AS (
  SELECT b.trace_id, b.span_id AS tail_span,
         p.path || '>' || b.svc AS path, b.duration
  FROM base b JOIN l1 p ON p.trace_id = b.trace_id
                       AND b.parent_span_id = p.tail_span
),
l3 AS (
  SELECT b.trace_id, b.span_id AS tail_span,
         p.path || '>' || b.svc AS path, b.duration
  FROM base b JOIN l2 p ON p.trace_id = b.trace_id
                       AND b.parent_span_id = p.tail_span
),
allp AS (
  SELECT path, duration FROM l1
  UNION ALL SELECT path, duration FROM l2
  UNION ALL SELECT path, duration FROM l3
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(AVG(duration), 6) AS avg_tail_duration
FROM allp GROUP BY path
ORDER BY n_occurrences DESC, path
"""
    )


def q_tag_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-sizing audit for the field whitelist: per tag KEY, how many
    spans carry it, how many DISTINCT values it takes, and the share +
    identity of its most common value. The operational input to the
    reference's whitelist config (S9): a key at near-span cardinality
    (ids leaking into tags) would explode the field index; a key whose
    top value holds ~100% of the mass indexes nothing worth querying.

    The engine reads the real typed-tag array, stringified by the
    canonical 5-way vtype dispatch (`span_funcs.tag_struct_value_str` —
    BINARY tags included: a high-cardinality binary id tag is exactly
    the explosion this audit exists to catch); the oracle re-derives
    the same two keys from the generative model — independent paths,
    same table. Counting is per DISTINCT (span, key, value): n_spans
    counts SPANS carrying the key (duplicate keys in one span don't
    inflate coverage), NULL-valued occurrences count toward n_spans but
    not the value distribution (both faces).

    Scale shape: explode + distinct + (key, value) combinable counts;
    the top-value argmax is WINDOW-FREE (max-count aggregate + equality
    join + min-value tie-break — all combinable), so even a degenerate
    near-span-cardinality key (the very pathology being audited) never
    forces a single partition to hold its value distribution."""
    from haystack_traces_spark.functions.span_funcs import (
        tag_struct_value_str,
    )

    spans = _spans(spark, sf_dir)
    rows = (
        spans.select(
            "trace_id", "span_id", F.explode("tags").alias("t")
        )
        .select(
            "trace_id",
            "span_id",
            F.col("t.key").alias("tag_key"),
            tag_struct_value_str(F.col("t")).alias("value"),
        )
        .distinct()
    )
    kv = (
        rows.filter(F.col("value").isNotNull())
        .groupBy("tag_key", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    maxc = kv.groupBy("tag_key").agg(F.max("c").alias("top_c"))
    top = (
        kv.join(maxc, "tag_key")
        .filter(F.col("c") == F.col("top_c"))
        .groupBy("tag_key", "top_c")
        .agg(F.min("value").alias("top_value"))
    )
    per_key = rows.groupBy("tag_key").agg(
        F.countDistinct("trace_id", "span_id").cast("long").alias("n_spans"),
        F.countDistinct("value").cast("long").alias("n_values"),
        F.count("value").cast("long").alias("n_valued"),
    )
    return (
        per_key.join(top, "tag_key", "left")
        .select(
            "tag_key",
            "n_spans",
            "n_values",
            "top_value",
            F.round(
                F.col("top_c") / F.col("n_valued").cast("double"), 6
            ).alias("top_share"),
        )
        .orderBy("tag_key")
    )


def sql_tag_value_stats() -> str:
    # Independent derivation from the generative model: every span carries
    # exactly (errorcode → CAST(k AS VARCHAR) | NULL) and (role → 'haystack')
    return (
        EVENT_SPANS_CTE
        + """
, tag AS (
  SELECT DISTINCT trace_id, span_id,
         'errorcode' AS tag_key, CAST(errorcode AS VARCHAR) AS value
  FROM spans
  UNION
  SELECT DISTINCT trace_id, span_id, 'role', 'haystack' FROM spans
),
kv AS (SELECT tag_key, value, CAST(COUNT(*) AS BIGINT) AS c
       FROM tag WHERE value IS NOT NULL GROUP BY 1, 2),
top AS (
  SELECT tag_key, value AS top_value, c AS top_c FROM (
    SELECT tag_key, value, c,
           ROW_NUMBER() OVER (PARTITION BY tag_key
                              ORDER BY c DESC, value ASC) AS rn
    FROM kv
  ) WHERE rn = 1
),
per_key AS (
  SELECT tag_key,
         CAST(COUNT(DISTINCT (trace_id, span_id)) AS BIGINT) AS n_spans,
         CAST(COUNT(DISTINCT value) AS BIGINT) AS n_values,
         CAST(COUNT(value) AS BIGINT) AS n_valued
  FROM tag GROUP BY 1
)
SELECT p.tag_key, p.n_spans, p.n_values, t.top_value,
       ROUND(t.top_c / CAST(p.n_valued AS DOUBLE), 6) AS top_share
FROM per_key p LEFT JOIN top t USING (tag_key)
ORDER BY p.tag_key
"""
    )


def q_timestamp_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumentation clock audit: per service, the fraction of span
    start times aligned to millisecond/second boundaries (in the µs
    domain) and the inferred clock granularity. A service reporting
    ms-truncated timestamps silently breaks duration math, span
    ordering tie-breaks, and the clock-skew estimator for everything it
    talks to — and the corruption is invisible to value-range checks
    (the timestamps look perfectly plausible).

    Threshold: ≥99% alignment infers the coarser clock (a uniform µs
    clock aligns to ms only ~0.1% of the time, so the gap between
    healthy and truncated is ~three orders of magnitude).

    Scale shape: ONE map-side-combinable aggregate — modulo flags
    summed per service, nothing else."""
    spans = _spans(spark, sf_dir)
    ms = (F.col("start_time") % 1_000 == 0).cast("long")
    s = (F.col("start_time") % 1_000_000 == 0).cast("long")
    agg = spans.groupBy(F.lower("service_name").alias("servicename")).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.round(F.avg(ms), 6).alias("frac_ms_aligned"),
        F.round(F.avg(s), 6).alias("frac_s_aligned"),
    )
    return (
        agg.withColumn(
            "inferred_granularity",
            F.when(F.col("frac_s_aligned") >= 0.99, "second")
            .when(F.col("frac_ms_aligned") >= 0.99, "millisecond")
            .otherwise("microsecond"),
        )
        .orderBy("servicename")
    )


def sql_timestamp_granularity() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, agg AS (
  SELECT lower(service_name) AS servicename,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         ROUND(AVG(CASE WHEN start_time % 1000 = 0 THEN 1.0 ELSE 0.0 END), 6)
           AS frac_ms_aligned,
         ROUND(AVG(CASE WHEN start_time % 1000000 = 0 THEN 1.0 ELSE 0.0 END), 6)
           AS frac_s_aligned
  FROM spans GROUP BY 1
)
SELECT *,
       CASE WHEN frac_s_aligned >= 0.99 THEN 'second'
            WHEN frac_ms_aligned >= 0.99 THEN 'millisecond'
            ELSE 'microsecond' END AS inferred_granularity
FROM agg ORDER BY servicename
"""
    )


#: Bucket width for the in-flight trace load profile.
TRACE_LOAD_BUCKET_US = 60_000_000  # one minute


def q_concurrent_trace_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionizer capacity input: how many traces are IN FLIGHT per
    minute bucket — each trace occupies [min span start, max span end],
    exploded onto the minute grid. This is the number the T2 state
    budget must cover (traces the sessionizer holds open at once) and
    what the partition-divided global span budget is sized against;
    n_starting is the arrival rate the window-from-first-seen timer
    sees.

    Scale shape (r12-opt rewrite, guide §2.3 "shuffle fewer bytes"):
    per-trace envelope is one combinable aggregate; occupancy then comes
    from an INTERVAL SWEEP — per-bucket start/end deltas (two combinable
    aggregates over one trace-envelope row each) and a running sum over
    the global bucket grid — instead of exploding every trace onto every
    minute it covers. The old explode emitted Σ(trace minutes) rows
    (62.9M at sf0.1, month-long traces × minute buckets, collapsing to
    43 200 output rows); the sweep's volume is |bucket grid| = timeline
    length in minutes, independent of trace count and span volume. The
    one single-partition window runs over that bounded grid (a year is
    ~526k rows), never over data-sized input. n_active(b) =
    Σ_{b'≤b} starts − Σ_{b'<b} ends, exactly the old per-bucket count of
    covering traces; buckets no trace covers carry n_active = 0 and are
    filtered, matching the explode's output domain."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    B = TRACE_LOAD_BUCKET_US
    env = spans.groupBy("trace_id").agg(
        F.floor(F.min("start_time") / B).alias("b0"),
        F.floor(F.max(F.col("start_time") + F.col("duration")) / B).alias("b1"),
    )
    starts = env.groupBy(F.col("b0").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_starting")
    )
    ends = env.groupBy(F.col("b1").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_ending")
    )
    grid = env.agg(F.min("b0").alias("lo"), F.max("b1").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("bucket")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    swept = (
        grid.join(starts, "bucket", "left")
        .join(ends, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_starting", F.lit(0).cast("long")).alias("n_starting"),
            F.coalesce("n_ending", F.lit(0).cast("long")).alias("n_ending"),
        )
        .withColumn(
            "n_active",
            (
                F.sum("n_starting").over(w)
                - (F.sum("n_ending").over(w) - F.col("n_ending"))
            ).cast("long"),
        )
    )
    return (
        swept.filter(F.col("n_active") > 0)
        .select(
            (F.col("bucket") * B).alias("bucket_start"),
            "n_active",
            "n_starting",
            "n_ending",
        )
        .orderBy("bucket_start")
    )


def sql_concurrent_trace_load() -> str:
    B = TRACE_LOAD_BUCKET_US
    return (
        EVENT_SPANS_CTE
        + f"""
, env AS (
  SELECT trace_id, MIN(start_time) AS t0,
         MAX(start_time + duration) AS t1
  FROM spans GROUP BY 1
),
grid AS (
  SELECT trace_id,
         CAST(FLOOR(t0 / {B}) AS BIGINT) AS b0,
         CAST(FLOOR(t1 / {B}) AS BIGINT) AS b1,
         t.bucket
  FROM env, UNNEST(generate_series(CAST(FLOOR(t0 / {B}) AS BIGINT),
                                   CAST(FLOOR(t1 / {B}) AS BIGINT))) t(bucket)
)
SELECT CAST(bucket * {B} AS BIGINT) AS bucket_start,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN bucket = b0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_starting,
       CAST(SUM(CASE WHEN bucket = b1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ending
FROM grid GROUP BY 1 ORDER BY 1
"""
    )



def q_latency_variance_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """→ (svc, n_traces_present, var_share, corr): which service's time
    DRIVES the variance of end-to-end trace duration — per service,
    cov(per-trace service time, trace duration) / var(trace duration),
    with absent-from-trace services counted as ZERO time (the covariance
    is over ALL traces, so shares are comparable across services). The
    tail-taming priority list: a service can have modest mean latency
    yet dominate variance (retries, cold caches) — variance share finds
    it where mean-based rollups don't. corr is the same relationship
    normalized per-service (pearson via the shared stats builder).

    Trace duration is the house envelope (max(start+duration) −
    min(start), as in trace_duration_percentiles). Σ var_share over
    services ≈ the duration mass explained by service time (gaps and
    overlap keep it from summing to exactly 1 — documented, not hidden).

    Scale shape: per-(trace, service) totals and the trace envelope ride
    ONE trace exchange; the zero-fill grid is traces × |services| with
    the tiny service list broadcast; the final rollup keys on svc. The
    1-row var(D) total is a broadcast join (bounded). Both inputs are
    ANCHORED on their per-svc minima before the moment sums (cov/var are
    shift-invariant): raw x·dur power sums at ~1e6–1e7 µs magnitudes
    pass 2^53 and make the 6dp-rounded ratio order-dependent across
    engines — the stats.py anchoring contract, same window the groupBy
    exchange already provides."""
    from pyspark.sql import Window

    from haystack_traces_spark.functions.stats import pearson_corr

    spans = _spans(spark, sf_dir)
    per = spans.groupBy(
        "trace_id", F.lower("service_name").alias("svc")
    ).agg(F.sum("duration").cast("double").alias("x"))
    env = spans.groupBy("trace_id").agg(
        (F.max(F.col("start_time") + F.col("duration")) - F.min("start_time"))
        .cast("double")
        .alias("dur")
    )
    svcs = per.select("svc").distinct()
    grid = env.crossJoin(F.broadcast(svcs))
    filled = grid.join(per, ["trace_id", "svc"], "left").select(
        "svc", "dur", F.coalesce("x", F.lit(0.0)).alias("x")
    )
    wsvc = Window.partitionBy("svc")
    anchored = filled.select(
        "svc",
        "x",
        (F.col("x") - F.min("x").over(wsvc)).alias("xa"),
        (F.col("dur") - F.min("dur").over(wsvc)).alias("da"),
    )
    n = F.count(F.lit(1)).cast("double")
    cov = n * F.sum(F.col("xa") * F.col("da")) - F.sum("xa") * F.sum("da")
    var_d = F.greatest(
        n * F.sum(F.col("da") * F.col("da")) - F.sum("da") * F.sum("da"),
        F.lit(0.0),
    )
    return (
        anchored.groupBy("svc")
        .agg(
            F.sum((F.col("x") > 0).cast("long")).cast("long")
            .alias("n_traces_present"),
            F.round(cov / F.nullif(var_d, F.lit(0.0)), 6).alias("var_share"),
            pearson_corr(F.col("xa"), F.col("da")).alias("corr"),
        )
        .orderBy("svc")
    )


def sql_latency_variance_decomposition() -> str:
    from haystack_traces_spark.functions.stats import pearson_corr_sql

    return (
        EVENT_SPANS_CTE
        + f"""
, per AS (
  SELECT trace_id, lower(service_name) AS svc,
         CAST(SUM(duration) AS DOUBLE) AS x
  FROM spans GROUP BY 1, 2
),
env AS (
  SELECT trace_id,
         CAST(MAX(start_time + duration) - MIN(start_time) AS DOUBLE) AS dur
  FROM spans GROUP BY 1
),
svcs AS (SELECT DISTINCT svc FROM per),
filled AS (
  SELECT s.svc, e.dur, COALESCE(p.x, 0) AS x
  FROM env e CROSS JOIN svcs s
  LEFT JOIN per p ON p.trace_id = e.trace_id AND p.svc = s.svc
),
anchored AS (
  SELECT svc, x,
         x - MIN(x) OVER (PARTITION BY svc) AS xa,
         dur - MIN(dur) OVER (PARTITION BY svc) AS da
  FROM filled
)
SELECT svc,
       CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_traces_present,
       ROUND((COUNT(*) * SUM(xa * da) - SUM(xa) * SUM(da))
             / NULLIF(GREATEST(COUNT(*) * SUM(da * da)
                               - SUM(da) * SUM(da), 0), 0), 6)
         AS var_share,
       {pearson_corr_sql("xa", "da")} AS corr
FROM anchored GROUP BY svc ORDER BY svc
"""
    )


MODALITY_MIN_N = 5


def q_span_duration_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, operationname, n, skewness, excess_kurtosis,
    bimodality): distribution-SHAPE audit of span durations per
    operation — population skewness g1, excess kurtosis g2, and the
    bimodality coefficient (g1² + 1) / (g2 + 3) (SAS/Pfister 2013; the
    uniform scores 5/9 ≈ 0.555, higher suggests TWO latency regimes).
    An operation whose latency is bimodal — cache hit vs miss, fast
    path vs lock contention — hides both regimes inside one mean and
    one p99; this is the screen that says "split this histogram before
    tuning it". Moment math via the shared stats builder (clamped m2,
    NULLIF denominators — constant durations yield NULL shape, both
    engines), ANCHORED on the per-group min first: central moments are
    shift-invariant, and centering makes the power sums exact small
    integers instead of cancellation noise (the stats.py contract —
    unanchored, a steady ~1e6 µs operation reports garbage kurtosis).
    Groups need n ≥ MODALITY_MIN_N.

    Scale shape: two aggregates on the SAME (service, operation) key
    (min anchor, then centered power sums) + a broadcast join of the
    tiny per-op anchor table — no windows."""
    from haystack_traces_spark.functions.stats import skew_kurt

    spans = _spans(spark, sf_dir).select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        F.col("duration").cast("double").alias("dur"),
    )
    anchors = spans.groupBy("servicename", "operationname").agg(
        F.min("dur").alias("_anchor")
    )
    centered = spans.join(
        F.broadcast(anchors), ["servicename", "operationname"]
    ).withColumn("xc", F.col("dur") - F.col("_anchor"))
    g1, g2 = skew_kurt(F.col("xc"))
    bim = (g1 * g1 + F.lit(1.0)) / F.nullif(g2 + F.lit(3.0), F.lit(0.0))
    return (
        centered.groupBy("servicename", "operationname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(g1, 6).alias("skewness"),
            F.round(g2, 6).alias("excess_kurtosis"),
            F.round(bim, 6).alias("bimodality"),
        )
        .filter(F.col("n") >= MODALITY_MIN_N)
        .orderBy("servicename", "operationname")
    )


def sql_span_duration_modality() -> str:
    from haystack_traces_spark.functions.stats import skew_kurt_sql

    g1, g2 = skew_kurt_sql("xc")
    return (
        EVENT_SPANS_CTE
        + f"""
, d AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         CAST(duration AS DOUBLE) AS dur
  FROM spans
),
anch AS (SELECT servicename, operationname, MIN(dur) AS a
         FROM d GROUP BY 1, 2),
centered AS (
  SELECT d.servicename, d.operationname, d.dur - anch.a AS xc
  FROM d JOIN anch USING (servicename, operationname)
)
SELECT servicename, operationname,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND({g1}, 6) AS skewness,
       ROUND({g2}, 6) AS excess_kurtosis,
       ROUND(({g1} * {g1} + 1) / NULLIF({g2} + 3, 0), 6) AS bimodality
FROM centered
GROUP BY 1, 2
HAVING COUNT(*) >= {MODALITY_MIN_N}
ORDER BY 1, 2
"""
    )



def q_service_overlap_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (svc_a, svc_b, n_traces, n_overlapping_pairs, total_overlap_us):
    how much WALL-CLOCK time each service pair spends running
    CONCURRENTLY inside the same trace — summed pairwise interval
    intersection between the two services' spans. The measured
    complement of `trace_parallelism`'s factor: parallelism says "this
    workload runs k-way"; overlap says WHICH services share those
    concurrent windows (capacity planning pairs, contention suspects,
    candidates for co-scheduling). Pure integer interval arithmetic —
    exact on both engines, no float discipline needed.

    Scale shape: the pair join is per-trace (same bounded fan-out as
    `service_latency_coupling` — a trace's span count, never corpus²)
    and rides ONE trace_id exchange; the rollup keys on the
    |services|²-bounded pair."""
    spans = _spans(spark, sf_dir).select(
        "trace_id",
        F.lower("service_name").alias("svc"),
        F.col("start_time").alias("s"),
        (F.col("start_time") + F.col("duration")).alias("e"),
    )
    a = spans.select("trace_id", F.col("svc").alias("svc_a"),
                     F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = spans.select("trace_id", F.col("svc").alias("svc_b"),
                     F.col("s").alias("sb"), F.col("e").alias("eb"))
    ov = F.greatest(
        F.lit(0).cast("long"),
        F.least("ea", "eb") - F.greatest("sa", "sb"),
    )
    pairs = (
        a.join(b, "trace_id")
        .filter(F.col("svc_a") < F.col("svc_b"))
        .withColumn("ov", ov)
    )
    return (
        pairs.groupBy("svc_a", "svc_b")
        .agg(
            F.countDistinct("trace_id").cast("long").alias("n_traces"),
            F.sum((F.col("ov") > 0).cast("long")).cast("long")
            .alias("n_overlapping_pairs"),
            F.sum("ov").cast("long").alias("total_overlap_us"),
        )
        .filter(F.col("n_overlapping_pairs") > 0)
        .orderBy("svc_a", "svc_b")
    )


def sql_service_overlap_time() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, sp AS (
  SELECT trace_id, lower(service_name) AS svc,
         start_time AS s, start_time + duration AS e
  FROM spans
),
pairs AS (
  SELECT a.trace_id, a.svc AS svc_a, b.svc AS svc_b,
         GREATEST(0, LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS ov
  FROM sp a JOIN sp b ON b.trace_id = a.trace_id AND a.svc < b.svc
)
SELECT svc_a, svc_b,
       CAST(COUNT(DISTINCT trace_id) AS BIGINT) AS n_traces,
       CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlapping_pairs,
       CAST(SUM(ov) AS BIGINT) AS total_overlap_us
FROM pairs GROUP BY 1, 2
HAVING SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) > 0
ORDER BY 1, 2
"""
    )


def q_sampling_debias_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (reason, n_traces, weight, weighted_traces): inverse-probability
    weights that make metrics computed from the TAIL-SAMPLED traces
    unbiased for the full population — error/slow traces are kept with
    probability 1 (weight 1), hash-kept traces represent 100/RATE_PCT
    of their stratum, drops carry weight 0. `sampling_bias_report`
    MEASURES the bias; this emits the correction: Σ weighted_traces over
    the sampled reasons estimates the true corpus trace count (pinned
    exactly in the crafted test — Horvitz-Thompson over deterministic
    strata has zero estimation error on the hash stratum count itself
    only in expectation; the estimator identity Σ n·w is what ships).
    Weights come from the SAME policy constants the streaming gate and
    batch face share — a re-tuned sampler re-weights automatically.

    Scale shape: one ≤4-row rollup over the shared per-trace decision
    table; weights are literal CASE arms."""
    decisions = q_tail_sampling(spark, sf_dir)
    w = (
        F.when(F.col("reason").isin("error", "slow"), F.lit(1.0))
        .when(F.col("reason") == "hash", F.lit(100.0 / SAMPLING_RATE_PCT))
        .otherwise(F.lit(0.0))
    )
    return (
        decisions.groupBy("reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n_traces"))
        .withColumn("weight", w)
        .withColumn(
            "weighted_traces",
            F.round(F.col("n_traces") * F.col("weight"), 6),
        )
        .orderBy("reason")
    )


def sql_sampling_debias_weights() -> str:
    w_hash = 100.0 / SAMPLING_RATE_PCT
    return f"""
WITH decisions AS ({sql_tail_sampling().strip()})
SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_traces,
       CASE WHEN reason IN ('error', 'slow') THEN 1.0
            WHEN reason = 'hash' THEN {w_hash}
            ELSE 0.0 END AS weight,
       ROUND(COUNT(*) * CASE WHEN reason IN ('error', 'slow') THEN 1.0
                             WHEN reason = 'hash' THEN {w_hash}
                             ELSE 0.0 END, 6) AS weighted_traces
FROM decisions GROUP BY reason ORDER BY reason
"""



def q_error_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (depth, n_spans, n_errors, error_rate): WHERE IN THE CALL TREE
    errors live — error count and rate per tree depth. Errors
    concentrated at the deepest tier point at a leaf dependency (one
    backend poisoning every path through it); errors ONLY at depth 0
    with clean subtrees point at gateway-side failures (timeouts,
    rejections) that never reached the backends. The error-localized
    sibling of `depth_profile` (latency per depth).

    Depth rides the shared per-trace timeline walk; the error flag joins
    back on (trace_id, span_id) within the SAME trace exchange; the
    rollup is a tiny depth-keyed aggregate. (Parent-cycle spans: same
    documented walk-vs-recursive-CTE divergence class as depth_profile;
    well-formed corpora agree.)"""
    from haystack_traces_spark.operators.timeline import trace_timeline

    spans = _spans(spark, sf_dir)
    tl = trace_timeline(spans).select("trace_id", "span_id", "depth")
    err = spans.select(
        "trace_id", "span_id",
        (_errorcode() >= ERROR_THRESHOLD).cast("long").alias("is_err"),
    )
    return (
        tl.join(err, ["trace_id", "span_id"])
        .groupBy(F.col("depth").cast("long").alias("depth"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("is_err").cast("long").alias("n_errors"),
            F.round(F.sum("is_err") / F.count(F.lit(1)), 6)
            .alias("error_rate"),
        )
        .orderBy("depth")
    )


def sql_error_depth_profile() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + _DEPTH_CTE_SQL
        + f"""
SELECT CAST(d.depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN COALESCE(s.errorcode, 0) >= {ERROR_THRESHOLD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       ROUND(SUM(CASE WHEN COALESCE(s.errorcode, 0) >= {ERROR_THRESHOLD}
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS error_rate
FROM d JOIN spans s ON s.trace_id = d.trace_id AND s.span_id = d.span_id
GROUP BY 1 ORDER BY 1
"""
    )


def q_tag_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, tag_key, n_spans, n_tagged, coverage): what share
    of each service's spans actually CARRY each whitelisted tag — the
    index-coverage audit behind every tag-filtered search ("can I query
    this service by role?" has a number, not a guess). A whitelisted key
    at 3% coverage indexes noise; near-0% coverage on one service while
    siblings sit at 100% is an instrumentation gap to fix at the SOURCE.
    Mirrors the reference's whitelist semantics: the SAME typed
    tag-extraction the index builder runs (absent tag = NULL = untagged).

    Scale shape: ONE span scan — per-key tagged flags are computed in a
    single projection and unpivoted with stack() (a per-key union would
    re-run the events→spans window once per key); the rollup is a
    (service, key)-keyed combinable aggregate. Keys come from the LIVE
    whitelist config, not literals — adding/disabling a whitelist field
    changes the audit with it (the oracle SQL stays literal for the
    default config, like sql_field_names)."""
    from haystack_traces_spark.config import DEFAULT_WHITELIST
    from haystack_traces_spark.transform.tags import tag_str

    keys = DEFAULT_WHITELIST.field_names()
    spans = _spans(spark, sf_dir)
    stack_args = ", ".join(f"'{k}', _t_{i}" for i, k in enumerate(keys))
    flagged = spans.select(
        F.lower("service_name").alias("servicename"),
        *[
            tag_str("tags", k).isNotNull().cast("long").alias(f"_t_{i}")
            for i, k in enumerate(keys)
        ],
    ).select(
        "servicename",
        F.expr(
            f"stack({len(keys)}, {stack_args}) AS (tag_key, tagged)"
        ),
    )
    return (
        flagged.groupBy("servicename", "tag_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("tagged").cast("long").alias("n_tagged"),
            F.round(F.sum("tagged") / F.count(F.lit(1)), 6)
            .alias("coverage"),
        )
        .orderBy("servicename", "tag_key")
    )


def sql_tag_coverage() -> str:
    # the events source synthesizes BOTH whitelist tags: errorcode LONG
    # from props.k (NULL when the json lacks k → untagged) and role
    # STRING with a constant value (always tagged). "Tagged" = the tag
    # yields a usable value, the same contract tag_str gives the Spark
    # face.
    return (
        EVENT_SPANS_CTE
        + """
, keys AS (SELECT 'errorcode' AS tag_key UNION ALL SELECT 'role')
SELECT lower(service_name) AS servicename, k.tag_key,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN k.tag_key = 'role' OR errorcode IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tagged,
       ROUND(SUM(CASE WHEN k.tag_key = 'role' OR errorcode IS NOT NULL
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS coverage
FROM spans CROSS JOIN keys k
GROUP BY 1, 2 ORDER BY 1, 2
"""
    )



def q_retry_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, operationname, n_error_chains, n_recovered,
    recovery_rate): do retries actually RECOVER — among retry chains
    (≥2 identical (service, operation) calls in one trace) that contain
    at least one error, how often is the FINAL attempt clean. High
    recovery says the dependency is transiently flaky and the retry
    policy is earning its amplification (`retry_storms` prices that
    amplification); near-zero recovery says retries are pure load with
    no benefit — turn them off or fix the dependency. "Final" = max
    (start_time, span_id) within the chain (deterministic tie-break).

    Scale shape: one (trace, svc, op)-keyed combinable aggregate on the
    shared trace exchange (count, error count, max-struct final-attempt
    flag), then a tiny (svc, op) rollup — no joins, no windows."""
    spans = _spans(spark, sf_dir)
    is_err = (_errorcode() >= ERROR_THRESHOLD).cast("long")
    chains = (
        spans.select(
            "trace_id",
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
            "start_time",
            "span_id",
            is_err.alias("e"),
        )
        .groupBy("trace_id", "servicename", "operationname")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("e").alias("n_err"),
            F.max(F.struct("start_time", "span_id", "e"))["e"].alias(
                "last_err"
            ),
        )
        .filter((F.col("c") >= 2) & (F.col("n_err") >= 1))
    )
    return (
        chains.groupBy("servicename", "operationname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_error_chains"),
            F.sum((F.col("last_err") == 0).cast("long"))
            .cast("long")
            .alias("n_recovered"),
            F.round(
                F.sum((F.col("last_err") == 0).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("recovery_rate"),
        )
        .orderBy("servicename", "operationname")
    )


def sql_retry_effectiveness() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, chains AS (
  SELECT trace_id, lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         COUNT(*) AS c,
         SUM(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
                  THEN 1 ELSE 0 END) AS n_err,
         MAX(struct_pack(st := start_time, sid := span_id,
                         e := CASE WHEN COALESCE(errorcode, 0)
                                        >= {ERROR_THRESHOLD}
                                   THEN 1 ELSE 0 END))['e'] AS last_err
  FROM spans GROUP BY 1, 2, 3
  HAVING COUNT(*) >= 2
     AND SUM(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
                  THEN 1 ELSE 0 END) >= 1
)
SELECT servicename, operationname,
       CAST(COUNT(*) AS BIGINT) AS n_error_chains,
       CAST(SUM(CASE WHEN last_err = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recovered,
       ROUND(SUM(CASE WHEN last_err = 0 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS recovery_rate
FROM chains GROUP BY 1, 2 ORDER BY 1, 2
"""
    )





def q_index_partition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (day_us, hb, n_traces, n_groups_total, max_groups_per_trace):
    occupancy profile of the trace_index's (dt, hb) partition grid — how
    many traces and index groups land in each 6-hour bucket. THE table
    that answers "is my partition layout balanced, and which buckets
    need the salt" (SCALE.md §1: add a salt to the repartition when a
    bucket exceeds a few hundred MB — this is where you see it coming).
    Buckets are computed with pure INTEGER epoch arithmetic (day_us =
    UTC-day start in µs, hb = 6 h slot) — the same boundaries the
    partition columns encode, without the session-timezone dependence a
    date_format mirror would carry.

    Scale shape: the per-trace row rides the index build's single trace
    exchange; the profile is a tiny (day, hb)-keyed combinable rollup —
    output rows = occupied partitions."""
    return _index_grid(_index(spark, sf_dir)).orderBy("day_us", "hb")


def sql_index_partition_profile() -> str:
    return (
        EVENT_SPANS_CTE
        + _INDEX_GRID_SQL
        + """
SELECT day_us, hb, n_traces, n_groups_total, max_groups_per_trace
FROM grid ORDER BY 1, 2
"""
    )


def q_duration_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, n_spans, n_round_1ms, n_round_10ms, share_1ms,
    heap_factor_1ms): INSTRUMENTATION-ARTIFACT gauge — per service, how
    many span durations land on round-millisecond multiples (duration ≡
    0 mod 1000 µs / mod 10000 µs) and how far that exceeds the ~1/1000
    share a genuinely µs-resolution clock would produce. heap_factor ≫ 1
    means the service reports ms-truncated (or worse, hand-rounded)
    durations — its percentiles, MAD outliers and changepoint stats are
    quantized artifacts, not measurements; the gauge says WHOSE latency
    numbers to distrust before any of the latency operators run. (The
    timestamp analog is timestamp_granularity; this is the duration
    face.)

    Scale shape: one combinable per-service aggregate over the span
    scan — no join, no window; output = |services| rows."""
    return duration_heaping_from(_spans(spark, sf_dir))


def duration_heaping_from(spans: DataFrame) -> DataFrame:
    per = spans.groupBy(F.lower("service_name").alias("servicename")).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum((F.col("duration") % 1000 == 0).cast("long"))
        .cast("long")
        .alias("n_round_1ms"),
        F.sum((F.col("duration") % 10000 == 0).cast("long"))
        .cast("long")
        .alias("n_round_10ms"),
    )
    return per.select(
        "servicename",
        "n_spans",
        "n_round_1ms",
        "n_round_10ms",
        F.round(F.col("n_round_1ms") / F.col("n_spans"), 6).alias("share_1ms"),
        F.round(
            F.col("n_round_1ms") * F.lit(1000) / F.col("n_spans"), 6
        ).alias("heap_factor_1ms"),
    ).orderBy("servicename")


def sql_duration_heaping() -> str:
    return (
        EVENT_SPANS_CTE
        + """
, per AS (
  SELECT lower(service_name) AS servicename,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN duration % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_round_1ms,
         CAST(SUM(CASE WHEN duration % 10000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_round_10ms
  FROM spans GROUP BY 1
)
SELECT servicename, n_spans, n_round_1ms, n_round_10ms,
       ROUND(n_round_1ms * 1.0 / n_spans, 6) AS share_1ms,
       ROUND(n_round_1ms * 1000.0 / n_spans, 6) AS heap_factor_1ms
FROM per ORDER BY servicename
"""
    )


#: slow-trace cut for tail_latency_attribution: traces at or above this
#: exact wall-clock percentile form the "tail" cohort
TAIL_PCTL = 0.9


def q_tail_latency_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, share_all, share_slow, excess_share): WHAT MAKES
    SLOW TRACES SLOW — each service's share of total span time across
    ALL traces vs across the slowest decile (trace wall-clock ≥ the
    exact p{TAIL_PCTL} — rule 20: Spark percentile == DuckDB
    quantile_cont on identical integers). excess_share > 0 names the
    services that are over-represented precisely when latency hurts —
    the tail-optimization priority list, which differs from the mean
    cost ranking (service_cost_pareto) whenever tail latency has a
    different owner than throughput cost.

    Shares are aggregate ratios (Σ service time / Σ all time within the
    cohort), not per-trace averages — exact integer sums, no
    order-dependent float accumulation.

    Scale shape: one per-(trace, service) combinable aggregate on the
    trace exchange; the percentile is a 1-row aggregate broadcast back;
    output = |services| rows."""
    return tail_latency_attribution_from(_spans(spark, sf_dir))


def tail_latency_attribution_from(spans_df: DataFrame) -> DataFrame:
    from haystack_traces_spark.session import materialize

    per = spans_df.groupBy(
        "trace_id", F.lower("service_name").alias("servicename")
    ).agg(F.sum("duration").cast("long").alias("svc_time"))
    walls = spans_df.groupBy("trace_id").agg(
        (
            F.max(F.col("start_time") + F.col("duration"))
            - F.min("start_time")
        ).alias("wall")
    )
    thr = walls.agg(
        F.expr(f"percentile(wall, {TAIL_PCTL})").alias("thr")
    )
    tagged = per.join(walls, "trace_id").crossJoin(F.broadcast(thr))
    # agg is |services|-bounded and feeds BOTH the output and its own
    # totals — unpinned, the whole per/walls/threshold subtree (two
    # trace-keyed aggregates + join) ran twice per action (r12-opt)
    agg = materialize(
        tagged.groupBy("servicename").agg(
            F.sum("svc_time").cast("long").alias("t_all"),
            F.sum(F.when(F.col("wall") >= F.col("thr"), F.col("svc_time")))
            .cast("long")
            .alias("t_slow"),
        )
    )
    tot = agg.agg(
        F.sum("t_all").alias("g_all"),
        F.sum(F.coalesce("t_slow", F.lit(0))).alias("g_slow"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "servicename",
            F.round(F.col("t_all") / F.col("g_all"), 6).alias("share_all"),
            F.round(
                F.coalesce("t_slow", F.lit(0)) / F.expr("NULLIF(g_slow, 0)"), 6
            ).alias("share_slow"),
            F.round(
                F.coalesce("t_slow", F.lit(0)) / F.expr("NULLIF(g_slow, 0)")
                - F.col("t_all") / F.col("g_all"),
                6,
            ).alias("excess_share"),
        )
        .orderBy("servicename")
    )


def sql_tail_latency_attribution() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, per AS (
  SELECT trace_id, lower(service_name) AS servicename,
         CAST(SUM(duration) AS BIGINT) AS svc_time
  FROM spans GROUP BY 1, 2
),
walls AS (
  SELECT trace_id,
         MAX(start_time + duration) - MIN(start_time) AS wall
  FROM spans GROUP BY 1
),
thr AS (SELECT quantile_cont(wall, {TAIL_PCTL}) AS thr FROM walls),
agg AS (
  SELECT p.servicename,
         CAST(SUM(p.svc_time) AS BIGINT) AS t_all,
         CAST(SUM(CASE WHEN w.wall >= t.thr THEN p.svc_time END) AS BIGINT)
           AS t_slow
  FROM per p JOIN walls w ON w.trace_id = p.trace_id CROSS JOIN thr t
  GROUP BY 1
),
tot AS (
  SELECT SUM(t_all) AS g_all, SUM(COALESCE(t_slow, 0)) AS g_slow FROM agg
)
SELECT a.servicename,
       ROUND(a.t_all * 1.0 / t.g_all, 6) AS share_all,
       ROUND(COALESCE(a.t_slow, 0) * 1.0 / NULLIF(t.g_slow, 0), 6)
         AS share_slow,
       ROUND(COALESCE(a.t_slow, 0) * 1.0 / NULLIF(t.g_slow, 0)
             - a.t_all * 1.0 / t.g_all, 6) AS excess_share
FROM agg a CROSS JOIN tot t
ORDER BY a.servicename
"""
    )


#: blast_radius fixpoint bound: the closure grows by PATH DOUBLING
#: (reach ∘ reach), so convergence takes ceil(log2(diameter)) steps —
#: 64 covers any graph a machine can hold; hitting it means the loop
#: itself is broken, never that the graph is deep
_BLAST_MAX_ITERS = 64


def q_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (service, n_downstream, downstream): TRANSITIVE dependency
    closure of the service call graph — for every service, the set of
    distinct services reachable through one or more call edges (itself
    excluded; cycles are dependency_cycles' job). This is the
    impact-analysis table: a deploy or incident in `service` can touch
    exactly `downstream`, and n_downstream ranks which services are
    architectural chokepoints. Zero-filled from the service catalog so
    leaf services report an explicit empty radius.

    Scale shape: the edge list is a |services|²-bounded aggregate
    (independent of span volume); the closure is a driver-bounded
    fixpoint loop over that tiny table with localCheckpoint truncation
    per step (the dup_clusters iteration contract: RAISES on
    non-convergence rather than returning a partial closure). Span
    volume is touched exactly once, by the edge aggregate."""
    return blast_radius_from(_spans(spark, sf_dir))


def blast_radius_from(spans_df: DataFrame) -> DataFrame:
    edges = (
        span_call_edges(spans_df)
        .select(
            F.lower("from_service").alias("a"),
            F.lower("to_service").alias("b"),
        )
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    reach = edges.select("a", F.col("b").alias("r")).distinct()
    reach = reach.localCheckpoint(eager=True)
    n = reach.count()
    for _ in range(_BLAST_MAX_ITERS):
        # path doubling: reach ∘ reach reaches depth 2^k after k steps,
        # so a 70-deep chain converges in 7 iterations, not 69
        hop = reach.select(F.col("a").alias("r"), F.col("r").alias("r2"))
        grown = (
            reach.unionByName(
                reach.join(hop, "r").select("a", F.col("r2").alias("r"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n2 = grown.count()
        if n2 == n:
            reach = grown
            break
        reach, n = grown, n2
    else:
        raise RuntimeError(
            f"blast_radius closure did not converge in {_BLAST_MAX_ITERS} "
            "doubling steps — the loop is broken (2^64 exceeds any "
            "possible graph diameter)"
        )
    services = (
        spans_df
        .select(F.lower("service_name").alias("service"))
        .distinct()
    )
    per = (
        reach.filter(F.col("a") != F.col("r"))
        .groupBy(F.col("a").alias("service"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_downstream"),
            F.concat_ws(",", F.array_sort(F.collect_set("r"))).alias(
                "downstream"
            ),
        )
    )
    return (
        services.join(F.broadcast(per), "service", "left")
        .select(
            "service",
            F.coalesce("n_downstream", F.lit(0)).cast("long").alias(
                "n_downstream"
            ),
            F.coalesce("downstream", F.lit("")).alias("downstream"),
        )
        .orderBy("service")
    )


def sql_blast_radius() -> str:
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + """
, edges AS (
  SELECT DISTINCT lower(p.service_name) AS a, lower(c.service_name) AS b
  FROM spans c
  JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
  WHERE c.parent_span_id <> ''
),
reach AS (
  SELECT a, b AS r FROM edges
  UNION
  SELECT re.a, e.b AS r FROM reach re JOIN edges e ON e.a = re.r
),
per AS (
  SELECT a AS service, CAST(COUNT(*) AS BIGINT) AS n_downstream,
         string_agg(r, ',' ORDER BY r) AS downstream
  FROM reach WHERE a <> r GROUP BY a
),
svc AS (SELECT DISTINCT lower(service_name) AS service FROM spans)
SELECT s.service, COALESCE(p.n_downstream, 0) AS n_downstream,
       COALESCE(p.downstream, '') AS downstream
FROM svc s LEFT JOIN per p ON p.service = s.service
ORDER BY s.service
"""
    )


def q_service_reach_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (service, max_hop, n_at_max): downstream ECCENTRICITY of every
    service — the longest SHORTEST-path (in call hops) from the service
    to anything it can reach, plus how many dependencies sit at that
    frontier. Where blast_radius answers "how many services can an
    incident touch", this answers "how many synchronous hops deep does
    the dependency chain run" — the latency-floor / cascade-depth rank.
    Shortest-path distances stay finite under call cycles (no divergence
    guard needed, unlike longest-path); leaf services report an explicit
    0-hop row from the catalog.

    Scale shape: the edge list is a |services|²-bounded aggregate; the
    min-plus closure is a path-DOUBLING fixpoint over that tiny table
    (log2(diameter) steps, localCheckpoint truncation per step, RAISES
    on non-convergence). Span volume is touched exactly once."""
    return service_reach_depth_from(_spans(spark, sf_dir))


def service_reach_depth_from(spans_df: DataFrame) -> DataFrame:
    edges = (
        span_call_edges(spans_df)
        .select(
            F.lower("from_service").alias("a"),
            F.lower("to_service").alias("b"),
        )
        .distinct()
    )
    dist = edges.select(
        "a", F.col("b").alias("r"), F.lit(1).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    stat = tuple(dist.agg(F.count(F.lit(1)), F.sum("d")).first())
    for _ in range(_BLAST_MAX_ITERS):
        # min-plus path doubling: after k steps every shortest path of
        # length <= 2^k is final. d only ever SHRINKS per pair and pairs
        # only ever APPEAR, so (count, sum d) stable <=> fixpoint.
        hop = dist.select(
            F.col("a").alias("r"),
            F.col("r").alias("r2"),
            F.col("d").alias("d2"),
        )
        grown = (
            dist.unionByName(
                dist.join(hop, "r").select(
                    "a",
                    F.col("r2").alias("r"),
                    (F.col("d") + F.col("d2")).alias("d"),
                )
            )
            .groupBy("a", "r")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        st2 = tuple(grown.agg(F.count(F.lit(1)), F.sum("d")).first())
        if st2 == stat:
            dist = grown
            break
        dist, stat = grown, st2
    else:
        raise RuntimeError(
            f"service_reach_depth closure did not converge in "
            f"{_BLAST_MAX_ITERS} doubling steps — the loop is broken "
            "(2^64 exceeds any possible graph diameter)"
        )
    sp = dist.filter(F.col("a") != F.col("r"))
    per = sp.groupBy(F.col("a").alias("service")).agg(
        F.max("d").alias("max_hop")
    )
    at_max = (
        sp.join(
            per,
            (F.col("a") == F.col("service")) & (F.col("d") == F.col("max_hop")),
        )
        .groupBy("service", "max_hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_at_max"))
    )
    services = (
        spans_df.select(F.lower("service_name").alias("service")).distinct()
    )
    return (
        services.join(F.broadcast(at_max), "service", "left")
        .select(
            "service",
            F.coalesce("max_hop", F.lit(0)).cast("long").alias("max_hop"),
            F.coalesce("n_at_max", F.lit(0)).cast("long").alias("n_at_max"),
        )
        .orderBy("service")
    )


def sql_service_reach_depth() -> str:
    # the oracle's walk caps d at 64 — an INDEPENDENT strategy from the
    # engine's doubling (shortest paths are < |services| <= 64 at every
    # test SF, so the cap never binds); UNION dedups (a, r, d) triples,
    # which bounds the recursion even under call cycles
    return (
        EVENT_SPANS_CTE.replace("WITH spans", "WITH RECURSIVE spans")
        + """
, edges AS (
  SELECT DISTINCT lower(p.service_name) AS a, lower(c.service_name) AS b
  FROM spans c
  JOIN spans p ON p.trace_id = c.trace_id AND p.span_id = c.parent_span_id
  WHERE c.parent_span_id <> ''
),
walk(a, r, d) AS (
  SELECT a, b, 1 FROM edges
  UNION
  SELECT w.a, e.b, w.d + 1 FROM walk w JOIN edges e ON e.a = w.r
  WHERE w.d < 64
),
sp AS (
  SELECT a, r, CAST(MIN(d) AS BIGINT) AS d FROM walk
  WHERE a <> r GROUP BY a, r
),
per AS (SELECT a AS service, MAX(d) AS max_hop FROM sp GROUP BY a),
atm AS (
  SELECT p.service, p.max_hop, CAST(COUNT(*) AS BIGINT) AS n_at_max
  FROM sp JOIN per p ON p.service = sp.a AND sp.d = p.max_hop
  GROUP BY p.service, p.max_hop
),
svc AS (SELECT DISTINCT lower(service_name) AS service FROM spans)
SELECT s.service, COALESCE(a.max_hop, 0) AS max_hop,
       COALESCE(a.n_at_max, 0) AS n_at_max
FROM svc s LEFT JOIN atm a ON a.service = s.service
ORDER BY s.service
"""
    )


#: retention ladder for the index TTL cost curve; 72 h is the
#: reference's own spans-index TTL (reader base.conf:38-39, via
#: operators/retention.py)
TTL_LADDER_HOURS = (24, 72, 168, 720)


def q_index_ttl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (ttl_hours, n_traces, n_spans, traces_ppm, spans_ppm):
    RETENTION cost curve — the share of the trace index (and its span
    volume) each TTL rung keeps, measured against the data's own horizon
    (now = the newest trace start; data-relative like incident_windows,
    so the curve is meaningful at any SF). The reference expires its
    spans index at hour.ttl = 72 h and writes per-record Cassandra TTLs
    (CassandraSession.scala:78-90, reader base.conf:38-39 — see
    operators/retention.py, where expiry is a partition-directory drop);
    this face prices every candidate rung BEFORE the config changes.
    Integer ppm from unrounded counts.

    Scale shape: one per-trace min/count aggregate (rides the trace
    exchange), a bounded 1-row driver max, a ≤4-row broadcast ladder,
    one combinable rollup."""
    spans = _spans(spark, sf_dir)
    tr = spans.groupBy("trace_id").agg(
        F.min("start_time").alias("t0"),
        F.count(F.lit(1)).cast("long").alias("n_sp"),
    )
    now = tr.agg(F.max("t0")).first()[0]  # bounded 1-row driver agg
    if now is None:
        now = 0
    ladder = spark.createDataFrame(
        [(h,) for h in TTL_LADDER_HOURS], "ttl_hours long"
    )
    kept = (
        F.col("t0") > F.lit(int(now)) - F.col("ttl_hours") * HOUR_US
    ).cast("long")
    return (
        tr.crossJoin(F.broadcast(ladder))
        .groupBy("ttl_hours")
        .agg(
            F.sum(kept).cast("long").alias("n_traces"),
            F.sum(kept * F.col("n_sp")).cast("long").alias("n_spans"),
            F.count(F.lit(1)).cast("long").alias("tot_traces"),
            F.sum("n_sp").cast("long").alias("tot_spans"),
        )
        .select(
            "ttl_hours",
            "n_traces",
            "n_spans",
            F.expr("1000000 * n_traces DIV tot_traces").alias("traces_ppm"),
            F.expr("1000000 * n_spans DIV tot_spans").alias("spans_ppm"),
        )
        .orderBy("ttl_hours")
    )


def sql_index_ttl_plan() -> str:
    ladder = ", ".join(f"({h})" for h in TTL_LADDER_HOURS)
    return (
        EVENT_SPANS_CTE
        + f"""
, tr AS (
  SELECT trace_id, MIN(start_time) AS t0, CAST(COUNT(*) AS BIGINT) AS n_sp
  FROM spans GROUP BY 1
),
nowt AS (SELECT MAX(t0) AS now FROM tr),
ladder(ttl_hours) AS (VALUES {ladder}),
flags AS (
  SELECT CAST(l.ttl_hours AS BIGINT) AS ttl_hours,
         CAST(t.t0 > n.now - l.ttl_hours * {HOUR_US} AS BIGINT) AS kept,
         t.n_sp
  FROM tr t CROSS JOIN ladder l CROSS JOIN nowt n
)
SELECT ttl_hours,
       CAST(SUM(kept) AS BIGINT) AS n_traces,
       CAST(SUM(kept * n_sp) AS BIGINT) AS n_spans,
       (1000000 * CAST(SUM(kept) AS BIGINT)) // COUNT(*) AS traces_ppm,
       (1000000 * CAST(SUM(kept * n_sp) AS BIGINT))
         // CAST(SUM(n_sp) AS BIGINT) AS spans_ppm
FROM flags GROUP BY 1 ORDER BY 1
"""
    )


#: activity-lifetime survival ladder (days)
LIFETIME_LADDER_DAYS = (1, 7, 30, 90)


def q_user_lifetime_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (min_days, n_users, users_ppm): user activity SURVIVAL curve —
    how many users' observed lifetime (last event − first event) reaches
    each rung. Where retention_cohorts reports the cohort×period
    triangle, this is the marginal distribution product teams quote as
    "X% of users are still active after a week/month" — and the
    state-sizing input for any per-user streaming state with a TTL (the
    sessionizer's T2 budget, the dedup gate's horizon). Integer ppm.

    Scale shape: one per-user min/max aggregate, a ≤4-row broadcast
    ladder, one combinable rollup."""
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    life = events.select(
        "user_id", _epoch_micros(events).alias("tus")
    ).groupBy("user_id").agg(
        (F.max("tus") - F.min("tus")).alias("lifetime_us")
    )
    ladder = spark.createDataFrame(
        [(d,) for d in LIFETIME_LADDER_DAYS], "min_days long"
    )
    reaches = (
        F.col("lifetime_us") >= F.col("min_days") * DAY_US
    ).cast("long")
    return (
        life.crossJoin(F.broadcast(ladder))
        .groupBy("min_days")
        .agg(
            F.sum(reaches).cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("tot_users"),
        )
        .select(
            "min_days",
            "n_users",
            F.expr("1000000 * n_users DIV tot_users").alias("users_ppm"),
        )
        .orderBy("min_days")
    )


def sql_user_lifetime_curve() -> str:
    ladder = ", ".join(f"({d})" for d in LIFETIME_LADDER_DAYS)
    return f"""
WITH life AS (
  SELECT user_id, MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS lifetime_us
  FROM events GROUP BY 1
),
ladder(min_days) AS (VALUES {ladder}),
flags AS (
  SELECT CAST(l.min_days AS BIGINT) AS min_days,
         CAST(f.lifetime_us >= l.min_days * {DAY_US} AS BIGINT) AS reaches
  FROM life f CROSS JOIN ladder l
)
SELECT min_days,
       CAST(SUM(reaches) AS BIGINT) AS n_users,
       (1000000 * CAST(SUM(reaches) AS BIGINT)) // COUNT(*) AS users_ppm
FROM flags GROUP BY 1 ORDER BY 1
"""


def q_workload_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, n_shared_ops, mass_a, mass_b, jsd): per-service
    WORKLOAD drift — Jensen-Shannon divergence between the operation-mix
    distribution in the first and second half of the observed time range
    (split at the global start_time midpoint). A capacity model or
    latency SLO tuned on last month's mix silently rots when the mix
    shifts even if volume holds; jsd ∈ [0, ln 2] ranks which services'
    traffic CHANGED SHAPE. Uses source_pair_jsd's shared-support
    decomposition (exclusive mass falls out of the shared totals), and
    like it emits only services observed in BOTH halves; a service whose
    halves share no operations reports jsd = ln 2 with zero shared mass.

    Scale shape: one (service, half, operation) combinable aggregate on
    the prunable scan; the midpoint is a broadcast 1-row aggregate; the
    shared join is catalog-bounded (|services|·|operations|)."""
    import math

    from haystack_traces_spark.session import materialize

    spans = _spans(spark, sf_dir)
    # 1-row bounded driver aggregate (house-allowed collect class): a
    # broadcast-crossJoin of the midpoint would splice a SinglePartition
    # global-agg subtree into every downstream branch of the plan
    lo, hi = spans.agg(
        F.min("start_time").alias("lo"), F.max("start_time").alias("hi")
    ).first()
    if lo is None:
        mid = 0
    else:
        mid = (int(lo) + int(hi)) // 2
    tagged = spans.select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("op"),
        (F.col("start_time") > F.lit(mid)).cast("int").alias("half"),
    )
    # counts feeds FOUR branches of one action (tot, both, dist a, dist
    # b) — pin the catalog-bounded table or the span scan re-executes
    # per branch (house 2-branch rule)
    counts = materialize(
        tagged.groupBy("servicename", "half", "op").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
    )
    tot = counts.groupBy("servicename", "half").agg(F.sum("c").alias("n"))
    both = (
        tot.groupBy("servicename")
        .agg(F.countDistinct("half").alias("nh"))
        .filter(F.col("nh") == 2)
        .select("servicename")
    )
    dist = counts.join(tot, ["servicename", "half"]).select(
        "servicename", "half", "op", (F.col("c") / F.col("n")).alias("p")
    )
    a = dist.filter(F.col("half") == 0).select(
        "servicename", "op", F.col("p").alias("pa")
    )
    b = dist.filter(F.col("half") == 1).select(
        "servicename", "op", F.col("p").alias("pb")
    )
    shared = a.join(b, ["servicename", "op"])
    ln2 = math.log(2.0)
    term = F.col("pa") * F.log(
        2 * F.col("pa") / (F.col("pa") + F.col("pb"))
    ) + F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    per = shared.groupBy("servicename").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_ops"),
        F.sum("pa").alias("ma"),
        F.sum("pb").alias("mb"),
        F.sum(term).alias("shared_term"),
    )
    return (
        both.join(per, "servicename", "left")
        .select(
            "servicename",
            F.coalesce("n_shared_ops", F.lit(0)).cast("long").alias(
                "n_shared_ops"
            ),
            F.round(F.coalesce("ma", F.lit(0.0)), 6).alias("mass_a"),
            F.round(F.coalesce("mb", F.lit(0.0)), 6).alias("mass_b"),
            F.round(
                0.5
                * ln2
                * (
                    (1 - F.coalesce("ma", F.lit(0.0)))
                    + (1 - F.coalesce("mb", F.lit(0.0)))
                )
                + 0.5 * F.coalesce("shared_term", F.lit(0.0)),
                6,
            ).alias("jsd"),
        )
        .orderBy("servicename")
    )


def sql_workload_drift() -> str:
    import math

    ln2 = math.log(2.0)
    return (
        EVENT_SPANS_CTE
        + f"""
, mm AS (SELECT MIN(start_time) AS lo, MAX(start_time) AS hi FROM spans),
counts AS MATERIALIZED (
  SELECT lower(s.service_name) AS servicename,
         CAST(s.start_time > (m.lo + m.hi) // 2 AS INT) AS half,
         lower(s.operation_name) AS op,
         CAST(COUNT(*) AS DOUBLE) AS c
  FROM spans s CROSS JOIN mm m
  GROUP BY 1, 2, 3
),
tot AS MATERIALIZED (
  SELECT servicename, half, SUM(c) AS n FROM counts GROUP BY 1, 2
),
both_h AS (
  SELECT servicename FROM tot GROUP BY 1 HAVING COUNT(DISTINCT half) = 2
),
dist AS (
  SELECT c.servicename, c.half, c.op, c.c / t.n AS p
  FROM counts c JOIN tot t ON t.servicename = c.servicename AND t.half = c.half
),
shared AS (
  SELECT a.servicename, COUNT(*) AS n_shared_ops,
         SUM(a.p) AS ma, SUM(b.p) AS mb,
         SUM(a.p * ln(2 * a.p / (a.p + b.p))
             + b.p * ln(2 * b.p / (a.p + b.p))) AS shared_term
  FROM dist a JOIN dist b
    ON b.servicename = a.servicename AND b.op = a.op
   AND a.half = 0 AND b.half = 1
  GROUP BY 1
)
SELECT s.servicename,
       CAST(COALESCE(h.n_shared_ops, 0) AS BIGINT) AS n_shared_ops,
       ROUND(COALESCE(h.ma, 0.0), 6) AS mass_a,
       ROUND(COALESCE(h.mb, 0.0), 6) AS mass_b,
       ROUND(0.5 * {ln2!r} * ((1 - COALESCE(h.ma, 0.0)) + (1 - COALESCE(h.mb, 0.0)))
             + 0.5 * COALESCE(h.shared_term, 0.0), 6) AS jsd
FROM both_h s LEFT JOIN shared h ON h.servicename = s.servicename
ORDER BY s.servicename
"""
    )


def q_service_error_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (service_a, service_b, n_hours, corr): which services' error
    counts RISE AND FALL TOGETHER over time — pairwise Pearson
    correlation of the zero-filled hourly error-count series. Where
    error_cooccurrence counts services erroring in the SAME TRACE
    (request-path coupling), this correlates hourly totals across the
    fleet: a shared dependency, zone, or deploy train shows up as
    correlated error waves even between services that never share a
    request. Zero-filling the common hour grid matters — correlating
    only co-active hours biases toward 1. functions/stats.pearson_corr
    is the one shared correlation core (house rule); counts enter as
    exact-integer doubles, so the moment sums are order-independent.

    Scale shape: one (service, hour) combinable aggregate; the dense
    series is |services| x |hours| (hours broadcast onto the catalog);
    the pair table is catalog²-bounded per hour — never span-volume."""
    from haystack_traces_spark.functions.stats import pearson_corr
    from haystack_traces_spark.session import materialize

    spans = _spans(spark, sf_dir)
    hour = (F.col("start_time") - F.col("start_time") % HOUR_US).alias(
        "hour_ts"
    )
    # hourly feeds three branches (hour grid, service catalog, the
    # left-join probe) and filled feeds both self-join sides — pin the
    # catalog-bounded tables or the span scan re-executes per branch
    # (house 2-branch rule; the oracle marks the same CTEs MATERIALIZED)
    hourly = materialize(
        spans.groupBy(F.lower("service_name").alias("service"), hour).agg(
            F.sum((_errorcode() >= ERROR_THRESHOLD).cast("long")).alias(
                "n_err"
            )
        )
    )
    hours = hourly.select("hour_ts").distinct()
    services = hourly.select("service").distinct()
    filled = materialize(
        services.crossJoin(F.broadcast(hours))
        .join(hourly, ["service", "hour_ts"], "left")
        .select(
            "service",
            "hour_ts",
            F.coalesce("n_err", F.lit(0)).cast("double").alias("x"),
        )
    )
    a = filled.select(
        F.col("service").alias("service_a"), "hour_ts", F.col("x").alias("xa")
    )
    b = filled.select(
        F.col("service").alias("service_b"), "hour_ts", F.col("x").alias("xb")
    )
    pairs = a.join(b, "hour_ts").filter(F.col("service_a") < F.col("service_b"))
    return (
        pairs.groupBy("service_a", "service_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            pearson_corr(F.col("xa"), F.col("xb")).alias("corr"),
        )
        .filter(F.col("corr").isNotNull())
        .orderBy("service_a", "service_b")
    )


def sql_service_error_correlation() -> str:
    from haystack_traces_spark.functions.stats import pearson_corr_sql

    return (
        EVENT_SPANS_CTE
        + f"""
, hourly AS MATERIALIZED (
  SELECT lower(service_name) AS service,
         start_time - start_time % {HOUR_US} AS hour_ts,
         CAST(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM spans GROUP BY 1, 2
),
filled AS MATERIALIZED (
  SELECT s.service, h.hour_ts, CAST(COALESCE(x.n_err, 0) AS DOUBLE) AS x
  FROM (SELECT DISTINCT service FROM hourly) s
  CROSS JOIN (SELECT DISTINCT hour_ts FROM hourly) h
  LEFT JOIN hourly x ON x.service = s.service AND x.hour_ts = h.hour_ts
),
pairs AS (
  SELECT a.service AS service_a, b.service AS service_b,
         a.x AS xa, b.x AS xb
  FROM filled a JOIN filled b
    ON b.hour_ts = a.hour_ts AND a.service < b.service
)
SELECT service_a, service_b, CAST(COUNT(*) AS BIGINT) AS n_hours,
       {pearson_corr_sql("xa", "xb")} AS corr
FROM pairs GROUP BY 1, 2
HAVING corr IS NOT NULL
ORDER BY service_a, service_b
"""
    )


#: SLO error budget: 1% target error rate, expressed in ppm so the burn
#: arithmetic stays integer on both engine faces
SLO_ERROR_BUDGET_PPM = 10_000
#: the public multi-window burn-rate alert thresholds (fast 1h window at
#: 14.4x budget consumption confirmed by the trailing 6h window at 6x),
#: in milli-units — integer comparisons, no float ratios in the rule
BURN_FAST_MILLI = 14_400
BURN_SLOW_MILLI = 6_000


def q_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, hour_start, n_spans, n_errors, burn_1h_milli,
    burn_6h_milli, alert): multi-window SLO BURN-RATE alerting over the
    span stream — burn = observed error rate / error budget, computed
    per hour AND over the trailing 6 hours; a page fires only when the
    fast window burns > 14.4x and the slow window confirms > 6x (the
    standard published multiwindow rule: fast for detection latency,
    slow to suppress blips). Where error_rate_trends reports the raw
    series, this face prices it against a budget and yields the on-call
    verdict. All burn arithmetic is integer milli/ppm from UNROUNDED
    counts (cross-engine rule: never rank or alert on float ratios).

    Scale shape: one (service, hour) map-side-combinable aggregate on
    the prunable scan, then a per-service RANGE window over the hourly
    series (frame = 6 rows max, partition = |services| x |hours|)."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir)
    hour = (F.col("start_time") - F.col("start_time") % HOUR_US).alias(
        "hour_start"
    )
    hourly = spans.groupBy(
        F.lower("service_name").alias("servicename"), hour
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum((_errorcode() >= ERROR_THRESHOLD).cast("long"))
        .cast("long")
        .alias("n_errors"),
    )
    w6 = (
        Window.partitionBy("servicename")
        .orderBy("hour_start")
        .rangeBetween(-5 * HOUR_US, 0)
    )
    burn1 = F.expr(
        f"1000000000 * n_errors DIV (n_spans * {SLO_ERROR_BUDGET_PPM})"
    )
    out = (
        hourly.withColumn("e6", F.sum("n_errors").over(w6))
        .withColumn("s6", F.sum("n_spans").over(w6))
        .withColumn("burn_1h_milli", burn1)
        .withColumn(
            "burn_6h_milli",
            F.expr(f"1000000000 * e6 DIV (s6 * {SLO_ERROR_BUDGET_PPM})"),
        )
    )
    return out.select(
        "servicename",
        "hour_start",
        "n_spans",
        "n_errors",
        "burn_1h_milli",
        "burn_6h_milli",
        (
            (F.col("burn_1h_milli") > BURN_FAST_MILLI)
            & (F.col("burn_6h_milli") > BURN_SLOW_MILLI)
        ).alias("alert"),
    ).orderBy("servicename", "hour_start")


def sql_error_budget_burn() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, hourly AS (
  SELECT lower(service_name) AS servicename,
         start_time - start_time % {HOUR_US} AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN errorcode >= {ERROR_THRESHOLD} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM spans
  GROUP BY 1, 2
),
win AS (
  -- CAST the window sums: DuckDB SUM(BIGINT) OVER yields HUGEINT,
  -- which pandas would surface as float64 (cross-engine rule 3)
  SELECT servicename, hour_start, n_spans, n_errors,
         CAST(SUM(n_errors) OVER w6 AS BIGINT) AS e6,
         CAST(SUM(n_spans) OVER w6 AS BIGINT) AS s6
  FROM hourly
  WINDOW w6 AS (PARTITION BY servicename ORDER BY hour_start
                RANGE BETWEEN {5 * HOUR_US} PRECEDING AND CURRENT ROW)
)
SELECT servicename, hour_start, n_spans, n_errors,
       (1000000000 * n_errors) // (n_spans * {SLO_ERROR_BUDGET_PPM})
         AS burn_1h_milli,
       (1000000000 * e6) // (s6 * {SLO_ERROR_BUDGET_PPM}) AS burn_6h_milli,
       ((1000000000 * n_errors) // (n_spans * {SLO_ERROR_BUDGET_PPM})
          > {BURN_FAST_MILLI}
        AND (1000000000 * e6) // (s6 * {SLO_ERROR_BUDGET_PPM})
          > {BURN_SLOW_MILLI}) AS alert
FROM win
ORDER BY servicename, hour_start
"""
    )


#: Round-number SLO candidate thresholds (µs), ascending — the ladder an
#: operator would actually pick from (1 ms … 20 s; durations truncate at
#: 20 s, the reference's own cap).
SLO_LADDER_US = (
    1_000, 5_000, 10_000, 25_000, 50_000, 100_000, 250_000, 500_000,
    1_000_000, 2_500_000, 5_000_000, 10_000_000, 20_000_000,
)
SLO_FIT_PCT = 5       # target violation budget, integer percent (95% SLO)
SLO_FIT_MIN_SPANS = 20


def q_latency_slo_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, operationname, n_spans, slo_us, violation_share,
    max_duration_us): SLO RECOMMENDATION — per operation, the TIGHTEST
    round-number latency threshold from SLO_LADDER_US whose violation
    share fits the SLO_FIT_PCT budget. `slo_burn_rate` prices errors
    against a GIVEN budget and `apdex` scores a GIVEN threshold; this is
    the step before either: which threshold to publish. slo_us is NULL
    when even the loosest rung misses the budget (the "don't publish an
    SLO you can't keep" row); violation_share is the achieved share at
    the chosen rung.

    Cross-engine discipline: the budget gate is EXACT integer arithmetic
    (100·violations ≤ pct·n — never a float-ratio compare); the rung
    pick is least() over per-rung conditionals, and least/greatest
    skip NULL arguments identically on both engines (the house gotcha,
    here load-bearing by design). violation_share is a 6dp-rounded
    double derived from the same integers.

    Scale shape: ONE combinable (service, operation) aggregate over the
    prunable span scan carrying the 13 rung counters as parallel
    columns — no per-rung re-scan, nothing larger than |operations|
    ever shuffles."""
    return latency_slo_fit_from(_spans(spark, sf_dir))


def latency_slo_fit_from(spans: DataFrame) -> DataFrame:
    """Core over any spans frame — split out so crafted tests pin the
    exact rung-pick rule (house rule 7)."""
    spans = spans.filter(
        (F.col("service_name") != "") & (F.col("operation_name") != "")
    )
    per = (
        spans.groupBy(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("duration").alias("max_duration_us"),
            *[
                F.sum((F.col("duration") > L).cast("long")).alias(f"v{L}")
                for L in SLO_LADDER_US
            ],
        )
        .filter(F.col("n") >= SLO_FIT_MIN_SPANS)
    )
    fit = [
        F.when(
            F.lit(100) * F.col(f"v{L}") <= F.lit(SLO_FIT_PCT) * F.col("n"),
            F.lit(L).cast("long"),
        )
        for L in SLO_LADDER_US
    ]
    chosen = F.least(*fit)
    viol_at = F.coalesce(
        *[
            F.when(F.col("slo_us") == L, F.col(f"v{L}"))
            for L in SLO_LADDER_US
        ]
    )
    return (
        per.withColumn("slo_us", chosen)
        .withColumn(
            "violation_share", F.round(viol_at / F.col("n"), 6)
        )
        .select(
            "servicename",
            "operationname",
            F.col("n").alias("n_spans"),
            "slo_us",
            "violation_share",
            "max_duration_us",
        )
        .orderBy("servicename", "operationname")
    )


def sql_latency_slo_fit() -> str:
    counters = ",\n         ".join(
        f"CAST(SUM(CASE WHEN duration > {L} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS v{L}"
        for L in SLO_LADDER_US
    )
    fit = ",\n              ".join(
        f"CASE WHEN 100 * v{L} <= {SLO_FIT_PCT} * n THEN {L} END"
        for L in SLO_LADDER_US
    )
    viol = " ".join(
        f"WHEN slo_us = {L} THEN v{L}" for L in SLO_LADDER_US
    )
    return (
        EVENT_SPANS_CTE
        + f"""
, per AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         CAST(COUNT(*) AS BIGINT) AS n,
         MAX(duration) AS max_duration_us,
         {counters}
  FROM spans
  WHERE service_name <> '' AND operation_name <> ''
  GROUP BY 1, 2 HAVING COUNT(*) >= {SLO_FIT_MIN_SPANS}
),
picked AS (
  SELECT *, LEAST({fit}) AS slo_us FROM per
)
SELECT servicename, operationname, n AS n_spans,
       CAST(slo_us AS BIGINT) AS slo_us,
       ROUND((CASE {viol} END) / CAST(n AS DOUBLE), 6) AS violation_share,
       max_duration_us
FROM picked ORDER BY servicename, operationname
"""
    )


AB_SEED = "ab:"
AB_MIN_N = 30


def q_ab_cohort_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, n_a, n_b, mean_a_us, mean_b_us, err_rate_a,
    err_rate_b, z_mean, z_err, balanced): the EXPERIMENT-HARNESS NULL
    TEST — traces hash-split into two cohorts (a deterministic coin on
    the trace id, the assignment a real canary/A-B rollout would use),
    then per service the Welch z on mean duration and the two-proportion
    z on error rate between cohorts. On a hash split both z's are noise
    (|z| ≲ 3): a service row outside that band means the HARNESS is
    broken (assignment leaking into behavior, e.g. keying on a field
    correlated with load), which is exactly what you must rule out
    before trusting the same readout on a real deployment split.
    `balanced` is the size-balance check against a fair coin at 4σ —
    exact integer form (n_a−n_b)² ≤ 16·(n_a+n_b), since the difference
    of a fair n-coin split has sd √n (a fixed-percent gate would
    false-alarm on small services where binomial noise alone exceeds
    it).

    Cross-engine discipline: cohort = hash60(trace_id) % 2 (md5-based,
    bit-identical on both faces); duration sums are exact BIGINT and
    squared sums accumulate in DECIMAL(38,0) (HUGEINT on DuckDB —
    duration² ≤ 4e14 × 1e5 spans passes int64, the ANSI-overflow house
    rule); all z's derive from those integers through the same double
    expression tree, then 6dp-round.

    Scale shape: ONE combinable (service) aggregate with per-cohort
    conditional columns — the cohort never becomes a join or a second
    scan; output = |services| rows."""
    return ab_cohort_calibration_from(_spans(spark, sf_dir))


def ab_cohort_calibration_from(spans: DataFrame) -> DataFrame:
    """Core over any spans frame — split out so crafted tests pin the
    degenerate cases (constant-duration cohorts, clamp rule)."""
    from haystack_traces_spark.datapipe.hashing import hash60

    spans = spans.filter(F.col("service_name") != "")
    a = (F.pmod(hash60(F.col("trace_id"), seed=AB_SEED), F.lit(2)) == 0)
    err = (_errorcode() >= ERROR_THRESHOLD).cast("long")
    dd = F.col("duration").cast("decimal(38,0)")
    per = (
        spans.groupBy(F.lower("service_name").alias("servicename"))
        .agg(
            F.sum(a.cast("long")).alias("n_a"),
            F.sum((~a).cast("long")).alias("n_b"),
            F.sum(F.when(a, F.col("duration")).otherwise(0)).alias("s_a"),
            F.sum(F.when(~a, F.col("duration")).otherwise(0)).alias("s_b"),
            F.sum(F.when(a, dd * dd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("ss_a"),
            F.sum(F.when(~a, dd * dd).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("ss_b"),
            F.sum(F.when(a, err).otherwise(0)).alias("e_a"),
            F.sum(F.when(~a, err).otherwise(0)).alias("e_b"),
        )
        .filter((F.col("n_a") >= AB_MIN_N) & (F.col("n_b") >= AB_MIN_N))
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    # GREATEST-clamp: ss/n - m*m goes fractionally NEGATIVE in float64 for
    # near-constant cohorts (duration heaping is real in this corpus) --
    # unclamped, Spark emits NaN while DuckDB ABORTS on sqrt(negative)
    # (review r10; same clamp as arrival_burstiness / drift verdicts)
    va = F.greatest(F.col("ss_a").cast("double") / na - ma * ma, F.lit(0.0))
    vb = F.greatest(F.col("ss_b").cast("double") / nb - mb * mb, F.lit(0.0))
    z_mean = (ma - mb) / F.nullif(
        F.sqrt(va / na + vb / nb), F.lit(0.0)
    )
    pa, pb = F.col("e_a") / na, F.col("e_b") / nb
    p = (F.col("e_a") + F.col("e_b")) / (na + nb)
    z_err = (pa - pb) / F.nullif(
        F.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), F.lit(0.0)
    )
    return per.select(
        "servicename",
        "n_a",
        "n_b",
        F.expr("s_a div n_a").alias("mean_a_us"),
        F.expr("s_b div n_b").alias("mean_b_us"),
        F.round(pa, 6).alias("err_rate_a"),
        F.round(pb, 6).alias("err_rate_b"),
        F.round(z_mean, 6).alias("z_mean"),
        F.round(z_err, 6).alias("z_err"),
        (
            (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
            <= F.lit(16) * (F.col("n_a") + F.col("n_b"))
        ).alias("balanced"),
    ).orderBy("servicename")


def sql_ab_cohort_calibration() -> str:
    from haystack_traces_spark.datapipe.hashing import hash60_sql

    coin = f"({hash60_sql('trace_id', seed=AB_SEED)} % 2 = 0)"
    return (
        EVENT_SPANS_CTE
        + f"""
, tagged AS (
  SELECT lower(service_name) AS servicename, duration,
         CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
              THEN 1 ELSE 0 END AS is_err,
         {coin} AS in_a
  FROM spans WHERE service_name <> ''
),
per AS (
  SELECT servicename,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN in_a THEN duration ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE duration END) AS BIGINT) AS s_b,
         SUM(CASE WHEN in_a THEN CAST(duration AS HUGEINT) * duration
                  ELSE 0 END) AS ss_a,
         SUM(CASE WHEN in_a THEN 0
                  ELSE CAST(duration AS HUGEINT) * duration END) AS ss_b,
         CAST(SUM(CASE WHEN in_a THEN is_err ELSE 0 END) AS BIGINT) AS e_a,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE is_err END) AS BIGINT) AS e_b
  FROM tagged GROUP BY 1
  HAVING SUM(CASE WHEN in_a THEN 1 ELSE 0 END) >= {AB_MIN_N}
     AND SUM(CASE WHEN in_a THEN 0 ELSE 1 END) >= {AB_MIN_N}
)
SELECT servicename, n_a, n_b,
       CAST(s_a // n_a AS BIGINT) AS mean_a_us,
       CAST(s_b // n_b AS BIGINT) AS mean_b_us,
       ROUND(e_a / CAST(n_a AS DOUBLE), 6) AS err_rate_a,
       ROUND(e_b / CAST(n_b AS DOUBLE), 6) AS err_rate_b,
       ROUND((s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))
             / NULLIF(sqrt(GREATEST(CAST(ss_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                                    - (s_a / CAST(n_a AS DOUBLE)) * (s_a / CAST(n_a AS DOUBLE)), 0.0) / CAST(n_a AS DOUBLE)
                           + GREATEST(CAST(ss_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                                      - (s_b / CAST(n_b AS DOUBLE)) * (s_b / CAST(n_b AS DOUBLE)), 0.0) / CAST(n_b AS DOUBLE)), 0.0), 6)
         AS z_mean,
       ROUND((e_a / CAST(n_a AS DOUBLE) - e_b / CAST(n_b AS DOUBLE))
             / NULLIF(sqrt(((e_a + e_b) / CAST(n_a + n_b AS DOUBLE))
                           * (1.0 - (e_a + e_b) / CAST(n_a + n_b AS DOUBLE))
                           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0), 6)
         AS z_err,
       ((n_a - n_b) * (n_a - n_b) <= 16 * (n_a + n_b)) AS balanced
FROM per ORDER BY servicename
"""
    )


P99_MIN_SPANS = 100
P99_Z95 = 1.96


def q_p99_confidence(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """→ (servicename, operationname, n_spans, p99_us, ci_lo_us,
    ci_hi_us, rel_width, measurable): is the p99 you are alerting on
    even MEASURABLE at this traffic? The p99 order statistic of n
    samples has a binomial-rank 95% CI (rank ± 1.96·√(n·0.99·0.01));
    this reports the duration at the p99 rank and at the CI-bound
    ranks, the relative CI width, and `measurable` — the exact integer
    gate 2·(hi−lo) ≤ p99 (CI narrower than half the value). Low-traffic
    operations show rel_width ≫ 1: their p99 alarms are noise, and
    `sampling_rate_plan`'s budget math should not start from them.

    Cross-engine discipline: ranks are exact integers (p99 rank =
    ⌈99n/100⌉ via (99n+99) div 100; the CI offset's one float ceil is
    the packing-curve precedent — identical IEEE ops both faces), the
    ordering key is (duration, span_id-as-number) so rank→value is
    deterministic under ties, and `measurable` never compares floats.

    Scale shape: one rank window per (service, operation) — the same
    partitioning every percentile face here uses — then a 1-row-per-
    operation conditional-max rollup; nothing global. ``approx=True``
    is the 100 TB face (VERDICT r10 ask #3): a hot operation makes the
    exact per-key sort the dominant cost, so the approx path swaps the
    rank window for ONE mergeable `percentile_approx` sketch per group
    evaluated on a fixed 0.1%-step quantile grid, and snaps the exact
    integer CI ranks (the same r99/rlo/rhi arithmetic) onto that grid —
    no window, no per-key sort, map-side combinable like the
    `service_latency_percentiles`/`ppl_buckets` siblings."""
    return p99_confidence_from(_spans(spark, sf_dir), approx=approx)


#: approx-face quantile grid: 0.950..0.999 in 0.1% steps. CI ranks land
#: in (0.95, 1] for every n >= P99_MIN_SPANS (at n=100 the offset is 2
#: ranks -> q >= 0.97; the offset quantile shrinks as 1/sqrt(n)), so the
#: grid brackets every reachable bound; indices clamp at the edges.
P99_GRID = tuple(round(0.95 + i * 0.001, 3) for i in range(50))


def p99_confidence_from(
    spans: DataFrame, approx: bool = False, accuracy: int = 10000
) -> DataFrame:
    """Core over any spans frame — split out so crafted tests pin the
    exact rank/CI arithmetic (house rule 7)."""
    from pyspark.sql import Window

    spans = spans.filter(
        (F.col("service_name") != "") & (F.col("operation_name") != "")
    ).select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        "duration",
        F.col("span_id").cast("long").alias("sid"),
    )
    if approx:
        grid_sql = ", ".join(str(q) for q in P99_GRID)
        agg = (
            spans.groupBy("servicename", "operationname")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.expr(
                    f"percentile_approx(duration, array({grid_sql}), {accuracy})"
                ).alias("qv"),
            )
            .filter(F.col("n") >= P99_MIN_SPANS)
        )
        r99 = F.expr("(99 * n + 99) div 100")
        off = F.ceil(
            F.lit(P99_Z95) * F.sqrt(F.col("n") * F.lit(0.99) * F.lit(0.01))
        ).cast("long")
        agg = (
            agg.withColumn("r99", r99)
            .withColumn("rlo", F.greatest(F.lit(1), r99 - off))
            .withColumn("rhi", F.least(F.col("n"), r99 + off))
        )

        def snap(rank_col):
            # rank r of n -> quantile r/n -> nearest grid rung (1-based)
            idx = F.round(
                (rank_col / F.col("n") - F.lit(0.95)) * F.lit(1000.0)
            ).cast("int")
            return F.element_at(
                "qv", F.least(F.lit(len(P99_GRID) - 1), F.greatest(F.lit(0), idx)) + 1
            )

        out = agg.select(
            "servicename",
            "operationname",
            F.col("n").alias("n_spans"),
            snap(F.col("r99")).alias("p99_us"),
            snap(F.col("rlo")).alias("ci_lo_us"),
            snap(F.col("rhi")).alias("ci_hi_us"),
        )
        return out.select(
            "servicename",
            "operationname",
            "n_spans",
            "p99_us",
            "ci_lo_us",
            "ci_hi_us",
            F.round(
                (F.col("ci_hi_us") - F.col("ci_lo_us"))
                / F.nullif(F.col("p99_us").cast("double"), F.lit(0.0)),
                6,
            ).alias("rel_width"),
            (
                F.lit(2) * (F.col("ci_hi_us") - F.col("ci_lo_us"))
                <= F.col("p99_us")
            ).alias("measurable"),
        ).orderBy("servicename", "operationname")

    w = Window.partitionBy("servicename", "operationname").orderBy(
        "duration", "sid"
    )
    wn = Window.partitionBy("servicename", "operationname")
    ranked = (
        spans.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("n") >= P99_MIN_SPANS)
    )
    r99 = F.expr("(99 * n + 99) div 100")
    off = F.ceil(
        F.lit(P99_Z95) * F.sqrt(F.col("n") * F.lit(0.99) * F.lit(0.01))
    ).cast("long")
    ranked = (
        ranked.withColumn("r99", r99)
        .withColumn("rlo", F.greatest(F.lit(1), r99 - off))
        .withColumn("rhi", F.least(F.col("n"), r99 + off))
    )
    out = ranked.groupBy("servicename", "operationname").agg(
        F.max("n").alias("n_spans"),
        F.max(F.when(F.col("rn") == F.col("r99"), F.col("duration"))).alias(
            "p99_us"
        ),
        F.max(F.when(F.col("rn") == F.col("rlo"), F.col("duration"))).alias(
            "ci_lo_us"
        ),
        F.max(F.when(F.col("rn") == F.col("rhi"), F.col("duration"))).alias(
            "ci_hi_us"
        ),
    )
    return out.select(
        "servicename",
        "operationname",
        "n_spans",
        "p99_us",
        "ci_lo_us",
        "ci_hi_us",
        F.round(
            (F.col("ci_hi_us") - F.col("ci_lo_us"))
            / F.nullif(F.col("p99_us").cast("double"), F.lit(0.0)),
            6,
        ).alias("rel_width"),
        (
            F.lit(2) * (F.col("ci_hi_us") - F.col("ci_lo_us"))
            <= F.col("p99_us")
        ).alias("measurable"),
    ).orderBy("servicename", "operationname")


def sql_p99_confidence() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, ranked AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         duration,
         ROW_NUMBER() OVER (PARTITION BY lower(service_name), lower(operation_name)
                            ORDER BY duration, CAST(span_id AS BIGINT)) AS rn,
         COUNT(*) OVER (PARTITION BY lower(service_name), lower(operation_name)) AS n
  FROM spans WHERE service_name <> '' AND operation_name <> ''
),
marked AS (
  SELECT *,
         (99 * n + 99) // 100 AS r99,
         GREATEST(1, (99 * n + 99) // 100
                     - CAST(CEIL({P99_Z95} * sqrt(n * 0.99 * 0.01)) AS BIGINT)) AS rlo,
         LEAST(n, (99 * n + 99) // 100
                  + CAST(CEIL({P99_Z95} * sqrt(n * 0.99 * 0.01)) AS BIGINT)) AS rhi
  FROM ranked WHERE n >= {P99_MIN_SPANS}
),
agg AS (
  SELECT servicename, operationname,
         CAST(MAX(n) AS BIGINT) AS n_spans,
         MAX(CASE WHEN rn = r99 THEN duration END) AS p99_us,
         MAX(CASE WHEN rn = rlo THEN duration END) AS ci_lo_us,
         MAX(CASE WHEN rn = rhi THEN duration END) AS ci_hi_us
  FROM marked GROUP BY 1, 2
)
SELECT servicename, operationname, n_spans, p99_us, ci_lo_us, ci_hi_us,
       ROUND((ci_hi_us - ci_lo_us) / NULLIF(CAST(p99_us AS DOUBLE), 0.0), 6)
         AS rel_width,
       (2 * (ci_hi_us - ci_lo_us) <= p99_us) AS measurable
FROM agg ORDER BY servicename, operationname
"""
    )


BURST_MIN_HOURS = 24


def q_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, n_hours, total_spans, mean_hourly, fano,
    burstiness): ARRIVAL-PROCESS dispersion per service — the Fano
    factor (var/mean of hourly counts over the service's GAP-FILLED
    hour grid) and the bounded Kim–Jo burstiness (σ−μ)/(σ+μ) ∈ (−1, 1).
    Fano ≈ 1 is Poisson traffic (autoscalers' default assumption);
    Fano ≫ 1 is bursty arrivals where mean-based capacity under-
    provisions — `service_seasonality` finds the PERIODIC component,
    this measures total over-dispersion whatever its shape. Empty hours
    are REAL zero observations (a service idle half the day is bursty),
    hence the fill against the global hour span.

    Cross-engine discipline: moments are exact integer sums over
    integer hourly counts (Σc in BIGINT, Σc² widened before squaring —
    the dim_variance_order lesson); fano/burstiness are 6dp doubles
    derived from those integers through the same expression tree.

    Scale shape: one (service, hour) combinable rollup, a broadcast
    hour-grid fill (|services| × |hours| rows — the
    service_error_correlation pattern), one per-service aggregate."""
    spans = _spans(spark, sf_dir).filter(F.col("service_name") != "")
    hourly = spans.groupBy(
        F.lower("service_name").alias("servicename"),
        (F.col("start_time") - F.col("start_time") % HOUR_US).alias("hour_ts"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = (
        hourly.agg(F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(HOUR_US))
            ).alias("hour_ts")
        )
        .crossJoin(hourly.select("servicename").distinct())
    )
    filled = grid.join(hourly, ["servicename", "hour_ts"], "left").select(
        "servicename", F.coalesce("c", F.lit(0)).alias("c")
    )
    cd = F.col("c").cast("decimal(38,0)")
    per = filled.groupBy("servicename").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").alias("s1"),
        F.sum(cd * cd).alias("s2"),
    ).filter(F.col("n_hours") >= BURST_MIN_HOURS)
    nh = F.col("n_hours").cast("double")
    mu = F.col("s1") / nh
    var = F.col("s2").cast("double") / nh - mu * mu
    sig = F.sqrt(F.greatest(var, F.lit(0.0)))
    return per.select(
        "servicename",
        "n_hours",
        F.col("s1").alias("total_spans"),
        F.round(mu, 6).alias("mean_hourly"),
        F.round(var / F.nullif(mu, F.lit(0.0)), 6).alias("fano"),
        F.round((sig - mu) / F.nullif(sig + mu, F.lit(0.0)), 6).alias(
            "burstiness"
        ),
    ).orderBy("servicename")


def sql_arrival_burstiness() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, hourly AS (
  SELECT lower(service_name) AS servicename,
         start_time - start_time % {HOUR_US} AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM spans WHERE service_name <> ''
  GROUP BY 1, 2
),
bounds AS (SELECT MIN(hour_ts) AS lo, MAX(hour_ts) AS hi FROM hourly),
grid AS (
  SELECT s.servicename, CAST(h AS BIGINT) AS hour_ts
  FROM (SELECT DISTINCT servicename FROM hourly) s
  CROSS JOIN bounds, UNNEST(generate_series(lo, hi, {HOUR_US})) t(h)
),
filled AS (
  SELECT g.servicename, COALESCE(c, 0) AS c
  FROM grid g LEFT JOIN hourly USING (servicename, hour_ts)
),
per AS (
  SELECT servicename,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s1,
         SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM filled GROUP BY 1 HAVING COUNT(*) >= {BURST_MIN_HOURS}
)
SELECT servicename, n_hours, s1 AS total_spans,
       ROUND(s1 / CAST(n_hours AS DOUBLE), 6) AS mean_hourly,
       ROUND((CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
              - (s1 / CAST(n_hours AS DOUBLE)) * (s1 / CAST(n_hours AS DOUBLE)))
             / NULLIF(s1 / CAST(n_hours AS DOUBLE), 0.0), 6) AS fano,
       ROUND((sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
                            - (s1 / CAST(n_hours AS DOUBLE)) * (s1 / CAST(n_hours AS DOUBLE)), 0.0))
              - s1 / CAST(n_hours AS DOUBLE))
             / NULLIF(sqrt(GREATEST(CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
                                    - (s1 / CAST(n_hours AS DOUBLE)) * (s1 / CAST(n_hours AS DOUBLE)), 0.0))
                      + s1 / CAST(n_hours AS DOUBLE), 0.0), 6) AS burstiness
FROM per ORDER BY servicename
"""
    )


def q_latency_hourly_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, operationname, hour_ts, q, est_us): HOURLY
    percentile estimates from the mergeable log2-bucket histogram — the
    SQL-ORACLED batch face of the event-time streaming gate
    (streaming.latency_stream.EventTimeLatencyHistogram, VERDICT r10 ask
    #6): what the gate emits when its watermark passes an hour's end is
    exactly these rows. Where `latency_heatmap` publishes the raw (svc,
    op, hour, bucket) counts, this folds them to the p50/p90/p99 estimate
    (smallest bucket whose cumulative count reaches q·total; est = that
    bucket's inclusive upper bound 2^b − 1, so true ≤ est < 2·true) —
    integer-deterministic, no float log, no per-span sort anywhere.

    Scale shape: one map-side-combinable histogram rollup; the cumulative
    walk windows over ≤64 bucket rows per (svc, op, hour), never over
    spans. Shares percentiles_from_hist with both streaming faces
    (rule 19)."""
    from haystack_traces_spark.streaming.latency_stream import (
        hourly_latency_percentiles,
    )

    rows = _spans(spark, sf_dir).select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        F.col("start_time").alias("ts"),
        "duration",
    )
    return hourly_latency_percentiles(rows, HOUR_US).orderBy(
        "servicename", "operationname", "hour_ts", "q"
    )


def sql_latency_hourly_percentiles() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, hist AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         start_time - start_time % {HOUR_US} AS hour_ts,
         CAST(length(bin(duration)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM spans GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT *,
         SUM(n) OVER (PARTITION BY servicename, operationname, hour_ts
                      ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY servicename, operationname, hour_ts)
           AS total
  FROM hist
),
qs AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
est AS (
  SELECT servicename, operationname, hour_ts, q, MIN(bucket) AS b
  FROM cum CROSS JOIN qs
  WHERE cum >= q * total
  GROUP BY 1, 2, 3, 4
)
SELECT servicename, operationname, hour_ts, q,
       (CAST(1 AS BIGINT) << CAST(b AS INT)) - 1 AS est_us
FROM est ORDER BY 1, 2, 3, 4
"""
    )


#: trace fields whose VALUE DISTRIBUTION the entropy audit covers — the
#: same low-cardinality trio field_cardinalities budgets index columns for.
ENTROPY_FIELDS = ("servicename", "operationname", "errorcode")


def q_field_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (field, n_values, entropy, max_entropy, top_share): value-
    distribution ENTROPY per indexed low-cardinality field (nats). Where
    `field_cardinalities` counts DISTINCT values (the index-width
    budget), this measures how the mass spreads over them: entropy near
    ln(n_values) means uniform (a salt-friendly key — index_salt_plan's
    premise holds); entropy ≪ max with top_share → 1 means one hot value
    dominates, exactly where a hash-partitioned index or filter skews.
    The natural-log construction is char_entropy / shard_source_entropy's
    (rule 19: same expression tree both faces).

    Scale shape: one (field, value) combinable rollup over the catalog-
    bounded value sets, then a per-field fold — never span-volume."""
    spans = _spans(spark, sf_dir)
    proj = spans.select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        _errorcode().cast("string").alias("errorcode"),
    )
    stacked = proj.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"), F.col(f).alias("value")
                    )
                    for f in ENTROPY_FIELDS
                ]
            )
        ).alias("x")
    ).select("x.field", "x.value")
    counts = stacked.groupBy("field", "value").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_field = counts.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("c").alias("total"),
        F.max("c").alias("top_c"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clogc"),
    )
    # H = ln(total) - Σ c·ln(c)/total — one pass, no per-value division
    return per_field.select(
        "field",
        "n_values",
        F.round(
            F.log(F.col("total").cast("double"))
            - F.col("clogc") / F.col("total").cast("double"),
            6,
        ).alias("entropy"),
        F.round(F.log(F.col("n_values").cast("double")), 6).alias(
            "max_entropy"
        ),
        F.round(F.col("top_c") / F.col("total").cast("double"), 6).alias(
            "top_share"
        ),
    ).orderBy("field")


def sql_field_entropy() -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{f}' AS field, {expr} AS value FROM spans"
        for f, expr in (
            ("servicename", "lower(service_name)"),
            ("operationname", "lower(operation_name)"),
            ("errorcode", "CAST(COALESCE(errorcode, 0) AS VARCHAR)"),
        )
    )
    return (
        EVENT_SPANS_CTE
        + f"""
, stacked AS ({arms}),
counts AS (
  SELECT field, value, CAST(COUNT(*) AS BIGINT) AS c
  FROM stacked GROUP BY 1, 2
),
per_field AS (
  SELECT field, CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(c) AS BIGINT) AS total,
         CAST(MAX(c) AS BIGINT) AS top_c,
         SUM(c * ln(CAST(c AS DOUBLE))) AS clogc
  FROM counts GROUP BY 1
)
SELECT field, n_values,
       ROUND(ln(CAST(total AS DOUBLE)) - clogc / CAST(total AS DOUBLE), 6)
         AS entropy,
       ROUND(ln(CAST(n_values AS DOUBLE)), 6) AS max_entropy,
       ROUND(top_c / CAST(total AS DOUBLE), 6) AS top_share
FROM per_field ORDER BY field
"""
    )


def q_latency_hist_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (servicename, operationname, n_spans, exact_p99_us, hist_p99_us,
    ratio, within_bound): the MEASURED-ACCURACY face of the log2-bucket
    histogram estimator (house rule: every approximate family carries
    one — `ann_recall_report` for LSH, `cms_estimate_quality` for CMS,
    this for the latency histogram). Per operation: the exact p99 (the
    p99_confidence rank arithmetic — rank ⌈99n/100⌉ under the
    (duration, span_id) total order) against the histogram estimate
    (smallest bucket whose cumulative count reaches the SAME exact rank,
    upper bound 2^b − 1), the ratio, and the guarantee check
    hist ≥ exact AND hist < 2·exact as an exact-integer boolean (the
    estimator promise: true ≤ est < 2·true for durations ≥ 1).

    Scale shape: this is the AUDIT face, so it pays the per-key rank
    sort once (the monitored path never does — the gate and
    `latency_hourly_percentiles` are windows over ≤64 bucket rows); at
    100 TB run it on a sampled fraction like every accuracy report."""
    from pyspark.sql import Window

    spans = _spans(spark, sf_dir).filter(
        (F.col("service_name") != "") & (F.col("operation_name") != "")
    ).select(
        F.lower("service_name").alias("servicename"),
        F.lower("operation_name").alias("operationname"),
        "duration",
        F.col("span_id").cast("long").alias("sid"),
    )
    w = Window.partitionBy("servicename", "operationname").orderBy(
        "duration", "sid"
    )
    wn = Window.partitionBy("servicename", "operationname")
    ranked = (
        spans.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("n") >= P99_MIN_SPANS)
        .withColumn("r99", F.expr("(99 * n + 99) div 100"))
    )
    exact = (
        ranked.filter(F.col("rn") == F.col("r99"))
        .select(
            "servicename",
            "operationname",
            F.col("n").alias("n_spans"),
            F.col("duration").alias("exact_p99_us"),
        )
    )
    hist = (
        ranked.groupBy(
            "servicename",
            "operationname",
            F.length(F.conv(F.col("duration").cast("string"), 10, 2))
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"), F.max("r99").alias("r99"))
    )
    wb = Window.partitionBy("servicename", "operationname").orderBy("bucket")
    est = (
        hist.withColumn("cum", F.sum("c").over(wb))
        .filter(F.col("cum") >= F.col("r99"))
        .groupBy("servicename", "operationname")
        .agg(F.min("bucket").alias("b"))
        .select(
            "servicename",
            "operationname",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) - 1").alias(
                "hist_p99_us"
            ),
        )
    )
    return (
        exact.join(est, ["servicename", "operationname"])
        .select(
            "servicename",
            "operationname",
            "n_spans",
            "exact_p99_us",
            "hist_p99_us",
            F.round(
                F.col("hist_p99_us")
                / F.nullif(F.col("exact_p99_us").cast("double"), F.lit(0.0)),
                6,
            ).alias("ratio"),
            (
                (F.col("hist_p99_us") >= F.col("exact_p99_us"))
                & (F.col("hist_p99_us") < F.lit(2) * F.col("exact_p99_us"))
            ).alias("within_bound"),
        )
        .orderBy("servicename", "operationname")
    )


def sql_latency_hist_accuracy() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
, ranked AS (
  SELECT lower(service_name) AS servicename,
         lower(operation_name) AS operationname,
         duration,
         ROW_NUMBER() OVER (PARTITION BY lower(service_name), lower(operation_name)
                            ORDER BY duration, CAST(span_id AS BIGINT)) AS rn,
         COUNT(*) OVER (PARTITION BY lower(service_name), lower(operation_name)) AS n
  FROM spans WHERE service_name <> '' AND operation_name <> ''
),
marked AS (
  SELECT *, (99 * n + 99) // 100 AS r99 FROM ranked WHERE n >= {P99_MIN_SPANS}
),
exact AS (
  SELECT servicename, operationname, CAST(MAX(n) AS BIGINT) AS n_spans,
         MAX(CASE WHEN rn = r99 THEN duration END) AS exact_p99_us
  FROM marked GROUP BY 1, 2
),
hist AS (
  SELECT servicename, operationname,
         CAST(length(bin(duration)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c, MAX(r99) AS r99
  FROM marked GROUP BY 1, 2, 3
),
walk AS (
  SELECT *, SUM(c) OVER (PARTITION BY servicename, operationname
                         ORDER BY bucket) AS cum
  FROM hist
),
est AS (
  SELECT servicename, operationname,
         (CAST(1 AS BIGINT) << CAST(MIN(bucket) AS INT)) - 1 AS hist_p99_us
  FROM walk WHERE cum >= r99 GROUP BY 1, 2
)
SELECT e.servicename, e.operationname, e.n_spans, e.exact_p99_us,
       s.hist_p99_us,
       ROUND(s.hist_p99_us / CAST(NULLIF(e.exact_p99_us, 0) AS DOUBLE), 6)
         AS ratio,
       (s.hist_p99_us >= e.exact_p99_us
        AND s.hist_p99_us < 2 * e.exact_p99_us) AS within_bound
FROM exact e JOIN est s USING (servicename, operationname)
ORDER BY e.servicename, e.operationname
"""
    )


#: Gap rungs for the sessionization knob sweep — brackets SESSION_GAP_US
#: (12 h; corpus median inter-event gap ≈ 8 h) a decade down and 2× up.
SESSION_GAP_LADDER = (HOUR_US, 4 * HOUR_US, SESSION_GAP_US, 24 * HOUR_US)


def q_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (gap_us, n_sessions, events_per_session, in_session_us,
    mean_session_dur_us): the SESSIONIZATION-GAP knob table — the T1
    sessionizer's window parameter (reference
    `SpanAccumulator`/sessionize config; `event_sessions` is the shipped
    single-gap face) swept across a ladder, priced from ONE lag pass:
    every user's first event opens a session and each inter-event gap
    > g opens another, so n_sessions(g) = n_users + Σ[gap > g], and the
    in-session wall time is Σ of the gaps a rung does NOT split. The
    pre-100 TB question: which gap keeps state size (live sessions ≈
    n_sessions per window) and session semantics in balance — read off
    the table instead of re-running the sessionizer per candidate gap.

    All exact integers (counts, gap sums; mean duration via integer
    div); events_per_session is the one 6dp double.

    Scale shape: ONE user-partitioned lag window (the exchange every
    trace operator shuffles on) + one combinable rollup carrying the 4
    rungs as conditional sums — the ladder never re-scans."""
    from haystack_traces_spark.sources.events import _epoch_micros
    from pyspark.sql import Window

    events = _events(spark, sf_dir)
    ev = events.select(
        "user_id", "event_id", _epoch_micros(events).alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.select(
        "user_id", (F.col("tus") - F.lag("tus").over(w)).alias("gap")
    )
    agg = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("gap").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
        *[
            F.sum(F.when(F.col("gap") > g, 1).otherwise(0))
            .cast("long")
            .alias(f"splits_{i}")
            for i, g in enumerate(SESSION_GAP_LADDER)
        ],
        *[
            F.sum(F.when(F.col("gap") <= g, F.col("gap")).otherwise(0))
            .cast("long")
            .alias(f"inside_{i}")
            for i, g in enumerate(SESSION_GAP_LADDER)
        ],
    )
    rung_rows = []
    for i, g in enumerate(SESSION_GAP_LADDER):
        rung_rows.append(
            agg.select(
                F.lit(g).cast("long").alias("gap_us"),
                (F.col("n_users") + F.col(f"splits_{i}"))
                .cast("long")
                .alias("n_sessions"),
                F.round(
                    F.col("n_rows")
                    / (F.col("n_users") + F.col(f"splits_{i}")).cast("double"),
                    6,
                ).alias("events_per_session"),
                F.col(f"inside_{i}").alias("in_session_us"),
                F.expr(
                    f"inside_{i} div (n_users + splits_{i})"
                ).alias("mean_session_dur_us"),
            )
        )
    out = rung_rows[0]
    for r in rung_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("gap_us")


def sql_session_gap_sweep() -> str:
    split_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN gap > {g} THEN 1 ELSE 0 END) AS BIGINT) AS splits_{i},\n"
        f"         CAST(SUM(CASE WHEN gap <= {g} THEN gap ELSE 0 END) AS BIGINT) AS inside_{i}"
        for i, g in enumerate(SESSION_GAP_LADDER)
    )
    arms = "\n  UNION ALL ".join(
        f"""SELECT {g} AS gap_us, n_users + splits_{i} AS n_sessions,
       ROUND(n_rows / CAST(n_users + splits_{i} AS DOUBLE), 6)
         AS events_per_session,
       inside_{i} AS in_session_us,
       inside_{i} // (n_users + splits_{i}) AS mean_session_dur_us
FROM agg"""
        for i, g in enumerate(SESSION_GAP_LADDER)
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
),
gaps AS (
  SELECT user_id,
         tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
           AS gap
  FROM ev
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users,
         {split_cols}
  FROM gaps
)
SELECT CAST(gap_us AS BIGINT) AS gap_us, n_sessions, events_per_session,
       in_session_us, mean_session_dur_us
FROM ({arms}) ORDER BY gap_us
"""


def q_service_scorecard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain health scorecard in ONE pass: the q_service_scorecard
    panel computed simultaneously at (service, operation), (service) and
    corpus-total grain via ROLLUP — the pre-aggregated drill-down cube a
    dashboard serves without re-scanning per grain. ``grain`` is the
    standard grouping-id bitmask (0 = leaf, 1 = per-service subtotal,
    3 = grand total); rolled-up key columns render as ``(all)``.

    Scale shape: Catalyst's Expand node replicates each span row once per
    grouping set BEFORE the hash aggregate, so all three grains ride one
    shuffle with map-side combine — at 100 TB that is one scan + one
    exchange instead of three separate jobs (and the exact percentile
    still computes per grouping set from the expanded rows). Plan-asserted
    in test_plans.py (Expand present, single Exchange)."""
    spans = _spans(spark, sf_dir)
    is_err = _errorcode() >= ERROR_THRESHOLD
    return (
        spans.rollup(
            F.lower("service_name").alias("servicename"),
            F.lower("operation_name").alias("operationname"),
        )
        .agg(
            F.grouping_id().alias("grain"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.round(
                F.sum(is_err.cast("long")) / F.count(F.lit(1)), 6
            ).alias("error_rate"),
            F.round(F.percentile("duration", F.lit(0.95)), 6).alias("p95"),
        )
        .select(
            F.col("grain").cast("int").alias("grain"),
            F.coalesce("servicename", F.lit("(all)")).alias("servicename"),
            F.coalesce("operationname", F.lit("(all)")).alias("operationname"),
            "n_spans",
            "error_rate",
            "p95",
        )
        .orderBy("grain", "servicename", "operationname")
    )


def sql_service_scorecard_rollup() -> str:
    return (
        EVENT_SPANS_CTE
        + f"""
SELECT CAST(GROUPING(lower(service_name), lower(operation_name)) AS INT) AS grain,
       COALESCE(lower(service_name), '(all)') AS servicename,
       COALESCE(lower(operation_name), '(all)') AS operationname,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       ROUND(SUM(CASE WHEN COALESCE(errorcode, 0) >= {ERROR_THRESHOLD}
                      THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate,
       ROUND(quantile_cont(duration, 0.95), 6) AS p95
FROM spans
GROUP BY ROLLUP(lower(service_name), lower(operation_name))
ORDER BY 1, 2, 3
"""
    )


#: (numerator, denominator) percentile targets for the quickselect — kept
#: rational so the k-th rank computes in INTEGER arithmetic on both faces
#: (a float ceil(p*n) race between Python and DuckDB loses a rank when
#: p*n lands within an ulp of an integer).
QUICKSELECT_PS = ((1, 2), (9, 10), (99, 100), (999, 1000))
QUICKSELECT_BUCKETS = 256


def q_duration_quickselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duration percentiles WITHOUT a global sort: distributed
    quickselect by histogram refinement. Each round counts spans into
    ``QUICKSELECT_BUCKETS`` equal-width value buckets over the candidate
    range (one map-side-combinable aggregate, ≤256-row collect), keeps
    the bucket containing the k-th rank, and narrows — the value range
    shrinks 256× per round, so 4-5 scans pin the EXACT k-th smallest
    element of 100 TB where a sort would shuffle the entire table and
    percentile_approx would only bound the error. Round 1's histogram is
    shared by all percentile targets; later rounds carry a pushed-down
    range predicate (min/max row-group skipping makes the narrowed scans
    progressively cheaper on sorted/partitioned stores).

    Oracle: the straightforward global ROW_NUMBER rank — the fancy
    algorithm is checked against the naive definition, not mirrored."""
    return duration_quickselect_from(_spans(spark, sf_dir))


def duration_quickselect_from(spans: DataFrame) -> DataFrame:
    spark = spans.sparkSession
    # COUNT(duration), not COUNT(*): a NULL duration is invisible to the
    # range histograms, so counting it into n would push k past the
    # rankable rows and the narrowing loop could never reach it
    first = spans.agg(
        F.count("duration").alias("n"),
        F.min("duration").alias("dmin"),
        F.max("duration").alias("dmax"),
    ).first()
    n, dmin, dmax = first["n"], first["dmin"], first["dmax"]
    schema = "p double, k long, value long"
    if not n:
        return spark.createDataFrame([], schema)

    # r12-opt (guide §1.2 "don't compute things you throw away" / §5 "the
    # driver should do almost no data work" — but each histogram IS one
    # bounded ≤256-row collect): the four percentile targets used to run
    # their narrowing loops SEQUENTIALLY, paying one scan+aggregate job
    # per target per round (~17 jobs). Their round-k histograms are
    # independent, so all still-narrowing targets now share ONE scan per
    # round: each row contributes its bucket id to every in-range target
    # via a posexploded literal array, and one (target, bucket) aggregate
    # feeds every target's narrowing step. Identical per-target
    # trajectories (same widths, same bucket math), ~4 jobs total.
    dur = spans.select("duration").filter(F.col("duration").isNotNull())

    def joint_hist(ranges: list[tuple[int, int, int]]) -> list[dict[int, int]]:
        """One scan → per-target histograms. ranges = [(lo, hi, width)]."""
        arms = [
            F.when(
                (F.col("duration") >= lo) & (F.col("duration") <= hi),
                # integer DIV, exactly the sequential version's bucket id
                F.expr(f"(duration - {lo}) DIV {width}"),
            )
            for lo, hi, width in ranges
        ]
        rows = (
            dur.select(F.posexplode(F.array(*arms)).alias("t", "b"))
            .filter(F.col("b").isNotNull())
            .groupBy("t", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        hists: list[dict[int, int]] = [{} for _ in ranges]
        for r in rows:
            hists[r["t"]][r["b"]] = r["c"]
        return hists

    def narrow(st: dict) -> None:
        """One quickselect refinement step over st's current histogram —
        the exact per-target arithmetic of the sequential version."""
        cum = st["below"]
        for b in sorted(st["buckets"]):
            c = st["buckets"][b]
            if cum + c >= st["k"]:
                new_lo = st["lo"] + b * st["width"]
                st["hi"] = min(st["hi"], new_lo + st["width"] - 1)
                st["lo"], st["below"] = new_lo, cum
                break
            cum += c

    w0 = (dmax - dmin) // QUICKSELECT_BUCKETS + 1
    h0 = joint_hist([(dmin, dmax, w0)])[0]
    states = []
    for num, den in QUICKSELECT_PS:
        k = (num * n + den - 1) // den  # ceil(p*n) in integer arithmetic
        states.append(
            {
                "p": num / den, "k": k, "lo": dmin, "hi": dmax,
                "below": 0, "width": w0, "buckets": h0,
            }
        )
    while True:
        pending = []
        for st in states:
            if st["lo"] < st["hi"]:
                narrow(st)
                if st["lo"] < st["hi"]:
                    st["width"] = (st["hi"] - st["lo"]) // QUICKSELECT_BUCKETS + 1
                    pending.append(st)
        if not pending:
            break
        hists = joint_hist([(st["lo"], st["hi"], st["width"]) for st in pending])
        for st, h in zip(pending, hists):
            st["buckets"] = h
    out = [(st["p"], st["k"], st["lo"]) for st in states]
    return spark.createDataFrame(out, schema)


def sql_duration_quickselect() -> str:
    ps = ", ".join(f"({num}, {den})" for num, den in QUICKSELECT_PS)
    return (
        EVENT_SPANS_CTE
        + f"""
, n AS (SELECT CAST(COUNT(duration) AS BIGINT) AS n FROM spans),
ranked AS (
  SELECT duration, ROW_NUMBER() OVER (ORDER BY duration) AS rn
  FROM spans WHERE duration IS NOT NULL
),
ps(num, den) AS (VALUES {ps}),
ks AS (
  SELECT CAST(num AS DOUBLE) / den AS p,
         CAST((num * n.n + den - 1) // den AS BIGINT) AS k
  FROM ps, n
)
SELECT ks.p AS p, ks.k AS k, r.duration AS value
FROM ks JOIN ranked r ON r.rn = ks.k
ORDER BY p
"""
    )


# ONE definition of the layout constants and key derivation: the write
# path (operators/layout.py) and this simulation price the same layout
from haystack_traces_spark.operators.layout import (  # noqa: E402
    ZORDER_CELLS,
    ZORDER_FILES,
)


def _morton_terms(div_op: str) -> str:
    """One definition of the Morton interleave (operators/layout.py —
    the WRITE path `write_spans_zordered` sorts real files by the same
    expression this simulation and its oracle price)."""
    from haystack_traces_spark.operators.layout import morton_terms

    return morton_terms(div_op, ZORDER_CELLS)


def q_zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout planner with a MEASURED pruning receipt: simulates
    writing the span table as ``ZORDER_FILES`` files under three sort
    layouts — time-sorted, service-then-time sorted, and Morton/z-order
    interleaved — records each file's (tkey, skey) min/max zone map from
    the ACTUAL rows it would hold, then replays a canonical workload
    (every service × 4 time quartiles, plus time-only sweeps) against
    the zone maps and reports the fraction of files and rows a min/max-
    skipping reader must touch. The lakehouse layout decision (sort vs
    z-order before writing 100 TB of parquet) priced from data instead
    of folklore: z-order's receipt is rows_frac staying low on BOTH
    query classes while each single-sort layout only prunes its own.

    Scale shape: keys are pure arithmetic off a 1-row min/max aggregate
    (no global rank/NTILE — a window over the corpus would serialize the
    simulation); the service dim is a bounded broadcast catalog; the
    zone-map join is files × queries, a bounded grid (3·64 × ~100).
    The (tkey, skey, morton) derivation is the write path's own
    (operators/layout.py with_morton_key) — the simulation prices
    exactly the layout write_spans_zordered ships."""
    from haystack_traces_spark.operators.layout import with_morton_key

    cells, files = ZORDER_CELLS, ZORDER_FILES
    enriched = with_morton_key(_spans(spark, sf_dir), cells)
    assigned = enriched.selectExpr(
        "tkey",
        "skey",
        f"stack(3, 'time', tkey * {files} DIV {cells},"
        f" 'service', (skey * {cells} + tkey) * {files} DIV {cells * cells},"
        f" 'zorder', morton * {files} DIV {cells * cells}) AS (layout, file)",
    )
    # both bounded tables are PINNED (zone maps: 3·files rows; workload:
    # |services|·4+4 rows): file_zones feeds the zone-map join AND the
    # per-layout totals, qs feeds the join AND the per-class counts —
    # unpinned, each extra branch re-ran the span scan + service-rank
    # window underneath (r12-opt)
    from haystack_traces_spark.session import materialize

    file_zones = materialize(
        assigned.groupBy("layout", "file").agg(
            F.min("tkey").alias("tmin_f"),
            F.max("tkey").alias("tmax_f"),
            F.min("skey").alias("smin"),
            F.max("skey").alias("smax"),
            F.count(F.lit(1)).alias("nrows"),
        )
    )
    quart = [(0, 63), (64, 127), (128, 191), (192, 255)]
    quart_df = spark.createDataFrame(quart, "tlo long, thi long")
    qs = materialize(
        enriched.select("skey")
        .distinct()
        .crossJoin(quart_df)
        .select(
            F.lit("svc_time").alias("qclass"),
            F.col("skey").alias("qskey"),
            "tlo",
            "thi",
        )
        .unionByName(
            quart_df.select(
                F.lit("time").alias("qclass"),
                F.lit(None).cast("long").alias("qskey"),
                "tlo",
                "thi",
            )
        )
    )
    matched = (
        file_zones.join(
            F.broadcast(qs),
            (
                F.col("qskey").isNull()
                | F.col("qskey").between(F.col("smin"), F.col("smax"))
            )
            & (F.col("tlo") <= F.col("tmax_f"))
            & (F.col("thi") >= F.col("tmin_f")),
        )
        .groupBy("layout", "qclass")
        .agg(
            F.count(F.lit(1)).alias("files_read"),
            # DECIMAL accumulator: at corpus scale sum(nrows) x queries
            # exceeds int64 and ANSI mode aborts a long SUM
            F.sum(F.col("nrows").cast("decimal(38,0)")).alias("rows_read"),
        )
    )
    per_layout = file_zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.col("nrows").cast("decimal(38,0)")).alias("total_rows"),
    )
    per_class = qs.groupBy("qclass").agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        per_layout.crossJoin(F.broadcast(per_class))
        .join(matched, ["layout", "qclass"], "left")
        .select(
            "layout",
            "qclass",
            "n_files",
            "n_queries",
            F.round(
                F.coalesce("files_read", F.lit(0))
                / F.col("n_queries").cast("double"),
                6,
            ).alias("files_read_avg"),
            F.round(
                F.coalesce(F.col("rows_read").cast("double"), F.lit(0.0))
                / (F.col("n_queries") * F.col("total_rows")).cast("double"),
                6,
            ).alias("rows_frac"),
        )
        .orderBy("layout", "qclass")
    )


def sql_zorder_layout_plan() -> str:
    cells, files = ZORDER_CELLS, ZORDER_FILES
    return (
        EVENT_SPANS_CTE
        + f"""
, base AS (
  -- COALESCE mirrors the write path's NULL-service guard (with_morton_key)
  SELECT span_id, start_time, lower(COALESCE(service_name, '')) AS svc
  FROM spans
),
svc AS (
  SELECT svc,
         CAST((ROW_NUMBER() OVER (ORDER BY svc) - 1) * {cells}
              // COUNT(*) OVER () AS BIGINT) AS skey
  FROM (SELECT DISTINCT svc FROM base)
),
trange AS (SELECT MIN(start_time) AS tmin, MAX(start_time) AS tmax FROM base),
keyed AS (
  SELECT s.skey,
         (b.start_time - t.tmin) * {cells} // (t.tmax - t.tmin + 1) AS tkey
  FROM base b JOIN svc s USING (svc) CROSS JOIN trange t
),
m AS (SELECT skey, tkey, {_morton_terms('//')} AS morton FROM keyed),
assigned AS (
  SELECT 'time' AS layout, tkey * {files} // {cells} AS file, tkey, skey
  FROM m
  UNION ALL
  SELECT 'service', (skey * {cells} + tkey) * {files} // {cells * cells},
         tkey, skey
  FROM m
  UNION ALL
  SELECT 'zorder', morton * {files} // {cells * cells}, tkey, skey FROM m
),
file_zones AS (
  SELECT layout, file, MIN(tkey) AS tmin_f, MAX(tkey) AS tmax_f,
         MIN(skey) AS smin, MAX(skey) AS smax,
         CAST(COUNT(*) AS BIGINT) AS nrows
  FROM assigned GROUP BY 1, 2
),
quart(tlo, thi) AS (VALUES (0, 63), (64, 127), (128, 191), (192, 255)),
qs AS (
  SELECT 'svc_time' AS qclass, s.skey AS qskey, q.tlo, q.thi
  FROM svc s CROSS JOIN quart q
  UNION ALL
  SELECT 'time', NULL, tlo, thi FROM quart
),
matched AS (
  SELECT f.layout, q.qclass, CAST(COUNT(*) AS BIGINT) AS files_read,
         SUM(f.nrows) AS rows_read
  FROM file_zones f JOIN qs q
    ON (q.qskey IS NULL OR q.qskey BETWEEN f.smin AND f.smax)
   AND q.tlo <= f.tmax_f AND q.thi >= f.tmin_f
  GROUP BY 1, 2
),
nf AS (
  SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         SUM(nrows) AS total_rows
  FROM file_zones GROUP BY 1
),
nq AS (SELECT qclass, CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs GROUP BY 1)
SELECT f.layout AS layout, n.qclass AS qclass, f.n_files AS n_files,
       n.n_queries AS n_queries,
       ROUND(COALESCE(m.files_read, 0) / CAST(n.n_queries AS DOUBLE), 6)
         AS files_read_avg,
       ROUND(COALESCE(m.rows_read, 0)
             / CAST(n.n_queries * f.total_rows AS DOUBLE), 6) AS rows_frac
FROM nf f CROSS JOIN nq n
LEFT JOIN matched m ON m.layout = f.layout AND m.qclass = n.qclass
ORDER BY 1, 2
"""
    )


def q_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN ``session_window`` aggregation over the event
    stream — the third independent implementation of sessionization next
    to the hand-built gaps-and-islands batch face (q_event_sessions) and
    the stateful streaming sessionizer (T1), cross-validated against the
    same DuckDB islands oracle. Exercises the native session-merge
    physical operator Spark ships for exactly this (it also runs under
    Structured Streaming with watermark-merged state, so it is the
    zero-custom-code path a user reaches first).

    Boundary semantics pinned by test: an event EXACTLY gap after the
    previous one MERGES into the session (Spark merges when the next
    window's start equals the current window's end), so the islands rule
    is the same ``> gap`` as q_event_sessions — the crafted-frame test
    pins the boundary on both sides of the microsecond.

    Scale shape: one shuffle on user_id + per-key session merge — the
    same exchange as every other per-user operator, no global state."""
    from haystack_traces_spark.sources.events import _epoch_micros

    events = _events(spark, sf_dir)
    ev = events.select("user_id", _epoch_micros(events).alias("tus"))
    return native_sessions_from(ev)


def native_sessions_from(
    ev: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    return (
        ev.withColumn("ts", F.timestamp_micros("tus"))
        .groupBy(
            "user_id",
            F.session_window("ts", f"{gap_us} microseconds").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("tus").alias("session_start"),
            (F.max("tus") - F.min("tus")).cast("long").alias("session_dur"),
        )
        .select("user_id", "session_start", "n_events", "session_dur")
        .orderBy("user_id", "session_start")
    )


def sql_native_session_windows() -> str:
    return (
        _islands_cte_sql()
        + """
SELECT user_id, MIN(tus) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(tus) - MIN(tus) AS BIGINT) AS session_dur
FROM sess GROUP BY user_id, session_idx ORDER BY 1, 2
"""
    )


SLIDING_HLL_WINDOW_HOURS = 24


def q_sliding_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24 h distinct-trace cardinality at every hour — computed
    by MERGING the per-hour HLL register tables (max-rho per register
    across the window) instead of re-scanning the window's raw traffic.
    This is the mergeability property every HLL face relies on exercised
    RELATIONALLY with its own accuracy receipt: at 100 TB the per-hour
    register table is the only thing the sliding pass touches (2^p rows
    per hour), while the exact column — computable here because the
    corpus is at rest — would need the window's full distinct set.

    Scale shape: registers merge through the bucketized
    :func:`operators.asof.interval_join` (each 24 h window explodes to
    ≤2 day buckets; never an inequality cross product over the hour
    grid). Oracle: cross-checked, not mirrored — DuckDB replicates the
    raw (hour, trace) pairs into every window they fall in and runs the
    plain single-grain HLL chain on the replicated rows; max-rho over
    replicated rows == max of per-hour maxima, so the estimates must
    agree bit-for-bit."""
    from haystack_traces_spark.datapipe.text import (
        HLL_P,
        hll_estimate,
        hll_register_rows,
    )
    from haystack_traces_spark.operators.asof import interval_join

    win_us = SLIDING_HLL_WINDOW_HOURS * HOUR_US
    spans = _spans(spark, sf_dir)
    rows = spans.select(
        (F.col("start_time") - F.col("start_time") % HOUR_US).alias(
            "hour_ts"
        ),
        F.col("trace_id").alias("value"),
    )
    regs_h = (
        hll_register_rows(rows, "value", ("hour_ts",), HLL_P)
        .groupBy("hour_ts", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    # anchor grid: every hour with traffic; its window is (g-24h, g],
    # i.e. the half-open hour-aligned interval [g-23h, g+1h)
    grid = regs_h.select(F.col("hour_ts").alias("g")).distinct()
    intervals = grid.select(
        "g",
        (F.col("g") - F.lit(win_us - HOUR_US)).alias("_wstart"),
        (F.col("g") + F.lit(HOUR_US)).alias("_wend"),
    )
    merged = (
        interval_join(
            regs_h, intervals, on=[], point_ts="hour_ts",
            start_col="_wstart", end_col="_wend", bucket=DAY_US,
        )
        .groupBy(F.col("g").alias("w_hour"), "reg")
        .agg(F.max("mr").alias("mr"))
    )
    est = hll_estimate(merged, ("w_hour",), HLL_P)
    exact = (
        interval_join(
            rows.distinct(), intervals, on=[], point_ts="hour_ts",
            start_col="_wstart", end_col="_wend", bucket=DAY_US,
        )
        .groupBy(F.col("g").alias("w_hour"))
        .agg(F.countDistinct("value").cast("long").alias("n_exact"))
    )
    n_hll = F.round("e", 3)
    return (
        est.join(exact, "w_hour")
        .select(
            F.col("w_hour").alias("hour_ts"),
            "n_exact",
            n_hll.alias("n_hll"),
            F.round(
                (n_hll - F.col("n_exact"))
                / F.nullif(F.col("n_exact"), F.lit(0)),
                6,
            ).alias("rel_err"),
        )
        .orderBy("hour_ts")
    )


def sql_sliding_hll_cardinality() -> str:
    from haystack_traces_spark.datapipe.queries import hll_core_sql

    win_us = SLIDING_HLL_WINDOW_HOURS * HOUR_US
    hour = HOUR_US
    return (
        EVENT_SPANS_CTE
        + f""", pairs AS (
  SELECT DISTINCT start_time - start_time % {hour} AS h, trace_id AS w
  FROM spans
),
grid AS (SELECT DISTINCT h AS g FROM pairs),
hsrc AS (
  SELECT grid.g, pairs.w
  FROM pairs JOIN grid
    ON pairs.h <= grid.g AND pairs.h > grid.g - {win_us}
),
{hll_core_sql()},
ex AS (
  SELECT g, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
  FROM hsrc GROUP BY 1
)
SELECT g AS hour_ts, n_exact, ROUND(e, 3) AS n_hll,
       ROUND((ROUND(e, 3) - n_exact) / NULLIF(n_exact, 0), 6) AS rel_err
FROM est JOIN ex USING (g)
ORDER BY hour_ts
"""
    )


KMV_K = 256  # k-minimum-values sketch size


def q_kmv_trace_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trace overlap between every service pair, estimated from
    K-MINIMUM-VALUES (theta) sketches NEXT TO the exact overlap and the
    realized error — the set-INTERSECTION cardinality HLL structurally
    cannot give (register maxima only merge as unions). Per service the
    sketch is the ``KMV_K`` smallest ``hash60`` values of its distinct
    trace ids; a pair's estimate is the theta-sketch rule: with
    theta = min(theta_A, theta_B) (each service's k-th smallest hash,
    or 2^60 when the sketch holds the whole set), count the hashes below
    theta present in BOTH sketches and scale by 2^60/theta. Exact face
    computable because the corpus is at rest.

    Scale shape: the sketch build is one distinct + one PER-SERVICE
    rank window; everything pairwise then runs on sketch rows only
    (≤ k·|services|) — at 100 TB the n² pair space never touches the
    span table. The deterministic hash makes the estimator itself
    oracle-checked bit-for-bit, not just bounded."""
    return kmv_overlap_from(_spans(spark, sf_dir))


def kmv_overlap_from(spans: DataFrame) -> DataFrame:
    from haystack_traces_spark.datapipe.hashing import hash60
    from haystack_traces_spark.streaming.kmv_stream import (
        _min_k,
        kmv_pair_estimates,
    )

    st = spans.select(
        F.lower("service_name").alias("svc"),
        hash60(F.col("trace_id"), seed="kmv:").alias("h"),
    ).distinct()
    # the ONE min-k ranking (kmv_stream._min_k), truncated so thetas
    # derive from the ≤ k·|svc| sketch rows — deriving them from the
    # un-truncated rank frame would run the expensive per-service window
    # a second time (the oracle's th CTE reads its sk CTE the same way)
    sketch = _min_k(st, KMV_K, keys=()).localCheckpoint(eager=False)
    # ONE implementation of the theta estimator (rule 19): the streaming
    # gate, its batch face, and this corpus-wide face all ride
    # kmv_pair_estimates; rel_err therefore reports against the emitted
    # (3dp-rounded) estimate, mirrored in the oracle
    est = kmv_pair_estimates(sketch, KMV_K, keys=())
    tr = spans.select(
        F.lower("service_name").alias("svc"), "trace_id"
    ).distinct()
    exact = (
        tr.alias("a")
        .join(tr.alias("b"), "trace_id")
        .filter(F.col("a.svc") < F.col("b.svc"))
        .groupBy(
            F.col("a.svc").alias("s1"), F.col("b.svc").alias("s2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    n_exact = F.coalesce("n_exact", F.lit(0))
    return (
        est.join(exact, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            n_exact.alias("n_exact"),
            "n_est",
            F.round(
                (F.col("n_est") - n_exact) / F.nullif(n_exact, F.lit(0)),
                6,
            ).alias("rel_err"),
        )
        .orderBy("s1", "s2")
    )


def sql_kmv_trace_overlap() -> str:
    from haystack_traces_spark.datapipe.hashing import hash60_sql

    H = float(1 << 60)
    return (
        EVENT_SPANS_CTE
        + f"""
, st AS (
  SELECT DISTINCT lower(service_name) AS svc,
         {hash60_sql('trace_id', seed='kmv:')} AS h
  FROM spans
),
ranked AS (
  SELECT svc, h, ROW_NUMBER() OVER (PARTITION BY svc ORDER BY h) AS rn
  FROM st
),
sk AS (SELECT svc, h, rn FROM ranked WHERE rn <= {KMV_K}),
th AS (
  SELECT svc,
         COALESCE(MAX(CASE WHEN rn = {KMV_K} THEN h END), {1 << 60})
           AS theta
  FROM sk GROUP BY svc
),
grid AS (
  SELECT a.svc AS s1, b.svc AS s2, LEAST(a.theta, b.theta) AS theta
  FROM th a JOIN th b ON a.svc < b.svc
),
m AS (
  SELECT a.svc AS s1, b.svc AS s2, a.h
  FROM sk a JOIN sk b ON a.h = b.h AND a.svc < b.svc
),
mc AS (
  SELECT g.s1, g.s2,
         SUM(CASE WHEN m.h < g.theta THEN 1 ELSE 0 END) AS matches
  FROM grid g JOIN m ON m.s1 = g.s1 AND m.s2 = g.s2
  GROUP BY 1, 2
),
tr AS (SELECT DISTINCT lower(service_name) AS svc, trace_id FROM spans),
ex AS (
  SELECT a.svc AS s1, b.svc AS s2, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM tr a JOIN tr b ON a.trace_id = b.trace_id AND a.svc < b.svc
  GROUP BY 1, 2
)
SELECT g.s1 AS s1, g.s2 AS s2,
       CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact,
       ROUND(CAST(COALESCE(mc.matches, 0) AS DOUBLE) * {H!r}
             / CAST(g.theta AS DOUBLE), 3) AS n_est,
       -- rel_err against the EMITTED (3dp-rounded) estimate: the Spark
       -- face delegates to the shared estimator and reports likewise
       ROUND((ROUND(CAST(COALESCE(mc.matches, 0) AS DOUBLE) * {H!r}
                    / CAST(g.theta AS DOUBLE), 3) - COALESCE(ex.n_exact, 0))
             / NULLIF(COALESCE(ex.n_exact, 0), 0), 6) AS rel_err
FROM grid g
LEFT JOIN mc ON mc.s1 = g.s1 AND mc.s2 = g.s2
LEFT JOIN ex ON ex.s1 = g.s1 AND ex.s2 = g.s2
ORDER BY 1, 2
"""
    )


#: The reference's OWN API surface (search/fields/counts/fetch/processed)
#: — these lead the registry every round so the driver's CORRECTNESS gate
#: always re-verifies the core product before any extension. The full
#: 23-name lead was restored in round 9 after the rounds-7/8 temporary
#: trim (VERDICT r6 ask #8 / r7 ask #1) cleared the never-driver-checked
#: backlog; the restore is guarded by tests/test_entry_queries.py::
#: test_core_trace_trim_does_not_outlive_round_8.
_CORE_TRACE = (
    "search_traces",
    "search_span_level",
    "trace_counts",
    "field_values",
    "service_catalog",
    "trace_index_stats",
    "call_graph",
    "get_trace",
    "get_raw_traces",
    "search_traces_processed",
    "trace_counts_filtered",
    "field_values_tag",
    "field_values_by_count",
    "field_cardinalities",
    "get_raw_traces_fanout",
    "get_raw_span",
    "field_names",
    "search_not_equal",
    "search_flat_fields",
    "search_nested_time",
    "search_mixed",
    "search_span_not_equal",
    "search_tag_range",
)

#: Driver-rotation queue (VERDICT r4 ask #1): the CORRECTNESS gate samples
#: a bounded ~50-entry PREFIX of queries(). The 23 core reference-surface
#: queries lead; the rotation queue fills the remaining ~27 sample slots
#: with NEVER-driver-checked entries in priority order (re-checking
#: already-green extension rows gains nothing — VERDICT r4); previously
#: driver-checked analytics queries sit behind the queue and stay covered
#: by the local three-SF oracle suite every round.
_ROTATION_QUEUE = (
    # round-13 queue (VERDICT r12 ask #1): every round-12 queue name
    # earned a green CORRECTNESS_r12 row, so the queue rotates to the
    # operators the r12 OPTIMIZATION round REWROTE but the driver did
    # not sample — their correctness rests on builder-local 3-SF oracle
    # checks until the driver independently re-earns a green row here.
    # shingle_size_plan is appended because round 13 rewrites its ladder
    # into one shared tagged explode (VERDICT r12 ask #2). Keep
    # additions ≤ ~25/round so never-checked stays at zero.
    "ppl_buckets",
    "ivf_probe_sweep",
    "anchored_sessions",
    "concurrent_trace_load",
    "service_pagerank",
    "dependency_cycles",
    "critical_path_contrib",
    "critical_path_drift",
    "tail_latency_attribution",
    "dsir_weights",
    "simhash_hamming_spectrum",
    "band_contribution",
    "dedup_cascade_yield",
    "split_balance_audit",
    "label_cohesion",
    "knn_label_consistency",
    "cluster_stability",
    "shingle_size_plan",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from haystack_traces_spark.datapipe import queries as dp

    trace = _trace_queries()
    dp_q = dp.queries()
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for k in _CORE_TRACE:
        fn = trace.get(k)
        if fn is not None:  # stale name = lost sample position, not
            out[k] = fn     # a registry-wide KeyError (drift test catches it)
    for k in _ROTATION_QUEUE:
        fn = trace.get(k) or dp_q.get(k)
        if fn is not None:
            out.setdefault(k, fn)
    for k, v in trace.items():
        out.setdefault(k, v)
    for k, v in dp_q.items():
        out.setdefault(k, v)
    return out


def _trace_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "search_traces": q_search_traces,
        "search_traces_promoted": q_search_traces_promoted,
        "search_span_level": q_search_span_level,
        "trace_counts": q_trace_counts,
        "trace_counts_filtered": q_trace_counts_filtered,
        "field_values": q_field_values,
        "field_values_tag": q_field_values_tag,
        "field_values_by_count": q_field_values_by_count,
        "service_catalog": q_service_catalog,
        "field_cardinalities": q_field_cardinalities,
        "trace_index_stats": q_trace_index_stats,
        "call_graph": q_call_graph,
        "get_trace": q_get_trace,
        "get_raw_traces": q_get_raw_traces,
        "get_raw_traces_fanout": q_get_raw_traces_fanout,
        "get_raw_span": q_get_raw_span,
        "field_names": q_field_names,
        "search_not_equal": q_search_not_equal,
        "search_flat_fields": q_search_flat_fields,
        "search_nested_time": q_search_nested_time,
        "search_mixed": q_search_mixed,
        "search_span_not_equal": q_search_span_not_equal,
        "search_tag_range": q_search_tag_range,
        "search_traces_processed": q_search_traces_processed,
        "trace_call_graph": q_trace_call_graph,
        "service_rate_metrics": q_service_rate_metrics,
        "service_latency_percentiles": q_service_latency_percentiles,
        "trace_timeline": q_trace_timeline,
        "operation_error_rates": q_operation_error_rates,
        "span_self_time": q_span_self_time,
        "critical_path": q_critical_path,
        "trace_compare": q_trace_compare,
        "slowest_traces": q_slowest_traces,
        "span_anomalies": q_span_anomalies,
        "slow_exemplars": q_slow_exemplars,
        "latency_heatmap": q_latency_heatmap,
        "trace_shape_stats": q_trace_shape_stats,
        "error_rate_trends": q_error_rate_trends,
        "service_pagerank": q_service_pagerank,
        "service_cheapest_paths": q_service_cheapest_paths,
        "hourly_trace_hll": q_hourly_trace_hll,
        "error_root_causes": q_error_root_causes,
        "trace_duration_percentiles": q_trace_duration_percentiles,
        "apdex": q_apdex,
        "service_concurrency": q_service_concurrency,
        "trace_completeness": q_trace_completeness,
        "span_kinds": q_span_kinds,
        "critical_path_contrib": q_critical_path_contrib,
        "critical_path_drift": q_critical_path_drift,
        "span_fanout_stats": q_span_fanout_stats,
        "error_cooccurrence": q_error_cooccurrence,
        "depth_profile": q_depth_profile,
        "tail_sampling": q_tail_sampling,
        "retry_storms": q_retry_storms,
        "error_propagation": q_error_propagation,
        "service_entry_points": q_service_entry_points,
        "operation_latency_trend": q_operation_latency_trend,
        "network_deltas": q_network_deltas,
        "error_latency_tax": q_error_latency_tax,
        "span_mad_outliers": q_span_mad_outliers,
        "operation_first_seen": q_operation_first_seen,
        "parent_child_latency": q_parent_child_latency,
        "span_containment": q_span_containment,
        "sampling_bias_report": q_sampling_bias_report,
        "service_scorecard": q_service_scorecard,
        "event_sessions": q_event_sessions,
        "anchored_sessions": q_anchored_sessions,
        "session_paths": q_session_paths,
        "service_cost_pareto": q_service_cost_pareto,
        "sampling_fidelity": q_sampling_fidelity,
        "index_salt_plan": q_index_salt_plan,
        "latency_changepoint": q_latency_changepoint,
        "funnel_steps": q_funnel_steps,
        "purchase_attribution": q_purchase_attribution,
        "incident_windows": q_incident_windows,
        "service_seasonality": q_service_seasonality,
        "user_kanonymity": q_user_kanonymity,
        "retention_cohorts": q_retention_cohorts,
        "slo_burn_rate": q_slo_burn_rate,
        "hedged_requests": q_hedged_requests,
        "operation_affinity": q_operation_affinity,
        "trace_fingerprints": q_trace_fingerprints,
        "bottleneck_ops": q_bottleneck_ops,
        "clock_skew": q_clock_skew,
        "callgraph_drift": q_callgraph_drift,
        "span_idle_gaps": q_span_idle_gaps,
        "operation_cardinality_guard": q_operation_cardinality_guard,
        "dependency_cycles": q_dependency_cycles,
        "service_latency_coupling": q_service_latency_coupling,
        "cold_start_tax": q_cold_start_tax,
        "trace_parallelism": q_trace_parallelism,
        "error_recovery_time": q_error_recovery_time,
        "load_latency_curve": q_load_latency_curve,
        "sampling_rate_plan": q_sampling_rate_plan,
        "hot_call_paths": q_hot_call_paths,
        "tag_value_stats": q_tag_value_stats,
        "timestamp_granularity": q_timestamp_granularity,
        "concurrent_trace_load": q_concurrent_trace_load,
        "latency_variance_decomposition": q_latency_variance_decomposition,
        "span_duration_modality": q_span_duration_modality,
        "service_overlap_time": q_service_overlap_time,
        "sampling_debias_weights": q_sampling_debias_weights,
        "error_depth_profile": q_error_depth_profile,
        "tag_coverage": q_tag_coverage,
        "retry_effectiveness": q_retry_effectiveness,
        "index_partition_profile": q_index_partition_profile,
        "duration_heaping": q_duration_heaping,
        "blast_radius": q_blast_radius,
        "service_reach_depth": q_service_reach_depth,
        "error_budget_burn": q_error_budget_burn,
        "service_error_correlation": q_service_error_correlation,
        "workload_drift": q_workload_drift,
        "index_ttl_plan": q_index_ttl_plan,
        "user_lifetime_curve": q_user_lifetime_curve,
        "tail_latency_attribution": q_tail_latency_attribution,
        "latency_slo_fit": q_latency_slo_fit,
        "ab_cohort_calibration": q_ab_cohort_calibration,
        "p99_confidence": q_p99_confidence,
        "arrival_burstiness": q_arrival_burstiness,
        "latency_hourly_percentiles": q_latency_hourly_percentiles,
        "field_entropy": q_field_entropy,
        "session_gap_sweep": q_session_gap_sweep,
        "latency_hist_accuracy": q_latency_hist_accuracy,
        "service_scorecard_rollup": q_service_scorecard_rollup,
        "duration_quickselect": q_duration_quickselect,
        "zorder_layout_plan": q_zorder_layout_plan,
        "kmv_trace_overlap": q_kmv_trace_overlap,
        "native_session_windows": q_native_session_windows,
        "sliding_hll_cardinality": q_sliding_hll_cardinality,
    }


def oracle_sql() -> dict[str, str]:
    from haystack_traces_spark.datapipe import queries as dp

    # Same ordering as queries(): trace oracles first.
    out = dict(_trace_oracles())
    out.update(dp.oracle_sql())
    return out


def _trace_oracles() -> dict[str, str]:
    return {
        "search_traces": sql_search_traces(),
        "search_traces_promoted": sql_search_traces_promoted(),
        "search_span_level": sql_search_span_level(),
        "trace_counts": sql_trace_counts(),
        "trace_counts_filtered": sql_trace_counts_filtered(),
        "field_values": sql_field_values(),
        "field_values_tag": sql_field_values_tag(),
        "field_values_by_count": sql_field_values_by_count(),
        "service_catalog": sql_service_catalog(),
        "field_cardinalities": sql_field_cardinalities(),
        "trace_index_stats": sql_trace_index_stats(),
        "call_graph": sql_call_graph(),
        "get_trace": sql_get_trace(),
        "get_raw_traces": sql_get_raw_traces(),
        "get_raw_traces_fanout": sql_get_raw_traces_fanout(),
        "get_raw_span": sql_get_raw_span(),
        "field_names": sql_field_names(),
        "search_not_equal": sql_search_not_equal(),
        "search_flat_fields": sql_search_flat_fields(),
        "search_nested_time": sql_search_nested_time(),
        "search_mixed": sql_search_mixed(),
        "search_span_not_equal": sql_search_span_not_equal(),
        "search_tag_range": sql_search_tag_range(),
        "search_traces_processed": sql_search_traces_processed(),
        "trace_call_graph": sql_trace_call_graph(),
        "service_rate_metrics": sql_service_rate_metrics(),
        "service_latency_percentiles": sql_service_latency_percentiles(),
        "trace_timeline": sql_trace_timeline(),
        "operation_error_rates": sql_operation_error_rates(),
        "span_self_time": sql_span_self_time(),
        "critical_path": sql_critical_path(),
        "trace_compare": sql_trace_compare(),
        "slowest_traces": sql_slowest_traces(),
        "span_anomalies": sql_span_anomalies(),
        "slow_exemplars": sql_slow_exemplars(),
        "latency_heatmap": sql_latency_heatmap(),
        "trace_shape_stats": sql_trace_shape_stats(),
        "error_rate_trends": sql_error_rate_trends(),
        "service_pagerank": sql_service_pagerank(),
        "service_cheapest_paths": sql_service_cheapest_paths(),
        "hourly_trace_hll": sql_hourly_trace_hll(),
        "error_root_causes": sql_error_root_causes(),
        "trace_duration_percentiles": sql_trace_duration_percentiles(),
        "apdex": sql_apdex(),
        "service_concurrency": sql_service_concurrency(),
        "trace_completeness": sql_trace_completeness(),
        "span_kinds": sql_span_kinds(),
        "critical_path_contrib": sql_critical_path_contrib(),
        "critical_path_drift": sql_critical_path_drift(),
        "span_fanout_stats": sql_span_fanout_stats(),
        "error_cooccurrence": sql_error_cooccurrence(),
        "depth_profile": sql_depth_profile(),
        "tail_sampling": sql_tail_sampling(),
        "retry_storms": sql_retry_storms(),
        "error_propagation": sql_error_propagation(),
        "service_entry_points": sql_service_entry_points(),
        "operation_latency_trend": sql_operation_latency_trend(),
        "network_deltas": sql_network_deltas(),
        "error_latency_tax": sql_error_latency_tax(),
        "span_mad_outliers": sql_span_mad_outliers(),
        "operation_first_seen": sql_operation_first_seen(),
        "parent_child_latency": sql_parent_child_latency(),
        "span_containment": sql_span_containment(),
        "sampling_bias_report": sql_sampling_bias_report(),
        "service_scorecard": sql_service_scorecard(),
        "event_sessions": sql_event_sessions(),
        "anchored_sessions": sql_anchored_sessions(),
        "session_paths": sql_session_paths(),
        "service_cost_pareto": sql_service_cost_pareto(),
        "sampling_fidelity": sql_sampling_fidelity(),
        "index_salt_plan": sql_index_salt_plan(),
        "latency_changepoint": sql_latency_changepoint(),
        "funnel_steps": sql_funnel_steps(),
        "purchase_attribution": sql_purchase_attribution(),
        "incident_windows": sql_incident_windows(),
        "service_seasonality": sql_service_seasonality(),
        "user_kanonymity": sql_user_kanonymity(),
        "retention_cohorts": sql_retention_cohorts(),
        "slo_burn_rate": sql_slo_burn_rate(),
        "hedged_requests": sql_hedged_requests(),
        "operation_affinity": sql_operation_affinity(),
        "trace_fingerprints": sql_trace_fingerprints(),
        "bottleneck_ops": sql_bottleneck_ops(),
        "clock_skew": sql_clock_skew(),
        "callgraph_drift": sql_callgraph_drift(),
        "span_idle_gaps": sql_span_idle_gaps(),
        "operation_cardinality_guard": sql_operation_cardinality_guard(),
        "dependency_cycles": sql_dependency_cycles(),
        "service_latency_coupling": sql_service_latency_coupling(),
        "cold_start_tax": sql_cold_start_tax(),
        "trace_parallelism": sql_trace_parallelism(),
        "error_recovery_time": sql_error_recovery_time(),
        "load_latency_curve": sql_load_latency_curve(),
        "sampling_rate_plan": sql_sampling_rate_plan(),
        "hot_call_paths": sql_hot_call_paths(),
        "tag_value_stats": sql_tag_value_stats(),
        "timestamp_granularity": sql_timestamp_granularity(),
        "concurrent_trace_load": sql_concurrent_trace_load(),
        "latency_variance_decomposition": sql_latency_variance_decomposition(),
        "span_duration_modality": sql_span_duration_modality(),
        "service_overlap_time": sql_service_overlap_time(),
        "sampling_debias_weights": sql_sampling_debias_weights(),
        "error_depth_profile": sql_error_depth_profile(),
        "tag_coverage": sql_tag_coverage(),
        "retry_effectiveness": sql_retry_effectiveness(),
        "index_partition_profile": sql_index_partition_profile(),
        "duration_heaping": sql_duration_heaping(),
        "blast_radius": sql_blast_radius(),
        "service_reach_depth": sql_service_reach_depth(),
        "error_budget_burn": sql_error_budget_burn(),
        "service_error_correlation": sql_service_error_correlation(),
        "workload_drift": sql_workload_drift(),
        "index_ttl_plan": sql_index_ttl_plan(),
        "user_lifetime_curve": sql_user_lifetime_curve(),
        "tail_latency_attribution": sql_tail_latency_attribution(),
        "latency_slo_fit": sql_latency_slo_fit(),
        "ab_cohort_calibration": sql_ab_cohort_calibration(),
        "p99_confidence": sql_p99_confidence(),
        "arrival_burstiness": sql_arrival_burstiness(),
        "latency_hourly_percentiles": sql_latency_hourly_percentiles(),
        "field_entropy": sql_field_entropy(),
        "session_gap_sweep": sql_session_gap_sweep(),
        "latency_hist_accuracy": sql_latency_hist_accuracy(),
        "service_scorecard_rollup": sql_service_scorecard_rollup(),
        "duration_quickselect": sql_duration_quickselect(),
        "zorder_layout_plan": sql_zorder_layout_plan(),
        "kmv_trace_overlap": sql_kmv_trace_overlap(),
        "native_session_windows": sql_native_session_windows(),
        "sliding_hll_cardinality": sql_sliding_hll_cardinality(),
    }
