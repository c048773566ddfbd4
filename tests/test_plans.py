"""Physical-plan assertions — the scale properties the engine is designed
around (SURVEY.md §4). These lock in:

- ingest: ONE hash exchange on trace_id feeds window + store + index
  (exchange reuse via pre-window trace_id materialization)
- search: (dt, hb) partition pruning + starttime pushdown at the scan
- fetch: broadcast semi-join for the id point-lookup phase
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from haystack_traces_spark.operators import search as search_ops
from haystack_traces_spark.operators.expression import (
    EQUAL,
    GREATER_THAN,
    ExpressionTree,
    Field,
)
from haystack_traces_spark.operators.index import build_trace_index
from haystack_traces_spark.sources.events import spans_from_events
from haystack_traces_spark.sources.spans import build_trace_store

T0 = 1_704_067_200_000_000
DAY_US = 86_400_000_000


def _plan(df) -> str:
    # the engine session caps rendered plan length (session.py); lift it so
    # node-counting assertions see the whole tree
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.maxPlanStringLength")
    spark.conf.set("spark.sql.maxPlanStringLength", "2000000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxPlanStringLength", old)


@pytest.fixture(scope="module")
def spans(spark):
    return spans_from_events(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )


def test_ingest_single_hash_exchange(spark, spans):
    """Store and index builds each need exactly one hash exchange — the
    window's — because trace_id is materialized before the window."""
    for df in (build_trace_store(spans), build_trace_index(spans)):
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_search_partition_pruning(spark, spans, tmp_path):
    idx_path = str(tmp_path / "idx")
    build_trace_index(spans, with_partition_cols=True).write.partitionBy(
        "dt", "hb"
    ).parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    req = search_ops.SearchRequest(
        T0, T0 + DAY_US - 1, 10,
        ExpressionTree((Field("servicename", "error", EQUAL),)),
    )
    plan = _plan(search_ops.search_trace_ids(idx, req))
    assert re.search(r"PartitionFilters: \[[^\n]*dt", plan), plan[:2000]
    # starttime range reaches the parquet scan as a pushed filter
    # (Spark elides long filter lists with '...', so match within the line)
    assert re.search(r"PushedFilters: \[[^\n]*starttime", plan), plan[:2000]

    # same-day sub-range also prunes the 6 h hour-buckets
    req_hours = search_ops.SearchRequest(
        T0, T0 + 5 * 3_600_000_000, 10,
        ExpressionTree((Field("servicename", "error", EQUAL),)),
    )
    plan = _plan(search_ops.search_trace_ids(idx, req_hours))
    assert re.search(r"PartitionFilters: \[[^\n]*hb", plan), plan[:2000]


def test_fetch_uses_broadcast_join(spark, spans):
    store = build_trace_store(spans)
    ids = spark.createDataFrame([("1",), ("2",)], "traceid string")
    plan = _plan(search_ops.fetch_traces(store, ids))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_search_topk_is_take_ordered(spark, spans):
    """orderBy+limit must plan as TakeOrderedAndProject (top-k pushdown),
    never a global sort."""
    idx = build_trace_index(spans)
    req = search_ops.SearchRequest(T0, T0 + 370 * DAY_US, 10, ExpressionTree())
    plan = _plan(search_ops.search_trace_ids(idx, req))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_scan_prunes_columns(spark):
    """A 2-column projection must not read the full events schema."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    narrow = spans_from_events(ev).select("trace_id", "service_name")
    m = re.search(r"ReadSchema: ([^\n]*)", _plan(narrow))
    assert m and "props" not in m.group(1), m.group(1) if m else "no ReadSchema"


def test_decontaminate_broadcasts_probe_side(spark):
    """The probe (benchmark) shingle set is the small side and must arrive
    as a broadcast — the corpus scan never shuffles for the semi-match."""
    from haystack_traces_spark.datapipe.corpus import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    plan = _plan(decontaminate(docs.filter(F.col("doc_id") % 50 != 0), probes))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_vocab_coverage_broadcasts_vocab(spark):
    from haystack_traces_spark.datapipe.corpus import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(vocab_coverage(docs, 20))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_pack_shards_window_is_per_group_not_global(spark):
    """The sequential packing window must partition by pack_group — a
    single-partition global window would bottleneck one reducer at scale."""
    from haystack_traces_spark.datapipe.corpus import pack_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_shards(docs))
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert re.search(r"Window .*pack_group", plan), plan[:2000]


def test_field_values_by_count_is_take_ordered(spark, spans):
    """count-ordered field values with a limit must plan as top-k, never a
    global sort of the value universe."""
    from haystack_traces_spark.operators.field_values import field_values

    idx = build_trace_index(spans)
    plan = _plan(field_values(idx, "operationname", order_by="count", limit=3))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_embedding_lsh_bucket_join_no_cartesian(spark):
    """The LSH near-dup candidate join must be a hash join on
    (table, bucket) — never a cartesian/broadcast-nested-loop sweep."""
    from haystack_traces_spark.datapipe.dedup import embedding_neardup_pairs_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs_lsh(emb))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_stratified_sample_broadcasts_counts(spark):
    """The per-stratum count table is tiny and must broadcast — the corpus
    scan is then one map-side filter, no shuffle of the docs."""
    from haystack_traces_spark.datapipe.corpus import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(stratified_sample(docs))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_repetition_stats_has_no_window(spark):
    """Within-doc repetition is two hash aggregates (both map-side
    combinable) — a window formulation would force a per-doc sort."""
    from haystack_traces_spark.datapipe.corpus import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_stats(docs))
    assert "Window" not in plan, plan[:2000]
    assert "partial_count" in plan or "partial_sum" in plan or "HashAggregate" in plan


def test_mix_weights_windows_only_aggregated_rows(spark):
    """mix_weights' global windows run over the per-source AGGREGATE
    (cardinality = #sources): the plan must aggregate BEFORE any
    single-partition exchange, never single-partition the raw docs."""
    import re

    from haystack_traces_spark.datapipe.corpus import mix_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(mix_weights(docs))
    # a HashAggregate must appear upstream of (printed after) the
    # SinglePartition exchange in the formatted tree
    sp = plan.find("Exchange SinglePartition")
    assert sp != -1, plan[:2000]
    assert "HashAggregate" in plan[sp:], plan[sp : sp + 2000]


def test_substring_runs_no_cartesian_and_df_guard_before_join(spark):
    """Seed join must be an equi-join on the gram hash (no cartesian), and
    the islands window partitions by (pair, diag) — never a global sort."""
    from haystack_traces_spark.datapipe.dedup import substring_run_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(4)],
        "doc_id long, text string",
    )
    plan = _plan(substring_run_pairs(df, k=8, min_run=8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_graph_bucket_equijoin_no_cartesian(spark):
    """Candidate generation must be the (table, bucket) equi-join."""
    from haystack_traces_spark.datapipe.similarity import lsh_knn_graph

    df = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(lsh_knn_graph(df, k=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_neardup_broadcasts_probe_bands(spark):
    """The benchmark band set must arrive as a broadcast — the corpus-side
    band rows never shuffle for the collision probe."""
    from haystack_traces_spark.datapipe.corpus import decontaminate_neardup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    plan = _plan(decontaminate_neardup(docs.filter(F.col("doc_id") % 50 != 0), probes))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_quality_classifier_is_map_only(spark):
    """Logistic scoring is a pure projection over the scan — any Exchange
    in this plan means someone added a shuffle to a map-only operator."""
    from haystack_traces_spark.datapipe.text import quality_classifier

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(quality_classifier(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_dsir_weights_broadcasts_ratio_table(spark):
    """The per-token pass joins the <=B-row log-ratio table as a broadcast;
    the corpus-side token rows must never shuffle for it."""
    from haystack_traces_spark.datapipe.corpus import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        dsir_weights(
            docs.filter(F.col("doc_id") % 50 != 0),
            docs.filter(F.col("doc_id") % 50 == 0),
        )
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_span_anomalies_broadcasts_stats(spark, spans):
    """Per-operation stats join back onto the span scan as a broadcast —
    the spans never shuffle a second time for the z-score."""
    from haystack_traces_spark.operators.anomaly import span_anomalies

    plan = _plan(span_anomalies(spans))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_ppl_buckets_approx_path_has_no_global_window(spark):
    """approx=True is the scale path: percentile boundaries via one
    aggregate + comparison — no single-partition rank stage. (The default
    exact path deliberately keeps the global rank as the oracle face.)"""
    from haystack_traces_spark.datapipe.text import ppl_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ppl_buckets(docs, approx=True))
    assert "Window" not in plan, plan[:2000]


def test_doc_clusters_broadcasts_centroids(spark):
    """Cluster assignment joins the tiny centroid table as a broadcast —
    the vector table never shuffles for it."""
    from haystack_traces_spark.datapipe.similarity import doc_clusters

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(doc_clusters(emb, 8))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_latency_heatmap_is_single_aggregate(spark):
    """The REAL heatmap operator is one partial+final aggregate plus its
    presentation sort — exactly one hash exchange, no join, no window
    (the orderBy's rangepartitioning exchange is expected and cheap: it
    re-sorts the aggregated rows, never the spans)."""
    from haystack_traces_spark import entry_queries as EQ

    plan = _plan(EQ.q_latency_heatmap(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan, plan[:2000]


def test_service_concurrency_window_is_per_service_not_global(spark):
    """The sweep's running sum partitions by service — a single-partition
    global window would serialize the whole span table through one task."""
    from haystack_traces_spark import entry_queries as EQ

    plan = _plan(EQ.q_service_concurrency(spark, "/root/testdata/sf0.001"))
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_service_concurrency_bucketed_matches_unbucketed(spark):
    """VERDICT r4 #6: the time-bucketed sweep (local running sums per
    (service, bucket) + cumulative carry-in over per-bucket nets) must
    agree with the one-window sweep — spans straddling bucket boundaries
    are the case the handoff exists for, so the bucket width is chosen
    tiny enough that the sf0.001 corpus spans MANY buckets."""
    from haystack_traces_spark import entry_queries as EQ

    sf = "/root/testdata/sf0.001"
    base = {
        (r["servicename"], r["peak_concurrency"])
        for r in EQ.q_service_concurrency(spark, sf).collect()
    }
    # ~3.6 s buckets: thousands of boundaries inside the corpus window
    bucketed = EQ.q_service_concurrency(spark, sf, bucket_hours=0.001)
    got = {
        (r["servicename"], r["peak_concurrency"]) for r in bucketed.collect()
    }
    assert got == base and len(base) > 0
    # carry-in handoff on a CRAFTED frame where the peak is only reachable
    # through spans left open across a bucket boundary: two spans open in
    # bucket 0 and stay open through bucket 1, where a third joins. Peak 3
    # occurs in bucket 1 with local running sum 1 + carry-in 2 — a broken
    # handoff would report 2.
    from tests.fixtures import span as mk

    h_us = 3_600_000_000
    rows = [
        dict(mk(trace_id="t", span_id="a", service="svc", start=0,
                duration=3 * h_us)),
        dict(mk(trace_id="t", span_id="b", service="svc", start=1000,
                duration=3 * h_us)),
        dict(mk(trace_id="t", span_id="c", service="svc", start=h_us + 1000,
                duration=1000)),
    ]
    from haystack_traces_spark.schemas import SPAN

    spans = spark.createDataFrame(rows, SPAN)
    orig = EQ._spans
    EQ._spans = lambda _spark, _sf: spans
    try:
        for bh in (None, 1.0):
            out = EQ.q_service_concurrency(spark, "ignored", bucket_hours=bh)
            assert out.collect()[0]["peak_concurrency"] == 3, f"bucket_hours={bh}"
    finally:
        EQ._spans = orig


def test_service_concurrency_bucketed_partitions_by_service_and_bucket(spark):
    """The event-level window of the bucketed path must hash-partition on
    (servicename, bkt) — the whole point is that no single partition holds
    one service's full history."""
    from haystack_traces_spark import entry_queries as EQ

    plan = _plan(
        EQ.q_service_concurrency(
            spark, "/root/testdata/sf0.001", bucket_hours=1.0
        )
    )
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert (
        "hashpartitioning(servicename" in plan and "bkt" in plan
    ), plan[:2000]


def test_error_root_causes_walk_restricted_by_semi_join(spark):
    """The grouped-map depth walk must run behind the failing-trace
    semi-join (broadcast), not over the full corpus."""
    from haystack_traces_spark import entry_queries as EQ

    plan = _plan(EQ.q_error_root_causes(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_apdex_is_single_aggregate(spark):
    """Apdex is one partial+final aggregate — exactly one hash exchange,
    no join, no window."""
    from haystack_traces_spark import entry_queries as EQ

    plan = _plan(EQ.q_apdex(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan, plan[:2000]


def test_round5_operators_have_no_global_bottleneck(spark):
    """New round-5 operators: no cartesian product; no single-partition
    exchange except critical_path_contrib's |services|-row share total
    (bounded by design); probe_overlap keeps the corpus un-shuffled by
    broadcasting the probe side."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark.datapipe import queries as Q

    sf = "/root/testdata/sf0.001"
    cases = {
        "token_dist_shift": (Q.q_token_dist_shift, 0),
        "neardup_rate_by_source": (Q.q_neardup_rate_by_source, 0),
        "knn_label_consistency": (Q.q_knn_label_consistency, 0),
        "cluster_purity": (Q.q_cluster_purity, 0),
        "chunk_windows": (Q.q_chunk_windows, 0),
        "span_fanout_stats": (EQ.q_span_fanout_stats, 0),
        "critical_path_contrib": (EQ.q_critical_path_contrib, 1),
        "error_cooccurrence": (EQ.q_error_cooccurrence, 0),
        "depth_profile": (EQ.q_depth_profile, 0),
    }
    for name, (fn, max_single) in cases.items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert plan.count("Exchange SinglePartition") <= max_single, (
            name, plan[:1500],
        )
    probe_plan = _plan(Q.q_probe_overlap(spark, sf))
    assert "BroadcastHashJoin" in probe_plan or "BroadcastExchange" in probe_plan


def test_round5b_dp_operators_have_no_global_bottleneck(spark):
    """Round-5 second batch: no cartesian products; zipf_fit's rank
    window partitions per SOURCE (never single-partition);
    window_cooccurrence's proximity join is an equi-join (the
    linearization is the whole design); split_leak_audit broadcasts the
    pair table so the corpus-sized assignment never shuffles into a
    sort-merge join."""
    from haystack_traces_spark.datapipe import queries as Q

    sf = "/root/testdata/sf0.001"
    for name, fn in {
        "zipf_fit": Q.q_zipf_fit,
        "char_entropy": Q.q_char_entropy,
        "ngram_novelty": Q.q_ngram_novelty,
    }.items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "Exchange SinglePartition" not in plan, (name, plan[:1500])
    cooc = _plan(Q.q_window_cooccurrence(spark, sf))
    assert "CartesianProduct" not in cooc
    assert "BroadcastNestedLoopJoin" not in cooc
    audit = _plan(Q.q_split_leak_audit(spark, sf))
    assert "SortMergeJoin" not in audit, audit[:1500]
    assert "BroadcastHashJoin" in audit
    # batch 4: hubness rides the cached graph (left join keyed vec_id);
    # drift / burstiness are aggregate+broadcast shapes
    # (token_burstiness's one allowed single-partition exchange is the
    # one-ROW global doc-count D — bounded by design)
    for name, (fn, max_single) in {
        "knn_hubness": (Q.q_knn_hubness, 0),
        "embedding_drift": (Q.q_embedding_drift, 0),
        "token_burstiness": (Q.q_token_burstiness, 1),
    }.items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert plan.count("Exchange SinglePartition") <= max_single, (
            name, plan[:1500],
        )


def test_bucketed_store_index_join_is_exchange_free(spark, tmp_path):
    """The promised at-scale layout: store and index bucketed on
    trace_id with equal bucket counts -> the fetch join runs with ZERO
    shuffle exchanges (and no per-side sort), exactly like the
    reference's partition-key reads. A raw parquet read of the same
    files (layout metadata lost) must re-shuffle — proving the catalog
    bucketing, not data size, is what elides the exchange."""
    import pyspark.sql.functions as F

    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark.operators.index import build_trace_index
    from haystack_traces_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from haystack_traces_spark.sources.spans import build_trace_store

    spans = EQ._spans(spark, "/root/testdata/sf0.001")
    write_bucketed(
        build_trace_store(spans), "b_store", str(tmp_path / "store")
    )
    write_bucketed(
        build_trace_index(spans).withColumnRenamed("traceid", "trace_id"),
        "b_index",
        str(tmp_path / "index"),
    )
    store = read_bucketed(spark, "b_store")
    index = read_bucketed(spark, "b_index").withColumnRenamed(
        "trace_id", "idx_trace_id"
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = store.join(
            index, store["trace_id"] == index["idx_trace_id"]
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() > 0
        # control: raw parquet reads of the SAME files lose the bucket
        # layout and must re-shuffle
        raw_store = spark.read.parquet(str(tmp_path / "store"))
        raw_index = spark.read.parquet(str(tmp_path / "index")).withColumnRenamed(
            "trace_id", "idx_trace_id"
        )
        raw_plan = _plan(
            raw_store.join(
                raw_index, raw_store["trace_id"] == raw_index["idx_trace_id"]
            )
        )
        assert "Exchange hashpartitioning" in raw_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_store")
        spark.sql("DROP TABLE IF EXISTS b_index")


def test_round5_dp_operators_plan_shapes(spark):
    """Plan-shape guards for the round-5 datapipe additions: the bloom
    screen's position join must BROADCAST (the ≤m-row table is the whole
    scale argument), and no candidate generator may degenerate to a
    cartesian product."""
    from haystack_traces_spark.datapipe import queries as dp
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    try:
        bloom = _plan(dp.q_bloom_dedup(spark, sf))
        assert "BroadcastHashJoin" in bloom or "BroadcastExchange" in bloom, (
            bloom[:2000]
        )
        assert "CartesianProduct" not in bloom
        assert "BroadcastNestedLoopJoin" not in bloom

        # containment_dedup's QUERY fn now returns a session-cached
        # localCheckpoint (plan = Scan ExistingRDD — vacuously clean), so
        # the guard inspects the UNDERLYING pipeline the stage builds
        from haystack_traces_spark.datapipe import dedup as D

        def containment_pipeline(spark_, sf_):
            return D.containment_pairs(
                dp._docs(spark_, sf_), dp.CONTAIN_THRESHOLD
            )

        def minhash_pipeline(spark_, sf_):
            return D.minhash_lsh_pairs(
                dp._docs(spark_, sf_), dp.JACCARD_THRESHOLD
            )

        for name, fn in {
            "containment_dedup": containment_pipeline,
            "minhash_lsh": minhash_pipeline,
            "sketch_agreement": dp.q_sketch_agreement,
            "hapax_share": dp.q_hapax_share,
            "intro_bias": dp.q_intro_bias,
            "ngram_entropy_rate": dp.q_ngram_entropy_rate,
            "label_cohesion": dp.q_label_cohesion,
        }.items():
            plan = _plan(fn(spark, sf))
            assert "CartesianProduct" not in plan, name
            if name != "label_cohesion":
                # a dropped join condition at test scale compiles to
                # BroadcastNestedLoopJoin, not CartesianProduct — guard
                # both (label_cohesion's 1-row global-count broadcast is
                # a legitimate BNLJ, excluded)
                assert "BroadcastNestedLoopJoin" not in plan, name
    finally:
        release_materialized()


def test_round6_operators_have_no_global_bottleneck(spark):
    """Round-6 batch: no cartesian products; the only single-partition
    exchanges are the BOUNDED head windows (token_coverage_curve's
    cumsum over <=1000 top rows, rare_token_docs' rank over <=50 rows);
    lsh_band_plan's grid cross join must be a BROADCAST nested loop
    (4 literal rows), never a shuffled cartesian."""
    from haystack_traces_spark.datapipe import queries as Q

    sf = "/root/testdata/sf0.001"
    cases = {
        "cluster_silhouette": (Q.q_cluster_silhouette, 0),
        "pq_distortion": (Q.q_pq_distortion, 0),
        # one bounded single-partition: the 1-row corpus total over the
        # tiny (split, source) cell table
        "split_balance_audit": (Q.q_split_balance_audit, 1),
        "token_coverage_curve": (Q.q_token_coverage_curve, 2),
        "rare_token_docs": (Q.q_rare_token_docs, 2),
        "lsh_band_plan": (Q.q_lsh_band_plan, 0),
    }
    from haystack_traces_spark import entry_queries as EQ

    cases["latency_variance_decomposition"] = (
        EQ.q_latency_variance_decomposition, 0)
    cases["span_duration_modality"] = (EQ.q_span_duration_modality, 0)
    cases["service_overlap_time"] = (EQ.q_service_overlap_time, 0)
    # one bounded single-partition: the <=4-row reason rollup's sort
    cases["sampling_debias_weights"] = (EQ.q_sampling_debias_weights, 1)
    # two bounded single-partitions: the 1-row train-total and vocab-size
    # constant aggregates (both map-side combined before the exchange)
    cases["split_ppl_gap"] = (Q.q_split_ppl_gap, 2)
    cases["canonical_quality_audit"] = (Q.q_canonical_quality_audit, 0)
    cases["shingle_df_profile"] = (Q.q_shingle_df_profile, 0)
    cases["charset_anomalies"] = (Q.q_charset_anomalies, 0)
    cases["tag_coverage"] = (EQ.q_tag_coverage, 0)
    cases["error_depth_profile"] = (EQ.q_error_depth_profile, 0)
    cases["cms_estimate_quality"] = (Q.q_cms_estimate_quality, 2)
    cases["retry_effectiveness"] = (EQ.q_retry_effectiveness, 0)
    cases["vocab_ownership"] = (Q.q_vocab_ownership, 0)
    cases["chunk_dup_rate"] = (Q.q_chunk_dup_rate, 0)
    # one bounded single-partition: the 1-row correlation aggregate
    cases["embedding_length_corr"] = (Q.q_embedding_length_corr, 1)
    cases["index_partition_profile"] = (EQ.q_index_partition_profile, 0)
    for name, (fn, max_single) in cases.items():
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, name
        assert plan.count("Exchange SinglePartition") <= max_single, (
            name, plan[:1500],
        )
        if "BroadcastNestedLoopJoin" in plan:
            assert "BroadcastExchange" in plan, (name, plan[:1500])


def test_round7_operators_have_no_global_bottleneck(spark):
    """Round-7 batch (VERDICT r7 ask #2): no cartesian products; every
    single-partition exchange is catalog/k-bounded (service_cost_pareto's
    cumulative-share Pareto over |services| rows, dedup_cascade_yield's
    4-row stage catalog, ivf_cell_balance's occupancy window over
    IVF_CELLS rows, packing_waste_curve's |contexts|-row rollup); the
    BroadcastNestedLoopJoins are 1-row/centroid broadcasts. The two
    stage-cached composites (dedup_cascade_yield, cluster_stability) are
    inspected through session.plan_view() so the assertions see the
    UNDERLYING pipeline, not a checkpointed `Scan ExistingRDD` (rule 18;
    the ExistingRDDs that remain inside cluster_stability /
    mmr_diversify are the label-propagation iteration checkpoint and
    the <=pool-size driver-selected MMR rows — inherent, not cache
    artifacts)."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    cases = {
        "search_traces_promoted": (EQ.q_search_traces_promoted, 0),
        "anchored_sessions": (EQ.q_anchored_sessions, 0),
        "latency_changepoint": (EQ.q_latency_changepoint, 0),
        "session_paths": (EQ.q_session_paths, 0),
        "index_salt_plan": (EQ.q_index_salt_plan, 0),
        "service_cost_pareto": (EQ.q_service_cost_pareto, 1),
        "sampling_fidelity": (EQ.q_sampling_fidelity, 0),
        "ann_filtered": (Q.q_ann_filtered, 0),
        "pq_code_entropy": (Q.q_pq_code_entropy, 0),
        "mmr_diversify": (Q.q_mmr_diversify, 0),
        "dedup_cascade_yield": (Q.q_dedup_cascade_yield, 1),
        "ivf_cell_balance": (Q.q_ivf_cell_balance, 1),
        "packing_waste_curve": (Q.q_packing_waste_curve, 1),
        "cluster_stability": (Q.q_cluster_stability, 0),
    }
    try:
        with session.plan_view():
            for name, (fn, max_single) in cases.items():
                plan = _plan(fn(spark, sf))
                assert "CartesianProduct" not in plan, name
                assert plan.count("Exchange SinglePartition") <= max_single, (
                    name, plan[:1500],
                )
                if "BroadcastNestedLoopJoin" in plan:
                    assert "BroadcastExchange" in plan, (name, plan[:1500])
    finally:
        release_materialized()


def test_round8_operators_have_no_global_bottleneck(spark):
    """Round-8 batch: no cartesian products; the histogram operators'
    two single-partition exchanges are the 1-row total aggregate and the
    ≤33-row catalog window (bounded by design); their BNLJs are the
    broadcast 1-row total and the broadcast SAMPLE pair join
    (simhash_hamming_spectrum is deliberately quadratic in its 1-in-8
    sample — the audit face). blast_radius' inner fixpoint uses
    localCheckpoint (inherent to iteration, like dup_clusters); the
    final assembly must still be broadcast-joined."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    cases = {
        "duration_heaping": (EQ.q_duration_heaping, 0),
        "blast_radius": (EQ.q_blast_radius, 0),
        "neardup_event_provenance": (Q.q_neardup_event_provenance, 0),
        "knn_graph_reciprocity": (Q.q_knn_graph_reciprocity, 0),
        "lsh_candidate_precision": (Q.q_lsh_candidate_precision, 2),
        "simhash_hamming_spectrum": (Q.q_simhash_hamming_spectrum, 2),
        # three 1-row aggregates: the p90 threshold, the per-cohort
        # grand totals, and the final rollup — all bounded by design.
        # 5 since r12-opt: the services rollup is pinned (it feeds the
        # output AND its own totals), and explain() re-renders the
        # InMemoryRelation child — with its threshold SinglePartition —
        # under EACH InMemoryTableScan reference; the EXECUTED plan
        # computes the cached subtree once (the pin's whole point)
        "tail_latency_attribution": (EQ.q_tail_latency_attribution, 5),
        "band_contribution": (Q.q_band_contribution, 0),
        # 1-row doc-count + 1-row final rollup; pair join is the
        # broadcast SAMPLE (quadratic in the 1-in-8 sample by design)
        "sampled_diversity": (Q.q_sampled_diversity, 2),
    }
    try:
        with session.plan_view():
            for name, (fn, max_single) in cases.items():
                plan = _plan(fn(spark, sf))
                assert "CartesianProduct" not in plan, name
                assert plan.count("Exchange SinglePartition") <= max_single, (
                    name, plan[:1500],
                )
                if "BroadcastNestedLoopJoin" in plan:
                    assert "BroadcastExchange" in plan, (name, plan[:1500])
    finally:
        release_materialized()


def test_round9_operators_have_no_global_bottleneck(spark):
    """Round-9 batch: no cartesian products; the only single-partition
    exchanges are bounded by design — the plan ladders are ≤5-row
    broadcast literals crossed with 1-row count aggregates
    (lsh_planes_plan), and the horizon rollup groups a ≤5-key ladder.
    service_reach_depth's inner fixpoint uses localCheckpoint (inherent
    to iteration, like blast_radius); its final assembly must still be
    broadcast-joined. error_budget_burn's per-service window partitions
    on (service), never globally."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    cases = {
        "dedup_event_provenance": (Q.q_dedup_event_provenance, 0),
        # 1-row vector count crossed with the broadcast growth ladder
        "lsh_planes_plan": (Q.q_lsh_planes_plan, 1),
        # ≤5-key ladder rollup ends in one bounded ordering exchange
        "dedup_horizon_plan": (Q.q_dedup_horizon_plan, 1),
        "service_reach_depth": (EQ.q_service_reach_depth, 0),
        "error_budget_burn": (EQ.q_error_budget_burn, 0),
        # hour grid broadcast onto the catalog (BNLJ+BroadcastExchange ok)
        "service_error_correlation": (EQ.q_service_error_correlation, 0),
        "quality_drift_windows": (Q.q_quality_drift_windows, 0),
        # midpoint fetched as a bounded 1-row driver agg; counts pinned
        "workload_drift": (EQ.q_workload_drift, 0),
        # heaps_law's own bounded globals (1-row max agg duplicated into
        # its two branches + the ≤HEAPS_BUCKETS cumulative window) + the
        # 1-row fit aggregate — all bounded by design
        "heaps_vocab_forecast": (Q.q_heaps_vocab_forecast, 4),
        "neardup_band_calibration": (Q.q_neardup_band_calibration, 0),
        # horizon fetched as a bounded 1-row driver agg; ladders broadcast
        "index_ttl_plan": (EQ.q_index_ttl_plan, 0),
        "user_lifetime_curve": (EQ.q_user_lifetime_curve, 0),
        # batch C — temperature/entropy windows partition on alpha_pct
        # over the per-source aggregate, never globally
        "mix_temperature_sweep": (Q.q_mix_temperature_sweep, 0),
        # 1-row corpus aggregate (n, Σq, max q, Σtokens) broadcast onto
        # the feature pass — bounded by design
        "curriculum_plan": (Q.q_curriculum_plan, 1),
        "embedding_quantization_error": (Q.q_embedding_quantization_error, 0),
        # probe side is |queries|x|bits| rows, broadcast; ranks partition
        # on (bits, query_id)
        "ann_quantized_recall": (Q.q_ann_quantized_recall, 0),
        # 1-row half-totals aggregate broadcast back; midpoint is the
        # bounded driver agg (workload_drift's pattern)
        "critical_path_drift": (EQ.q_critical_path_drift, 1),
        # two pq_distortion pipelines: each ranks the 16-row codebook
        # base in one bounded single-partition window
        "pq_dim_permutation_gain": (Q.q_pq_dim_permutation_gain, 2),
        # the one single-partition exchange is the global window over
        # the |sources|-row AGGREGATE (mix_weights' bounded shape)
        "mix_dedup_shift": (Q.q_mix_dedup_shift, 1),
    }
    try:
        with session.plan_view():
            for name, (fn, max_single) in cases.items():
                plan = _plan(fn(spark, sf))
                assert "CartesianProduct" not in plan, name
                assert plan.count("Exchange SinglePartition") <= max_single, (
                    name, plan[:1500],
                )
                if "BroadcastNestedLoopJoin" in plan:
                    assert "BroadcastExchange" in plan, (name, plan[:1500])
    finally:
        release_materialized()


def test_promoted_search_never_reads_spans_column(spark, spans, tmp_path):
    """Round-7 promotion (SURVEY §4 deferred question): a fully
    trace-level EQUAL/range search over a promoted index must answer
    from the wl_<name> unions — the parquet ReadSchema excludes the fat
    nested spans column entirely. An inexact expression (span-level
    co-occurrence) still reads spans for the verifier."""
    idx_path = str(tmp_path / "pidx")
    build_trace_index(spans, promote_whitelist=True).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    req = search_ops.SearchRequest(
        start_time=T0,
        end_time=T0 + 30 * DAY_US,
        limit=10,
        expression=ExpressionTree(
            (
                Field("servicename", "error", EQUAL),
                Field("duration", 100_000, GREATER_THAN),
            )
        ),
    )
    plan = _plan(search_ops.search_trace_ids(idx, req))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan[:2000]
    assert "spans" not in m.group(1), m.group(1)
    assert "wl_servicename" in m.group(1), m.group(1)
    # span-level sub-tree: promoted prefilter + exists() verifier -> the
    # scan must still carry spans
    req2 = search_ops.SearchRequest(
        start_time=T0,
        end_time=T0 + 30 * DAY_US,
        limit=10,
        expression=ExpressionTree(
            (
                ExpressionTree(
                    (
                        Field("servicename", "error", EQUAL),
                        Field("duration", 100_000, GREATER_THAN),
                    ),
                    is_span_level=True,
                ),
            )
        ),
    )
    plan2 = _plan(search_ops.search_trace_ids(idx, req2))
    m2 = re.search(r"ReadSchema: ([^\n]*)", plan2)
    assert m2 and "spans" in m2.group(1), m2.group(1) if m2 else plan2[:2000]


def test_round11_operators_have_no_global_bottleneck(spark):
    """Round-11 batch: no cartesian products; single-partition exchanges
    only where bounded by design. latency_hourly_percentiles windows over
    the ≤64-bucket histogram per (svc, op, hour); field_entropy is two
    keyed rollups over catalog-bounded values; hard_negative_mining rides
    the broadcast-probe GEMM scan with per-query rank windows;
    dedup_candidate_funnel's single-partition exchanges are its five
    1-row stage aggregates (+ the broadcast 1-row predicted total)."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    cases = {
        "latency_hourly_percentiles": (EQ.q_latency_hourly_percentiles, 0),
        "field_entropy": (EQ.q_field_entropy, 0),
        "hard_negative_mining": (Q.q_hard_negative_mining, 0),
        "dedup_candidate_funnel": (Q.q_dedup_candidate_funnel, 12),
        # one keyed lag window into a 1-row conditional-sum rollup,
        # re-read per ladder rung (4 one-row branches)
        "session_gap_sweep": (EQ.q_session_gap_sweep, 8),
        # per rung: 1-row pair count + 1-row flagged-distinct count
        "embedding_threshold_sweep": (Q.q_embedding_threshold_sweep, 16),
        # per rung: three 1-row stage aggregates over the broadcast screen
        "bloom_sizing_plan": (Q.q_bloom_sizing_plan, 16),
        "gemm_block_plan": (Q.q_gemm_block_plan, 2),
        # rank + bucket windows all partition on (service, operation)
        "latency_hist_accuracy": (EQ.q_latency_hist_accuracy, 0),
        # per rung: centroid limit + two 1-row rollups (8 total), all
        # over n_cells-bounded tables; assignment windows key on vec_id
        "ivf_cells_plan": (Q.q_ivf_cells_plan, 20),
    }
    try:
        with session.plan_view():
            for name, (fn, max_single) in cases.items():
                plan = _plan(fn(spark, sf))
                assert "CartesianProduct" not in plan, name
                assert plan.count("Exchange SinglePartition") <= max_single, (
                    name, plan[:1500],
                )
                if "BroadcastNestedLoopJoin" in plan:
                    assert "BroadcastExchange" in plan, (name, plan[:1500])
    finally:
        release_materialized()


def test_round10_operators_have_no_global_bottleneck(spark):
    """Round-10 batch: no cartesian products; single-partition exchanges
    only where bounded by design. latency_slo_fit / ab_cohort_calibration
    are ONE combinable (service[, operation]) aggregate each — zero
    global exchanges (the rung ladder and cohort split ride as parallel
    conditional columns, never joins). corpus_token_growth's one global
    window runs over the gap-filled HOUR series (≤ |hours| rows, the
    error_budget_burn bound) with the 1-row bounds agg broadcast.
    pack_attention_efficiency's single-partition stage is the ≤8-row
    per-group chunk rollup stacked to the 4-row ladder, broadcast-joined
    back. ann_storage_plan is a 1-row aggregate crossed with a 6-row
    literal ladder."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark import session
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.session import release_materialized

    sf = "/root/testdata/sf0.001"
    cases = {
        "latency_slo_fit": (EQ.q_latency_slo_fit, 0),
        "ab_cohort_calibration": (EQ.q_ab_cohort_calibration, 0),
        "corpus_token_growth": (Q.q_corpus_token_growth, 1),
        "pack_attention_efficiency": (Q.q_pack_attention_efficiency, 1),
        "ann_storage_plan": (Q.q_ann_storage_plan, 1),
        # rank window partitions on (service, operation); rollup on the
        # same key — zero global exchanges
        "p99_confidence": (EQ.q_p99_confidence, 0),
        # 1-row bounds agg + |services|x|hours| grid fill via broadcast
        # BNLJ (the service_error_correlation hour-grid pattern)
        "arrival_burstiness": (EQ.q_arrival_burstiness, 1),
        # 1-row max-ts agg broadcast onto the scan; shares window over
        # the |ladder|x|sources| aggregate
        "recency_mix_plan": (Q.q_recency_mix_plan, 1),
        # one map-only scoring scan into a 1-row ladder aggregate
        "quality_threshold_sweep": (Q.q_quality_threshold_sweep, 1),
        # one 1-row rollup per ladder rung (3 rungs), each bounded
        "shingle_size_plan": (Q.q_shingle_size_plan, 3),
    }
    try:
        with session.plan_view():
            for name, (fn, max_single) in cases.items():
                plan = _plan(fn(spark, sf))
                assert "CartesianProduct" not in plan, name
                assert plan.count("Exchange SinglePartition") <= max_single, (
                    name, plan[:1500],
                )
                if "BroadcastNestedLoopJoin" in plan:
                    assert "BroadcastExchange" in plan, (name, plan[:1500])
    finally:
        release_materialized()


def test_ivf_store_partition_pruning(spark, tmp_path):
    """VERDICT r11 ask #5: the ivf docstrings' 'written partitioned by
    cell, the candidate read is partition-pruned' claim as checked
    behavior — the probed-cell isin must land in PartitionFilters (and
    NOT survive as a post-scan Filter on data rows)."""
    from haystack_traces_spark.datapipe.similarity import (
        build_ivf_store,
        ivf_store_candidates,
    )

    emb = spark.range(32).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"), (F.col("id") % 5).cast("float")
        ).alias("embedding"),
    )
    path = str(tmp_path / "ivf_store")
    build_ivf_store(emb, path, n_cells=4)
    cand = ivf_store_candidates(spark, path, [1, 3])
    plan = _plan(cand)
    assert re.search(r"PartitionFilters: \[[^\n]*cell", plan), plan[:2000]
    # pruning is real: only the probed cells' rows are read
    cells = {r["cell"] for r in cand.select("cell").distinct().collect()}
    assert cells <= {1, 3}


def test_round12b_operators_plan_shapes(spark):
    """Round-12b batch. service_scorecard_rollup must ride ONE Expand
    (all three grains in one shuffle — the point of the operator);
    zorder_layout_plan's nested-loop joins are all broadcast (1-row
    range frame, bounded service catalog, bounded query grid) with the
    corpus side never replicated."""
    from haystack_traces_spark import entry_queries as EQ

    sf = "/root/testdata/sf0.001"
    plan = _plan(EQ.q_service_scorecard_rollup(spark, sf))
    assert "Expand" in plan, plan[:1500]
    assert "CartesianProduct" not in plan

    plan = _plan(EQ.q_zorder_layout_plan(spark, sf))
    assert "CartesianProduct" not in plan, plan[:1500]
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastExchange" in plan, plan[:1500]

    # the theta-grid self-join is inequality-only over a localCheckpoint
    # with unknown stats — the explicit broadcast hint must keep it off
    # the CartesianProduct path
    plan = _plan(EQ.q_kmv_trace_overlap(spark, sf))
    assert "CartesianProduct" not in plan, plan[:1500]


def test_zorder_write_path_realizes_simulated_pruning(spark, tmp_path):
    """write_spans_zordered ships the layout zorder_layout_plan prices:
    written files cover CONTIGUOUS NON-OVERLAPPING morton ranges (range
    partition + in-file sort), and a (service, time-quartile) predicate's
    zone-map pruning is (a) SOUND — every matching row lives in a file
    whose zone map admits the predicate — and (b) NONTRIVIAL — some
    files are skipped."""
    from haystack_traces_spark.entry_queries import _spans
    from haystack_traces_spark.operators.layout import write_spans_zordered

    spans = _spans(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "zstore")
    write_spans_zordered(spans, path, files=16)

    rows = (
        spark.read.parquet(path)
        .withColumn("_file", F.input_file_name())
        .select("_file", "morton", "tkey", "skey")
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["_file"], []).append(r)
    assert 1 < len(by_file) <= 16

    spans_total = sum(len(v) for v in by_file.values())
    assert spans_total == spans.count()

    ranges = sorted(
        (min(r["morton"] for r in v), max(r["morton"] for r in v))
        for v in by_file.values()
    )
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file morton ranges overlap"

    # zone-map pruning for a mixed predicate: pick a service cell and
    # the first time quartile
    some_skey = rows[0]["skey"]
    tlo, thi = 0, 63
    matching_files = {
        f
        for f, v in by_file.items()
        if any(
            r["skey"] == some_skey and tlo <= r["tkey"] <= thi for r in v
        )
    }
    admitted = {
        f
        for f, v in by_file.items()
        if min(r["skey"] for r in v) <= some_skey <= max(r["skey"] for r in v)
        and min(r["tkey"] for r in v) <= thi
        and max(r["tkey"] for r in v) >= tlo
    }
    # matching ⊆ admitted holds by zone-map construction (maps are built
    # from the files' own rows); the FALSIFIABLE property of the layout
    # is that admission is SPARSE — a bad interleave (e.g. the narrow-
    # service degeneration SCALE.md §4.aa describes) admits most files
    assert matching_files <= admitted
    assert len(admitted) <= len(by_file) // 2, (len(admitted), len(by_file))


def test_memo_plan_shares_plan_objects_without_caching_data(spark):
    """The r12-opt source-prefix memo caches PLAN OBJECTS, never data:
    same (session, sf_dir, key) returns the one object (build runs once),
    different sf_dir or key builds fresh, and the memoized frame is not
    persisted — every action still recomputes from source."""
    from haystack_traces_spark.session import memo

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    a = memo(spark, "/data/sfA", "prefix", build)
    b = memo(spark, "/data/sfA", "prefix", build)
    assert a is b and calls["n"] == 1
    c = memo(spark, "/data/sfB", "prefix", build)
    d = memo(spark, "/data/sfA", "other", build)
    assert calls["n"] == 3 and c is not a and d is not a
    # plan-only: the shared frame carries no persisted storage level
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk
    # and actions through the memoized plan still compute (fresh rows)
    assert a.count() == 10 and b.agg(F.sum("v")).collect()[0][0] == 90


def test_memo_plan_prunes_dead_application_entries(spark):
    """VERDICT r12 ask #7: entries keyed by a stopped session's
    applicationId are dropped on the next miss — plans, checkpointed
    stages and the BPE loop alike — so sequential sessions leave only the
    live app's entries in the one session store."""
    from haystack_traces_spark import session as S

    S.clear()
    dead = [
        ("app-dead", "/data/sfA", "prefix"),
        ("app-dead", "/data/sfA", "stage:jaccard_pairs"),
        ("app-dead", "/data/sfA", "bpe_loop"),
    ]
    for k in dead:
        S._entries[k] = spark.range(1)
    live = S.memo(spark, "/data/sfA", "prefix", lambda: spark.range(2))
    app_id = spark.sparkContext.applicationId
    assert list(S._entries) == [(app_id, "/data/sfA", "prefix")]
    assert S._entries[(app_id, "/data/sfA", "prefix")] is live
    # a hit never rebuilds or prunes eagerly (no scan of the dict)
    S._entries[dead[1]] = spark.range(1)
    again = S.memo(spark, "/data/sfA", "prefix", lambda: spark.range(3))
    assert again is live and dead[1] in S._entries
    # a stage miss prunes too, and lands under the stage: namespace
    stage = S.shared_stage(spark, "/data/sfA", "s", lambda: spark.range(4))
    assert dead[1] not in S._entries
    assert S._entries[(app_id, "/data/sfA", "stage:s")] is stage
    assert stage.count() == 4
    S.clear()


def test_session_store_concurrent_misses_lose_nothing(spark):
    """ADVICE r13: 8 threads missing at once (distinct keys, plus one
    shared key whose build yields the GIL) raise nothing, lose no entry,
    and build the shared key exactly once — the dead-app prune iterates
    the store while other threads insert into it."""
    import sys
    import threading
    import time

    from haystack_traces_spark import session as S

    S.clear()
    S._entries[("app-dead", "/data/sfA", "prefix")] = object()
    n_threads, n_keys = 8, 40
    shared_calls = []
    got: dict = {}
    errors: list = []
    barrier = threading.Barrier(n_threads)

    def worker(t):
        try:
            barrier.wait()
            for i in range(n_keys):
                key = f"t{t}-k{i}"
                got[key] = S.memo(spark, "/data/sfA", key, object)
            got[f"shared-{t}"] = S.memo(
                spark, "/data/sfA", "shared",
                lambda: time.sleep(0.01) or shared_calls.append(t) or object(),
            )
        except Exception as e:  # noqa: BLE001 — surfaced by the assert
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    app_id = spark.sparkContext.applicationId
    for t in range(n_threads):
        for i in range(n_keys):
            key = f"t{t}-k{i}"
            assert S._entries[(app_id, "/data/sfA", key)] is got[key]
    assert len(shared_calls) == 1
    shared = S._entries[(app_id, "/data/sfA", "shared")]
    assert all(got[f"shared-{t}"] is shared for t in range(n_threads))
    assert len(S._entries) == n_threads * n_keys + 1
    S.clear()


def test_clear_forces_bpe_loop_rebuild(spark, tmp_path):
    """clear() is the one invalidation for a rewritten sf_dir: after the
    documents under it change, bpe_train must learn the NEW corpus's
    merges, not serve the session's earlier BPE loop."""
    from haystack_traces_spark import session as S
    from haystack_traces_spark.datapipe import queries as Q
    from haystack_traces_spark.datapipe import text as X

    sf = str(tmp_path)

    def write(words):
        docs = spark.createDataFrame(
            [(i, " ".join(words)) for i in range(4)], "doc_id long, text string"
        )
        docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
        return spark.read.parquet(f"{sf}/documents.parquet")

    def merges(df):
        return sorted(tuple(r) for r in df.collect())

    a = write(["abab", "abab", "cdcd"])
    first = merges(Q.q_bpe_train(spark, sf))
    assert first == merges(X.bpe_train(a, Q.BPE_TRAIN_ROUNDS))
    b = write(["xyxy", "xyxy", "zwzw"])
    S.clear()
    second = merges(Q.q_bpe_train(spark, sf))
    assert second == merges(X.bpe_train(b, Q.BPE_TRAIN_ROUNDS))
    assert second != first
    S.clear()


def test_events_prefix_has_full_width(spark, sf_dir):
    """One width policy: the memoized events scan that every trace-side
    query starts from is fanned out to defaultParallelism at sf0.01 — a
    width derived from input bytes (2 at sf0.01, 8 at sf0.1) was refuted
    at 32 cores (OPTIMIZATION_r13.md)."""
    from pathlib import Path

    from haystack_traces_spark import entry_queries as EQ

    sf01 = str(Path(sf_dir).parent / "sf0.01")
    events = EQ._events(spark, sf01)
    assert events.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert EQ._events(spark, sf01) is events
