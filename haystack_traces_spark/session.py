"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (AQE on, skew-join handling,
zstd parquet) while remaining correct on local[N]:

- ``spark.sql.adaptive.enabled`` + skewJoin: runtime re-plan of shuffles, the
  first line of defense against hot traceIds / hot join keys at scale.
- ``spark.sql.session.timeZone=UTC``: all reference timestamps are epoch
  micros (UTC); keeps parquet/DuckDB/Spark agreement.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: older driver testdata stored
  TIMESTAMP(NANOS) which Spark has no native type for; reading them as raw
  nanos longs is lossless and avoids tz ambiguity entirely. Current testdata
  ships TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), for which this setting is
  a no-op — ``sources/events.py:_epoch_micros`` adapts per column dtype.
- ``spark.sql.parquet.compression.codec=zstd``: the reference ships zstd as a
  packer option (commons/.../packer/Packer.scala:29-77); parquet-zstd is the
  columnar equivalent.
- Arrow enabled for the pandas-UDF transformer chain.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make haystack_traces_spark importable on executor Python workers.

    Pandas-UDF closures reference this package by name; workers (local-mode
    subprocesses AND remote executors on a real cluster) need it on their
    path. ``addPyFile`` is the cluster-correct mechanism — a zip shipped with
    the job, unzipped into each worker's runtime path.
    """
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / "haystack_traces_spark_pkg.zip"
    src_mtime = max(p.stat().st_mtime for p in pkg_dir.rglob("*.py"))
    if not zip_path.exists() or zip_path.stat().st_mtime < src_mtime:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in pkg_dir.rglob("*.py"):
                zf.write(p, f"haystack_traces_spark/{p.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zip_path))


def fan_out(df):
    """Spread a narrow input across cores before a CPU-bound chain.

    Small/single-file parquet arrives as 1 input split, which serializes
    every downstream expression until the first shuffle. One round-robin
    repartition up front is far cheaper than single-threading the scan-side
    work. A real multi-file table (the 100 TB case) already has >= cores
    splits and is returned untouched — the repartition is strictly a
    small-input adaptation, never an extra shuffle at scale.

    Width: the FULL defaultParallelism, the one width policy. Chains whose
    scan side carries heavy per-row compute (the mapInPandas GEMM/bucketing
    stages) were measured 2-3x slower when narrowed (the r12 AQE-floor
    refutation), and a width derived from input bytes was refuted at 32
    cores on the pure-expression span projections (OPTIMIZATION_r13.md).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a catalog listing — unlike df.rdd.getNumPartitions()
    # it never forces a plan-to-RDD conversion per query. A non-file source
    # (in-memory test frame) lists zero files and gets the repartition,
    # which is the safe direction for small inputs.
    try:
        n_src = len(df.inputFiles())
    except Exception:
        n_src = 0
    if n_src < max(target // 2, 2):
        return df.repartition(target)
    return df


# The one session store. Everything the engine keeps across queries lives
# here, under one lock (oracle jobs, tests and streaming callbacks may share
# one Spark driver process):
#
# - session-lifetime entries in ``_entries``, keyed by (applicationId,
#   sf_dir, key): memoized source-prefix PLANS (:func:`memo` — zero data,
#   every action recomputes from parquet), checkpointed composite stages
#   (:func:`shared_stage`) and the BPE training loop. The first miss of a
#   new application drops every entry of a stopped one.
# - per-query pins in ``_pins``: frames :func:`materialize` persisted,
#   all unpersisted by :func:`release_materialized`.
#
# The reference needs none of this — its indexer writes each table once and
# the reader reads it; the store is that idea for one Spark application that
# runs every registry query from the same inputs.
_lock = threading.RLock()
_entries: dict[tuple[str, str, str], object] = {}
_pins: list = []
_plan_view = False


def memo(spark: SparkSession, sf_dir: str, key: str, build):
    """Return the session's entry ``key`` for ``sf_dir``, constructing it
    with ``build()`` on first use (once, even under concurrent misses).

    For a source-prefix DataFrame the entry is only a plan description:
    sharing one object across queries is semantically identical to
    rebuilding it (Catalyst re-optimizes and re-executes per action), and
    it removes the per-query py4j expression-tree reconstruction of the
    identical prefix (measured r12-opt: ~0.2-0.6 s of driver-side Python
    per registry line)."""
    app_id = spark.sparkContext.applicationId
    k = (app_id, str(sf_dir), key)
    with _lock:
        if k in _entries:
            return _entries[k]
        # a new applicationId means every old app's entries are dead
        # weight — drop them so sequential sessions cannot accumulate
        for stale in [sk for sk in _entries if sk[0] != app_id]:
            del _entries[stale]
        v = build()
        _entries[k] = v
        return v


def shared_stage(spark: SparkSession, sf_dir: str, name: str, build):
    """Return the session-lifetime materialization of composite stage
    ``name`` for ``sf_dir`` — the production analog of "write the
    clusters table once, read it everywhere": several registry composites
    share an upstream stage (shingle→ppjoin→Jaccard pairs, cluster map,
    probe verdicts) that each would otherwise rebuild inline.

    ``localCheckpoint(eager=True)`` rather than :func:`materialize` on
    purpose: bench/oracle loops call :func:`release_materialized` after
    every query, which would evict a persist-based entry between the
    queries it exists to serve; a local checkpoint also truncates lineage
    so downstream plans re-optimize from a flat scan. Every stage is a
    small output-side table (flagged pairs, cluster members, per-doc
    verdicts), so pinning it for the session is bounded by design. bench.py
    forces each stage first as its own ``stage:<name>`` line."""
    if _plan_view:
        return build()
    return memo(spark, sf_dir, f"stage:{name}",
                lambda: build().localCheckpoint(eager=True))


@contextlib.contextmanager
def plan_view():
    """Build shared stages INLINE (no localCheckpoint, no entry) for the
    scope — plan-shape tests only. A checkpointed stage reads back as
    `Scan ExistingRDD`, which neuters any .explain() assertion on the
    pipeline underneath it; inside this context the composed query's plan
    shows the real stage pipeline. Never use on the hot path."""
    global _plan_view
    _plan_view = True
    try:
        yield
    finally:
        _plan_view = False


def clear() -> int:
    """Drop every session-lifetime entry. Required whenever the files
    UNDER a used sf_dir change (regenerated corpus, crafted test frames
    reusing a path): keys carry no file-freshness check, so a rewritten
    directory would otherwise keep serving pre-rewrite plans, stages and
    BPE merges while uncached queries scan the new data. Also invalidates
    the sf_dir-keyed driver-side oracle literals (ivf_pq_residual
    codebook). Returns the number of entries dropped."""
    with _lock:
        n = len(_entries)
        _entries.clear()
    from haystack_traces_spark.datapipe import queries as _dpq

    _dpq._sql_ivf_pq_residual_for.cache_clear()
    return n


def materialize(df):
    """persist + EAGER count: derived tables that feed both sides of a
    self-join (LSH buckets, minhash signatures, prefix indexes, shingle
    sets) must exist before the consuming action starts. A lazy persist
    lets the two join-side stages race and each compute the producer from
    scratch — for the hyperplane-bucket GEMM that is the whole table
    bucketed twice (measured 3-5x on the LSH family at sf0.1). On a
    cluster the same idea is "write the derived table, then join it";
    locally one narrow count() action fills the cache.

    Every pinned frame is tracked; callers that run MANY queries in one
    session (bench loops, oracle suites) should call
    :func:`release_materialized` after each query's consuming action."""
    df = df.persist()
    df.count()
    with _lock:
        _pins.append(df)
    return df


def release_materialized() -> int:
    """Unpersist every frame :func:`materialize` pinned since the last
    release. Safe once the consuming action has finished — the pin is a
    within-query racing guard, not a cross-query cache. Returns the number
    of frames released."""
    with _lock:
        pins = _pins[:]
        _pins.clear()
    n = 0
    for df in pins:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def get_spark(
    app_name: str = "haystack-traces-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # One BLAS thread per Python worker: N workers x M OpenBLAS threads
    # otherwise oversubscribes the box and numpy-backed operators (GEMM
    # scoring, LSH bucketing) show multi-x run-to-run variance. Parallelism
    # comes from Spark's task fan-out, not from nested BLAS threading.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor: Spark's default (1m); a 4m floor was refuted in r12
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # huge plan treeStrings (stateful streaming + nested span schema) feed
        # regex-based redaction on the stream thread → StackOverflowError;
        # capping the rendered plan string avoids it and speeds up big plans
        .config("spark.sql.maxPlanStringLength", "8192")
    )
    # cluster mode: same BLAS pinning on remote executors (local mode
    # inherits the driver env set above)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark
