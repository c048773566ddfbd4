"""Every registry query hash-matches its DuckDB oracle at sf0.001 — the local
mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from haystack_traces_spark import entry_queries
from tests.oracle_harness import compare, run_oracle

NAMES = sorted(entry_queries.queries().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    q = entry_queries.queries()[name]
    sql = entry_queries.oracle_sql().get(name)
    if sql is None:
        # non-SQL-expressible op: driver records rows-only; assert it runs
        df = q(spark, sf_dir)
        assert df.count() >= 0
        return
    compare(q(spark, sf_dir), run_oracle(sql, sf_dir), name)


def test_entry_smoke(spark):
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"traceid", "starttime"}


def test_registry_every_query_has_oracle_or_is_documented_rows_only():
    """Drift guard: a queries() entry without an oracle_sql() mirror gets
    only the weak rows-only driver check — each such entry must be a
    deliberate, named exception, not an oversight."""
    from haystack_traces_spark import entry_queries

    rows_only = set(entry_queries.queries()) - set(entry_queries.oracle_sql())
    assert rows_only == set(), rows_only


#: DECIMAL-typed oracle columns faced by DOUBLE Spark columns — float-vs-
#: float after pandas conversion, harmless to the driver hash (judge-swept
#: in round 9; clock_skew has a green r07 driver row). Any NEW decimal face
#: must either cast to DOUBLE in the SQL or be justified here.
_DECIMAL_FACE_ALLOWLIST = {
    ("clock_skew", "max_abs_skew"),
    ("sampling_debias_weights", "weight"),
    ("sampling_debias_weights", "weighted_traces"),
    ("lsh_recall_report", "theory_at_threshold"),
    ("winnow_density", "expected_density"),
    ("lsh_band_plan", "theory_at_threshold"),
}


def test_oracle_result_schemas_have_no_hugeint_leaks(sf_dir):
    """VERDICT r9 ask #2 (static half): DuckDB widens windowed/plain SUM over
    BIGINT to HUGEINT, and `//` keeps it — pandas then renders the column as
    float64 while the Spark face emits int64, which the driver hash fails
    even when values agree (the `latency_changepoint` r9 red row). This
    sweep DESCRIBEs every oracle (plan-only, no execution) and fails on any
    HUGEINT output column, and on any DECIMAL output column not explicitly
    allowlisted as a double-faced exception."""
    import duckdb

    from haystack_traces_spark.sources.events import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, sql in sorted(entry_queries.oracle_sql().items()):
        schema = con.execute("DESCRIBE " + sql).fetchall()
        for col, typ, *_ in schema:
            if typ == "HUGEINT":
                bad.append(f"{name}.{col}: HUGEINT (CAST the expression to BIGINT)")
            elif typ.startswith("DECIMAL") and (name, col) not in _DECIMAL_FACE_ALLOWLIST:
                bad.append(f"{name}.{col}: {typ} (cast to DOUBLE or allowlist)")
    assert bad == [], "\n".join(bad)


def test_compare_fails_on_int_vs_float_dtype_faces(spark):
    """VERDICT r9 ask #2 (dynamic half): reproduce the r9 driver failure
    class locally — equal VALUES but int64-vs-float64 dtype faces must now
    FAIL compare() (Python `==` passes 49015 == 49015.0; the driver's
    normalize-then-hash does not)."""
    import pandas as pd

    from tests.oracle_harness import compare

    sdf = spark.createDataFrame([(49015,)], "mean_before_us: long")
    oracle = pd.DataFrame({"mean_before_us": [49015.0]})  # HUGEINT→pandas face
    with pytest.raises(AssertionError, match="dtype face mismatch"):
        compare(sdf, oracle, "hugeint_leak_repro")
    # same values, same face: passes
    compare(sdf, pd.DataFrame({"mean_before_us": [49015]}), "int_face_ok")


def test_registry_oracles_have_no_orphans():
    """Every oracle_sql() key must have a matching queries() entry."""
    from haystack_traces_spark import entry_queries

    orphans = set(entry_queries.oracle_sql()) - set(entry_queries.queries())
    assert not orphans, orphans


def test_rotation_queue_names_resolve():
    """Every _ROTATION_QUEUE name must exist in one of the two source
    dicts (a rename there would KeyError the whole registry), and the
    merged registry must keep all entries exactly once."""
    from haystack_traces_spark import entry_queries as EQ
    from haystack_traces_spark.datapipe import queries as dp

    names = set(EQ._trace_queries()) | set(dp.queries())
    missing = [n for n in EQ._ROTATION_QUEUE if n not in names]
    assert missing == [], missing
    # _CORE_TRACE too: a typo would silently drop a core query out of the
    # driver's CORRECTNESS sample prefix, which is the whole point of it
    core_missing = [n for n in EQ._CORE_TRACE if n not in EQ._trace_queries()]
    assert core_missing == [], core_missing
    merged = list(EQ.queries())
    assert len(merged) == len(set(merged)) == len(names)
    # the sample prefix is exactly core-then-rotation
    assert merged[: len(EQ._CORE_TRACE)] == list(EQ._CORE_TRACE)
    n_core = len(EQ._CORE_TRACE)
    front = [n for n in EQ._ROTATION_QUEUE if n not in EQ._CORE_TRACE][:5]
    assert merged[n_core : n_core + len(front)] == front


def test_core_trace_trim_does_not_outlive_round_8():
    """ADVICE r7: the rounds-7/8 _CORE_TRACE trim (10-name lead, 13 core
    API queries benched behind the rotation queue) is temporary — once
    the round-8 driver gate has run (CORRECTNESS_r08.json exists in the
    repo root), the full 23-name core lead MUST be restored so every
    reference-API endpoint is re-verified by the driver every round.
    This guard fails round 9 loudly instead of letting a comment rot."""
    from pathlib import Path

    from haystack_traces_spark import entry_queries as EQ

    repo_root = Path(__file__).resolve().parent.parent
    if not (repo_root / "CORRECTNESS_r08.json").exists():
        return  # still round 8: trim is sanctioned by VERDICT r7 ask #1
    assert len(EQ._CORE_TRACE) == 23
