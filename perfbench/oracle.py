"""Correctness checks that share no code with the engine.

- search: DuckDB over the generated span rows recomputes trace ids,
  counts and field values; generator ground truth gives raw span counts,
  call-graph edges and processed traces (planted merges and duplicates
  removed, exactly one root, invalid traces dropped).
- ingest: DuckDB reads the written parquet tables and compares them with
  the corpus.
- dedup: pure Python recomputes the Jaccard inside every reported
  component and checks that each planted cluster lands in one component;
  traced runs also recompute every verified pair's Jaccard.

Every check returns the number of wrong answers; the caller counts them
as failed operations.
"""

from __future__ import annotations

import duckdb
import pandas as pd

MICROS = 1_000_000
LOW_CARD_US = 20 * MICROS


def _tag(tags, key):
    for t in tags:
        if t["key"].lower() == key:
            return t
    return None


class SpanOracle:
    """DuckDB view of the generated corpus, flattened in plain Python."""

    def __init__(self, rows: list[dict], truth: dict):
        self.truth = truth
        flat = []
        for r in rows:
            role = _tag(r["tags"], "role")
            err = _tag(r["tags"], "errorcode")
            flat.append({
                "trace_id": r["trace_id"], "svc": r["service_name"].lower(),
                "op": r["operation_name"].lower(), "start_time": r["start_time"],
                "duration": r["duration"],
                "role": role["vstr"] if role else None,
                "errorcode": err["vlong"] if err else None,
            })
        self.con = duckdb.connect()
        self.con.register("raw", pd.DataFrame(flat))
        self.con.execute("""
            CREATE TABLE spans AS SELECT *,
              CASE WHEN duration > {lc} THEN duration - duration % {m}
                   ELSE duration END AS lc_duration
            FROM raw WHERE svc <> '' AND op <> ''""".format(lc=LOW_CARD_US, m=MICROS))
        self.con.execute("""
            CREATE TABLE traces AS SELECT trace_id,
              min(start_time - start_time % {m}) AS st FROM spans GROUP BY trace_id
        """.format(m=MICROS))

    def _match_sql(self, req) -> tuple[str, list]:
        k = req["kind"]
        if k in ("ids_flat", "search_traces", "trace_counts"):
            return "SELECT trace_id FROM spans WHERE svc = ?", [req["service"]]
        if k == "ids_tag":
            return "SELECT trace_id FROM spans WHERE errorcode = ?", [req["errorcode"]]
        if k == "ids_duration":
            return "SELECT trace_id FROM spans WHERE lc_duration > ?", [req["min_duration"]]
        if k == "ids_not_equal":
            # ∃ (service, operation) group in which the value never occurs
            return ("SELECT trace_id FROM spans GROUP BY trace_id, svc, op "
                    "HAVING NOT coalesce(bool_or(role = ?), false)", [req["role"]])
        if k == "ids_span_level":
            return ("SELECT trace_id FROM spans WHERE svc = ? AND op = ?",
                    [req["service"], req["operation"]])
        raise ValueError(k)

    def trace_ids(self, req, limit=True) -> list[tuple[str, int]]:
        sub, params = self._match_sql(req)
        sql = (f"SELECT t.trace_id, t.st FROM traces t WHERE t.st BETWEEN ? AND ? "
               f"AND t.trace_id IN ({sub}) ORDER BY t.st DESC, t.trace_id DESC")
        if limit:
            sql += f" LIMIT {int(req['limit'])}"
        return [tuple(r) for r in self.con.execute(sql, [req["start"], req["end"], *params]).fetchall()]

    def expected(self, req):
        k = req["kind"]
        tr = self.truth
        if k.startswith("ids_"):
            return self.trace_ids(req)
        if k == "search_traces":
            return {t: (tr[t]["out"], 1) for t, _ in self.trace_ids(req) if tr[t]["valid"]}
        if k == "get_trace":
            return (tr[req["trace_id"]]["out"], 1)
        if k == "call_graph":
            return tr[req["trace_id"]]["merged"]
        if k == "get_raw_traces":
            return {t: tr[t]["raw"] for t in req["trace_ids"]}
        if k == "trace_counts":
            i, lo, hi = req["interval"], req["start"], req["end"]
            counts: dict[int, int] = {}
            for _, st in self.trace_ids(req, limit=False):
                counts[st - st % i] = counts.get(st - st % i, 0) + 1
            return [(b, counts.get(b, 0)) for b in range((lo // i) * i, (hi // i) * i + 1, i)
                    if lo <= b <= hi]
        if k == "field_values":
            f = req["field"]
            if f == "servicename":
                sql, p = "SELECT DISTINCT svc FROM spans ORDER BY 1 LIMIT 10000", []
            elif f == "operationname":
                sql, p = "SELECT DISTINCT op FROM spans WHERE svc = ? ORDER BY 1 LIMIT 10000", [req["service"]]
            elif f == "role":
                sql, p = "SELECT DISTINCT role FROM spans WHERE role IS NOT NULL ORDER BY 1 LIMIT 1000", []
            else:
                sql, p = ("SELECT DISTINCT CAST(errorcode AS VARCHAR) FROM spans "
                          "WHERE errorcode IS NOT NULL ORDER BY 1 LIMIT 1000"), []
            return [r[0] for r in self.con.execute(sql, p).fetchall()]
        raise ValueError(k)

    def wrong(self, results: list[tuple[dict, object]]) -> int:
        """Count results that differ from the recomputed answer."""
        return sum(1 for req, got in results if got != self.expected(req))


def check_ingest(tables_dir: str, truth: dict, rows: list[dict]) -> int:
    """Wrong-answer count for one backfill's tables: every span lands in
    trace_store exactly once, every trace has an index row, and the
    catalog holds exactly the distinct (service, operation) pairs."""
    con = duckdb.connect()
    bad = 0
    n_spans, n_traces = con.execute(
        f"SELECT sum(len(spans)), count(DISTINCT trace_id) "
        f"FROM read_parquet('{tables_dir}/trace_store/*.parquet')").fetchone()
    bad += n_spans != len(rows)
    bad += n_traces != len(truth)
    n_idx = con.execute(
        f"SELECT count(DISTINCT traceid) FROM read_parquet("
        f"'{tables_dir}/trace_index/*/*/*.parquet', hive_partitioning = true)").fetchone()[0]
    bad += n_idx != len(truth)
    got = set(con.execute(
        f"SELECT servicename, operationname FROM read_parquet("
        f"'{tables_dir}/service_catalog/*.parquet')").fetchall())
    want = {(r["service_name"].lower(), r["operation_name"].lower()) for r in rows}
    bad += got != want
    con.close()
    return int(bad)


def _shingles(text: str, n: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_pairs(docs: list[dict], pairs: list[tuple[int, int, float]], threshold: float) -> int:
    """Wrong-pair count: a reported Jaccard that differs from the
    recomputed one, or is under the threshold."""
    text = {d["doc_id"]: d["text"] for d in docs}
    sh: dict[int, set[str]] = {}
    bad = 0
    for a, b, j in pairs:
        sa = sh.setdefault(a, _shingles(text[a]))
        sb = sh.setdefault(b, _shingles(text[b]))
        exact = round(len(sa & sb) / len(sa | sb), 6)
        # 1e-6 slack: Spark rounds HALF_UP, Python rounds half to even
        bad += abs(exact - j) > 1.000001e-6 or exact < threshold
    return bad


def check_clusters(docs: list[dict], threshold: float, clusters: list[list[int]],
                   labels: dict[int, int]) -> int:
    """Wrong-component count. Every planted cluster must share one label;
    every reported component must be connected by pairs whose recomputed
    Jaccard reaches the threshold (LSH may miss pairs, so a component can
    be smaller than the true one, never glued by a false pair)."""
    text = {d["doc_id"]: d["text"] for d in docs}
    bad = sum(1 for c in clusters if len({labels.get(d, -d) for d in c}) != 1)
    comps: dict[int, list[int]] = {}
    for doc, lab in labels.items():
        comps.setdefault(lab, []).append(doc)
    for members in comps.values():
        sh = {m: _shingles(text[m]) for m in members}
        reached, todo = {members[0]}, [members[0]]
        while todo:
            a = todo.pop()
            for b in members:
                if b not in reached and len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= threshold:
                    reached.add(b)
                    todo.append(b)
        bad += len(reached) != len(members)
    return bad
