"""Seeded, single-process input generator for the benchmark workloads.

Everything here is pure Python driven by one ``random.Random(seed)``: the
same seed gives byte-identical inputs. The program under test only ever
sees the files these functions write; the ground truth they return stays
in the benchmark and feeds the correctness checks.

Traffic dimensions varied on purpose (each one moves a different layer):

- trace size: heavy-tailed (Pareto) spans per trace;
- client/server span pairs, some emitted as *partial* spans (two rows
  sharing a span id), some with the server clock skewed before the client;
- byte-identical duplicate spans and a few invalid traces (dangling parent);
- span files written out of event-time order;
- request mix with Zipf-skewed trace ids and varying time windows;
- documents with planted near-duplicate clusters and one hot MinHash band
  bucket.

The levels of these dimensions (the shares, the Pareto exponent, the
request-mix weights, the Zipf exponent and the corpus sizes in
workloads.py) are assumptions chosen to exercise each code path. They are
not measured from real traffic, and no published trace study backs them.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from pathlib import Path

#: 2024-03-01T00:00:00Z in epoch microseconds — corpus time origin.
BASE_US = 1_709_251_200_000_000
#: corpus time extent: traces start uniformly inside this span.
SPAN_HOURS = 30
SERVICES = [f"svc-{i:02d}" for i in range(10)]
OPERATIONS = [f"op-{i}" for i in range(4)]
ROLES = ["web", "db", "cache", "queue", "api"]
ERROR_CODES = [0, 0, 0, 0, 0, 0, 0, 404, 500, 503]
INFRA_TAG = "X-HAYSTACK-INFRASTRUCTURE-PROVIDER"


def _tag_str(key, value):
    return {"key": key, "vtype": "STRING", "vstr": value, "vlong": None,
            "vdouble": None, "vbool": None, "vbytes": None}


def _tag_long(key, value):
    return {"key": key, "vtype": "LONG", "vstr": None, "vlong": int(value),
            "vdouble": None, "vbool": None, "vbytes": None}


def _log(ts, event):
    return {"timestamp": int(ts), "fields": [{"key": "event", "vstr": event}]}


def _span(tid, sid, parent, svc, op, start, dur, tags, logs=()):
    return {"trace_id": tid, "span_id": sid, "parent_span_id": parent,
            "service_name": svc, "operation_name": op,
            "start_time": int(start), "duration": int(dur),
            "tags": list(tags), "logs": list(logs)}


def _common_tags(rng, svc):
    tags = [_tag_str("role", rng.choice(ROLES)),
            _tag_long("errorcode", rng.choice(ERROR_CODES))]
    if rng.random() < 0.2:
        tags.append(_tag_str(INFRA_TAG, "aws" if svc < "svc-05" else "gcp"))
    return tags


#: share of child calls emitted as client/server pairs; of those, the
#: share written as partial spans (one span id) and the share whose server
#: clock is skewed before the client
P_CS, P_PARTIAL, P_SKEW = 0.3, 0.3, 0.3


def _trace(rng, tid, start_us):
    """One trace → (rows, truth). Merge-rule invariants the ground truth
    relies on: a plain span has 0 or >= 2 children, so only planted client
    spans (exactly one child, the server span of another service) are
    merge candidates; partial pairs share one span id and merge by id."""
    size = min(400, int(2 * rng.paretovariate(1.15)) + 1)
    rows = []
    n = [0]

    def new_id():
        n[0] += 1
        return f"{tid}-{n[0]:04d}"

    truth = {"logical": 0, "merged": 0}
    root_svc = rng.choice(SERVICES)
    root = _span(tid, new_id(), "", root_svc, rng.choice(OPERATIONS), start_us,
                 0, _common_tags(rng, root_svc))
    rows.append(root)
    truth["logical"] += 1
    frontier = [root]  # spans that may still get children
    while truth["logical"] < size and frontier:
        parent = frontier.pop(rng.randrange(len(frontier)))
        k = 2 if rng.random() < 0.7 else 3
        t = parent["start_time"] + 50
        for _ in range(k):
            dur = rng.randint(200, 20_000)
            if rng.random() < P_CS:
                callee = rng.choice([s for s in SERVICES if s != parent["service_name"]])
                op = rng.choice(OPERATIONS)
                skew = -rng.randint(5_000, 50_000) if rng.random() < P_SKEW else 0
                s_start, s_dur = t + 100 + skew, max(1, dur - 200)
                if rng.random() < P_PARTIAL:
                    sid = new_id()
                    rows.append(_span(tid, sid, parent["span_id"], parent["service_name"], op,
                                      t, dur, _common_tags(rng, parent["service_name"]),
                                      [_log(t, "cs"), _log(t + dur, "cr")]))
                    server = _span(tid, sid, parent["span_id"], callee, op, s_start, s_dur,
                                   _common_tags(rng, callee),
                                   [_log(s_start, "sr"), _log(s_start + s_dur, "ss")])
                else:
                    client = _span(tid, new_id(), parent["span_id"], parent["service_name"], op,
                                   t, dur, _common_tags(rng, parent["service_name"])
                                   + [_tag_str("span.kind", "client")])
                    rows.append(client)
                    server = _span(tid, new_id(), client["span_id"], callee, op, s_start,
                                   s_dur, _common_tags(rng, callee)
                                   + [_tag_str("span.kind", "server")])
                rows.append(server)
                truth["logical"] += 1
                truth["merged"] += 1
                frontier.append(server)
            else:
                svc = rng.choice(SERVICES)
                child = _span(tid, new_id(), parent["span_id"], svc, rng.choice(OPERATIONS),
                              t, dur, _common_tags(rng, svc))
                rows.append(child)
                truth["logical"] += 1
                frontier.append(child)
            t += rng.randint(100, 3_000)
    root["duration"] = max(s["start_time"] + s["duration"] for s in rows) - start_us + 10
    valid = True
    if len(rows) > 2 and rng.random() < 0.03:
        # dangling parent: ParentIdValidator rejects the whole trace
        victim = rows[rng.randrange(1, len(rows))]
        victim["parent_span_id"] = f"{tid}-missing"
        valid = False
    if rng.random() < 0.1:
        for _ in range(rng.randint(1, 3)):
            rows.append(dict(rows[rng.randrange(len(rows))]))
    return rows, {"raw": len(rows), "out": truth["logical"], "merged": truth["merged"],
                  "valid": valid}


def span_corpus(seed: int, n_spans: int, out_dir: Path, n_files: int = 8):
    """Write traces as JSON-lines span files under ``out_dir`` until the
    corpus holds ``n_spans`` span rows (the last trace may overshoot), so
    every seed carries the same volume whatever its trace-size draw.

    Files are cut by a seeded shuffle of traces, so event time is out of
    order both across and within files. → (rows, truth, trace_ids) where
    truth maps trace id → {raw, out, merged, valid}: raw rows, spans after
    the transform pipeline, merged client/server pairs, validity."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    rows, truth, ids = [], {}, []
    for i in itertools.count():
        if len(rows) >= n_spans:
            break
        tid = f"t{seed % 1000:03d}{i:06d}"
        start = BASE_US + rng.randrange(SPAN_HOURS * 3_600_000_000)
        trows, tt = _trace(rng, tid, start)
        rows.extend(trows)
        truth[tid] = tt
        ids.append(tid)
    order = list(range(len(ids)))
    rng.shuffle(order)
    per_trace = {}
    for r in rows:
        per_trace.setdefault(r["trace_id"], []).append(r)
    files = [[] for _ in range(n_files)]
    for pos, i in enumerate(order):
        files[pos % n_files].extend(per_trace[ids[i]])
    for k, chunk in enumerate(files):
        rng.shuffle(chunk)
        with open(out_dir / f"part-{k:03d}.json", "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r, separators=(",", ":")) + "\n")
    return rows, truth, ids


class Zipf:
    """Seeded Zipf(s) sampler over a fixed item list (rank = list order)."""

    def __init__(self, rng: random.Random, items: list, s: float = 1.1):
        self.rng = rng
        self.items = list(items)
        rng.shuffle(self.items)
        w = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        tot = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)

    def draw(self):
        return self.items[min(bisect.bisect_left(self.cdf, self.rng.random()),
                              len(self.items) - 1)]


#: weights of the search-workload request kinds (closed-loop mix)
REQUEST_MIX = [
    ("ids_flat", 3), ("ids_tag", 2), ("ids_duration", 2), ("ids_not_equal", 1),
    ("ids_span_level", 2), ("search_traces", 2), ("get_trace", 3),
    ("get_raw_traces", 2), ("trace_counts", 1), ("field_values", 2),
    ("call_graph", 1),
]
#: requests in one shuffled block of the mix (each kind its weight times)
MIX_CYCLE = sum(w for _, w in REQUEST_MIX)


def request_mix(seed: int, trace_ids: list[str], n: int) -> list[dict]:
    """``n`` seeded search-workload requests. Time windows vary in both
    position and width (10 min .. 12 h), trace ids are Zipf-skewed."""
    rng = random.Random(seed * 7919 + 17)
    zipf = Zipf(rng, trace_ids)
    kinds = [k for k, w in REQUEST_MIX for _ in range(w)]
    out = []
    block: list[str] = []
    for i in range(n):
        # kinds come in shuffled blocks of MIX_CYCLE requests holding each
        # kind exactly its weight times
        if not block:
            block = list(kinds)
            rng.shuffle(block)
        kind = block.pop()
        width = rng.choice([600, 3600, 4 * 3600, 12 * 3600]) * 1_000_000
        lo = BASE_US + rng.randrange(SPAN_HOURS * 3_600_000_000 - width // 2)
        req = {"id": i, "kind": kind, "start": lo, "end": lo + width,
               "limit": rng.choice([5, 10, 20])}
        if kind == "ids_flat":
            req["service"] = rng.choice(SERVICES)
        elif kind == "ids_tag":
            req["errorcode"] = rng.choice([404, 500, 503])
        elif kind == "ids_duration":
            req["min_duration"] = rng.choice([10_000, 15_000, 19_000])
        elif kind == "ids_not_equal":
            req["role"] = rng.choice(ROLES)
        elif kind == "ids_span_level":
            req["service"] = rng.choice(SERVICES)
            req["operation"] = rng.choice(OPERATIONS)
        elif kind == "search_traces":
            req["service"] = rng.choice(SERVICES)
            req["limit"] = rng.choice([3, 5])
        elif kind in ("get_trace", "call_graph"):
            req["trace_id"] = zipf.draw()
        elif kind == "get_raw_traces":
            req["trace_ids"] = sorted({zipf.draw() for _ in range(rng.randint(2, 6))})
        elif kind == "trace_counts":
            req["interval"] = rng.choice([300, 900, 3600]) * 1_000_000
            req["service"] = rng.choice(SERVICES)
        elif kind == "field_values":
            req["field"] = rng.choice(["servicename", "operationname", "role", "errorcode"])
            if req["field"] == "operationname":
                req["service"] = rng.choice(SERVICES)
        out.append(req)
    return out


#: A word 3-gram whose hash60 under the MinHash seeds "mh0:" and "mh1:" is
#: below 2^60 / 2000 for both (found by a one-off search over
#: "zq{i} zr{i} zs{i}"): every document containing it almost surely takes
#: it as the minimum of both band-0 rows, so all such documents share ONE
#: band-0 bucket — the hot bucket.
HOT_WORDS = ["zq3643466", "zr3643466", "zs3643466"]


def documents(seed: int, n_background: int, n_clusters: int, n_hot: int, out_path: Path):
    """Write a JSON-lines document corpus (doc_id, text) → (docs, clusters,
    hot). ``clusters`` lists the planted near-duplicate families: a
    300-word base document plus 2-3 variants with one word substituted
    each (pairwise Jaccard >= 0.96 on word 3-grams, so the default 4x2
    MinHash banding misses a pair with probability < 4e-5, and a member
    only when several of its pairs miss together). ``n_hot`` documents
    carry :data:`HOT_WORDS` inside otherwise unrelated text, so they fill
    one hot MinHash band bucket whose candidate pairs mostly fail
    verification; ``hot`` lists their ids."""
    rng = random.Random(seed * 104729 + 3)
    vocab = [f"w{i:05d}" for i in range(20_000)]
    docs, clusters = [], []

    def add(words):
        docs.append({"doc_id": len(docs) + 1, "text": " ".join(words)})
        return len(docs)

    for _ in range(n_clusters):
        base = [rng.choice(vocab) for _ in range(300)]
        members = [add(base)]
        for _ in range(rng.randint(2, 3)):
            v = list(base)
            v[rng.randrange(5, 295)] = rng.choice(vocab)
            members.append(add(v))
        clusters.append(members)
    hot = []
    for _ in range(n_hot):
        words = [rng.choice(vocab) for _ in range(rng.randint(30, 45))]
        at = rng.randrange(len(words))
        hot.append(add(words[:at] + HOT_WORDS + words[at:]))
    for _ in range(n_background):
        add([rng.choice(vocab) for _ in range(rng.randint(30, 80))])
    order = list(range(len(docs)))
    rng.shuffle(order)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    with open(out_path, "w") as fh:
        for i in order:
            fh.write(json.dumps(docs[i]) + "\n")
    return docs, clusters, hot
