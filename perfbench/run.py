#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

Run from the root of a checkout. The run works inside ``.perfbench_work/``
(created and removed by the run), which is also the Spark driver's working
directory, so executor Python workers can only import the engine through
``session.ship_package``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in BENCHMARK.json.

``--trace 1`` splits the measured time in three passes: untraced, traced
(every layer-boundary call wrapped in a span, layers.py), untraced. It
prints the per-layer self-time table and the tracing overhead, writes the
spans to ``.perfbench_work/spans-<workload>-<seed>.jsonl``, and (for
``ingest``) adds one ``local[1]`` backfill as the single-core baseline.

The process started by the command only supervises: it runs the benchmark
in a child process and, once that ends, terminates and waits for every
process left behind (Spark's JVM, pyspark's Python worker daemon), so no
run leaves one behind.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

# Pin BLAS threads before numpy loads (duckdb, pandas and pyspark import
# it): parallelism comes from Spark tasks, not nested BLAS pools.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

#: set in the measuring child process; its absence marks the supervisor
CHILD_ENV = "PERFBENCH_CHILD"
if CHILD_ENV in os.environ:
    # only the child measures; the supervisor skips pandas, duckdb, pyspark
    import layers  # noqa: E402
    import workloads  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
#: set-up (session start, input generation, table build) runs this many
#: times; setup_s is the median, so the one cold JVM start does not set it
SETUP_REPS = 3
#: Linux prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def _env(work: Path, cores: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")


def start_spark(work: Path, cores: int):
    from haystack_traces_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'} -XX:-UsePerfData",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )


def stop_jvm() -> None:
    """Stop the Spark JVM and wait for it to end. The JVM exits when its
    stdin closes; without the wait it outlives this process for a moment."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name in parentheses may hold spaces: split after it
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def reap_descendants(grace_s: float = 20.0) -> None:
    """Terminate every remaining descendant and wait until each has ended:
    SIGTERM first, SIGKILL after ``grace_s``. Needs the subreaper flag, so
    that grandchildren whose parent died (pyspark's worker daemon moves to
    its own process group) come back to this process."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise() -> int:
    """Run the benchmark in a child process, pass its exit code on, and do
    not return before every process it started has ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("prctl(PR_SET_CHILD_SUBREAPER) failed", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]],
                             env={**os.environ, CHILD_ENV: "1"})

    def forward(signum, _frame):
        child.send_signal(signum)

    for signum in (signal.SIGTERM, signal.SIGINT):
        signal.signal(signum, forward)
    try:
        code = child.wait()
    finally:
        reap_descendants()
    return code


def measure(wl, spark, seconds: float, tracer=None, ops=None):
    """Closed loop: ``wl.clients`` threads each send the next request only
    after the previous one returned, until ``seconds`` have passed and the
    requests sent fill whole cycles of the mix (``wl.cycle``). A one-shot
    workload runs exactly one job.
    → (samples, elapsed) with samples = [(req, result|exception, wall_s)]."""
    reqs = wl.requests()
    lock = threading.Lock()
    samples = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    last_end = [t_start]
    sent = [0]

    def client():
        while True:
            with lock:
                if wl.one_shot and sent[0] == 1:
                    return
                if time.perf_counter() >= deadline and sent[0] % wl.cycle == 0:
                    return
                req = next(reqs)
                sent[0] += 1
            root = None
            if tracer is not None:
                root = tracer.open(f"bench.{req['kind']}")
                group = f"op{root['rid']}"
                spark.sparkContext.setJobGroup(group, req["kind"])
                if wl.clients == 1:
                    tracer.adopt_orphans()
            t0 = time.perf_counter()
            try:
                res = wl.run(req)
            except Exception as e:  # counted as a failed operation
                res = e
            t1 = time.perf_counter()
            if root is not None:
                tracer.close(root)
                with lock:
                    ops.append({"span": root, "group": group, "kind": req["kind"],
                                "result": res})
            with lock:
                samples.append((req, res, t1 - t0))
                last_end[0] = max(last_end[0], t1)

    threads = [threading.Thread(target=client) for _ in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, last_end[0] - t_start


def score(wl, samples):
    """→ (attempted, failed) with failed = raised + wrong answers."""
    ok = [(req, res) for req, res, _ in samples if not isinstance(res, Exception)]
    raised = len(samples) - len(ok)
    for req, res, _ in samples:
        if isinstance(res, Exception):
            print(f"op {req['kind']} raised:\n" + "".join(traceback.format_exception(res)),
                  file=sys.stderr)
    return len(samples), raised + wl.wrong(ok)


def e2e_metrics(wl, samples, elapsed, setup_s):
    ok = [(req, res, w) for req, res, w in samples if not isinstance(res, Exception)]
    lat = [w * 1000.0 for _, _, w in ok]
    items = sum(wl.items(req, res) for req, res, _ in ok)
    p, tail = layers.tail_ms(lat)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": statistics.median(lat) if lat else 0.0, "unit": "ms"},
        "items_per_s": {"value": items / elapsed if elapsed > 0 else 0.0, "unit": "1/s"},
    }
    # per-workload names (read_p50_ms, spans_per_s, ...), printed for
    # people; the JSON keeps the workload-independent names above
    named = {"setup_s": (setup_s, "s")}
    if wl.name == "search":
        named.update(read_p50_ms=(metrics["op_p50_ms"]["value"], "ms"),
                     read_tail_ms=(tail, f"ms (p{p:.1f}, n={len(lat)})"),
                     read_qps=(metrics["items_per_s"]["value"], "req/s"))
    elif wl.name == "ingest":
        named.update(spans_per_s=(metrics["items_per_s"]["value"], "spans/s"))
        if ok:
            tb = workloads.table_bytes(ok[-1][1])
            named.update(stored_bytes_per_span=(sum(tb.values()) / len(wl.rows), "bytes/span"))
    elif wl.name == "dedup":
        named.update(docs_per_s=(metrics["items_per_s"]["value"], "docs/s"))
    return metrics, named


def run_workload(args) -> int:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    cores = len(os.sched_getaffinity(0))
    _env(work, cores)
    sys.path.insert(0, str(ROOT))
    os.chdir(work)
    wl = workloads.WORKLOADS[args.workload](args.seed)
    spark = None
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                workloads.cleanup(work / f"setup{rep - 1}")
            t0 = time.perf_counter()
            spark = start_spark(work, cores)
            wl.setup(spark, work / f"setup{rep}")
            setup_times.append(time.perf_counter() - t0)
        setup_s = statistics.median(setup_times)
        t0 = time.perf_counter()
        if args.trace or not wl.one_shot:
            wl.warmup()
        warm_s = time.perf_counter() - t0

        if not args.trace:
            samples, elapsed = measure(wl, spark, args.seconds)
            t0 = time.perf_counter()
            wl.check_inputs(spark)
            attempted, failed = score(wl, samples)
            print(f"phases: setup {' '.join(f'{t:.2f}' for t in setup_times)} s, "
                  f"warm-up {warm_s:.2f} s, measure {elapsed:.2f} s, "
                  f"check {time.perf_counter() - t0:.2f} s")
            metrics, named = e2e_metrics(wl, samples, elapsed, setup_s)
            named["error_rate"] = (failed / attempted if attempted else 1.0, "failed/attempted")
            print(f"workload {wl.name} seed {args.seed}: "
                  f"{'correct' if failed == 0 else 'WRONG'} ({failed}/{attempted} failed)")
            for k, (v, u) in named.items():
                print(f"  {k:24s} {v:14.4f} {u}")
            print("named-metrics " + json.dumps(named))
        else:
            import perlayer

            # untraced, traced, untraced thirds: the two untraced passes
            # bracket the traced one, so warm-up drift does not read as
            # (negative) tracing overhead
            third = args.seconds / 3.0
            plain, _ = measure(wl, spark, third)
            tracer, ops = layers.Tracer(), []
            listener = perlayer.StreamProgress.attach(spark) if wl.name == "ingest" else None
            with layers.instrument(tracer):
                traced, _ = measure(wl, spark, third, tracer, ops)
            if listener is not None:
                listener.detach(spark)
            after, _ = measure(wl, spark, third)
            plain += after
            wl.check_inputs(spark)
            untraced_ms = [w * 1000.0 for _, r, w in plain if not isinstance(r, Exception)]
            offset = time.time() - time.perf_counter()
            records = layers.analyse(tracer, ops, layers.SparkCounters(spark), offset)
            table, summary = layers.self_time_table(records, untraced_ms)
            spans_path = work.parent / f"spans-{wl.name}-{args.seed}.jsonl"
            tracer.dump(spans_path)
            metrics = perlayer.collect(wl, tracer, ops, records, summary, listener, cores)
            attempted, failed = score(wl, plain + traced)
            if wl.name == "ingest":
                spark.stop()
                spark = start_spark(work, 1)
                wl.spark = spark
                t0 = time.perf_counter()
                wl.run({"kind": "backfill", "id": 10_000})
                metrics["streaming.single_core_spans_per_s"]["value"] = \
                    len(wl.rows) / (time.perf_counter() - t0)
            print(f"workload {wl.name} seed {args.seed} (traced, {len(records)} ops): "
                  f"{'correct' if failed == 0 else 'WRONG'} ({failed}/{attempted} failed)")
            print(table)
            print(f"spans written to {spans_path}")
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        os.chdir(ROOT)
        workloads.cleanup(work)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    rows = []
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        named = next(json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("named-metrics "))
        rows.append((name, res, named))
        print("\n".join(lines[:-1]))
    print()
    print(f"{'workload':10s} {'verdict':8s} {'metric':24s} value")
    for name, res, named in rows:
        verdict = "correct" if res["correct"] else "WRONG"
        for k, (v, unit) in named.items():
            print(f"{name:10s} {verdict:8s} {k:24s} {v:.4f} {unit}")
    return 0 if all(r["correct"] for _, r, _ in rows) else 1


def main() -> int:
    if CHILD_ENV not in os.environ:
        return supervise()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "haystack_traces_spark" / "__init__.py").is_file():
        print(f"no haystack_traces_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
