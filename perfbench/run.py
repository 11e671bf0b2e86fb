"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 14 --trace 0

Runs from any working directory: the engine is imported from the directory
that holds ``perfbench/``, and that directory is also put on the Spark Python
workers' path.  The session is sized from the host: ``local[nproc]`` and a
driver memory of a quarter of ``MemTotal`` (1-8 GB).

Set-up runs three times and its median is ``setup_s``: the first set-up
pays the fresh JVM's first-use costs, the median drops it.  The window is a
closed loop with one client that repeats one read-only call, with new
seeded arguments each time, for ``--seconds`` seconds; its leading warm-up
calls are left out of the timing.  ``items_per_s`` is the median call's
items over its time, so a faster engine makes more calls but each one reads
the same index state.  A traced run then calls the layers no window reads.
Every result is checked against a reference that shares no code with the
engine.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it is the run record,
which also holds the workload's named metrics (``named``) and, when traced,
the per-function layer table (``layers``).  Each run appends its record to
``.perfbench/runs.jsonl``; a traced run also writes its spans and layer table
to ``.perfbench/trace/``.
"""

from __future__ import annotations

import argparse
import atexit
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
MIN_TIMED = 3  # timed window calls, however short --seconds is
MB = 1024.0 * 1024.0

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "index_bytes_per_text_byte": "ratio"}
PER_LAYER = {
    "span_coverage": "ratio", "driver_s": "s", "jobs": "count", "tasks": "count",
    "task_cpu_s": "s", "shuffle_write_mb": "MB",
    "py_mb_to_worker": "MB", "py_mb_from_worker": "MB", "task_skew": "ratio",
    "codec.decode_mb_per_s": "MB/s", "codec.encode_mb_per_s": "MB/s",
    "peak_rss_mb": "MB", "python_workers.peak_rss_mb": "MB", "cpu_ms_per_item": "ms",
    "traced.items_per_s": "1/s", "traced.op_p50_ms": "ms",
}
# the metric names of the benchmark's design, with the workload each is
# measured on; a run reports null for the ones its workload does not measure
NAMED = {
    "setup_s": "s", "ops_failed_frac": "fraction", "peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s", "gram_build_docs_per_s": "docs/s",
    "curate_docs_per_s": "docs/s", "index_bytes_per_text_byte": "ratio",
    "gram_index_bytes_per_text_byte": "ratio", "bm25_qps": "queries/s",
    "substring_patterns_per_s": "patterns/s", "regex_patterns_per_s": "patterns/s",
    "approx_patterns_per_s": "patterns/s", "read_p50_ms": "ms",
    "read_p90_ms": "ms", "write_p50_ms": "ms",
}


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # a quarter of the host, 1-8 GB: the host is shared and the inputs small
    mem_gb = max(1, min(8, total_kb // (4 * 1024 * 1024)))
    return {"cpus": cpus, "driver_memory": f"{mem_gb}g"}


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


class Ctx:
    """What a workload needs from the runner: the session, the tracer, the
    seed and fresh directories."""

    def __init__(self, spark, tracer, work: str, seed: int, cpus: int, trace: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.segments = seed, cpus
        self.call_stats = trace  # ask for planner stats only when tracing
        self.phase = "setup"
        self.notes: dict[str, list] = {}
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def call(self, name: str, fn):
        with self.tracer.span(name, phase=self.phase):
            return fn()

    def note(self, name: str, value) -> None:
        self.notes.setdefault(name, []).append(value)


def posting_bytes(index_root: str) -> dict[str, int]:
    """term -> compressed posting bytes, over every generation."""
    import pyarrow.parquet as pq

    cols = ["term", "doc_bytes", "tf_bytes", "dl_bytes", "pos_bytes"]
    t = pq.read_table(os.path.join(index_root, "postings"), columns=cols).to_pydict()
    out: dict[str, int] = {}
    for i, term in enumerate(t["term"]):
        out[term] = out.get(term, 0) + sum(t[c][i] or 0 for c in cols[1:])
    return out


def codec_rates(index_root: str, min_s: float = 0.3) -> dict:
    """MB/s of the public codec functions on the index's own doc blobs."""
    import pyarrow.parquet as pq

    from full_text_index_spark.codec import decode_gaps, encode_gaps

    blobs = [b for b in pq.read_table(os.path.join(index_root, "postings"),
                                      columns=["doc_blob"]).column(0).to_pylist() if b]
    blobs = sorted(blobs, key=lambda b: (-len(b), b))[:2000]
    nbytes = sum(len(b) for b in blobs)
    arrays = [decode_gaps(b) for b in blobs]

    def rate(fn, items) -> float:
        done, t0 = 0, time.perf_counter()
        while True:
            for x in items:
                fn(x)
            done += nbytes
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return done / MB / dt

    return {"codec.decode_mb_per_s": rate(decode_gaps, blobs),
            "codec.encode_mb_per_s": rate(encode_gaps, arrays)}


def next_rep(path: str) -> int:
    """A monotone rep counter over the records file (read under a lock)."""
    with open(path + ".lock", "a") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        last = 0
        if os.path.exists(path):
            with open(path) as fh:
                for line in fh:
                    try:
                        last = max(last, int(json.loads(line).get("rep", 0)))
                    except ValueError:
                        continue
        return last + 1


def stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process under this one, and wait
    until each has ended."""
    from spans import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while True:  # reap what is left
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def count_failed(pending) -> int:
    """Operations that raised or whose result its reference rejects."""
    failed = 0
    for op, out, err in pending:
        ok = False
        if err is None:
            try:
                ok = bool(op.check(out))
            except Exception as exc:
                err = repr(exc)
        if not ok:
            failed += 1
            print(f"perfbench: {op.kind} failed: {err or 'wrong result'}", file=sys.stderr)
    return failed


def rate(calls: list[dict]) -> float:
    """Items per second of the median call: median items over median time."""
    return (statistics.median(o["items"] for o in calls)
            / statistics.median(o["s"] for o in calls))


def named_metrics(wl, timed: list[dict], extras: list[dict], calls: list[dict]) -> dict:
    """The design's named metrics that this run measures; ``None`` for the
    ones only a traced run's extra calls measure."""

    def per_call(name, items):
        ts = [c["end"] - c["start"] for c in calls if c["name"] == name]
        return items / statistics.median(ts)

    def extra_rate(kind):
        sel = [o for o in extras if o["kind"] == kind]
        return rate(sel) if sel else None

    if wl.name == "search_batch":
        writes = [o["s"] * 1000 for o in extras if o["kind"] in ("delete", "append")]
        return {
            "build_docs_per_s": per_call("build.build_index", wl.n_docs),
            "index_bytes_per_text_byte": wl.index_ratio(),
            "bm25_qps": rate(timed),
            "write_p50_ms": statistics.median(writes) if writes else None,
            "curate_docs_per_s": extra_rate("curate"),
            "minhash_lsh_docs_per_s": extra_rate("minhash_lsh_pairs"),
            **{f"build.build_index.phase_{k}_s": v
               for k, v in wl.meta.get("phase_seconds", {}).items()},
        }
    return {
        "gram_build_docs_per_s": per_call("substring.build_gram_index", wl.n_docs),
        "gram_index_bytes_per_text_byte": wl.index_ratio(),
        "substring_patterns_per_s": rate(timed),
        "regex_patterns_per_s": extra_rate("regex"),
        "approx_patterns_per_s": extra_rate("approx"),
    }


def layer_metrics(wl, ctx, spans, events_dir, timed, peak_workers) -> dict:
    """Per-layer metrics from the spans joined to Spark's event log.  The
    declared counts and times are per timed window call."""
    from spans import layer_table, read_event_log

    logs = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    jobs, tasks = read_event_log(logs[0])
    table = layer_table(spans, jobs, tasks)
    window_calls = [s for s in spans if s.get("phase") == "window" and s["parent"]]
    window_table = layer_table(window_calls, jobs, tasks)
    out = {m: sum(r[m] / r["calls"] for r in window_table.values()) for m in
           ("driver_s", "jobs", "tasks", "task_cpu_s", "shuffle_write_mb",
            "py_mb_to_worker", "py_mb_from_worker")}
    timed_s = sum(o["s"] for o in timed)
    out["span_coverage"] = sum(r["wall_s"] for r in window_table.values()) / timed_s
    for name, row in window_table.items():
        out[f"{name}.window_share"] = row["wall_s"] / timed_s
    out["task_skew"] = max((r["task_skew"] for r in window_table.values()), default=1.0)
    out["python_workers.peak_rss_mb"] = peak_workers / MB
    out.update(codec_rates(wl.root))
    sizes = posting_bytes(wl.root)
    batches = ctx.notes.get("bm25_terms", [])
    if batches:
        out["query.bm25_topk.posting_mb_touched"] = sum(
            sizes.get(t, 0) for terms in batches for t in terms) / MB / len(batches)
    stats = ctx.notes.get("substring.substring_count", [])
    if stats:
        out["substring.substring_count.plans"] = sorted({s.get("plan", "") for s in stats})
        pattern_sets = ctx.notes["substring_patterns"]
        out["substring.substring_count.decoded_mb"] = sum(
            sizes.get(p[i:i + 3], 0) for pats in pattern_sets
            for p in pats for i in range(len(p) - 2)) / MB / len(pattern_sets)
    for name, row in table.items():
        if "." in name:  # public calls; operation spans are named by kind
            for m, v in row.items():
                out[f"{name}.{m}"] = v
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "full_text_index_spark")):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sizing = host_sizing()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    atexit.register(shutil.rmtree, work, True)
    # the Spark Python workers import the engine too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = sizing["driver_memory"]
    records = os.path.join(OUT, "runs.jsonl")
    record = {
        "session": os.environ.get("PERFBENCH_SESSION") or uuid.uuid4().hex[:12],
        "rep": next_rep(records), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, **sizing,
        # a run of this benchmark leaves a 1-min load of up to about nproc
        # behind it, so back-to-back runs start there; twice that means
        # someone else is busy too
        "load_gate": 2.0 * sizing["cpus"], "load_start": load1(),
        "started_at": time.time(),
    }
    # a run started on a busy host is kept for the record but never merged
    record["rejected"] = record["load_start"] > record["load_gate"]

    from spans import RssSampler, Tracer

    sampler = RssSampler()
    sampler.start()
    from full_text_index_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(f"perfbench-{args.workload}", cpus=sizing["cpus"],
                      shuffle_partitions=sizing["cpus"], extra_conf=conf)
    record["session_s"] = time.time() - record["started_at"]
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        ctx = Ctx(spark, tracer, work, args.seed, sizing["cpus"], bool(args.trace))
        wl = WORKLOADS[args.workload](ctx)
        pending = []

        def run_op(op) -> dict:
            with tracer.span(op.kind, request=len(pending), phase=ctx.phase) as s:
                try:
                    out, err = op.run(), None
                except Exception as exc:  # a failed operation counts, the run goes on
                    out, err = None, repr(exc)
            pending.append((op, out, err))
            return {"kind": op.kind, "items": op.items, "s": s["end"] - s["start"]}

        ctx.phase, setup_s, failed = "setup", [], 0
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            result = wl.setup()
            setup_s.append(time.perf_counter() - t0)
            if not wl.check_setup(*result):
                failed += 1
                print("perfbench: setup produced a wrong result", file=sys.stderr)

        # the window: warm-up calls, then timed calls until the next one
        # would end more than --seconds after the first, and at least
        # MIN_TIMED of them
        ctx.phase = "warmup"
        done = [run_op(wl.window_op(i)) for i in range(wl.warmup)]
        ctx.phase, timed = "window", []
        cpu_start, ticks_start, t_start = sampler.cpu_s(), cpu_ticks(), time.perf_counter()
        while True:
            timed.append(run_op(wl.window_op(len(done) + len(timed))))
            next_end = time.perf_counter() - t_start + statistics.median(o["s"] for o in timed)
            if len(timed) >= MIN_TIMED and next_end > args.seconds:
                break
        window_s = time.perf_counter() - t_start
        window_cpu_s = sampler.cpu_s() - cpu_start
        steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
        # CPU time the hypervisor gave to other guests while the window ran
        record["window_steal_share"] = steal / total if total else 0.0

        ctx.phase = "extra"
        extras = [run_op(op) for op in wl.extras()] if args.trace else []

        t0 = time.perf_counter()
        failed += count_failed(pending)
        record["check_s"] = time.perf_counter() - t0
        attempted = len(pending) + SETUP_REPS

        calls = [s for s in tracer.spans if s["parent"] is not None or s.get("phase") == "setup"]
        e2e = {
            "setup_s": statistics.median(setup_s),
            "items_per_s": rate(timed),
            "index_bytes_per_text_byte": wl.index_ratio(),
        }
        op_p50_ms = statistics.median(o["s"] for o in timed) * 1000
        cpu_ms_per_item = window_cpu_s * 1000 / sum(o["items"] for o in timed)
        named = named_metrics(wl, timed, extras, calls)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        record["stop_s"] = time.perf_counter() - t0
    sampler.sample()
    sampler.stop()
    named["peak_rss_mb"] = sampler.peak_total / MB
    named["setup_s"] = e2e["setup_s"]
    named["ops_failed_frac"] = failed / attempted
    record.update({
        "load_end": load1(), "attempted": attempted, "failed": failed,
        "setup_runs_s": setup_s, "window_s": window_s, "warmup": done, "window": timed,
        "extras": extras,
        "end_to_end": e2e, "op_p50_ms": op_p50_ms, "cpu_ms_per_item": cpu_ms_per_item,
        "named": {k: {"value": named.get(k), "unit": u} for k, u in NAMED.items()},
        "named_extra": {k: v for k, v in named.items() if k not in NAMED},
    })

    layers = {}
    if args.trace:
        layers = layer_metrics(wl, ctx, tracer.spans, events, timed, sampler.peak_workers)
        layers["traced.items_per_s"] = e2e["items_per_s"]
        layers["traced.op_p50_ms"] = op_p50_ms
        layers["peak_rss_mb"] = named["peak_rss_mb"]
        layers["cpu_ms_per_item"] = cpu_ms_per_item
        record["layers"] = layers
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-rep{record['rep']}.json"
        with open(os.path.join(OUT, "trace", name), "w") as fh:
            json.dump({"record": record, "spans": tracer.spans}, fh, indent=1)

    record["wall_s"] = time.time() - record["started_at"]
    with open(records, "a") as fh:
        fh.write(json.dumps(record) + "\n")

    units, values = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
