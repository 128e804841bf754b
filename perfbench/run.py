"""Benchmark entry point.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Run from the repository root. One process: generates the seeded inputs
into a fresh directory under ``.perfbench/``, starts the engine's tuned
session on ``local[<cores>]``, runs the workload's setup, repeats fixed
rounds of work until ``--seconds`` have passed (at least one round),
checks the outputs, and prints ONE JSON line on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run with spans, job groups, layer-boundary checkpoints and the Spark event
log on; it reports the per-layer metrics and the tracing overhead. A
detail line (every workload metric with its unit, input sizes, session
settings) goes to stderr, with the JVM's logs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes per scale; "tiny" is the sf0.001-sized self-test scale.
SIZES = {
    "full": {
        "olap_sf": 0.03,
        "web_base_docs": 400, "web_k": 2, "web_index_docs": 300,
        "web_shards": 2, "web_shard_docs": 150, "web_warm_docs": 50,
    },
    "tiny": {
        "olap_sf": 0.001,
        "web_base_docs": 200, "web_k": 2, "web_index_docs": 100,
        "web_shards": 2, "web_shard_docs": 50, "web_warm_docs": 50,
    },
}

END_TO_END = {"setup_s": "s", "wall_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.gc_s": "s",
    "catalog.scan_s": "s", "catalog.scan_bytes": "B", "catalog.gc_s": "s",
    "operators.self_s": "s", "operators.tasks": "count",
    "operators.shuffle_write_bytes": "B", "operators.spill_bytes": "B", "operators.gc_s": "s",
    "text.self_s": "s", "text.rows_out": "count", "text.tokens_out": "count", "text.gc_s": "s",
    "dedup.signature_s": "s", "dedup.candidate_s": "s", "dedup.candidate_pairs": "count",
    "dedup.useful_pair_ratio": "ratio", "dedup.gc_s": "s",
    "graph.self_s": "s", "graph.rounds": "count", "graph.driver_twin": "count", "graph.gc_s": "s",
    "similarity.build_s": "s", "similarity.probe_s": "s",
    "similarity.candidates_per_query": "count", "similarity.driver_twin": "count",
    "similarity.gc_s": "s",
    "store.build_s": "s", "store.hits": "count", "store.misses": "count", "store.bytes": "B",
    "store.gc_s": "s",
    "streaming.batch_s": "s", "streaming.plan_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.new_pairs": "count", "streaming.gc_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "B", "sinks.files_written": "count",
    "sinks.gc_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
# workloads of the four-workload design that do not run on their own, with
# the reason; named in every detail line
DROPPED = {
    "ann_serve": "IVF + k-NN graph builds (~63 s) and ~4 s query batches do not fit "
                 "the time budget of a full measurement",
    "crawl_ingest": "folded into webtext_build (its micro-batches are that workload's "
                    "ingest ops): two workloads leave room for runs long enough to be steady",
}


def process_start_time() -> float:
    """Wall-clock time at which this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> tuple[str | None, float | None]:
    """The highest ladder percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    for p in TAIL_LADDER:
        if len(xs) * (100.0 - p) / 100.0 >= 10:
            return f"p{p:g}", xs[int(round(p / 100.0 * (len(xs) - 1)))]
    return None, None


class Ctx:
    """What a workload needs from the run: session, tracer, seed, sizes."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scale: str, run_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.scale, self.run_dir = traced, scale, run_dir
        self.spark = None
        self.tracer = None
        self.timed_rounds = 0

    def size(self, key: str):
        return SIZES[self.scale][key]


def run(ctx: Ctx, t_proc: float) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail)."""
    sys.path[:0] = [ROOT, HERE]
    from spider_spark.session import get_spark  # absent outside a checkout

    from spans import LAYERS, Tracer, event_log_metrics
    from workloads import WORKLOADS

    tr = ctx.tracer = Tracer(ctx.traced, f"{ctx.workload}-{ctx.seed}")
    master = f"local[{len(os.sched_getaffinity(0))}]"
    # C1 only: in a run this short, C2 compilation takes about as much CPU
    # as the work itself and keeps the round time falling for minutes
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ctx.run_dir}/tmp -XX:TieredStopAtLevel=1"}
    if ctx.traced:
        os.makedirs(os.path.join(ctx.run_dir, "eventlog"))
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": "file://" + os.path.join(ctx.run_dir, "eventlog")}
    with tr.span("session", "start"):
        spark = ctx.spark = get_spark(f"perfbench-{ctx.workload}", master=master, extra_conf=conf)
    tr.sc = spark.sparkContext
    session_s = time.time() - t_proc
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    wl = WORKLOADS[ctx.workload](ctx)
    wl.setup()
    setup_s = time.time() - t_proc

    if ctx.traced:
        # the tracing-overhead reference: one round with spans and boundary
        # checkpoints off
        tr.traced = False
        t0 = time.perf_counter()
        wl.round()
        reference_s = time.perf_counter() - t0
        tr.traced = True
        # per-layer numbers cover the timed rounds only
        tr.spans[:] = [s for s in tr.spans if s["layer"] == "session"]
        tr.counts.clear()

    ops: list[tuple[str, float]] = []
    rounds: list[float] = []
    failed_rounds = 0
    t_run = time.perf_counter()
    while not rounds or time.perf_counter() - t_run < ctx.seconds:
        t0 = time.perf_counter()
        try:
            ops += wl.round()
        except Exception as exc:  # noqa: BLE001 - a failed round is counted, not fatal
            print(f"round failed: {exc!r}")
            failed_rounds += 1
        rounds.append(time.perf_counter() - t0)
    ctx.timed_rounds = len(rounds)
    if ctx.traced:
        # the check calls the same (wrapped) layer functions; its work must
        # not land in the per-round layer numbers
        tr.traced = False

    try:
        wrong = wl.check()
    except Exception as exc:  # noqa: BLE001 - a failed check fails every op
        print(f"check failed: {exc!r}")
        wrong = [name for name, _ in ops]
    attempted = len(ops) + failed_rounds
    failed = failed_rounds + sum(1 for name, _ in ops if name in wrong)
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    jvm_gc_s = sum(b.getCollectionTime() for b in gc_beans) / 1e3

    op_s = wl.op_latencies(ops)
    # one round's work, as the sum over its ops of each op's median seconds
    by_op: dict[str, list[float]] = {}
    for name, s in ops:
        by_op.setdefault(name, []).append(s)
    wall_s = sum(statistics.median(v) for v in by_op.values()) if ops else statistics.median(rounds)
    tail_name, tail_s = tail(op_s)
    p50_s = statistics.median(op_s) if op_s else wall_s
    detail = {
        "workload": ctx.workload, "seed": ctx.seed, "master": master,
        "shuffle_partitions": shuffle_partitions, "rounds": len(rounds), "ops": len(op_s),
        "round_s": rounds, "op_s": op_s,
        "op_p50_s": {"value": p50_s, "unit": "s", "n": len(op_s)},
        "op_tail_s": {"percentile": tail_name, "value": tail_s, "unit": "s", "n": len(op_s)},
        "failed_ratio": {"value": failed / max(1, attempted), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "setup_phases_s": {"to_session": session_s, **wl.setup_phases},
        "inputs": wl.inputs, "wrong_outputs": sorted(set(wrong)),
        "dropped_workloads": DROPPED,
    }
    if ctx.workload == "olap":
        detail["queries_per_s"] = {"value": len(by_op) / wall_s, "unit": "1/s"}
    else:
        # streamed docs plus the corpus the build reads
        docs = wl.n_stream_docs + wl.n_docs
        detail["docs_per_s"] = {"value": docs / wall_s, "unit": "1/s"}
        detail["kept_digest"] = wl.digest

    if not ctx.traced:
        units = END_TO_END
        metrics = {"setup_s": setup_s, "wall_s": wall_s}
    else:
        units = PER_LAYER
        spark.stop()  # flushes the event log
        ctx.spark = None
        ev = event_log_metrics(os.path.join(ctx.run_dir, "eventlog"),
                               {s["id"]: s["layer"] for s in tr.spans})
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics["session.start_s"] = tr.total("session")
        metrics["session.gc_s"] = jvm_gc_s
        for layer in LAYERS[1:]:
            metrics[f"{layer}.gc_s"] = ev.get(layer, {}).get("gc_s", 0.0) / len(rounds)
        metrics |= wl.layers(ev)
        metrics["trace.wall_s"] = wall_s
        metrics["trace.overhead_s"] = wall_s - reference_s
        detail["spans"] = len(tr.spans)
        detail["span_s"] = {f"{s['layer']}:{s['name']}": 0.0 for s in tr.spans}
        for s in tr.spans:
            detail["span_s"][f"{s['layer']}:{s['name']}"] += s["end"] - s["start"]
    result = {
        "correct": not wrong and not failed_rounds,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    detail["metrics"] = result["metrics"]
    return result, detail


def stop_jvm(ctx: Ctx) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description="spider-spark benchmark")
    ap.add_argument("--workload", required=True, choices=["olap", "webtext_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    # stdout carries exactly one JSON line: keep a private dup of it and
    # point fd 1 at stderr before the JVM starts, so no console output
    # can reach the parsed stream
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # a fresh directory per run holds inputs, artifact stores, Spark
    # scratch space and temp files: nothing is read from an earlier run
    run_dir = os.path.join(os.getcwd(), ".perfbench",
                           f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), args.scale, run_dir)
    try:
        result, detail = run(ctx, t_proc)
    finally:
        stop_jvm(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    os.close(real_stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
