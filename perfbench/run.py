"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bi_gold --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. Earlier lines record the seed, the host load, the tail
percentile (when the run holds more than ten samples) and, in a traced
run, which end-to-end metric each per-layer metric should move.
Everything the run writes stays under ``.perfbench/`` in the working
directory and is removed at exit, except the last untraced result per
workload and seed, which a traced run reads to report its tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "gravity_books_datalakehouse_spark")
ENTRY = os.path.join(ROOT, "__spark_entry__.py")

#: Per-layer metric → (unit, end-to-end metric it should move, workload
#: where it does most of its work). The ledger and self times are means
#: per call; the rest as named.
PER_LAYER = {
    "engine.plan_s": ("s", "latency_p50_s", "bi_gold"),
    "engine.stages": ("count", "latency_p50_s", "bi_gold"),
    "engine.tasks": ("count", "latency_p50_s", "bi_gold"),
    "engine.sched_gap_s": ("s", "latency_p50_s", "bi_gold"),
    "engine.skipped_stage_ratio": ("ratio", "latency_p50_s", "bi_gold"),
    "engine.failed_tasks": ("count", "correct", "all"),
    "engine.fetch_s": ("s", "latency_p50_s", "bi_gold"),
    "driver.result_rows": ("count", "latency_p50_s", "bi_gold"),
    "executor.run_s": ("s", "throughput_per_s", "curate_docs"),
    "executor.cpu_s": ("s", "throughput_per_s", "curate_docs"),
    "executor.gc_s": ("s", "throughput_per_s", "curate_docs"),
    "executor.deser_s": ("s", "throughput_per_s", "curate_docs"),
    "shuffle.write_mb": ("MB", "throughput_per_s", "curate_docs"),
    "shuffle.write_s": ("s", "throughput_per_s", "curate_docs"),
    "shuffle.fetch_wait_s": ("s", "throughput_per_s", "curate_docs"),
    "spill.mb": ("MB", "throughput_per_s", "curate_docs"),
    "operators.dedup.self_s": ("s", "throughput_per_s", "curate_docs"),
    "operators.similarity.self_s": ("s", "throughput_per_s", "curate_docs"),
    "operators.text.self_s": ("s", "throughput_per_s", "curate_docs"),
    "memo.cold_extra_s": ("s", "throughput_per_s", "curate_docs"),
    "plans.star.self_s": ("s", "latency_p50_s", "bi_gold"),
    "plans.tpch_queries.self_s": ("s", "latency_p50_s", "bi_gold"),
    "plans.advanced_queries.self_s": ("s", "latency_p50_s", "bi_gold"),
    "streaming.event_queries.self_s": ("s", "latency_p50_s", "bi_gold"),
    "session.start_s": ("s", "setup_s", "all"),
    "plans.star.build_s": ("s", "setup_s", "bi_gold"),
    "sources.snapshots.commit_s": ("s", "latency_p50_s", "curate_docs"),
    "sources.compaction.s": ("s", "latency_p50_s", "curate_docs"),
    "sources.bytes_written_mb": ("MB", "latency_p50_s", "curate_docs"),
    "sources.files_written": ("count", "latency_p50_s", "curate_docs"),
    "sources.write_amp": ("ratio", "latency_p50_s", "curate_docs"),
    "peak_rss_mb": ("MB", "throughput_per_s", "all"),
    "jvm.heap_used_mb": ("MB", "peak_rss_mb", "all"),
    "jvm.heap_drift_mb": ("MB", "peak_rss_mb", "all"),
    "trace.overhead_s": ("s", "latency_p50_s", "all"),
}

#: End-to-end metric → unit. ``latency_p50_s`` is the median operation
#: latency: a query (bi_gold) or a whole pipeline pass (curate_docs).
#: ``throughput_per_s`` is items (queries, documents) per pass over the
#: median pass wall, so a host stall in one pass does not move it.
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}


def _fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jvms() -> list[int]:
    """PIDs of running Spark driver JVMs."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry))
    return pids


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def isolate(work_dir: str) -> None:
    """Keep Spark's and Python's scratch files under ``work_dir`` and put
    the repository root on the Python workers' import path."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def shutdown_spark() -> None:
    """Stop the session and the JVM, and wait for every process they
    started to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.ledger import process_tree

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def end_to_end(run, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(run.latencies),
        "throughput_per_s": run.items_per_pass / median(run.pass_s),
    }


def latency_tail(latencies: list[float]) -> dict:
    """The highest percentile with ten samples beyond it, with its sample
    count; null when the run holds too few samples for one."""
    from perfbench.ledger import TAIL_BEYOND, tail

    if len(latencies) <= TAIL_BEYOND:
        return {"latency_tail_s": None, "latency_tail_pct": None, "samples": len(latencies)}
    value, pct = tail(latencies)
    return {"latency_tail_s": value, "latency_tail_pct": round(pct, 1), "samples": len(latencies)}


def per_layer(run, session_start_s: float, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.ledger import LEDGER_KEYS

    out = {k: 0.0 for k in PER_LAYER}
    calls = max(1, run.ledger_calls)
    for k in LEDGER_KEYS + ("driver.result_rows",):
        out[k] = run.ledger.get(k, 0.0) / calls
    spans = run.tracer.self_times()
    counts: dict[str, int] = {}
    for s in run.tracer.spans:
        counts[s.name] = counts.get(s.name, 0) + 1
    for name, total in spans.items():
        key = "engine.fetch_s" if name == "engine.fetch" else f"{name}.self_s"
        if key in out:
            out[key] = total / counts[name]
    for key, values in run.extra.items():
        if key in out:
            out[key] = median(values)
    out["session.start_s"] = session_start_s
    out["peak_rss_mb"] = peak_rss_mb
    if run.heap_mb:
        out["jvm.heap_used_mb"] = max(run.heap_mb)
        out["jvm.heap_drift_mb"] = run.heap_mb[-1] - run.heap_mb[0]
    out["trace.overhead_s"] = run.trace_s / calls
    return out


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(PACKAGE_DIR) and os.path.isfile(ENTRY)):
        _fail(f"the package and __spark_entry__.py must sit in {ROOT}", 2)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", 2)
    others = spark_jvms()
    if others:
        _fail(f"another Spark JVM is running (pid {others}); run solo", 3)

    base = os.path.join(os.getcwd(), ".perfbench")
    work_dir = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work_dir, ignore_errors=True)
    isolate(work_dir)
    load_before = loadavg()

    import __spark_entry__ as entry

    from gravity_books_datalakehouse_spark.session import get_spark
    from perfbench.ledger import RssSampler, Tracer
    from perfbench.workloads import Checker, Run

    cores = len(os.sched_getaffinity(0))
    starts: list[float] = []

    def new_session():
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
        starts.append(time.perf_counter() - t0)
        return spark

    rss = RssSampler()
    if args.trace:
        # The untraced run reads only the per-process peaks at the end,
        # so no sampling thread competes with the timed loop.
        rss.start()
    run = Run(
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        state_dir=os.path.join(work_dir, "data"),
        new_session=new_session,
        tracer=Tracer(enabled=False),
        checker=Checker(entry.oracle_sql()),
    )
    try:
        WORKLOADS[args.workload](run, entry.queries())
        t_loop_end = time.perf_counter()
        peak_rss = rss.stop()
        run.checker.run()
        t_checked = time.perf_counter()
    finally:
        rss.stop()
        shutdown_spark()
    # Set-up is everything before the first sample, with the repeated
    # set-ups counted once at their median. The JVM launch inside the
    # first set-up is paid once per deployment, so it is kept whole.
    setup_total = run.loop_start - t_start
    repeated = [run.setups[0] - starts[0]] + run.setups[1:]
    setup_s = setup_total - sum(repeated) + median(repeated)

    for p in run.checker.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        **latency_tail(run.latencies),
        "setups_s": [round(s, 3) for s in run.setups],
        "setup_total_s": round(setup_total, 3),
        "warmup_s": round(run.warmup_s, 3),
        "peak_rss_mb": round(peak_rss, 1),
        "session_start_s": round(starts[0], 3),
        "loop_s": round(t_loop_end - run.loop_start, 3),
        "pass_s": [round(x, 3) for x in run.pass_s],
        "check_s": round(t_checked - t_loop_end, 3),
        "teardown_s": round(time.perf_counter() - t_checked, 3),
        "process_s": round(time.perf_counter() - t_start, 3),
        **run.info,
        "op_median_s": {k: round(median(v), 3) for k, v in sorted(run.by_name.items())},
    }
    print(json.dumps(info))

    saved = os.path.join(base, f"untraced-{args.workload}-s{args.seed}.json")
    if args.trace:
        metrics = per_layer(run, starts[0], peak_rss)
        units = {k: v[0] for k, v in PER_LAYER.items()}
        for k, (unit, moves, where) in PER_LAYER.items():
            print(f"layer {k:34s} {metrics[k]:14.6f} {unit:6s} moves {moves} on {where}")
        if os.path.isfile(saved):
            with open(saved) as fh:
                plain = json.load(fh)
            traced_p50 = median(run.latencies)
            print(json.dumps({
                "tracing_overhead": {
                    "latency_p50_s_untraced": plain["latency_p50_s"],
                    "latency_p50_s_traced": traced_p50,
                    "ratio": traced_p50 / plain["latency_p50_s"],
                    "ledger_read_s_per_call": metrics["trace.overhead_s"],
                }
            }))
    else:
        metrics = end_to_end(run, setup_s)
        units = END_TO_END
        with open(saved, "w") as fh:
            json.dump(metrics, fh)
    shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.checker.failed == 0,
        "attempted": run.checker.attempted,
        "failed": run.checker.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
