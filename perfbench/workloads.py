"""The benchmark's workloads: each sets up, warms up, runs a closed loop
with one client for the measured seconds, and checks every output.

A workload talks to the program only through ``__spark_entry__.queries()``
/ ``oracle_sql()`` and the package's public functions. Spans wrap each of
those calls; in a traced run the engine ledger for the call's job group is
read after the call returns, outside the latency sample.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from statistics import median

import duckdb
import pandas as pd

from perfbench import gen
from perfbench.ledger import (
    Tracer,
    fold_ledger,
    jvm_heap_used_mb,
    ledger_problems,
    plan_seconds,
    read_stages,
)

PACKAGE = "gravity_books_datalakehouse_spark."


def layer_of(fn) -> str:
    """Layer span name of a registry function: its module path inside the
    package, e.g. ``plans.star`` or ``operators.dedup``."""
    return fn.__module__.removeprefix(PACKAGE)


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """The registry's comparison form: columns by name, floats rounded to
    4 dp, every value as text, rows sorted."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(4)
    out = out.astype(str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def digest(norm: pd.DataFrame) -> str:
    return hashlib.md5(
        ("|".join(norm.columns) + "\n" + norm.to_csv(index=False)).encode()
    ).hexdigest()


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@dataclass
class Checker:
    """Checks outputs after the timed loop: the first output of each
    (query, input) pair against its DuckDB oracle, repeats against the
    first output's digest."""

    oracle: dict[str, str]
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    _pending: list[tuple[str, str, str, pd.DataFrame]] = field(default_factory=list)

    def record(self, name: str, sf_dir: str, pdf: pd.DataFrame, key: str | None = None) -> None:
        """Queue one output. Outputs with the same ``key`` (default: the
        input directory) were computed from identical inputs."""
        self.attempted += 1
        self._pending.append((name, sf_dir, key or sf_dir, pdf))

    def error(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.fail(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def invariant(self, name: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"{name}: {detail}")

    def run(self) -> None:
        first: dict[tuple[str, str], str] = {}
        cons: dict[str, duckdb.DuckDBPyConnection] = {}
        for name, sf_dir, data, pdf in self._pending:
            got = normalize(pdf)
            key = (name, data)
            if key in first:
                if digest(got) != first[key]:
                    self.fail(f"{name}: output differs from its first run on {data}")
                continue
            first[key] = digest(got)
            con = cons.get(sf_dir) or cons.setdefault(sf_dir, duck_over(sf_dir))
            want = normalize(con.execute(self.oracle[name]).fetchdf())
            if list(got.columns) != list(want.columns) or not got.equals(want):
                self.fail(
                    f"{name}: differs from oracle on {sf_dir} "
                    f"({len(got)} rows vs {len(want)})"
                )
        for con in cons.values():
            con.close()
        self._pending.clear()


# ---------------------------------------------------------------------------
# Shared run state
# ---------------------------------------------------------------------------


@dataclass
class Run:
    """What a workload needs from the runner and what it reports back."""

    seed: int
    seconds: float
    traced: bool
    state_dir: str
    new_session: object  # () -> SparkSession, replacing any live session
    spark: object = None
    tracer: Tracer = None
    checker: Checker = None
    latencies: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    setups: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    items_per_pass: int = 0
    info: dict = field(default_factory=dict)
    ledger: dict[str, float] = field(default_factory=dict)
    ledger_calls: int = 0
    trace_s: float = 0.0
    heap_mb: list[float] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)
    by_name: dict[str, list[float]] = field(default_factory=dict)
    measuring: bool = False
    loop_start: float = 0.0
    _group_ids: itertools.count = field(default_factory=lambda: itertools.count(1))

    def start_measuring(self) -> None:
        """Set-up and warm-up are over: from here on spans and the ledger
        are recorded (in a traced run) and latencies are samples."""
        self.measuring = True
        self.tracer.enabled = self.traced
        self.loop_start = time.perf_counter()

    def keep_sampling(self) -> bool:
        """Another whole pass is due: at the median pass time so far it
        would end less than half a pass past the measured seconds, so the
        loop takes the measured seconds on average. Passes are whole so
        every operation is sampled equally often."""
        elapsed = time.perf_counter() - self.loop_start
        expected = median(self.pass_s) if self.pass_s else 0.0
        return elapsed + expected / 2 < self.seconds

    def group(self, label: str) -> str:
        """A fresh job-group id for one call."""
        group = f"{label}#{next(self._group_ids)}"
        self.spark.sparkContext.setJobGroup(group, label)
        return group

    def note(self, key: str, value: float) -> None:
        self.extra.setdefault(key, []).append(value)

    def call(self, label: str, fn, *args, ledger: bool = True):
        """One timed operation: ``fn(*args)`` builds a DataFrame inside the
        layer span and ``toPandas`` fetches it inside the engine span.
        Returns (pandas frame, seconds); the ledger is read afterwards."""
        tracer = self.tracer
        layer = layer_of(fn)
        group = self.group(label)
        t0 = time.perf_counter()
        with tracer.span(layer):
            df = fn(*args)
            with tracer.span("engine.fetch"):
                pdf = df.toPandas()
        wall = time.perf_counter() - t0
        self.by_name.setdefault(("" if self.measuring else "warm:") + label, []).append(wall)
        if ledger and self.traced and self.measuring:
            self.read_ledger(group, wall, df, len(pdf))
        return pdf, wall

    def read_ledger(self, group: str, wall: float, df=None, rows: int = 0) -> None:
        t0 = time.perf_counter()
        stages, skipped = read_stages(self.spark, group)
        plan = plan_seconds(df) if df is not None else 0.0
        row = fold_ledger(wall, plan, stages, skipped)
        row["driver.result_rows"] = float(rows)
        problems = ledger_problems(row, wall, self.spark.sparkContext.defaultParallelism)
        self.checker.invariant(f"ledger {group}", not problems, "; ".join(problems))
        for k, v in row.items():
            self.ledger[k] = self.ledger.get(k, 0.0) + v
        self.ledger_calls += 1
        self.trace_s += time.perf_counter() - t0

    def heap(self) -> None:
        if self.traced and self.measuring:
            self.heap_mb.append(jvm_heap_used_mb(self.spark))


def warm_up(run: Run, fn, items) -> list:
    """Run ``fn`` over ``items`` once, one Python thread per core, each
    submitting its own Spark jobs. Warm-up is not sampled, so it need not
    run one call at a time; the results come back in ``items`` order."""
    with ThreadPoolExecutor(max_workers=run.spark.sparkContext.defaultParallelism) as pool:
        return list(pool.map(fn, items))


def _timed_setup(run: Run, build) -> None:
    """One set-up: a fresh session, then the workload's one-time build."""
    t0 = time.perf_counter()
    run.spark = run.new_session()
    build()
    run.setups.append(time.perf_counter() - t0)


# ---------------------------------------------------------------------------
# bi_gold: star / TPC-H-style / event queries over a built gold star
# ---------------------------------------------------------------------------

BI_SF = 0.002
#: Warm-up passes before the timed loop, one query per core at a time.
#: On a 4-core host serial pass times keep falling (JIT) for about ten
#: passes; four parallel passes take about 20 s and leave the timed
#: passes within about 30% of the tenth.
BI_WARM_PASSES = 4
BI_QUERIES = (
    "star_q1_monthly_sales",
    "star_q2_top10_parts",
    "star_q5_priority_popularity",
    "q_pricing_summary",
    "q_revenue_pareto",
    "ev_sessionize",
    "ev_tumbling_hourly",
    "ev_user_ltv_topk",
)


def bi_gold(run: Run, queries: dict) -> None:
    from gravity_books_datalakehouse_spark.plans.star import build_star

    sf_dir = os.path.join(run.state_dir, "bi")
    rows = gen.write_star_dir(sf_dir, run.seed, BI_SF)
    run.info["input_rows"] = rows

    def build():
        t0 = time.perf_counter()
        build_star(run.spark, sf_dir)
        run.note("plans.star.build_s", time.perf_counter() - t0)

    _timed_setup(run, build)

    def query(name: str) -> None:
        run.tracer.new_trace()
        try:
            pdf, wall = run.call(name, queries[name], run.spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            run.checker.error(name, exc)
            return
        if run.measuring:
            run.latencies.append(wall)
        run.checker.record(name, sf_dir, pdf)

    t0 = time.perf_counter()
    for _ in range(BI_WARM_PASSES):
        warm_up(run, query, BI_QUERIES)
    run.warmup_s = time.perf_counter() - t0

    rng = random.Random(run.seed)
    run.start_measuring()
    while run.keep_sampling():
        order = list(BI_QUERIES)
        rng.shuffle(order)
        n_before = len(run.latencies)
        for name in order:
            query(name)
        run.pass_s.append(sum(run.latencies[n_before:]))
        run.heap()
    run.items_per_pass = len(BI_QUERIES)
    run.info["item"] = "query"


# ---------------------------------------------------------------------------
# curate_docs: a fixed cold curation pipeline over a K-copy corpus replica
# ---------------------------------------------------------------------------

CURATE_BASE_DOCS = 120
CURATE_COPIES = 4
CURATE_EXACT_SHARE = 0.5
CURATE_VECTORS = 300
CURATE_SETUPS = 3
#: Warm-up passes before the timed loop, the first one cold in the JVM
#: too. Each reads its own corpus copy, so memos stay cold per pass.
CURATE_WARM_PASSES = 3
CURATE_STEPS = (
    "dedup_exact",
    "dedup_multiplicity_histogram",
    "text_ngram_novelty",
    "text_quality_scores",
    "sim_topk_cosine_bruteforce",
    "sim_range_search",
)


def curate_docs(run: Run, queries: dict) -> None:
    """Each pass copies the run's seeded corpus into a fresh directory, so
    every memo the pipeline builds is cold, runs the steps in order, then
    publishes the exact-dedup content index to a snapshot table."""
    from gravity_books_datalakehouse_spark.sources import compaction, snapshots

    root = os.path.join(run.state_dir, "curate")
    source = os.path.join(root, "source")
    index_dir = os.path.join(root, "lake", "corpus_index")
    shape = gen.write_corpus_dir(
        source, run.seed, CURATE_BASE_DOCS, CURATE_COPIES, CURATE_EXACT_SHARE,
        CURATE_VECTORS,
    )
    copies = shape["exact_copies"] + shape["near_copies"]
    run.info["replica"] = {
        "docs": shape["docs"],
        "copies": CURATE_COPIES,
        "exact_share": round(shape["exact_copies"] / copies, 3),
        "near_share": round(shape["near_copies"] / copies, 3),
    }
    corpus_bytes = os.path.getsize(os.path.join(source, "documents.parquet"))
    passes: list[str] = []
    cold_extra_done = False  # memo cold cost is measured on the first timed pass

    def fresh_copy() -> str:
        d = os.path.join(root, f"pass{len(passes)}")
        shutil.copytree(source, d)
        passes.append(d)
        return d

    for _ in range(CURATE_SETUPS):
        _timed_setup(run, fresh_copy)

    def publish(survivors) -> float:
        """Commit the content index, compact the new version, expire old
        versions. Returns seconds."""
        spark, tracer = run.spark, run.tracer
        group = run.group("publish")
        t0 = time.perf_counter()
        with tracer.span("sources.snapshots"):
            version = snapshots.merge_snapshot(survivors, index_dir, ["content_fp"])
        t1 = time.perf_counter()
        files, nbytes = compaction.table_file_stats(os.path.join(index_dir, f"v={version}"))
        t2 = time.perf_counter()
        with tracer.span("sources.compaction"):
            compaction.compact_parquet(spark, os.path.join(index_dir, f"v={version}"))
        t3 = time.perf_counter()
        with tracer.span("sources.snapshots"):
            snapshots.vacuum(index_dir, keep_last=2)
        wall = (time.perf_counter() - t0) - (t2 - t1)
        if run.traced and run.measuring:
            run.read_ledger(group, wall)
            run.note("sources.snapshots.commit_s", t1 - t0)
            run.note("sources.compaction.s", t3 - t2)
            run.note("sources.bytes_written_mb", nbytes / 2**20)
            run.note("sources.files_written", float(files))
            run.note("sources.write_amp", nbytes / corpus_bytes)
        return wall

    def step(name: str, sf_dir: str):
        """One pipeline step; returns (output, seconds), or None when it
        failed."""
        fn = queries[name]
        try:
            pdf, wall = run.call(name, fn, run.spark, sf_dir)
            if run.traced and run.measuring and not cold_extra_done:
                run.tracer.enabled = False
                _, warm = run.call(name, fn, run.spark, sf_dir, ledger=False)
                run.tracer.enabled = True
                run.note("memo.cold_extra_s", wall - warm)
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            run.checker.error(name, exc)
            return None
        run.checker.record(name, sf_dir, pdf, key=source)
        return pdf, wall

    def curate(sf_dir: str) -> float:
        """One pass: the steps, then the publish. Returns the summed
        seconds of its operations (set-up and checks excluded)."""
        run.tracer.new_trace()
        if run.measuring:
            outputs = [step(name, sf_dir) for name in CURATE_STEPS]
        else:
            outputs = warm_up(run, lambda name: step(name, sf_dir), CURATE_STEPS)
        pass_s = sum(out[1] for out in outputs if out is not None)
        exact = outputs[CURATE_STEPS.index("dedup_exact")]
        if exact is None:
            return pass_s
        exact = exact[0]
        run.checker.invariant(
            "dedup_exact",
            len(exact) == shape["distinct_texts"]
            and int(exact["n_copies"].sum()) == shape["docs"],
            f"{len(exact)} groups over {int(exact['n_copies'].sum())} docs, expected "
            f"{shape['distinct_texts']} over {shape['docs']}",
        )
        try:
            pass_s += publish(queries["dedup_exact"](run.spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - counted as a failed operation
            run.checker.error("publish", exc)
        return pass_s

    used = 0

    def next_dir() -> str:
        """A corpus copy no pass has read yet."""
        nonlocal used
        if used == len(passes):
            fresh_copy()
        used += 1
        return passes[used - 1]

    t0 = time.perf_counter()
    for _ in range(CURATE_WARM_PASSES):
        curate(next_dir())
    run.warmup_s = time.perf_counter() - t0

    run.start_measuring()
    while run.keep_sampling():
        run.pass_s.append(curate(next_dir()))
        cold_extra_done = True
        run.heap()
    # The item a user waits for is the whole pass, from landed to published.
    run.latencies = list(run.pass_s)
    run.items_per_pass = shape["docs"]
    run.info["item"] = "document"

    n_index = snapshots.read_snapshot(run.spark, index_dir).count()
    run.checker.invariant(
        "publish", n_index == shape["distinct_texts"],
        f"index holds {n_index} fingerprints, expected {shape['distinct_texts']}",
    )


WORKLOADS = {"bi_gold": bi_gold, "curate_docs": curate_docs}
