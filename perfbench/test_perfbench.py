"""Tests of the benchmark's own arithmetic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.ledger import (
    Span,
    StageRecord,
    Tracer,
    fold_ledger,
    ledger_problems,
    self_time,
    tail,
    union_length,
)
from perfbench.run import end_to_end
from perfbench.workloads import Run


def test_tail_leaves_ten_samples_beyond():
    for n in (11, 12, 25, 100, 333):
        samples = [float(i) for i in range(n)]
        value, pct = tail(samples)
        assert sum(1 for s in samples if s > value) == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)
    assert tail([float(i) for i in range(100)]) == (89.0, 90.0)


def test_tail_ignores_order_and_needs_eleven_samples():
    assert tail([5.0, 1.0, 9.0, 3.0] * 5)[0] == 3.0
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_is_span_minus_child_cover():
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 8.0, 12.0)]
    # cover inside the parent: [1, 5] and [8, 10] -> 6 s
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_self_times_add_up_to_root():
    tr = Tracer(enabled=True)
    with tr.span("root"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("a"):
            pass
    root = tr.spans[0]
    assert sum(tr.self_times().values()) == pytest.approx(root.end - root.start)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def _stage(lo, hi, run_s=1.0):
    return StageRecord(lo, hi, 4, 0, run_s, run_s / 2, 0.1, 0.1, 1.0, 0.01, 0.0, 0.0)


def test_ledger_gap_is_wall_minus_plan_minus_stage_union():
    row = fold_ledger(5.0, 0.5, [_stage(1.0, 2.0), _stage(1.5, 3.0)], n_skipped=2)
    assert row["engine.sched_gap_s"] == pytest.approx(5.0 - 0.5 - 2.0)
    assert row["engine.stages"] == 2
    assert row["engine.tasks"] == 8
    assert row["engine.skipped_stage_ratio"] == pytest.approx(0.5)
    assert row["executor.run_s"] == pytest.approx(2.0)
    assert ledger_problems(row, 5.0, cores=4) == []


def test_ledger_flags_negative_gap_and_overload():
    row = fold_ledger(1.0, 0.5, [_stage(0.0, 2.0, run_s=9.0)], n_skipped=0)
    assert row["engine.sched_gap_s"] == pytest.approx(-1.5)
    problems = ledger_problems(row, 1.0, cores=4)
    assert len(problems) == 2
    assert "engine.sched_gap_s" in problems[0] and "executor.run_s" in problems[1]
    ok = fold_ledger(2.0, 0.5, [_stage(0.0, 1.5, run_s=7.9)], n_skipped=0)
    assert ledger_problems(ok, 2.0, cores=4) == []


def test_star_generator_is_deterministic(tmp_path):
    a = gen.star_tables(np.random.default_rng(7), 0.001)
    b = gen.star_tables(np.random.default_rng(7), 0.001)
    c = gen.star_tables(np.random.default_rng(8), 0.001)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    d1, d2 = tmp_path / "x", tmp_path / "y"
    gen.write_star_dir(str(d1), 3, 0.001)
    gen.write_star_dir(str(d2), 3, 0.001)
    for f in sorted(p.name for p in d1.iterdir()):
        assert (d1 / f).read_bytes() == (d2 / f).read_bytes()


def test_corpus_replica_is_deterministic_and_shaped():
    docs, shape = gen.corpus_replica(11, n_base=30, copies=4, exact_share=0.5)
    again, shape2 = gen.corpus_replica(11, n_base=30, copies=4, exact_share=0.5)
    other, _ = gen.corpus_replica(12, n_base=30, copies=4, exact_share=0.5)
    pd.testing.assert_frame_equal(docs, again)
    assert shape == shape2
    assert not docs["text"].equals(other["text"])
    assert shape["docs"] == len(docs) == 120
    assert shape["exact_copies"] + shape["near_copies"] == 90
    assert shape["distinct_texts"] == docs["text"].nunique()
    # exact copies collapse, near copies survive exact dedup
    assert shape["distinct_texts"] <= 30 + shape["near_copies"]


def _run(seconds=10.0):
    return Run(seed=0, seconds=seconds, traced=False, state_dir="", new_session=None)


def test_loop_starts_a_pass_only_if_it_ends_within_half_a_pass():
    run = _run(seconds=10.0)
    run.loop_start = time.perf_counter() - 7.0
    assert run.keep_sampling()  # no pass timed yet
    run.pass_s = [4.0, 3.0, 5.0]  # 7 + 4 / 2 < 10
    assert run.keep_sampling()
    run.pass_s = [7.0]  # 7 + 7 / 2 > 10
    assert not run.keep_sampling()


def test_end_to_end_metrics_are_medians():
    run = _run()
    run.latencies = [0.3, 0.5, 0.4, 9.0]
    run.pass_s = [4.0, 5.0, 20.0]
    run.items_per_pass = 8
    m = end_to_end(run, setup_s=30.0)
    assert m == {"setup_s": 30.0, "latency_p50_s": 0.45, "throughput_per_s": 8 / 5.0}
