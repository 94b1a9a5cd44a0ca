"""Tests of the benchmark itself; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

def _toy_workload() -> workloads.Workload:
    cycle = tuple(workloads.Op(f"q{i % 5}", "sql", f"SELECT {i % 5}") for i in range(12))
    return workloads.Workload("toy", cycle, frozenset(), 1.0, 1, False)


def _take(w, seed, n):
    return list(itertools.islice(workloads.cycles(w, seed), n))


@pytest.mark.parametrize("w", [_toy_workload(), workloads._batch()], ids=["toy", "batch"])
def test_seed_fixes_op_sequence(w):
    assert _take(w, 7, 4) == _take(w, 7, 4)
    assert _take(w, 7, 4) != _take(w, 8, 4)
    for cycle in _take(w, 7, 4):  # the mix never depends on the seed
        assert sorted(cycle) == sorted(w.cycle)


def test_etl_steps_keep_their_order():
    w = workloads._batch()
    etl = [op for op, _ in zip(w.cycle, workloads.ETL_STEPS)]
    for cycle in _take(w, 3, 5):
        assert [op for op in cycle if op.entry == "sql"] == etl


def test_every_table_is_in_the_data_dir():
    names = {f[: -len(".parquet")] for f in os.listdir(workloads.DATA_DIR)}
    assert names == {"region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"}


def test_end_to_end_names_match_benchmark_json():
    results = [run.OpResult("a", 0.1, True), run.OpResult("b", 0.2, True)]
    emitted = run.end_to_end(results, 1.0, 3.0, 100.0)
    assert set(emitted) == set(run.load_units("end_to_end"))
    assert all(v > 0 for v in emitted.values())


def test_per_layer_names_are_declared():
    declared = set(run.load_units("per_layer"))
    produced = {f"{name}_ms" for *_, name in run.WRAPS} | {"execute.arrow_ms", "build.builder_ms"}
    produced |= {"engine.self_ms", "build.py4j_calls", "fail_frac", "ops.repeat_frac"}
    produced |= {"session.launch_s", "session.engine_init_s", "session.warm_s"}
    produced |= {f"ddl.{k}_ms" for k in run.DDL_KINDS}
    assert produced <= declared, produced - declared


def test_failed_op_is_counted_and_charged_the_timeout():
    ok = [run.OpResult("a", 0.1, True)] * 9
    failed = run.OpResult("a", 0.05, False)
    m = run.end_to_end(ok + [failed], 10.0, 3.0, 100.0)
    assert run.charged([failed], 10.0) == [10.0]
    # 9 successes over 0.95 s of op time; the failure adds no success
    assert m["ops_per_s"] == pytest.approx(9 / 0.95)
    # p90 of nine 0.1 s ops and one 10 s op interpolates towards the timeout
    assert m["p90_ms"] == pytest.approx((0.1 + 0.1 * (10.0 - 0.1)) * 1e3)
    assert m["geomean_ms"] == pytest.approx(100.0)  # median of kind "a"


def test_percentile_interpolates():
    assert run.percentile([1, 2, 3, 4, 5], 50) == 3
    assert run.percentile([1, 2, 3, 4, 5], 90) == pytest.approx(4.6)
    assert run.percentile([7], 90) == 7


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 0.25
        return self.t


def test_self_times_sum_to_the_op_span():
    tr = spans.Tracer(clock=FakeClock())
    tr.active = True
    for op in range(3):
        tr.op = op
        root = tr.begin("op")
        a = tr.begin("engine.sql")
        tr.call("parser.translate", lambda: None)
        tr.call("build.spark_sql", lambda: tr.call("build.spark_sql", lambda: None))
        tr.end(a)
        tr.call("execute.arrow", lambda: None)
        tr.end(root)
    selfs = spans.self_times(tr.spans)
    for op in range(3):
        idx = [i for i, s in enumerate(tr.spans) if s.op == op]
        root = next(i for i in idx if tr.spans[i].parent == -1)
        duration = tr.spans[root].end - tr.spans[root].start
        assert sum(selfs[i] for i in idx) == pytest.approx(duration, abs=1e-9)
        rec = spans.per_op(tr.spans)[op]
        # the nested call of the same layer is not counted twice
        assert rec["build.spark_sql"]["outer"] < rec["build.spark_sql"]["total"]
        assert rec["build.spark_sql"]["n"] == 2


def test_wrap_records_spans_only_when_active_and_restores():
    class Target:
        def work(self, x):
            return x + 1

    tr = spans.Tracer()
    tr.wrap(Target, "work", "target.work")
    assert Target().work(1) == 2 and tr.spans == []
    tr.active = True
    root = tr.begin("op")
    assert Target().work(2) == 3
    tr.end(root)
    assert [s.name for s in tr.spans] == ["op", "target.work"]
    assert sum(spans.self_times(tr.spans)) == pytest.approx(tr.spans[0].end - tr.spans[0].start)
    tr.restore()
    assert "traced" not in Target.work.__code__.co_name


def test_wait_gone_kills_what_outlives_the_deadline():
    proc = subprocess.Popen(["sleep", "60"])
    t0 = time.monotonic()
    run._wait_gone([proc.pid], 0.2)
    assert time.monotonic() - t0 < 5
    assert proc.wait(timeout=5) == -9
