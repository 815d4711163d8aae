"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The first four need no Spark; the counter tests start a local[4] session
per run, as the benchmark does.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import marketgen as mg  # noqa: E402
import spans  # noqa: E402


def _inputs(seed: int) -> tuple[bytes, bytes]:
    g = mg.MarketGen(seed)
    stream = b"".join(
        mg.MarketGen.json_lines(g.stream_rows(100, mg.T0_S * 1000 + k * 125, 125))
        for k in range(20)
    )
    bars = g.bars(20, mg.trading_days(0, 3))
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, bars.schema) as w:
        w.write_table(bars)
    return stream, sink.getvalue().to_pybytes()


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs(7) != _inputs(8)


def test_generator_shares_and_expectation():
    g = mg.MarketGen(3, n_tickers=16)
    rows = g.stream_rows(20_000, mg.T0_S * 1000, 3_600_000)
    distinct = set(rows)
    dup_share = 1 - len(distinct) / len(rows)
    assert 0.03 < dup_share < 0.07
    late = sum(r[1] < mg.T0_S * 1000 for r in rows) / len(rows)
    assert 0.01 < late < 0.03
    counts = [sum(r[0] == t for r in rows) for t in g.tickers]
    assert counts[0] > 3 * counts[-1]  # Zipf skew
    exp = mg.Expected()
    assert exp.add(rows) == len(distinct)
    assert exp.add(rows[:10]) == 0  # a replay appends nothing
    bars = g.bars(50, mg.trading_days(0, 2))
    keys = set(zip(*(bars.column(c).to_pylist()
                     for c in ("ticker", "timestamp_UTC_s", "interval"))))
    assert len(keys) == bars.num_rows == 50 * 2 * mg.BARS_PER_DAY


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_nested_wrapped_calls_self_times(monkeypatch):
    clock = _Clock()
    monkeypatch.setattr(spans.time, "perf_counter", clock)

    class Layer:
        def outer(self):
            clock.t += 1.0
            self.inner()
            clock.t += 0.5
            self.inner()
            clock.t += 0.25

        def inner(self):
            clock.t += 2.0

    tr = spans.Tracer(every=1)
    tr.wrap(Layer, "outer", "a.outer")
    tr.wrap(Layer, "inner", "b.inner")
    with tr.op("x"):
        Layer().outer()
    tr.unwrap_all()
    folded = spans.fold(tr.spans)
    assert folded["a.outer"].calls == 1
    assert folded["a.outer"].total_s == pytest.approx(5.75)
    assert folded["a.outer"].self_s == pytest.approx(1.75)
    assert folded["b.inner"].calls == 2
    assert folded["b.inner"].self_s == pytest.approx(4.0)
    assert folded["op.x"].self_s == pytest.approx(0.0)
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")


def test_alternate_operations_run_untraced():
    tr = spans.Tracer(every=2)
    for _ in range(4):
        with tr.op("r"):
            with tr.span("inner"):
                pass
    assert [o.traced for o in tr.ops] == [True, False, True, False]
    assert sum(s.name == "inner" for s in tr.spans) == 2


@pytest.fixture(scope="module")
def workdir():
    with harness.Workdir("test") as wd:
        harness.require_package()
        yield wd


def _op_counts(workload, wd, max_ops):
    """Spark counts per operation of one run in a fresh session.  (In a
    session that already ran the workload, backfill's replay skips a
    stage whose output the first run left behind.)"""
    import run
    import workloads as W

    spark = harness.start_spark(wd, cores=4)
    tr = spans.Tracer(spark, every=1)
    run.install_wrappers(tr)
    try:
        ctx = W.Ctx(workload, spark, wd, 11, 60.0, tr, time.perf_counter(),
                    max_ops=max_ops)
        res = W.WORKLOADS[workload](ctx)
    finally:
        tr.unwrap_all()
        harness.stop_spark(spark)
    assert res.failed == 0
    incl = spans.inclusive_counts(tr.spans)
    return [
        (s.name, *incl[s.sid]) for s in tr.spans
        if s.parent is None and s.op >= 0
    ]


# registry rounds max_ops up to its minimum of whole passes
@pytest.mark.parametrize("workload,max_ops", [("backfill", 2), ("registry", 1)])
def test_spark_counts_repeat_exactly(workdir, workload, max_ops):
    first = _op_counts(workload, workdir, max_ops)
    second = _op_counts(workload, workdir, max_ops)
    assert first and all(jobs > 0 for _, jobs, _, _ in first)
    assert first == second
