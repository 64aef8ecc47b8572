import itertools
import math

import pytest

from perfbench import tracing
from perfbench.stats import nearest_rank, pass_order, self_time, tail_pct


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (30, 66), (35, 71), (100, 90), (1000, 99)])
def test_tail_pct_leaves_ten_samples_beyond(n, pct):
    assert tail_pct(n) == pct
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted on purpose
    value = nearest_rank(samples, pct)
    assert sum(s > value for s in samples) >= 10
    # one percentile higher would leave fewer than ten beyond it
    assert pct == 99 or n - math.ceil((pct + 1) * n / 100) < 10


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert [nearest_rank(xs, p) for p in (1, 20, 21, 50, 100)] == [1.0, 1.0, 2.0, 3.0, 5.0]


def test_tail_pct_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail_pct(10)


def test_pass_order_is_a_seeded_permutation():
    ops = [f"op{i}" for i in range(12)]
    first = pass_order(ops, seed=7, pass_index=0)
    assert sorted(first) == sorted(ops)
    assert pass_order(ops, seed=7, pass_index=0) == first
    assert pass_order(ops, seed=7, pass_index=1) != first
    assert pass_order(ops, seed=8, pass_index=0) != first
    assert ops == [f"op{i}" for i in range(12)]  # input untouched


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    # children overlap each other (1-3, 2-5) and spill past the parent (8-12)
    assert self_time(0.0, 10.0, [(8.0, 12.0), (1.0, 3.0), (2.0, 5.0)]) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_tracer_self_times_and_nested_totals(monkeypatch):
    ticks = itertools.count()
    monkeypatch.setattr(tracing.time, "perf_counter", lambda: float(next(ticks)))
    tr = tracing.Tracer()
    with tr.span("op"):                  # 0 .. 9
        with tr.span("io"):              # 1 .. 4
            with tr.span("io"):          # 2 .. 3  (nested call of the same layer)
                pass
        with tr.span("collect"):         # 5 .. 6
            pass
        tr.op_id = 3
        with tr.span("collect"):         # 7 .. 8
            pass
    assert tr.total("io") == 3.0  # outermost io span only
    assert tr.total("collect") == 2.0
    assert tr.total("collect", timed_only=True) == 1.0
    st = tr.self_times()
    assert st["op"] == 9.0 - 3.0 - 1.0 - 1.0
    assert st["io"] == (3.0 - 1.0) + 1.0
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0, 0]
