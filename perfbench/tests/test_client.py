import pytest

from perfbench.client import MIN_SAMPLES, TAIL_PCT, Outcome, execute, summarize
from perfbench.expected import Expected


def _clock(*ticks):
    it = iter(ticks)
    return lambda: next(it)


def test_raise_counts_as_failed_and_keeps_its_latency():
    def boom():
        raise RuntimeError("plan failed")

    out = execute(boom, lambda c, r: True, clock=_clock(1.0, 3.5))
    assert out.status == "raised" and out.latency == 2.5
    assert "RuntimeError: plan failed" in out.error


def test_mismatch_counts_as_failed():
    out = execute(lambda: (["a"], [(1,)]), lambda c, r: False, clock=_clock(0.0, 1.0))
    assert (out.status, out.latency) == ("mismatch", 1.0)


def test_summarize_counts_raise_and_mismatch_against_attempted():
    outcomes = [Outcome("ok", 1.0), Outcome("raised", 9.0), Outcome("mismatch", 8.0), Outcome("ok", 3.0)]
    s = summarize(outcomes, window_s=30.0)
    assert (s["attempted"], s["failed"]) == (4, 2)
    assert s["failed_frac"] == 0.5 and s["ok_frac"] == 0.5
    assert s["op_p50_s"] == 2.0  # failed ops carry no latency sample
    assert s["ops_per_min"] == pytest.approx(4.0)


def test_tail_percentile_is_fixed_by_the_sample_floor():
    # the floor of 80 samples supports p87 with ten beyond it
    assert (MIN_SAMPLES, TAIL_PCT) == (80, 87)
    for n in (MIN_SAMPLES, 91):
        s = summarize([Outcome("ok", float(i)) for i in range(n, 0, -1)], window_s=60.0)
        assert (s["tail_pct"], s["samples"]) == (87, n)
        assert n - s["op_tail_s"] >= 10  # samples beyond the reported value


def test_expected_matches_order_insensitive_and_type_strict():
    exp = Expected(("a", "b"), [(1, 2.0), (3, 4.0)])
    assert exp.matches(["b", "a"], [(4.0, 3), (2.0, 1)])
    assert not exp.matches(["a", "b"], [(1, 2.0)])            # row count
    assert not exp.matches(["a", "c"], [(1, 2.0), (3, 4.0)])  # column names
    assert not exp.matches(["a", "b"], [(1, 2), (3, 4)])      # int where a float is expected
    assert not exp.matches(["a", "b"], [(1, 2.0), (3, 4.5)])  # value
