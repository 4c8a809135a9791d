import pandas as pd
import pytest

import stats
from workloads import AnalyticsMix, EltPipeline


@pytest.mark.parametrize("n, supported", [(99, False), (100, True), (250, True)])
def test_p90_needs_ten_samples_beyond_the_cut(n, supported):
    xs = [float(i) for i in range(n)]
    assert stats.supported(xs, 0.9) is supported
    assert (stats.beyond(xs, 0.9) >= 10) is supported


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(30)]
    pct, value = stats.tail(xs)
    assert pct == 66 and stats.beyond(xs, 0.66) >= 10 and stats.beyond(xs, 0.67) < 10
    assert value == stats.percentile(xs, 0.66) == 19.0
    assert stats.tail([1.0] * 19) is None


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 1.0) == 5.0
    assert stats.percentile(xs, 0.01) == 1.0


def test_fail_frac_counts_a_wrong_result_and_an_error(tmp_path):
    wl = AnalyticsMix(str(tmp_path), seed=1, threads=1)
    oracle = {"q": (["k", "v"], [(1, 2.5), (2, None)])}
    good = (["k", "v"], pd.DataFrame({"k": [2, 1], "v": [None, 2.5]}))
    wrong = (["k", "v"], pd.DataFrame({"k": [1, 2], "v": [2.5, 3.0]}))
    log = stats.OpLog()
    for i, result in enumerate((good, wrong)):
        op = log.add("q", 0, 0.1, None)
        why = wl.check("q", result, oracle)
        if why:
            log.mark_wrong(op, why)
    log.add("q", 0, 0.1, "Traceback: boom")
    assert wl.check("q", good, oracle) is None
    assert log.attempted == 3 and log.failed == 2
    assert log.fail_frac == pytest.approx(2 / 3)
    line = stats.result_line(True, log, {"pass_s": (1.0, "s")})
    assert line["correct"] is False and line["failed"] == 2 and line["attempted"] == 3
    assert log.latencies({0}) == [0.1, 0.1]


def test_elt_check_flags_a_wrong_null_count(tmp_path):
    wl = EltPipeline(str(tmp_path), seed=1, threads=1)
    wl.nrows = {"orders": 10, "customer": 5, "lineitem": 40}
    wl.nulls = {"orders": {"o_orderkey": 0, "o_custkey": 3}}
    exp = {"n_rows": 10, "nulls_o_orderkey": 0, "nulls_o_custkey": 3}
    assert wl.check("elt:orders", dict(exp), {"elt:orders": exp}) is None
    why = wl.check("elt:orders", {**exp, "nulls_o_custkey": 2}, {"elt:orders": exp})
    assert why and "nulls_o_custkey=2/3" in why


def test_oracle_ratios_are_per_op_medians_and_skip_failed_ops():
    log = stats.OpLog()
    for name, p, s, o, err in [
        ("a", 1, 2.0, 1.0, None), ("a", 2, 9.0, 3.0, None), ("a", 3, 4.0, 2.0, None),
        ("b", 1, 8.0, 1.0, None), ("b", 2, 50.0, 1.0, "boom"),
    ]:
        log.add(name, p, s, err)["oracle_s"] = o
    log.add("b", -1, 1.0, None)["oracle_s"] = 1.0
    # a: median 4 s over DuckDB's median 2 s; b: its one good sample
    assert log.oracle_ratios({1, 2, 3}) == [2.0, 8.0]
    assert stats.geomean(log.oracle_ratios({1, 2, 3})) == pytest.approx(4.0)


def test_pass_times_sum_the_ops_of_each_pass():
    log = stats.OpLog()
    for p, s in [(0, 1.0), (0, 2.0), (1, 4.0), (-1, 9.0)]:
        log.add("q", p, s, None)
    assert log.pass_times({0, 1}) == [3.0, 4.0]


def schedule(seconds_per_pass: float, seconds: float, trace: bool, n_ops: int = 15) -> list[bool]:
    """The traced flags of the timed passes a run makes."""
    flags, done = [], 0
    least = stats.min_passes(n_ops, trace)
    while stats.more_passes(done, done * seconds_per_pass, seconds, least, trace):
        flags.append(stats.traced_pass(done, trace))
        done += 1
    return flags


@pytest.mark.parametrize("seconds", [0.0, 1.0, 2.5, 3.0, 4.0, 7.0, 30.0])
def test_traced_run_never_ends_on_a_traced_pass(seconds):
    flags = schedule(1.0, seconds, trace=True)
    assert len(flags) >= 3 and not flags[0] and not flags[-1]
    assert all(flags[i] != flags[i + 1] for i in range(len(flags) - 1))
    times = [2.0 if f else 1.0 for f in flags]
    assert stats.trace_overhead(times) == pytest.approx(1.0)


def test_untraced_run_makes_min_passes_then_stops_on_time():
    assert schedule(10.0, 5.0, trace=False) == [False] * stats.MIN_PASSES
    # four ops a pass: enough passes for MIN_OP_SAMPLES ops
    assert schedule(10.0, 5.0, trace=False, n_ops=4) == [False] * 3
    assert schedule(10.0, 5.0, trace=True, n_ops=4) == [False, True, False]
    assert schedule(1.0, 4.5, trace=False) == [False] * 5


def test_trace_overhead_uses_the_neighbours_of_each_traced_pass():
    # U=1.0, T=1.5, U=2.0, T=3.3, U=1.0: overheads 0.0 and 1.2
    assert stats.trace_overhead([1.0, 1.5, 2.0, 3.3, 1.0]) == pytest.approx(0.6)
