"""Pure rules of the benchmark: the pass schedule, percentiles, failure
counting and the result line.  Nothing here touches Spark, so the tests run
it alone."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10
# a run times at least this many passes and this many ops, whatever
# ``--seconds`` says: a workload with few ops per pass makes more passes,
# so the geometric mean over its ops is as steady as a longer workload's
MIN_PASSES = 2
MIN_OP_SAMPLES = 12


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q <= 1) of ``samples``."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(samples: list[float], q: float) -> int:
    """How many samples lie strictly above the nearest-rank ``q`` cut."""
    return len(samples) - max(0, math.ceil(q * len(samples)))


def supported(samples: list[float], q: float) -> bool:
    return beyond(samples, q) >= MIN_BEYOND


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ``MIN_BEYOND`` samples
    beyond it, as ``(percentile, value)``; ``None`` below 2 * MIN_BEYOND
    samples, where the tail would sit at or below the median."""
    for pct in range(99, 50, -1):
        if supported(samples, pct / 100):
            return pct, percentile(samples, pct / 100)
    return None


def traced_pass(i: int, trace: bool) -> bool:
    """In a traced run, every second timed pass (``i`` counts from 0) is
    traced, so each traced pass has an untraced one on either side."""
    return trace and i % 2 == 1


def min_passes(n_ops: int, trace: bool) -> int:
    """Timed passes a run makes at least: ``MIN_PASSES`` (three in a traced
    run, untraced-traced-untraced), and enough for ``MIN_OP_SAMPLES`` ops."""
    return max(3 if trace else MIN_PASSES, math.ceil(MIN_OP_SAMPLES / n_ops))


def more_passes(done: int, elapsed: float, seconds: float, least: int, trace: bool) -> bool:
    """Whether to start another timed pass after ``done`` of them: until
    ``seconds`` have elapsed and ``least`` passes are done, and never ending
    on a traced pass."""
    if done < least or elapsed < seconds:
        return True
    return traced_pass(done - 1, trace)


def trace_overhead(times: list[float]) -> float:
    """Median, over traced passes, of a traced pass's time over the mean of
    its two untraced neighbours, minus 1; ``times`` are the timed passes in
    order."""
    return median([
        2 * times[i] / (times[i - 1] + times[i + 1]) - 1.0
        for i in range(1, len(times) - 1) if traced_pass(i, True)
    ])


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def geomean(samples: list[float]) -> float:
    return math.exp(sum(map(math.log, samples)) / len(samples))


class OpLog:
    """Outcome of every op a run attempted: latency, pass, and whether it
    raised or returned a wrong result.  ``fail_frac`` counts both."""

    def __init__(self) -> None:
        self.ops: list[dict] = []

    def add(self, name: str, pass_no: int, seconds: float, error: str | None) -> dict:
        op = {"name": name, "pass": pass_no, "s": seconds, "error": error, "wrong": None}
        self.ops.append(op)
        return op

    def mark_wrong(self, op: dict, why: str) -> None:
        op["wrong"] = why

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if o["error"] or o["wrong"])

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def latencies(self, passes: set[int]) -> list[float]:
        return [o["s"] for o in self.ops if o["pass"] in passes and not o["error"]]

    def oracle_ratios(self, passes: set[int]) -> list[float]:
        """Per op name: the median of its times over the median of DuckDB's
        times on the same op, each taken right after it."""
        spark: dict[str, list[float]] = {}
        duck: dict[str, list[float]] = {}
        for o in self.ops:
            if o["pass"] in passes and not o["error"] and "oracle_s" in o:
                spark.setdefault(o["name"], []).append(o["s"])
                duck.setdefault(o["name"], []).append(o["oracle_s"])
        return [median(spark[n]) / median(duck[n]) for n in spark]

    def pass_times(self, passes: set[int]) -> list[float]:
        per: dict[int, float] = {}
        for o in self.ops:
            if o["pass"] in passes:
                per[o["pass"]] = per.get(o["pass"], 0.0) + o["s"]
        return [per[p] for p in sorted(per)]


def result_line(correct: bool, log: OpLog, metrics: dict[str, tuple[float, str]]) -> dict:
    """The JSON object the benchmark prints last."""
    return {
        "correct": bool(correct and log.failed == 0),
        "attempted": max(1, log.attempted),
        "failed": log.failed if log.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
