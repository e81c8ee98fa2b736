"""Unit tests of the benchmark's metric arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import run as run_mod  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    values = list(range(1, 21))  # 20 samples: 1..20
    pct, value = stats.tail_percentile(values)
    assert pct == 50.0
    assert value == 10
    assert sum(v > value for v in values) == 10


def test_tail_percentile_rises_with_sample_count():
    pct, value = stats.tail_percentile(list(range(100)))
    assert pct == 90.0
    assert value == 89
    pct, value = stats.tail_percentile(list(range(1000)))
    assert pct == 99.0
    assert value == 989


def test_tail_percentile_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail_percentile(values) == stats.tail_percentile(sorted(values))
    pct, value = stats.tail_percentile(values)
    assert value == 1.0
    assert pct == pytest.approx(100 * 2 / 12)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * n)


def test_ratio_reports_its_base():
    assert stats.ratio(3, 12) == {"value": 0.25, "part": 3, "base": 12}
    assert stats.ratio(0, 0) == {"value": 0.0, "part": 0, "base": 0}


def test_op_counter_counts_each_failure_once():
    counter = stats.OpCounter()
    counter.record(True)
    counter.record(False, "envelope statusCode 500")
    counter.record(False)
    counter.record(True)
    assert counter.attempted == 4
    assert counter.failed == 2
    assert counter.reasons == ["envelope statusCode 500", "unspecified failure"]
    assert counter.error_rate == {"value": 0.5, "part": 2, "base": 4}


def test_op_counter_without_ops_has_zero_error_rate():
    assert stats.OpCounter().error_rate["value"] == 0.0


def test_quartiles_match_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    got = stats.quartiles(values)
    assert got["median"] == 10.0
    assert (got["q1"], got["q3"]) == (q1, q3)
    assert got["spread"] == pytest.approx((q3 - q1) / 10.0)
    assert stats.quartiles([2.0] * 10)["spread"] == 0.0
    assert stats.quartiles([0.0] * 10)["spread"] == float("inf")


def _run(op_cpu_s):
    return SimpleNamespace(
        latencies=[1.0] * len(op_cpu_s),
        op_cpu_s=op_cpu_s,
        setup={"setup_s": 10.0, "setup_wall_s": 5.0},
        peak_rss_mb=100.0,
    )


def test_query_cpu_per_op_moves_with_every_query():
    # Ten different queries: doubling the two heaviest leaves the median
    # where it was, so query workloads report the mean.
    cpu = [0.7, 1.1, 1.4, 1.7, 1.8, 2.0, 2.1, 2.1, 3.4, 3.6]
    heavier = cpu[:8] + [6.8, 7.2]
    base, _ = run_mod.end_to_end(_run(cpu), "queries")
    slower, _ = run_mod.end_to_end(_run(heavier), "queries")
    assert statistics.median(cpu) == statistics.median(heavier)
    assert base["cpu_s_per_op"] == pytest.approx(statistics.fmean(cpu))
    assert slower["cpu_s_per_op"] == pytest.approx(base["cpu_s_per_op"] + 0.7)


def test_ingest_cpu_per_op_is_the_median():
    e2e, _ = run_mod.end_to_end(_run([3.0, 3.1, 9.0, 3.2, 2.9]), "ingest")
    assert e2e["cpu_s_per_op"] == pytest.approx(3.1)  # not the mean, 4.24
    assert e2e["setup_s"] == 10.0
