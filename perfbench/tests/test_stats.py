"""The percentile rule and the result line's metric set."""

import json
import os

import pytest

import stats
from conftest import BENCH_DIR


@pytest.mark.parametrize("n, pct", [
    (1, 50.0), (19, 50.0), (20, 50.0), (25, 60.0), (40, 75.0),
    (50, 80.0), (99, 100.0 * 89 / 99), (100, 90.0), (1000, 90.0),
])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pytest.approx(pct)


@pytest.mark.parametrize("n", [20, 25, 37, 64, 100, 250])
def test_tail_has_at_least_ten_samples_above_it(n):
    values = [float(i) for i in range(n)]
    tail = stats.percentile(values, stats.tail_percentile(n))
    assert sum(v > tail for v in values) >= 10
    if n >= 100:
        assert sum(v > tail for v in values) == n // 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 100) == 5.0
    assert stats.percentile(values, 1) == 1.0
    summary = stats.latency_summary(values)
    assert summary["p50"] <= summary["tail"]


def _spec():
    return stats.load_spec(os.path.join(os.path.dirname(BENCH_DIR),
                                        "BENCHMARK.json"))


def test_spec_lists_setup_and_valid_names():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert spec["paths"] == ["perfbench"]


@pytest.mark.parametrize("trace", [False, True])
def test_result_metrics_match_spec(trace):
    spec = _spec()
    names = stats.spec_metric_names(spec, trace)
    values = {n: 1.5 for n in names}
    out = stats.result_metrics(spec, trace, values)
    assert list(out) == names
    json.dumps(out)
    with pytest.raises(KeyError):
        stats.result_metrics(spec, trace, {n: 1.0 for n in names[1:]})
    with pytest.raises(KeyError):
        stats.result_metrics(spec, trace, {**values, "unlisted_s": 1.0})
    with pytest.raises(ValueError):
        stats.result_metrics(spec, trace, {**values, names[0]: float("nan")})


def test_no_samples_summarize_to_zero():
    # every operation failed: the run is reported incorrect, with zeros
    assert stats.latency_summary([]) == {"n": 0, "p50": 0.0, "tail_pct": 0.0,
                                         "tail": 0.0}


def test_median_of_an_even_count_averages_the_middle_two():
    # two closed-loop passes: the median is their mean, not the faster one
    two = stats.latency_summary([1.2, 1.0])
    assert two["p50"] == pytest.approx(1.1)
    assert two["tail"] == two["p50"]
    assert stats.latency_summary([4.0, 1.0, 3.0, 2.0])["p50"] == 2.5
    assert stats.latency_summary([3.0, 1.0, 2.0])["p50"] == 2.0
