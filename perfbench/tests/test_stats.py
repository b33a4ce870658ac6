"""The benchmark's own arithmetic. Run: python3 -m pytest perfbench/tests"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


# -- tail percentile: at least ten samples beyond -------------------------

def test_tail_has_exactly_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value, beyond = stats.tail_percentile(xs)
    assert (pct, value, beyond) == (90.0, 90, 10)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
    pct, value, beyond = stats.tail_percentile(xs)
    assert beyond == 10
    assert pct == pytest.approx(60.0)
    assert value == sorted(xs)[14]


def test_tail_with_too_few_samples_is_the_max_with_none_beyond():
    assert stats.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    assert stats.tail_percentile([1.0] * 10) == (100.0, 1.0, 0)
    assert stats.tail_percentile([]) == (0.0, 0.0, 0)


def test_tail_below_the_median_falls_back_to_the_max():
    # 13 samples: ten beyond would put the "tail" at the 3rd smallest
    xs = [float(i) for i in range(13)]
    assert stats.tail_percentile(xs) == (100.0, 12.0, 0)
    assert stats.tail_percentile(list(range(20))) == (100.0, 19, 0)


def test_tail_at_twenty_one_samples():
    xs = [float(i) for i in range(21)]
    pct, value, beyond = stats.tail_percentile(xs)
    assert (value, beyond) == (10.0, 10)
    assert pct == pytest.approx(100 * 11 / 21)


# -- self time with overlapping children ---------------------------------

def test_self_time_without_children_is_the_duration():
    assert stats.self_time(0.0, 10.0, []) == 10.0


def test_self_time_counts_overlapping_children_once():
    children = [(1.0, 4.0), (3.0, 6.0), (5.0, 7.0)]  # union 1..7
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    children = [(-5.0, 2.0), (8.0, 20.0)]  # inside: 0..2 and 8..10
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(6.0)


def test_self_time_nested_and_disjoint_children():
    children = [(2.0, 8.0), (3.0, 4.0), (9.0, 9.5), (9.5, 9.75)]
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(10 - 6 - 0.75)


def test_self_time_ignores_empty_children():
    assert stats.self_time(0.0, 1.0, [(0.5, 0.5), (0.7, 0.6)]) == 1.0


# -- failed_frac denominator ----------------------------------------------

def test_failed_frac_divides_by_every_attempted_operation():
    assert stats.failed_frac(attempted=40, failed=0) == 0.0
    assert stats.failed_frac(attempted=40, failed=3) == pytest.approx(0.075)


def test_failed_frac_never_exceeds_one_and_empty_run_fails():
    assert stats.failed_frac(attempted=5, failed=9) == 1.0
    assert stats.failed_frac(attempted=0, failed=0) == 1.0


# -- artifact-cache event classification ----------------------------------

def test_cache_new_artifact_is_a_build():
    before = set()
    after = {("ivf", "abc")}
    assert stats.classify_cache(["ivf"], before, after) == (1, 0)


def test_cache_lookup_without_new_artifact_is_a_hit():
    cache = {("ivf", "abc"), ("mlquality", "m1")}
    assert stats.classify_cache(["ivf", "ivf"], cache, cache) == (0, 1)
    assert stats.classify_cache(["ivf", "mlquality"], cache, cache) == (0, 2)


def test_cache_mixed_build_and_hit_in_one_operation():
    before = {("ivf", "abc")}
    after = {("ivf", "abc"), ("ivf", "abc.kmeans-centroids"), ("lsh", "k")}
    got = stats.classify_cache(["ivf", "lsh", "mlquality"], before, after)
    assert got == (2, 1)  # two new artifacts; the mlquality lookup hit


def test_cache_no_lookup_no_event():
    cache = {("ivf", "abc")}
    assert stats.classify_cache([], cache, cache) == (0, 0)


# -- trace overhead: per-entry medians over alternating passes -------------

def test_trace_overhead_uses_per_entry_medians():
    import run

    def recs(name, walls):
        return [{"name": name, "wall": w} for w in walls]
    # untraced passes 1, 3, 5 and traced passes 2, 4 of a warming entry:
    # pass 1 is slow, then each pass is 10% slower when traced.
    plain = recs("a", [3.0, 1.0, 1.0]) + recs("b", [6.0, 2.0, 2.0])
    traced = recs("a", [1.1, 1.1]) + recs("b", [2.2, 2.2])
    assert run.Bench.trace_overhead(plain, traced) == pytest.approx(1 - 3.0 / 3.3)
    assert run.Bench.trace_overhead(plain, []) == 0.0
