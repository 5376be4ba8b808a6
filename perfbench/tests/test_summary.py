import pytest

from summary import median, self_time, tail_percentile, union_length


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(1, 41)]  # 40 samples, shuffled below
    values = values[::2] + values[1::2]
    t = tail_percentile(values)
    assert t["value"] == 30.0  # the 11th largest
    assert t["beyond"] == 10
    assert sum(v > t["value"] for v in values) == 10
    assert t["percentile"] == 75.0
    assert t["samples"] == 40


def test_tail_percentile_names_the_rank_it_reports():
    t = tail_percentile(list(range(1000)))
    assert t["value"] == 989
    assert t["percentile"] == 99.0
    t = tail_percentile(list(range(13)))
    assert (t["value"], t["percentile"]) == (2, 23.0)


def test_tail_needs_more_than_ten_samples():
    tail_percentile([1.0] * 11)
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_self_time_without_children_is_the_duration():
    assert self_time((1.0, 4.0), []) == 3.0


def test_self_time_subtracts_nested_children():
    assert self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    # children from two threads overlap on [2, 3]
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)
    # one child contains another
    assert self_time((0.0, 10.0), [(1.0, 8.0), (2.0, 3.0)]) == pytest.approx(3.0)


def test_self_time_clips_children_to_the_span():
    assert self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0)]) == pytest.approx(2.0)
    assert self_time((2.0, 6.0), [(7.0, 9.0)]) == pytest.approx(4.0)


def test_union_length_ignores_empty_and_inverted():
    assert union_length([(1.0, 1.0), (3.0, 2.0)]) == 0.0
    assert union_length([(0.0, 1.0), (1.0, 2.0), (5.0, 6.0)]) == pytest.approx(3.0)
