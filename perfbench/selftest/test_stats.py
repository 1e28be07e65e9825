"""Percentile rule and span self-time arithmetic."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.supported(100, 0.9)
    assert not stats.supported(99, 0.9)
    assert stats.supported(20, 0.5)
    assert not stats.supported(19, 0.5)
    assert not stats.supported(0, 0.5)


def test_nearest_rank_percentile_and_median():
    values = list(range(1, 101))
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(values, 1.0) == 100
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_children_once():
    spans = [
        _span(0, "op.a", 0.0, 10.0),
        _span(1, "queries.build", 1.0, 3.0, 0),
        _span(2, "queries.exec", 2.0, 6.0, 0),   # overlaps the build
        _span(3, "sources.load_table", 1.5, 2.5, 1),
        _span(4, "sinks.write", 9.0, 12.0, 0),   # runs past its parent
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(2.0 - 1.0)
    assert own[3] == pytest.approx(1.0)
    layers = stats.layer_self_times(spans)
    assert layers["op"] == pytest.approx(4.0)
    assert layers["queries"] == pytest.approx(1.0 + 4.0)
    assert layers["sinks"] == pytest.approx(3.0)
    assert sum(layers.values()) == pytest.approx(4.0 + 5.0 + 1.0 + 3.0)
