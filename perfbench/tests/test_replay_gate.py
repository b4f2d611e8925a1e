"""Tests for the traced run's gate: the replay must match the public
fit's model in selections, normalized relevance and kNN route
(perfbench/replay.py ``replay_mismatches``). No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import numpy as np
import pytest

from perfbench import replay


class _Model:
    """Just the params replay_mismatches reads, by name."""

    def __init__(self, **values):
        self.values = values
        for name in (
            "stdSelection", "redundancySelection", "relevanceWeights",
            "relevanceActiveIndices", "relevanceActiveValues",
            "relevanceDefault", "resolvedKnnStrategy",
        ):
            setattr(self, name, name)

    def getOrDefault(self, name):
        return self.values[name]


def _dense_model(**over):
    values = dict(
        stdSelection=[3, 5], redundancySelection=[3, 1],
        relevanceWeights=[0.0, 0.5, 0.25, 1.0, 0.1, 1.0],
        resolvedKnnStrategy="numpy-gemm",
    )
    values.update(over)
    return _Model(**values)


def _dense_got(**over):
    got = {"std": [3, 5], "red": [3, 1],
           "relevance": np.array([0.0, 0.5, 0.25, 1.0, 0.1, 1.0])}
    got.update(over)
    return got


def test_dense_replay_equal_to_model_passes():
    assert replay.replay_mismatches(_dense_got(), _dense_model()) == []


def test_dense_relevance_difference_fails_even_with_equal_selections():
    got = _dense_got(relevance=np.array([0.0, 0.5, 0.26, 1.0, 0.1, 1.0]))
    assert replay.replay_mismatches(got, _dense_model()) == [
        "normalized relevance differs"
    ]


def test_selection_differences_are_reported():
    bad = replay.replay_mismatches(_dense_got(std=[5, 3], red=[3, 2]), _dense_model())
    assert len(bad) == 2 and bad[0].startswith("std") and bad[1].startswith("red")


def _coo_model(**over):
    values = dict(
        stdSelection=[7], redundancySelection=[7],
        relevanceActiveIndices=[2, 7], relevanceActiveValues=[0.0, 1.0],
        relevanceDefault=0.4, resolvedKnnStrategy="sparse-inverted/grid",
    )
    values.update(over)
    return _Model(**values)


def _coo_got(**over):
    got = {"std": [7], "red": [7], "relevance": ({7: 1.0, 2: 0.0}, 0.4),
           "route": "grid"}
    got.update(over)
    return got


def test_coo_replay_equal_to_model_passes():
    assert replay.replay_mismatches(_coo_got(), _coo_model()) == []


@pytest.mark.parametrize(
    "relevance",
    [({7: 1.0, 2: 0.0}, 0.5), ({7: 1.0, 3: 0.0}, 0.4), ({7: 0.9, 2: 0.0}, 0.4)],
)
def test_coo_relevance_difference_fails(relevance):
    assert replay.replay_mismatches(_coo_got(relevance=relevance), _coo_model()) == [
        "normalized relevance differs"
    ]


def test_knn_route_drift_fails():
    assert replay.replay_mismatches(_coo_got(route="probe"), _coo_model()) == [
        "kNN route probe != grid"
    ]
