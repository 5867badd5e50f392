"""Verdict rule of scripts/ab.py on synthetic paired samples (no Spark)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from ab import verdict  # noqa: E402

BOUND = 0.25
# parent runs around 10 with an IQR of about 0.5 (5% of the median)
PARENT = [9.6, 9.8, 9.9, 10.0, 10.0, 10.0, 10.1, 10.2, 10.3, 10.4]


def _scaled(better, xs):
    """The same samples, oriented for the metric's direction."""
    return xs if better == "lower" else [100 / x for x in xs]


@pytest.mark.parametrize("better", ["lower", "higher"])
def test_all_wins_beyond_the_iqr_is_a_gain(better):
    change = [x - 1.5 for x in PARENT]
    row = verdict(_scaled(better, PARENT), _scaled(better, change),
                  better, BOUND)
    assert row["wins"] == 10
    assert row["verdict"] == "gain"


@pytest.mark.parametrize("better", ["lower", "higher"])
def test_nine_wins_inside_the_iqr_is_no_gain(better):
    change = [x - 0.05 for x in PARENT]
    change[0] = PARENT[0] + 0.05
    row = verdict(_scaled(better, PARENT), _scaled(better, change),
                  better, BOUND)
    assert row["wins"] == 9
    assert row["verdict"] == "no regression"


@pytest.mark.parametrize("losses, expected", [(1, "gain"),
                                               (2, "no regression")])
def test_a_gain_needs_nine_tenths_of_the_pairs(losses, expected):
    change = [x - 1.5 for x in PARENT]
    for i in range(losses):
        change[i] = PARENT[i] + 0.1
    row = verdict(PARENT, change, "lower", BOUND)
    assert row["wins"] == 10 - losses
    assert row["verdict"] == expected


@pytest.mark.parametrize("better", ["lower", "higher"])
def test_worse_by_more_than_the_bound_is_a_regression(better):
    change = [x * 1.5 for x in PARENT]
    row = verdict(_scaled(better, PARENT), _scaled(better, change),
                  better, BOUND)
    assert row["wins"] == 0
    assert row["verdict"] == "regression"


@pytest.mark.parametrize("better", ["lower", "higher"])
def test_parent_iqr_wider_than_the_bound_is_unresolved(better):
    parent = [5.0, 6.0, 7.0, 8.0, 10.0, 10.0, 12.0, 13.0, 14.0, 15.0]
    change = [x * 1.1 for x in parent]
    row = verdict(_scaled(better, parent), _scaled(better, change),
                  better, BOUND)
    assert row["iqr"] > BOUND * row["parent"]
    assert row["verdict"] == "unresolved"


def test_more_failed_operations_is_a_regression():
    row = verdict(PARENT, PARENT, "lower", BOUND,
                  failed=((0, 40), (1, 40)))
    assert row["verdict"] == "regression"


def test_no_valid_change_run_is_a_regression():
    row = verdict(PARENT, [None] * 10, "lower", BOUND)
    assert row["wins"] == 0
    assert row["verdict"] == "regression"
