"""Verdict rule and traced-pair rows of scripts/ab.py (no Spark)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from ab import trace_rows, verdict  # noqa: E402

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


def test_trace_rows_show_both_sides_of_every_layer_metric():
    per_layer = [{"name": "pipeline.jvm_branch_s", "unit": "s"},
                 {"name": "plan.generate", "unit": "count"},
                 {"name": "kernel.canon_us", "unit": "us"}]
    parent = {"correct": True, "attempted": 4, "failed": 0, "metrics": {
        "pipeline.jvm_branch_s": {"value": 1.58, "unit": "s"},
        "plan.generate": {"value": 1, "unit": "count"}}}
    change = {"correct": True, "attempted": 4, "failed": 0, "metrics": {
        "pipeline.jvm_branch_s": {"value": 1.123456, "unit": "s"},
        "plan.generate": {"value": 1, "unit": "count"}}}
    head, *rows = trace_rows("hybrid_extract", parent, change, per_layer)
    assert head == ("trace hybrid_extract: parent correct=True failed 0/4; "
                    "change correct=True failed 0/4")
    assert [r.split() for r in rows] == [
        ["hybrid_extract", "pipeline.jvm_branch_s", "1.58", "1.123", "s"],
        ["hybrid_extract", "plan.generate", "1", "1", "count"],
        ["hybrid_extract", "kernel.canon_us", "-", "-", "us"]]
    assert not any("gain" in r or "regression" in r for r in rows)


def test_trace_rows_of_a_failed_side():
    per_layer = [{"name": "pipeline.jvm_branch_s", "unit": "s"}]
    head, row = trace_rows("w", None, {"correct": False, "attempted": 4,
                                       "failed": 1, "metrics": {}},
                           per_layer)
    assert head == "trace w: parent FAILED; change correct=False failed 1/4"
    assert row.split() == ["w", "pipeline.jvm_branch_s", "-", "-", "s"]
