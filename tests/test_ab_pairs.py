"""The statistics of scripts/ab_pairs.py on synthetic paired runs."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from ab_pairs import summarize  # noqa: E402


def test_clear_gain_is_claimed():
    parent = [10.0, 10.5, 9.8, 10.2, 10.1, 9.9, 10.4, 10.0, 10.3, 9.7]
    change = [x - 1.0 for x in parent]
    s = summarize(parent, change, "lower", 0.25)
    assert s["wins_change"] == 10 and s["wins_parent"] == 0
    assert s["claim"] and s["within_bound"] is True
    assert abs(s["rel_change"] + 0.1) < 0.01      # the median fell 10%


def test_one_lost_pair_still_claims_nine_of_ten():
    parent = [10.0] * 10
    change = [9.0] * 9 + [10.5]
    s = summarize(parent, change, "lower", 0.25)
    assert (s["wins_change"], s["wins_parent"]) == (9, 1) and s["claim"]


def test_gain_inside_the_parent_spread_is_not_claimed():
    parent = [8.0, 12.0, 9.0, 11.0, 10.0, 8.5, 11.5, 9.5, 10.5, 10.0]
    change = [x - 0.3 for x in parent]
    s = summarize(parent, change, "lower", 0.25)
    assert s["wins_change"] == 10 and not s["claim"]


def test_higher_is_better_and_ties_count_for_neither():
    parent = [100.0, 100.0, 100.0, 100.0]
    change = [120.0, 100.0, 120.0, 120.0]
    s = summarize(parent, change, "higher", 0.25)
    assert (s["wins_change"], s["wins_parent"]) == (3, 0)
    assert not s["claim"]                     # 3 of 4 is under 9/10
    assert s["within_bound"] is True


def test_bound():
    parent = [1.0, 1.01, 0.99, 1.0]
    assert summarize(parent, [1.2] * 4, "lower", 0.25)["within_bound"]
    assert summarize(parent, [1.3] * 4, "lower", 0.25)["within_bound"] \
        is False
    # the parent's spread is wider than the bound: unresolved, unless
    # every change run beats every parent run
    wide = [1.0, 2.0, 1.5, 3.0]
    assert summarize(wide, [2.0] * 4, "lower", 0.25)["within_bound"] is None
    assert summarize(wide, [0.5] * 4, "lower", 0.25)["within_bound"] is True
