"""The summariser of scripts/bench_pairs.py on canned numbers (no Spark)."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench_pairs", os.path.join(os.path.dirname(__file__), "..", "scripts", "bench_pairs.py")
)
bench_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_pairs)

# serve_and_publish iter_cpu_s of ten interleaved pairs (seeds 31-40)
PARENT = [5.19, 5.21, 5.30, 5.31, 5.69, 5.20, 5.92, 5.47, 5.04, 5.11]
CHANGE = [2.89, 2.96, 2.94, 3.06, 2.92, 2.65, 2.86, 3.11, 3.08, 2.83]


def _pairs(parent, change, name="m"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


def test_clear_gain_is_claimed_with_exclusive_quartiles():
    (row,) = bench_pairs.summarize(_pairs(PARENT, CHANGE), [("m", "lower", 0.25)])
    assert row["parent"] == pytest.approx((5.17, 5.255, 5.525))
    assert row["change"] == pytest.approx((2.8525, 2.93, 3.065))
    assert (row["wins"], row["pairs"]) == (10, 10)
    assert row["worse_frac"] == pytest.approx((2.93 - 5.255) / 5.255)
    assert row["within_bound"] and row["claim"]


def test_claim_needs_nine_tenths_of_wins_ties_counting_for_neither():
    change = CHANGE[:8] + PARENT[8:]  # two ties
    (row,) = bench_pairs.summarize(_pairs(PARENT, change), [("m", "lower", 0.25)])
    assert row["wins"] == 8 and not row["claim"]
    change = CHANGE[:9] + [PARENT[9] + 1.0]  # one loss
    (row,) = bench_pairs.summarize(_pairs(PARENT, change), [("m", "lower", 0.25)])
    assert row["wins"] == 9 and row["claim"]


def test_claim_needs_a_median_gap_above_the_parent_iqr():
    change = [p - 0.1 for p in PARENT]  # wins every pair by less than the IQR (0.355)
    (row,) = bench_pairs.summarize(_pairs(PARENT, change), [("m", "lower", 0.25)])
    assert row["wins"] == 10 and not row["claim"]


def test_higher_is_better_and_the_bound_is_relative_to_the_parent():
    parent = [100.0, 101.0, 99.0, 100.0]
    (row,) = bench_pairs.summarize(_pairs(parent, [92.0, 93.0, 91.0, 92.0]), [("m", "higher", 0.05)])
    assert row["wins"] == 0 and not row["claim"]
    assert row["worse_frac"] == pytest.approx(0.08) and not row["within_bound"]
    (row,) = bench_pairs.summarize(_pairs(parent, [97.0, 98.0, 96.0, 97.0]), [("m", "higher", None)])
    assert row["worse_frac"] == pytest.approx(0.03) and row["within_bound"]
