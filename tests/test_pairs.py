"""Unit tests for operators/pairs.ordered_pairs: one (left, right) row for
every i < j of a sorted array column, nothing for arrays shorter than
two, elements passed through intact."""

from __future__ import annotations

import itertools

from minimised_impala_spark.operators.pairs import ordered_pairs


def _pairs(spark, rows, ddl="arr array<bigint>"):
    df = spark.createDataFrame([(r,) for r in rows], ddl)
    return [tuple(r) for r in ordered_pairs(df, "arr", "l", "r").collect()]


def test_three_elements_give_three_ordered_pairs(spark):
    assert sorted(_pairs(spark, [[1, 2, 3]])) == [(1, 2), (1, 3), (2, 3)]


def test_short_and_null_arrays_give_no_rows(spark):
    assert _pairs(spark, [[], [5], None]) == []


def test_struct_elements_pass_through(spark):
    got = _pairs(
        spark,
        [[(1, 10), (1, 20), (2, 5)]],
        "arr array<struct<td: bigint, t: bigint>>",
    )
    got = sorted((tuple(a), tuple(b)) for a, b in got)
    assert got == [((1, 10), (1, 20)), ((1, 10), (2, 5)), ((1, 20), (2, 5))]


def test_matches_itertools_combinations(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.sets(st.integers(-1000, 1000), max_size=8), max_size=4))
    def check(groups):
        arrays = [sorted(g) for g in groups]
        want = [p for a in arrays for p in itertools.combinations(a, 2)]
        assert sorted(_pairs(spark, arrays)) == sorted(want)

    check()
