"""Scope-algebra golden tests: F1 count() matrix
(/root/reference/tests/count.cpp:110-416), F2 1M-point raw/level scope
epsilons (/root/reference/tests/scope.cpp:52-240), flex variant selection
(/root/reference/tests/flex.cpp:61-133), min_samples level selection
(/root/reference/tests/retrieve.cpp:128-181).
"""

from __future__ import annotations

import pytest

from hta_spark import Meta, SECOND
from hta_spark.errors import InvalidRangeError
from hta_spark.operators import (IntervalScope, Scope, build_levels,
                                 count_scoped, filter_level, filter_raw,
                                 retrieve_flex, retrieve_min_samples,
                                 retrieve_rows)

from .conftest import F1_META, tp

S = Scope
IS = IntervalScope


def cnt(raw, b, e, scope=None):
    df = count_scoped(raw, b, e, scope or IS(S.closed, S.extended))
    rows = df.collect()
    return rows[0]["n"] if rows else 0


def test_count_invalid(f1_raw):
    with pytest.raises(InvalidRangeError):
        cnt(f1_raw, tp(10), tp(1))


def test_count_begin_equals_end(f1_raw):
    assert cnt(f1_raw, tp(1), tp(1)) == 1
    assert cnt(f1_raw, tp(11), tp(11)) == 1
    assert cnt(f1_raw, tp(85), tp(85)) == 1
    assert cnt(f1_raw, tp(225), tp(225)) == 1
    assert cnt(f1_raw, tp(250), tp(250)) == 0


def test_count_total(f1_raw):
    assert f1_raw.count() == 110


@pytest.mark.parametrize("sb,se,expected", [
    (S.open, S.open, 108), (S.open, S.closed, 108), (S.open, S.extended, 109),
    (S.closed, S.open, 108), (S.closed, S.closed, 108), (S.closed, S.extended, 109),
    (S.extended, S.open, 109), (S.extended, S.closed, 109), (S.extended, S.extended, 110),
])
def test_count_matrix_20_220(f1_raw, sb, se, expected):
    assert cnt(f1_raw, tp(20), tp(220), IS(sb, se)) == expected


@pytest.mark.parametrize("sb,se,expected", [
    (S.open, S.open, 108), (S.open, S.closed, 109), (S.open, S.extended, 109),
    (S.closed, S.open, 109), (S.closed, S.closed, 110), (S.closed, S.extended, 110),
    (S.extended, S.open, 109), (S.extended, S.closed, 110), (S.extended, S.extended, 110),
])
def test_count_matrix_11_225(f1_raw, sb, se, expected):
    assert cnt(f1_raw, tp(11), tp(225), IS(sb, se)) == expected


def test_count_outer_and_tiny(f1_raw):
    assert cnt(f1_raw, tp(1), tp(230)) == 110
    assert cnt(f1_raw, tp(20), tp(30)) == 2
    assert cnt(f1_raw, tp(11), tp(21)) == 2
    assert cnt(f1_raw, tp(11), tp(21), IS(S.open, S.open)) == 0


# ---------------------------------------------------------------------------
# F2 — dense monotonic ramp, 1M points at 1 s, value = i, default Meta
# ---------------------------------------------------------------------------

F2_T0 = 1_500_000_000 * SECOND
F2_N = 1_000_000


def f2tp(i: int, eps: int = 0) -> int:
    return F2_T0 + i * SECOND + eps


@pytest.fixture(scope="module")
def f2_raw(spark):
    df = spark.range(F2_N).selectExpr(
        "'scope' as metric",
        f"{F2_T0}L + id * {SECOND}L as time",
        "cast(id as double) as value",
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def f2_level100(spark, f2_raw):
    return build_levels(f2_raw, Meta())[100 * SECOND].cache()


def test_f2_corners(f2_raw):
    n = F2_N
    assert cnt(f2_raw, f2tp(0), f2tp(n - 1), IS(S.closed, S.closed)) == n
    assert cnt(f2_raw, f2tp(0), f2tp(n - 1), IS(S.open, S.open)) == n - 2
    assert cnt(f2_raw, f2tp(0, -1), f2tp(n - 1, 1), IS(S.closed, S.closed)) == n
    assert cnt(f2_raw, f2tp(0, -1), f2tp(n - 1, 1), IS(S.open, S.open)) == n
    assert cnt(f2_raw, f2tp(0), f2tp(n - 1), IS(S.closed, S.open)) == n - 1
    assert cnt(f2_raw, f2tp(0), f2tp(0), IS(S.infinity, S.infinity)) == n


RAW_EPS_CASES = [
    (IS(S.closed, S.open), [(0, 0, 200), (-1, 0, 200), (1, 0, 199),
                            (0, -1, 200), (0, 1, 201)]),
    (IS(S.closed, S.closed), [(0, 0, 201), (-1, 0, 201), (1, 0, 200),
                              (0, -1, 200), (0, 1, 201)]),
    (IS(S.closed, S.extended), [(0, 0, 201), (-1, 0, 201), (1, 0, 200),
                                (0, -1, 201), (0, 1, 202)]),
    (IS(S.open, S.open), [(0, 0, 199), (-1, 0, 200), (1, 0, 199),
                          (0, -1, 199), (0, 1, 200)]),
    (IS(S.extended, S.open), [(0, 0, 200), (-1, 0, 201), (1, 0, 200),
                              (0, -1, 200), (0, 1, 201)]),
]


@pytest.mark.parametrize("scope,cases", RAW_EPS_CASES)
def test_f2_raw_epsilons(f2_raw, scope, cases):
    for (be, ee, expected) in cases:
        got = cnt(f2_raw, f2tp(10100, be), f2tp(10300, ee), scope)
        assert got == expected, f"{scope} eps=({be},{ee}): {got} != {expected}"


LEVEL_EPS_CASES = [
    (IS(S.closed, S.open), [(0, 0, 2), (-1, 0, 2), (1, 0, 1),
                            (0, -1, 2), (0, 1, 3)]),
    (IS(S.closed, S.closed), [(0, 0, 3), (-1, 0, 3), (1, 0, 2),
                              (0, -1, 2), (0, 1, 3)]),
    (IS(S.closed, S.extended), [(0, 0, 3), (-1, 0, 3), (1, 0, 2),
                                (0, -1, 3), (0, 1, 4)]),
    (IS(S.open, S.open), [(0, 0, 1), (-1, 0, 2), (1, 0, 1),
                          (0, -1, 1), (0, 1, 2)]),
    (IS(S.extended, S.open), [(0, 0, 2), (-1, 0, 3), (1, 0, 2),
                              (0, -1, 2), (0, 1, 3)]),
]


@pytest.mark.parametrize("scope,cases", LEVEL_EPS_CASES)
def test_f2_level_epsilons(f2_level100, scope, cases):
    for (be, ee, expected) in cases:
        got = filter_level(f2_level100, f2tp(10100, be), f2tp(10300, ee),
                           100 * SECOND, scope).count()
        assert got == expected, f"{scope} eps=({be},{ee}): {got} != {expected}"


# ---------------------------------------------------------------------------
# flex / min_samples selection on F1
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def f1_levels(f1_raw):
    return build_levels(f1_raw, F1_META)


def test_flex_raw_variant(f1_raw, f1_levels):
    kind, df = retrieve_flex(f1_raw, f1_levels, F1_META, tp(0), tp(300),
                             1 * SECOND)
    assert kind == "timevalues"
    assert df.count() == 110


def test_flex_rows_variant(f1_raw, f1_levels):
    kind, df = retrieve_flex(f1_raw, f1_levels, F1_META, tp(0), tp(300),
                             10 * SECOND)
    assert kind == "rows"
    assert df.count() == 21


def test_min_samples_selection(f1_raw, f1_levels):
    assert retrieve_min_samples(f1_raw, f1_levels, F1_META,
                                tp(0), tp(300), 31).count() == 110
    df30 = retrieve_min_samples(f1_raw, f1_levels, F1_META, tp(0), tp(300), 30)
    rows = df30.orderBy("time").collect()
    assert len(rows) == 21
    assert rows[0]["time"] == tp(10)
    assert rows[0]["active_time"] == 9 * SECOND
    assert rows[0]["count"] == 1
    assert rows[0]["integral"] == 9e9 * -36.0
    assert rows[0]["sum"] == -37.0
    assert retrieve_min_samples(f1_raw, f1_levels, F1_META,
                                tp(0), tp(300), 5).count() == 21
    df3 = retrieve_min_samples(f1_raw, f1_levels, F1_META, tp(0), tp(300), 3)
    rows = df3.orderBy("time").collect()
    assert len(rows) == 2
    assert rows[0]["time"] == tp(0) and rows[1]["time"] == tp(100)
    assert rows[0]["count"] == 7 and rows[1]["count"] == 99
    for bad in (0, -1):
        with pytest.raises(ValueError, match="min_samples"):
            retrieve_min_samples(f1_raw, f1_levels, F1_META,
                                 tp(0), tp(300), bad)


def test_point_interval_row(f1_raw, f1_levels):
    rows = retrieve_rows(f1_raw, f1_levels, F1_META, tp(15), tp(15),
                         10 * SECOND).collect()
    assert len(rows) == 1 and rows[0]["time"] == tp(10)
