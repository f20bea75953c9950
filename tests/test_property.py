"""Property-based invariants over random series (hypothesis).

The reference's test corpus is all hand-crafted goldens; these generated
cases guard the invariants the goldens can't sweep:

- hierarchy consistency: every parent row == monoid merge of its children;
- closed-bucket shape: stored buckets are exactly floor(t_first/d) <= k <
  floor(t_last/d);
- aggregate paths agree: raw-exact == telescoping on arbitrary ranges;
- active_time postcondition == clamped(end) - clamped(begin);
- salted lag == plain lag.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from hta_spark import Meta, SECOND
from hta_spark.operators import (aggregate_exact, aggregate_telescope,
                                 build_levels)
from hta_spark.operators.rollup import lagged, lagged_salted

META = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
            interval_factor=10)
T0 = 1_600_000_000 * SECOND

# strictly-increasing offsets (seconds, may be irregular), modest values
series_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=2000),
              st.integers(min_value=-1000, max_value=1000)),
    min_size=2, max_size=40,
)


def _mk_points(deltas):
    t = 0
    out = []
    for (step, val) in deltas:
        t += step
        out.append(("p", T0 + t * SECOND, float(val)))
    return out


def _rows(df):
    return {r["interval_start"]: (r["minimum"], r["maximum"], r["sum"],
                                  r["count"], r["integral"], r["active_time"])
            for r in df.collect()}


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(deltas=series_strategy)
def test_hierarchy_and_shape_invariants(spark, deltas):
    pts = _mk_points(deltas)
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    levels = build_levels(df, META)
    t_first, t_last = pts[0][1], pts[-1][1]

    prev = None
    for iv in META.level_intervals():
        rows = _rows(levels[iv])
        # closed-bucket shape
        expect_ks = set(range(t_first // iv, t_last // iv))
        assert {s // iv for s in rows} == expect_ks, f"interval {iv}"
        # full coverage: active_time sums to the closed span minus lead-in
        if rows:
            span_start = max(t_first, min(rows))
            closed_end = (t_last // iv) * iv
            total_at = sum(v[5] for v in rows.values())
            assert total_at == closed_end - span_start
        # parent == children merge
        if prev is not None:
            prev_iv, prev_rows = prev
            for s, (mn, mx, sm, cnt, ig, at) in rows.items():
                kids = [v for ks, v in prev_rows.items()
                        if s <= ks < s + iv]
                assert kids, (iv, s)
                assert cnt == sum(k[3] for k in kids)
                assert mn == min(k[0] for k in kids)
                assert mx == max(k[1] for k in kids)
                assert sm == sum(k[2] for k in kids)
                assert at == sum(k[5] for k in kids)
                assert math.isclose(ig, sum(k[4] for k in kids),
                                    rel_tol=1e-12, abs_tol=1e-6)
        prev = (iv, rows)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(deltas=series_strategy,
       b_off=st.integers(min_value=-100, max_value=2100),
       span=st.integers(min_value=1, max_value=2200))
def test_aggregate_paths_agree(spark, deltas, b_off, span):
    pts = _mk_points(deltas)
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    levels = build_levels(df, META)
    b = T0 + b_off * SECOND
    e = b + span * SECOND
    r1 = aggregate_exact(df, b, e).collect()[0]
    r2 = aggregate_telescope(df, levels, META, b, e).collect()[0]
    for f in ["minimum", "maximum", "sum", "count", "active_time"]:
        assert r1[f] == r2[f], f
    assert math.isclose(r1["integral"], r2["integral"],
                        rel_tol=1e-12, abs_tol=1e-6)
    # active_time postcondition
    t_first, t_last = pts[0][1], pts[-1][1]
    if e <= t_first or b > t_last:
        assert r1["active_time"] == 0
    else:
        bm = min(max(b, t_first), t_last)
        em = min(max(e, t_first), t_last)
        assert r1["active_time"] == em - bm


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(deltas=series_strategy, chunks=st.sampled_from([2, 7, 64]))
def test_salted_lag_property(spark, deltas, chunks):
    pts = _mk_points(deltas)
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    a = {r["time"]: r["prev_time"] for r in lagged(df).collect()}
    b = {r["time"]: r["prev_time"]
         for r in lagged_salted(df, chunks).collect()}
    assert a == b


def _spec_find_range(times, begin, end, sb, se):
    """find_index re-implemented from spec
    (/root/reference/src/storage/file/metric.cpp:255-327): returns the
    included [lo, hi) index range for sorted times."""
    import bisect
    sz = len(times)
    if sz == 0:
        return (0, 0)

    def before_or_on(t):
        i = bisect.bisect_right(times, t) - 1
        return i  # -1 if none

    def on_or_after(t):
        return bisect.bisect_left(times, t)  # sz if none

    if sb == "closed":
        lo = on_or_after(begin)
    elif sb == "open":
        lo = before_or_on(begin)
        if lo < sz:
            lo += 1
    elif sb == "extended":
        lo = max(before_or_on(begin), 0)
    else:
        lo = 0

    if se == "closed":
        hi = before_or_on(end)
    elif se == "open":
        hi = on_or_after(end) - 1
    elif se == "extended":
        hi = on_or_after(end)
    else:
        hi = sz - 1
    if hi < sz:
        hi += 1
    return (lo, hi)


@settings(max_examples=20, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(deltas=series_strategy,
       b_off=st.integers(min_value=-50, max_value=2100),
       span=st.integers(min_value=0, max_value=2200),
       sb=st.sampled_from(["closed", "open", "extended", "infinity"]),
       se=st.sampled_from(["closed", "open", "extended", "infinity"]))
def test_scope_algebra_matches_spec(spark, deltas, b_off, span, sb, se):
    from hta_spark.operators import IntervalScope, Scope, filter_raw
    pts = _mk_points(deltas)
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    b = T0 + b_off * SECOND
    e = b + span * SECOND
    times = [p[1] for p in pts]
    lo, hi = _spec_find_range(times, b, e, sb, se)
    expected = set(times[max(lo, 0):max(hi, 0)])
    got = {r["time"] for r in filter_raw(
        df, b, e, IntervalScope(Scope(sb), Scope(se))).collect()}
    assert got == expected, (sb, se, b_off, span)
