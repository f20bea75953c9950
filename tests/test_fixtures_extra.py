"""Remaining reference fixtures: F3 (middle_interval multi-level
consistency), F4 (overflow boundary), F6 (single point retrieve), F7
(meta validation, prefix config, R/W modes), plus raw-smoothing
faithfulness against an independent Python implementation of
``convert_timevalues_smooth`` written from its spec
(/root/reference/src/metric.cpp:259-311).
"""

from __future__ import annotations

import math

import pytest

from hta_spark import Meta, MS, SECOND, US
from hta_spark.errors import MetaValidationError, MissingMetricConfigError, ModeError
from hta_spark.operators import (build_levels, retrieve_flex, lagged)
from hta_spark.operators.retrieve import smooth_raw
from hta_spark.sources import HtaStore

from .conftest import F1_META, f1_points, tp


# -- F4: overflow boundary --------------------------------------------------

def test_f4_overflow_levels(spark):
    swap = 1_440_000_000_000_000_000
    meta = Meta(interval_min=14_400_000_000_000,
                interval_max=1_440_000_000_000_000, interval_factor=10)
    pts = [("overflow", swap - 20_000_000, 42.0),
           ("overflow", swap + 20_000_000, 43.0),
           ("overflow", swap + 1_440_000_000_000_000 + 20_000_000, 44.0)]
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    levels = build_levels(df, meta)
    # exactly three level tables: 1.44e13, 1.44e14, 1.44e15 — none beyond
    # interval_max (tests/overflow.cpp:93-97)
    assert sorted(levels.keys()) == [14_400_000_000_000, 144_000_000_000_000,
                                     1_440_000_000_000_000]
    # resolution requests above interval_max clamp (overflow.cpp:120-126):
    # planner picks the top level
    kind, res = retrieve_flex(df, levels, meta, swap - 10**15, swap + 2 * 10**15,
                              10 * 1_440_000_000_000_000)
    assert kind == "rows"
    rows = res.collect()
    assert all(r["interval"] == 1_440_000_000_000_000 for r in rows)


def test_meta_level_interval_overflow_guard():
    # near-int64 interval_min: the level walk must stop without overflow
    m = Meta(interval_min=4_000_000_000_000_000_000,
             interval_max=9_000_000_000_000_000_000, interval_factor=10)
    assert m.level_intervals() == [4_000_000_000_000_000_000]


# -- F3: high-rate ramp multi-level consistency -----------------------------

def test_f3_middle_interval(spark):
    n = 100_000  # scaled from 1M for test time; same structure
    t0 = 1_520_012_636_139_086_277
    meta = Meta(interval_min=1 * MS, interval_factor=10)
    df = spark.range(n).selectExpr(
        "'mid' as metric",
        f"{t0}L + id * 20000 as time",
        "cast(id as double) / 3.0 as value").cache()
    levels = build_levels(df, meta)
    l1, l2, l3 = (levels[1 * MS], levels[10 * MS], levels[100 * MS])
    # cross-level invariants: parent == monoid of children for a sample
    s1 = l1.groupBy().sum("count", "active_time").collect()[0]
    s2 = l2.groupBy().sum("count", "active_time").collect()[0]
    # children counts >= parent counts (parents only over closed ranges)
    assert s1[0] >= s2[0] > 0
    # every level-2 row's count equals the sum of its children's counts
    from pyspark.sql import functions as F
    j = (l1.withColumn("pk", (F.col("interval_start")
                              - F.pmod(F.col("interval_start"), F.lit(10 * MS))))
         .groupBy("metric", "pk").agg(F.sum("count").alias("c1"))
         .join(l2.select("metric", F.col("interval_start").alias("pk"),
                         F.col("count").alias("c2")), ["metric", "pk"]))
    bad = j.filter(F.col("c1") != F.col("c2")).count()
    assert bad == 0
    df.unpersist()


# -- F6 + store round-trip + F7 modes/prefix --------------------------------

def test_store_roundtrip_and_modes(spark, tmp_path):
    base = str(tmp_path / "store")
    store = HtaStore(spark, base, configs={
        "test.read": Meta(mode="R"),
        "test.write": Meta(mode="W"),
        "test.read_write": Meta(mode="RW"),
    }, prefix_configs={
        "prefix": Meta(interval_min=13_370_000_000_000,
                       interval_max=1_337_000_000_000_000, interval_factor=20),
    })
    # prefix config resolution (tests/prefix.cpp:58-81)
    m = store.meta_for("prefix.metric")
    assert m.interval_min == 13_370_000_000_000
    assert m.interval_factor == 20
    with pytest.raises(MissingMetricConfigError):
        store.meta_for("unconfigured")

    # R/W enforcement (tests/read_write.cpp:115-130)
    pts = spark.createDataFrame([("x", 23, 42.0)],
                                "metric string, time long, value double")
    with pytest.raises(ModeError):
        store["test.read"].insert(pts)
    store["test.read_write"].insert(pts)
    with pytest.raises(ModeError):
        store["test.write"].retrieve(0, 100)

    # F6 basics golden: single point retrieve
    got = store["test.read_write"].retrieve(0, 100).collect()
    assert len(got) == 1 and got[0]["time"] == 23 and got[0]["value"] == 42.0

    # persisted config reload
    store2 = HtaStore(spark, base)
    assert store2.meta_for("prefix.metric").interval_factor == 20


def test_meta_validation():
    with pytest.raises(MetaValidationError):
        Meta(interval_min=0)
    with pytest.raises(MetaValidationError):
        Meta(interval_min=15, interval_factor=10)  # not divisible
    with pytest.raises(MetaValidationError):
        Meta(interval_min=100, interval_max=50, interval_factor=10)
    with pytest.raises(MetaValidationError):
        Meta(interval_factor=1)
    # divisibility edge from tests/meta.cpp:53-65
    Meta(interval_min=1_337_000_028, interval_max=2_000_000_000,
         interval_factor=42)


# -- raw smoothing vs independent spec implementation -----------------------

def _spec_smooth(points, begin, end, interval):
    """convert_timevalues_smooth re-implemented from its spec for use as an
    independent oracle (iterator over (t, v) sorted)."""
    rows = []
    if not points:
        return rows
    it = iter(points)
    cur = next(it, None)
    prev_tp = min(begin, points[0][0])
    while cur is not None and cur[0] < begin:
        prev_tp = cur[0]
        cur = next(it, None)
    if cur is None:
        return rows
    b = begin
    while b < end:
        e = min(b + interval, end)
        mn, mx, sm, cnt, integral, active = math.inf, -math.inf, 0.0, 0, 0.0, 0
        while cur is not None and cur[0] < e:
            t, v = cur
            mn, mx = min(mn, v), max(mx, v)
            sm += v
            cnt += 1
            integral += v * (t - prev_tp)
            active += t - prev_tp
            prev_tp = t
            cur = next(it, None)
        if cur is None:
            rows.append((b, mn, mx, sm, cnt, integral, active))
            return rows
        t, v = cur
        mn, mx = min(mn, v), max(mx, v)
        integral += v * (e - prev_tp)
        active += e - prev_tp
        prev_tp = e
        rows.append((b, mn, mx, sm, cnt, integral, active))
        b += interval
    return rows


#: unscoped input with a point exactly on ``end`` and a point after it:
#: the follower is never consumed, so it must not reach the last
#: bucket's min/max; with ``begin == end`` there is no bucket at all
_POINT_ON_END = [(5, 1.0), (22, 2.0), (25, 3.0), (30, 99.0)]


@pytest.mark.parametrize("b_s,e_s,iv_s,unscoped", [
    *(pytest.param(b, e, iv, None, id=f"{b}-{e}-{iv}") for b, e, iv in [
        (100, 110, 2), (95, 125, 7), (0, 50, 13), (11, 225, 30),
        (150, 260, 25)]),
    pytest.param(0, 25, 10, _POINT_ON_END, id="point-on-end"),
    pytest.param(25, 25, 10, _POINT_ON_END, id="empty-range"),
])
def test_smooth_raw_matches_spec(spark, f1_raw, b_s, e_s, iv_s, unscoped):
    from hta_spark.operators import filter_raw, IntervalScope, Scope
    b, e, iv = tp(b_s), tp(e_s), iv_s * SECOND
    if unscoped is None:
        points = filter_raw(f1_raw, b, e,
                            IntervalScope(Scope.extended, Scope.open))
    else:
        points = spark.createDataFrame(
            [("m", tp(s), v) for s, v in unscoped],
            "metric string, time long, value double")
    got = {r["time"]: r for r in smooth_raw(points, b, e, iv).collect()}
    pts = sorted((r["time"], r["value"]) for r in points.collect())
    expected = _spec_smooth(pts, b, e, iv)
    assert len(got) == len(expected), (sorted(got), expected)
    for (t, mn, mx, sm, cnt, integral, active) in expected:
        r = got[t]
        assert r["minimum"] == mn and r["maximum"] == mx
        assert r["sum"] == sm and r["count"] == cnt
        assert r["integral"] == integral and r["active_time"] == active


def test_store_build_heterogeneous_metas(spark, tmp_path):
    """Full persistence round trip: two metrics with different hierarchy
    params built in one store; facade queries read the right tables."""
    from pyspark.sql import functions as F
    from hta_spark.operators import build_levels
    base = str(tmp_path / "hstore")
    m_a = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
               interval_factor=10)
    m_b = Meta(interval_min=20 * SECOND, interval_max=2000 * SECOND,
               interval_factor=10)
    store = HtaStore(spark, base, configs={"a": m_a, "b": m_b})
    t0 = 1_519_130_000 * SECOND
    pts = ([("a", t0 + i * SECOND, float(i)) for i in range(1, 300)]
           + [("b", t0 + 2 * i * SECOND, float(-i)) for i in range(1, 200)])
    store.write_raw(spark.createDataFrame(
        pts, "metric string, time long, value double"))
    store.build()

    # level tables exist for the union of both hierarchies
    for iv in (10 * SECOND, 20 * SECOND, 100 * SECOND, 1000 * SECOND,
               2000 * SECOND):
        assert store.level(iv) is not None, iv

    # per-metric rows match a direct in-memory build
    raw = store.raw()
    for name, meta in (("a", m_a), ("b", m_b)):
        sub = raw.filter(F.col("metric") == name)
        direct = build_levels(sub, meta)
        for iv, df in direct.items():
            got = {r["interval_start"]: r["count"]
                   for r in store.level(iv).filter(
                       F.col("metric") == name).collect()}
            want = {r["interval_start"]: r["count"] for r in df.collect()}
            assert got == want, (name, iv)

    # facade: flex pick + exact aggregate through the store
    m = store["a"]
    kind, rows = m.retrieve_flex(t0, t0 + 300 * SECOND, 100 * SECOND)
    assert kind == "rows"
    assert rows.count() == 2  # two closed 100 s rows for metric a
    agg = m.aggregate(t0 + 50 * SECOND, t0 + 250 * SECOND).collect()[0]
    assert agg["active_time"] == 200 * SECOND
    assert agg["count"] == 200


def test_day_partitioned_store_prunes(spark, tmp_path):
    """Time-day partition layout: results identical, and the day bounds
    appear as partition filters in the scan."""
    from pyspark.sql import functions as F
    base = str(tmp_path / "daystore")
    store = HtaStore(spark, base, configs={"m": Meta()},
                     partition_time_days=True)
    day = 86_400_000_000_000
    pts = [("m", 3 * day + i * 3_600_000_000_000, float(i)) for i in range(1, 24)]
    pts += [("m", 5 * day + i * 3_600_000_000_000, float(i)) for i in range(1, 24)]
    store.write_raw(spark.createDataFrame(
        pts, "metric string, time long, value double"))

    m = store["m"]
    b, e = 5 * day, 5 * day + 12 * 3_600_000_000_000
    from hta_spark.operators import IntervalScope, Scope
    got = sorted(r["time"] for r in
                 m.retrieve(b, e, IntervalScope(Scope.closed, Scope.open)).collect())
    assert got == [5 * day + i * 3_600_000_000_000 for i in range(1, 12)]
    plan = m.retrieve(b, e, IntervalScope(Scope.closed, Scope.open)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "day" in plan and ("PartitionFilters: [isnotnull(day" in plan
                              or "day#" in plan)

    # aggregate through the pruned path still clamps against true ranges
    agg = m.aggregate(4 * day, 6 * day, use_levels=False).collect()[0]
    # active_time = clamped span: from first point of day5? no — begin=4*day
    # clamps to max(begin, t_first=3d+1h) = 4*day; end clamps to t_last
    t_first = 3 * day + 3_600_000_000_000
    t_last = 5 * day + 23 * 3_600_000_000_000
    assert agg["active_time"] == min(6 * day, t_last) - max(4 * day, t_first)


def test_day_partitioned_telescope_prunes_days(spark, tmp_path):
    """On a day-partitioned store with built levels, the telescope arm's
    raw edges read only the days from ``begin`` on, and the telescope,
    raw-exact and auto modes return equal rows."""
    import re
    base = str(tmp_path / "daystore_levels")
    hour = 3_600 * SECOND
    day = 24 * hour
    meta = Meta(interval_min=hour, interval_max=100 * hour,
                interval_factor=10)
    store = HtaStore(spark, base, configs={"m": meta},
                     partition_time_days=True)
    # small integer values keep every double sum exact, so the three
    # paths agree bit for bit whatever their summation order
    pts = [("m", day + i * hour // 2 + 17 * SECOND, float(i % 7))
           for i in range(2 * 24 * 5)]
    store.write_raw(spark.createDataFrame(
        pts, "metric string, time long, value double"))
    store.build()

    m = store["m"]
    b, e = 4 * day + 90 * 60 * SECOND, 5 * day + 3 * hour
    tel = m.aggregate(b, e, use_levels=True)
    rows = tel.collect()
    plan = tel._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*\bday#", plan), plan
    assert rows == m.aggregate(b, e, use_levels=False).collect()
    assert rows == m.aggregate(b, e, use_levels="auto").collect()
    assert rows[0]["count"] == sum(b <= t < e for _, t, _ in pts)


def test_sql_views(spark, f1_raw):
    """The engine's tables are queryable via spark.sql with identical
    results to the DataFrame API."""
    from hta_spark.sql import register_views
    names = register_views(spark, f1_raw, F1_META)
    assert names["raw"] == "hta_raw"
    n = spark.sql("SELECT count(*) AS n FROM hta_raw").collect()[0]["n"]
    assert n == 110
    rows = spark.sql(f"""
        SELECT interval_start, `count`, `sum`,
               integral / active_time AS mean_val
        FROM {names[10 * SECOND]}
        WHERE metric = 'foo' AND interval_start = {tp(30)}
    """).collect()
    assert len(rows) == 1
    assert rows[0]["count"] == 0 and rows[0]["mean_val"] == -30.0


def test_store_roundtrip_sf01_events(spark, tmp_path):
    """Realistic store round trip at sf0.1: persist the events mapping,
    build the hierarchy, answer a flex query and an exact aggregate through
    the facade, cross-checked against in-memory results."""
    from pyspark.sql import functions as F
    from hta_spark.queries_hta import EVENTS_META, events_raw
    from hta_spark.operators import aggregate_exact

    raw = events_raw(spark, "/root/testdata/sf0.1")
    base = str(tmp_path / "ev_store")
    store = HtaStore(spark, base,
                     configs={m: EVENTS_META for m in
                              [r["metric"] for r in
                               raw.select("metric").distinct().collect()]})
    store.write_raw(raw)
    store.build()

    lo, hi = raw.agg(F.min("time"), F.max("time")).collect()[0]
    mid, end = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    m = store["purchase"]
    kind, rows = m.retrieve_flex(mid, end, 100 * 3600 * SECOND)
    assert kind == "rows"
    assert rows.count() > 0
    got = m.aggregate(mid, end).collect()[0]
    want = aggregate_exact(raw.filter(F.col("metric") == "purchase"),
                           mid, end).collect()[0]
    # min/max/count/active_time are order-independent -> exact; sum/integral
    # accumulate in different orders between the telescoped and raw paths ->
    # last-ulp tolerance (SURVEY.md §7.4)
    for f in ["minimum", "maximum", "count", "active_time"]:
        assert got[f] == want[f], f
    assert math.isclose(got["sum"], want["sum"], rel_tol=1e-12)
    assert math.isclose(got["integral"], want["integral"], rel_tol=1e-12)
