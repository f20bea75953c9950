"""Golden rollup tests on the F1 canonical series.

Expected values transcribed from /root/reference/tests/retrieve.cpp:131-206
(10 s level incl. the count=0-but-min/max-set interval; 100 s level).
Floating-point equality is exact by construction (the fixture values are
exactly representable and sums are order-independent for them).
"""

from __future__ import annotations

from hta_spark import SECOND
from hta_spark.operators import build_levels

from .conftest import F1_META, tp

NS1 = float(SECOND)


def _collect_level(levels, interval):
    rows = levels[interval].orderBy("interval_start").collect()
    return {r["interval_start"]: r for r in rows}


def test_level_10s_golden(spark, f1_raw):
    levels = build_levels(f1_raw, F1_META)
    assert sorted(levels.keys()) == [10 * SECOND, 100 * SECOND, 1000 * SECOND]
    by_start = _collect_level(levels, 10 * SECOND)

    # 21 closed rows: starts 10s..210s (tests/retrieve.cpp:135-136)
    assert len(by_start) == 21
    assert min(by_start) == tp(10) and max(by_start) == tp(210)

    r = by_start[tp(10)]
    assert r["count"] == 1
    assert r["active_time"] == 9 * SECOND
    assert r["integral"] == 9 * NS1 * -36.0
    assert r["sum"] == -37.0
    assert r["maximum"] == -36.0
    assert r["minimum"] == -37.0

    r = by_start[tp(20)]
    assert r["count"] == 1
    assert r["active_time"] == 10 * SECOND
    assert r["integral"] == NS1 * (-36.0 + 9 * -30.0)

    # interval containing zero samples still has min=max=-30 from the
    # value spanning it (tests/retrieve.cpp:149-155)
    r = by_start[tp(30)]
    assert r["count"] == 0
    assert r["sum"] == 0.0
    assert r["active_time"] == 10 * SECOND
    assert r["integral"] == NS1 * (10 * -30.0)
    assert r["minimum"] == -30.0 and r["maximum"] == -30.0

    r = by_start[tp(40)]
    assert r["count"] == 2
    assert r["integral"] == NS1 * (2 * -30.0 + 6 * -20.0 + 2 * -10.0)
    assert r["sum"] == -50.0
    assert r["minimum"] == -30.0 and r["maximum"] == -10.0

    r = by_start[tp(210)]
    assert r["count"] == 2
    assert r["integral"] == NS1 * (7 * 35.0 + 2 * 45.0 + 1 * 35.0)
    assert r["sum"] == 80.0
    assert r["minimum"] == 35.0 and r["maximum"] == 45.0


def test_level_100s_golden(spark, f1_raw):
    levels = build_levels(f1_raw, F1_META)
    by_start = _collect_level(levels, 100 * SECOND)

    # 2 closed rows at 0s and 100s (tests/retrieve.cpp:181-206)
    assert sorted(by_start) == [tp(0), tp(100)]

    r = by_start[tp(0)]
    assert r["count"] == 7
    assert r["active_time"] == 89 * SECOND
    integral = (10 * -36.0 + 21 * -30.0 + 6 * -20.0 + 5 * -10.0 + 14 * 0.0
                + 13 * -10.0 + 20 * 20.0)
    assert r["integral"] == integral * NS1
    assert r["sum"] == -37 - 36 - 30 - 20 - 10 + 0 - 10
    assert r["maximum"] == 20.0 and r["minimum"] == -37.0

    r = by_start[tp(100)]
    assert r["count"] == 99
    assert r["active_time"] == 100 * SECOND
    assert r["integral"] == (99 * 20.0 + 1 * 31.0) * NS1
    assert r["sum"] == 99 * 20.0
    assert r["maximum"] == 31.0 and r["minimum"] == 20.0


def test_level_1000s_empty(spark, f1_raw):
    # raw spans < one 1000 s interval -> top level must be empty
    # (tests/check.cpp:242-249 invariant)
    levels = build_levels(f1_raw, F1_META)
    assert levels[1000 * SECOND].count() == 0


def test_levels_consistent_with_children(spark, f1_raw):
    # every level-n row equals the monoid merge of its level-(n-1) children
    levels = build_levels(f1_raw, F1_META)
    l1 = {s: r for s, r in _collect_level(levels, 10 * SECOND).items()}
    l2 = _collect_level(levels, 100 * SECOND)
    for start, parent in l2.items():
        kids = [r for s, r in l1.items() if start <= s < start + 100 * SECOND]
        assert parent["count"] == sum(k["count"] for k in kids)
        assert parent["sum"] == sum(k["sum"] for k in kids)
        assert parent["integral"] == sum(k["integral"] for k in kids)
        assert parent["active_time"] == sum(k["active_time"] for k in kids)
        assert parent["minimum"] == min(k["minimum"] for k in kids)
        assert parent["maximum"] == max(k["maximum"] for k in kids)


def test_single_point_metric(spark):
    # F6 — one sample (t=23ns, v=42): level build stores nothing (no closed
    # intervals); basics golden (count=1, integral=0, active=0) is covered
    # by aggregate/retrieve paths.
    from hta_spark import Meta
    from hta_spark.operators import build_levels
    df = spark.createDataFrame([("basics", 23, 42.0)],
                               "metric string, time long, value double")
    levels = build_levels(df, Meta())
    assert levels[10 * SECOND].count() == 0


def test_salted_lag_equivalence(spark, f1_raw):
    # lagged_salted must equal lagged exactly, including across empty chunks
    from hta_spark.operators.rollup import lagged, lagged_salted
    a = {(r["metric"], r["time"]): r["prev_time"]
         for r in lagged(f1_raw).collect()}
    for chunks in (4, 17, 256):
        b = {(r["metric"], r["time"]): r["prev_time"]
             for r in lagged_salted(f1_raw, chunks).collect()}
        assert a == b, f"chunks={chunks}"


def test_salted_build_equivalence(spark, f1_raw, monkeypatch):
    """The planner's salted build (forced by a tiny per-task target)
    equals the unsalted one at every level."""
    from hta_spark.operators import rollup
    from .conftest import F1_META

    def plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()
    plain = build_levels(f1_raw, F1_META)
    assert "_c#" not in plan(plain[10 * SECOND])
    monkeypatch.setattr(rollup, "AUTO_SALT_TARGET_ROWS", 4)
    salted = build_levels(f1_raw, F1_META)
    assert "_c#" in plan(salted[10 * SECOND]), "build did not salt"
    for iv in F1_META.level_intervals():
        pa = {r["interval_start"]: tuple(r) for r in plain[iv].collect()}
        pb = {r["interval_start"]: tuple(r) for r in salted[iv].collect()}
        assert pa == pb, f"interval {iv}"


def test_build_levels_exact_matches_level1_and_next_level(spark):
    """``build_levels(exact=True)`` is ``build_level1(exact=True)`` at
    level 1 and the hand-wired ``build_next_level`` cascade above it."""
    from hta_spark import Meta
    from hta_spark.operators import build_level1, build_next_level, raw_range
    raw = spark.createDataFrame(
        [("m%d" % (i % 3), (10_000 + 7 * i + (i * i) % 5) * SECOND,
          float(i % 13) / 3.0 - 2.0) for i in range(3_000)],
        "metric string, time long, value double")
    iv, factor = 10 * SECOND, 10
    meta = Meta(interval_min=iv, interval_max=100 * iv, interval_factor=factor)
    levels = build_levels(raw, meta, exact=True)
    assert sorted(levels) == [iv, iv * factor, iv * factor * factor]
    l1 = build_level1(raw, iv, exact=True)
    l2 = build_next_level(l1, iv, factor, raw_range(raw))
    assert dict(levels[iv].dtypes)["integral"].startswith("decimal")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())
    assert rows(levels[iv]) == rows(l1)
    assert rows(levels[iv * factor]) == rows(l2)
    assert len(rows(l2)) > 10


def test_exact_mode_consistent_with_double_mode(spark, f1_raw):
    """The order-free exact accumulation (micro-unit integers) agrees with
    the engine's double path up to the 1e-6 quantization."""
    from hta_spark import SECOND
    from hta_spark.operators.rollup import build_level1

    d = {(r["metric"], r["interval_start"]): r
         for r in build_level1(f1_raw, 10 * SECOND).collect()}
    e = {(r["metric"], r["interval_start"]): r
         for r in build_level1(f1_raw, 10 * SECOND, exact=True).collect()}
    assert d.keys() == e.keys()
    for k, dr in d.items():
        er = e[k]
        assert dr["minimum"] == er["minimum"]
        assert dr["maximum"] == er["maximum"]
        assert dr["count"] == er["count"]
        assert dr["active_time"] == er["active_time"]
        assert abs(dr["sum"] - er["sum"] / 1e6) <= 1e-6 * max(1, dr["count"])
        assert abs(dr["integral"] - float(er["integral"]) / 1e6) \
            <= 1e-6 * dr["active_time"] + 1e-3


def test_segment_pieces_pre_origin_paths_agree(spark):
    """Hot (unclipped) and general (clip_end-only) piece sequences must
    produce identical grouped sums even for segments beginning before the
    origin — the k==0 pre-origin fold belongs ONLY to the clip_begin
    (smoothing) path; with negative-k pieces emitted unclamped, bucket 0
    absorbing the overhang too would double-count (round-2 advice)."""
    from pyspark.sql import functions as F
    from hta_spark.operators.rollup import segment_pieces

    lag = spark.createDataFrame(
        [("m", -25, 2.0, None), ("m", 35, 4.0, -25), ("m", 52, 6.0, 35)],
        "metric string, time long, value double, prev_time long")

    def grouped(df):
        return {(r["metric"], r["k"]): (r["c"], r["d"], r["i"])
                for r in df.groupBy("metric", "k")
                .agg(F.sum("cnt").alias("c"), F.sum("dur").alias("d"),
                     F.sum(F.col("value") * F.col("dur")).alias("i"))
                .collect()}

    hot = grouped(segment_pieces(lag, 10))
    gen = grouped(segment_pieces(lag, 10, clip_end=1_000))
    assert hot == gen
    # and total segment time is conserved (no double count): 52 - (-25)
    assert sum(d for _c, d, _i in hot.values()) == 77
