"""Declarative telescoping (VERDICT r3 item 8): the decomposition is
carried as per-metric bound columns — no DataFrame.collect anywhere in
the aggregate_telescope path, and many distinct per-metric clamps cost
one plan, not one plan per clamp group.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, functions as F

from hta_spark import Meta, SECOND
from hta_spark.operators import (aggregate_exact, aggregate_telescope,
                                 build_levels)


def test_telescope_no_driver_collect(spark, monkeypatch):
    """Constructing the telescope plan must never call collect() — the r3
    implementation collected the distinct clamped-bound pairs."""
    pts = spark.createDataFrame(
        [("m%d" % (i % 5), (1_000 + i) * SECOND, float(i))
         for i in range(200)],
        "metric string, time long, value double")
    meta = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
                interval_factor=10)
    levels = build_levels(pts, meta)

    def _boom(self, *a, **k):
        raise AssertionError("collect() called during telescope planning")
    monkeypatch.setattr(DataFrame, "collect", _boom)
    df = aggregate_telescope(pts, levels, meta,
                             1_005 * SECOND, 1_180 * SECOND)
    monkeypatch.undo()
    assert df.count() == 5


def test_telescope_bounds_match_literal_plan(spark):
    """The column recurrence (_telescope_bounds) must reproduce the
    literal decomposition (_telescope_plan) for randomized clamped bounds
    over several meta shapes — the direct spec-equivalence check of the
    r4 declarative rewrite."""
    import random

    from hta_spark.operators.aggregate import (_telescope_bounds,
                                               _telescope_plan)

    rng = random.Random(20260814)
    metas = [
        Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
             interval_factor=10),
        Meta(interval_min=30 * SECOND, interval_max=30_000 * SECOND,
             interval_factor=10),
        Meta(interval_min=8 * SECOND, interval_max=512 * SECOND,
             interval_factor=4),
    ]
    cases = []
    for i in range(60):
        meta = metas[i % len(metas)]
        span = rng.randrange(1, 5000) * SECOND + rng.randrange(SECOND)
        t_first = rng.randrange(1_000_000, 2_000_000) * SECOND \
            + rng.randrange(SECOND)
        cases.append((meta, t_first, t_first + span))
    for meta, bm, em in cases:
        # ranges row engineered so the clamp lands exactly on (bm, em)
        ranges = spark.createDataFrame(
            [("m", bm, em)], "metric string, t_first long, t_last long")
        bounds, intervals = _telescope_bounds(ranges, bm - 5, em + 5, meta)
        row = bounds.collect()[0]
        raw_edges, chunks = _telescope_plan(bm, em, meta)
        # edges: the declarative form always carries two (second may be
        # empty); the literal plan collapses the degenerate case to one
        got_edges = [(row["_re1_lo"], row["_re1_hi"]),
                     (row["_re2_lo"], row["_re2_hi"])]
        want_edges = raw_edges + [(em, em)] * (2 - len(raw_edges))
        assert got_edges == want_edges, (meta, bm, em)
        got_chunks = []
        for k, iv in enumerate(intervals):
            for lo, hi in ((row[f"_l{k}_lo1"], row[f"_l{k}_hi1"]),
                           (row[f"_l{k}_lo2"], row[f"_l{k}_hi2"])):
                if lo is not None and hi is not None and lo < hi:
                    got_chunks.append((iv, lo, hi))
        assert sorted(got_chunks) == sorted(chunks), (meta, bm, em)


def test_telescope_missing_level_falls_back_to_raw(spark):
    """Dropping a middle level from the dict must not change the result:
    its chunks fall back to exact raw-edge aggregates."""
    pts = spark.createDataFrame(
        [("m%d" % (i % 3), (2_000_000 + i * 7) * SECOND, float(i % 11))
         for i in range(400)],
        "metric string, time long, value double")
    meta = Meta(interval_min=70 * SECOND, interval_max=7_000 * SECOND,
                interval_factor=10)
    levels = build_levels(pts, meta)
    assert len(levels) >= 2
    b, e = 2_000_100 * SECOND, 2_002_500 * SECOND
    full = sorted(map(tuple, aggregate_telescope(
        pts, levels, meta, b, e).collect()))
    holey = dict(levels)
    holey.pop(sorted(holey)[0])          # drop the finest level
    got = sorted(map(tuple, aggregate_telescope(
        pts, holey, meta, b, e).collect()))
    empty = sorted(map(tuple, aggregate_telescope(
        pts, {}, meta, b, e).collect()))
    exact = sorted(map(tuple, aggregate_exact(pts, b, e).collect()))

    def close(a, bb):
        assert len(a) == len(bb)
        for ra, rb in zip(a, bb):
            assert ra[0] == rb[0]
            for x, y in zip(ra[1:], rb[1:]):
                assert abs(x - y) <= 1e-9 * max(1.0, abs(x)), (ra, rb)
    close(full, exact)
    close(got, exact)
    close(empty, exact)


def test_telescope_many_distinct_clamps(spark):
    """2*10^4 metrics, EVERY one with different clamped bounds (staggered
    t_first/t_last): one static plan must handle all groups and agree
    with the raw-exact path."""
    n = 20_000
    base = spark.range(n).select(
        F.concat(F.lit("m"), F.col("id")).alias("metric"),
        F.col("id").alias("i"))
    # 4 points per metric, staggered so every metric clamps differently
    pts = (base.crossJoin(spark.range(4).select(F.col("id").alias("k")))
           .select("metric",
                   ((F.lit(1_000_000) + F.col("i") * 7
                     + F.col("k") * F.lit(1_000)) * F.lit(SECOND))
                   .alias("time"),
                   (F.col("k") * 1.0 + 1.0).alias("value")))
    meta = Meta(interval_min=100 * SECOND, interval_max=10_000 * SECOND,
                interval_factor=10)
    levels = build_levels(pts, meta)
    b = 1_000_500 * SECOND
    e = 1_003_500 * SECOND
    tel = aggregate_telescope(pts, levels, meta, b, e)
    raw = aggregate_exact(pts, b, e)
    joined = (tel.alias("t").join(raw.alias("r"), "metric")
              .select(
                  (F.col("t.count") == F.col("r.count")).alias("c_ok"),
                  (F.abs(F.col("t.active_time") - F.col("r.active_time"))
                   <= 0).alias("a_ok"),
                  (F.abs(F.col("t.integral") - F.col("r.integral"))
                   <= F.abs(F.col("r.integral")) * 1e-9 + 1e-6)
                  .alias("i_ok")))
    bad = joined.filter(~F.col("c_ok") | ~F.col("a_ok")
                        | ~F.col("i_ok")).count()
    assert bad == 0
    assert tel.count() == n
