"""aggregate_auto (VERDICT r5 item 6): the cost-based exact-vs-telescope
dispatch must (a) return results identical to BOTH underlying paths on
either side of its own crossover, (b) choose exact for small windowed-row
estimates and telescope for large ones, (c) plan from the rollups
only — the raw store is never scanned to make the choice, and (d) run a
pinned number of Spark jobs per read op.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hta_spark import Meta, SECOND
from hta_spark.compat import lc_available
from hta_spark.operators import (aggregate_auto, aggregate_exact,
                                 aggregate_telescope, build_levels)
from hta_spark.operators.aggregate import _auto_choice
from hta_spark.operators.rollup import raw_range
from hta_spark.operators.stats import count_via_levels

from .conftest import jobs_in


@pytest.fixture(scope="module")
def store(spark):
    pts = spark.createDataFrame(
        [("m%d" % (i % 3), (10_000 + i) * SECOND, float(i % 17) - 5.0)
         for i in range(3_000)],
        "metric string, time long, value double")
    pts = pts.repartition(4).cache()
    pts.count()
    meta = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
                interval_factor=10)
    levels = {iv: df.cache() for iv, df in
              build_levels(pts, meta).items()}
    for df in levels.values():
        df.count()
    return pts, levels, meta


def _rows(df):
    out = {}
    for r in df.collect():
        out[r["metric"]] = (r["minimum"], r["maximum"],
                            round(r["sum"], 6), r["count"],
                            round(r["integral"], 3), r["active_time"])
    return out


@pytest.mark.parametrize("begin_s,end_s", [
    (10_000, 10_050),            # tiny range — exact territory
    (10_005, 10_999),            # sub-aligned ragged range
    (10_000, 13_000),            # whole store — telescope territory
    (9_000, 20_000),             # over-wide (clamping on both sides)
])
def test_auto_equals_both_paths(store, begin_s, end_s):
    pts, levels, meta = store
    b, e = begin_s * SECOND, end_s * SECOND
    exact = _rows(aggregate_exact(pts, b, e))
    tel = _rows(aggregate_telescope(pts, levels, meta, b, e))
    assert exact.keys() == tel.keys()
    for m in exact:
        for x, t in zip(exact[m], tel[m]):
            assert x == t or math.isclose(x, t, rel_tol=1e-9), (m, exact[m],
                                                                tel[m])
    # auto forced to each side of its own crossover by the knobs — both
    # dispatches must reproduce the shared answer
    lo = _rows(aggregate_auto(pts, levels, meta, b, e, row_floor=1,
                              row_ratio=0))
    hi = _rows(aggregate_auto(pts, levels, meta, b, e,
                              row_floor=10 ** 12))
    for m in exact:
        for x, a, bb in zip(exact[m], lo[m], hi[m]):
            assert x == a or math.isclose(x, a, rel_tol=1e-9)
            assert x == bb or math.isclose(x, bb, rel_tol=1e-9)


def test_auto_choice_tracks_range_size(store):
    pts, levels, meta = store
    ranges = raw_range(pts).localCheckpoint(eager=True)
    span = (10_000 * SECOND, 13_000 * SECOND)
    # default knobs on a 3k-point store: always exact (windowed rows never
    # near the half-million breakeven)
    choice, est_raw, est_tel = _auto_choice(
        levels, meta, *span, ranges, row_floor=512_000, row_ratio=8)
    assert choice == "exact"
    # 2000, not 3000: the open tail bucket past the last CLOSED coarse
    # interval is not materialized — the estimate under-counts at the
    # data tail (documented planner behavior, errs toward exact)
    assert est_raw == 2_000
    # floor low + ratio 0: the whole store is "big" -> telescope
    choice2, _, _ = _auto_choice(levels, meta, *span, ranges,
                                 row_floor=100, row_ratio=0)
    assert choice2 == "telescope"
    # a tiny slice stays exact even with a low floor, via the ratio guard
    # (levels touched are not much smaller than the raw rows in range)
    choice3, er3, et3 = _auto_choice(
        levels, meta, 10_000 * SECOND, 10_040 * SECOND, ranges,
        row_floor=1, row_ratio=8)
    assert choice3 == "exact", (er3, et3)
    # no materialized rollups -> only the exact path exists
    choice4, _, _ = _auto_choice({}, meta, *span, ranges, 1, 0)
    assert choice4 == "exact"
    # range misses the data entirely
    choice5, er5, _ = _auto_choice(levels, meta, 1 * SECOND, 2 * SECOND,
                                   ranges, 1, 0)
    assert choice5 == "exact" and er5 == 0


def test_store_aggregate_auto_default(spark, tmp_path):
    """HtaMetric.aggregate defaults to the auto dispatch: all three
    use_levels modes agree (path-independence at the user API)."""
    from hta_spark.sources.store import HtaStore
    pts = spark.createDataFrame(
        [("foo", (50_000 + 7 * i) * SECOND, float(i % 11)) for i in range(400)],
        "metric string, time long, value double")
    meta = Meta(interval_min=70 * SECOND, interval_max=7000 * SECOND,
                interval_factor=10)
    store = HtaStore(spark, str(tmp_path / "db"), configs={"foo": meta})
    store["foo"].insert(pts)
    store.build()
    m = store["foo"]
    b, e = 50_100 * SECOND, 52_500 * SECOND
    want = _rows(m.aggregate(b, e, use_levels=False))
    for mode in ("auto", True):
        got = _rows(m.aggregate(b, e, use_levels=mode))
        assert got.keys() == want.keys()
        for k in want:
            for x, g in zip(want[k], got[k]):
                assert x == g or math.isclose(x, g, rel_tol=1e-9), (mode, k)


def test_auto_plans_from_rollups_not_raw(store, monkeypatch):
    """The planner probe must read the coarsest LEVEL, never the raw
    frame: monkeypatch-poison raw collection during choice computation."""
    pts, levels, meta = store
    ranges = raw_range(pts).localCheckpoint(eager=True)
    calls = []
    orig = type(pts).collect

    def spy(self, *a, **k):
        calls.append(self)
        return orig(self, *a, **k)
    monkeypatch.setattr(type(pts), "collect", spy)
    _auto_choice(levels, meta, 10_000 * SECOND, 13_000 * SECOND, ranges,
                 512_000, 8)
    monkeypatch.undo()
    # exactly two collects on the FIRST dispatch against a store version:
    # the global bounds + metric count over the CHECKPOINTED ranges frame
    # and the coarse-level bucket histogram — _auto_choice does not even
    # receive the raw frame (rollup-only planning by construction), and
    # neither collected plan may scan it
    assert len(calls) == 2
    for df in calls:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "interval_start" in plan, plan
    # the histogram stays bucket-count sized (time_range / interval_max)
    assert len(orig(calls[1])) <= 4


def test_read_ops_job_counts(spark, store):
    """Spark jobs per read op on the store fixture, pinned so that a
    refactor of the shared kernels cannot silently add passes: the
    planner's ranges pin and two collects, the exact arm's pruned scan,
    the telescope's pinned bounds and per-level branches, and the count
    walk's pinned ranges."""
    pts, levels, meta = store
    lc_available(spark)              # the once-per-session capability probe
    b, e = 10_005 * SECOND, 12_995 * SECOND

    def n_jobs(build):
        return len(jobs_in(spark, lambda: build().collect())[1])

    assert n_jobs(lambda: aggregate_auto(pts, levels, meta, b, e)) == 13
    assert n_jobs(lambda: aggregate_auto(pts, levels, meta, b, e,
                                         row_floor=1, row_ratio=0)) == 22
    assert n_jobs(lambda: aggregate_telescope(pts, levels, meta, b, e)) == 17
    assert n_jobs(lambda: aggregate_exact(pts, b, e)) == 10
    assert n_jobs(lambda: count_via_levels(pts, levels, meta, b, e)) == 15
