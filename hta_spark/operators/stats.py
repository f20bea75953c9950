"""R6/R8 — count, range, last (SURVEY.md §2.1).

Reference: /root/reference/src/metric.cpp:233-243,441-445;
/root/reference/src/storage/file/metric.cpp:341-345,497-515.

A scoped count is a pruned ``count(*)`` (:func:`count_scoped`): parquet
row-group stats give the reference's skip-scan effect.  For very large
ranges :func:`count_via_levels` sums rollup counts instead, touching
O(levels·factor) rows: it is the ``("count",)`` projection of the
telescope walk in ``aggregate.py``, the same walk the range aggregate
runs.  :func:`metric_range` is ``rollup.raw_range``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..compat import pin
from .aggregate import _telescope_walk
from .rollup import raw_range
from .scopes import RAW_DEFAULT, IntervalScope, filter_raw

__all__ = ["count_scoped", "count_total", "count_via_levels", "metric_range",
           "last_point"]

#: (first, last) timestamp pair per metric — the one range function
metric_range = raw_range


def count_scoped(raw: DataFrame, begin: int, end: int,
                 scope: IntervalScope = RAW_DEFAULT) -> DataFrame:
    """Per-metric point count in the scoped range (metric, n)."""
    return (filter_raw(raw, begin, end, scope)
            .groupBy("metric").agg(F.count("*").alias("n")))


def count_total(raw: DataFrame) -> DataFrame:
    return raw.groupBy("metric").agg(F.count("*").alias("n"))


def count_via_levels(raw: DataFrame, levels: dict, meta, begin: int,
                     end: int) -> DataFrame:
    """Point count over [begin, end) via rollup ``count`` sums — the
    reference's count-prefix-sum walk
    (/root/reference/src/storage/file/metric.cpp:102-156) as a telescoped
    plan: O(levels·factor) rollup rows + two raw edge scans instead of a
    full range scan.

    A point count over [begin, end) IS the ``count`` field of the exact
    range aggregate, except at the data tail: the aggregate clamps ``end``
    to the last point and counts points in [begin, t_last) — the last point
    itself needs a +1 correction when ``begin <= t_last < end``.

    The walk is the ``("count",)`` projection of the aggregate's telescope
    walk: it reads only the rollup ``count`` field, and its raw edges drop
    the lag window for plain filtered counts.  Counts are integers summed
    over the identical disjoint decomposition, so the result is
    bit-identical to the full aggregate's.  ``levels`` may be full-monoid
    frames or the :func:`~hta_spark.operators.rollup.build_levels_counts`
    projection, whose cascade runs no window and no segment explode."""
    # one eager metric-count-sized materialization: the lazy ranges plan
    # would re-execute its full-raw aggregate in the telescope's identity
    # fill AND the correction join below — 2 extra raw scans in the
    # operator whose whole point is avoiding raw scans (review r4)
    ranges = pin(raw_range(raw))
    agg = _telescope_walk(raw, levels, meta, begin, end, ranges, ("count",))
    corr = F.when((F.lit(begin) <= F.col("t_last"))
                  & (F.col("t_last") < F.lit(end)), 1).otherwise(0)
    return (agg.join(F.broadcast(ranges), "metric")
            .select("metric", (F.col("count") + corr).cast("long").alias("n")))


def last_point(raw: DataFrame) -> DataFrame:
    """Tail element per metric — max_by keeps it a single aggregation
    (no sort/limit per metric)."""
    return raw.groupBy("metric").agg(
        F.max("time").alias("time"),
        F.max_by("value", "time").alias("value"))
