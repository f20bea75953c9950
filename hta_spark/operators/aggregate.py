"""R5 — exact aggregate over an arbitrary ns range (SURVEY.md §2.1).

One raw kernel, one walk, two entry points (results equivalence-tested):

- :func:`_edge_aggregate_cols` is the one raw kernel: ``aggregate_raw``
  (reference ``src/metric.cpp:112-137``) over per-metric ``[lo, hi)``
  bound columns — a pruned scan, one lag window, one grouped aggregate.
  Its ``("count",)`` projection drops the window for a filtered count.
- :func:`_telescope_walk` is the one walk: the reference's telescoping
  decomposition (metric.cpp:184-227) as two raw-edge kernels plus one
  chunk read per level, merged with the monoid of ``rollup._merge_exprs``
  over any field projection.  ``stats.count_via_levels`` runs its
  ``("count",)`` projection.
- :func:`aggregate_exact` runs the kernel once over the clamped
  ``[bm, em)`` range (per-metric clamping and identity fill,
  metric.cpp:160-231); :func:`aggregate_telescope` runs the walk, reading
  O(levels * factor) rollup rows instead of O(raw).
  :func:`aggregate_auto` picks between them from rollup statistics.

Postcondition (all): ``active_time == clamped_end - clamped_begin``
(metric.cpp:229; regression-tested per tests/aggregate.cpp:397-521).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..chrono import interval_begin, interval_end
from ..compat import default_parallelism, pin
from ..errors import InvalidRangeError
from ..meta import Meta
from .rollup import _FIELDS, _IDENTITY, _merge_exprs, _piece_aggs, raw_range

__all__ = ["aggregate_exact", "aggregate_telescope", "aggregate_auto",
           "AUTO_ROW_FLOOR", "AUTO_ROW_RATIO"]

#: aggregate_auto decision knobs (shared by every dispatch site so they
#: cannot drift): telescope iff est_raw > max(AUTO_ROW_FLOOR,
#: AUTO_ROW_RATIO * est_tel).  The floor encodes the telescope's fixed
#: per-branch stage overhead against the exact path's single windowed
#: scan (breakeven near half a million windowed rows on the measured
#: 16.7M crossover); the ratio guards the regime where levels are barely
#: smaller than raw.
AUTO_ROW_FLOOR = 512_000
AUTO_ROW_RATIO = 8


def _identity_fill(ranges: DataFrame, agg: DataFrame,
                   fields: tuple[str, ...] = _FIELDS) -> DataFrame:
    """One row per metric of ``ranges``: metrics with no in-range
    contributions take the monoid identity — ``return {}`` at
    /root/reference/src/metric.cpp:174-178."""
    return ranges.select("metric").join(agg, "metric", "left").select(
        "metric", *[F.coalesce(F.col(f), F.lit(_IDENTITY.get(f, 0))).alias(f)
                    for f in fields])


def _clamp(begin: int, end: int) -> tuple:
    """(valid, bm, em) per-metric column expressions: a metric contributes
    iff ``begin <= t_last`` and ``end > t_first``, over ``[begin, end)``
    clamped to its data range (metric.cpp:160-178)."""
    b_lit, e_lit = F.lit(begin), F.lit(end)
    valid = (e_lit > F.col("t_first")) & (b_lit <= F.col("t_last"))
    bm = F.least(F.greatest(b_lit, F.col("t_first")), F.col("t_last"))
    em = F.least(F.greatest(e_lit, F.col("t_first")), F.col("t_last"))
    return valid, bm, em


def aggregate_exact(raw: DataFrame, begin: int, end: int,
                    ranges: DataFrame | None = None,
                    exact: bool = False) -> DataFrame:
    """One row per metric: exact Aggregate over [begin, end) with LAST
    semantics, per-metric clamping and identity fill.

    One run of the raw kernel :func:`_edge_aggregate_cols` over the
    per-metric clamped ``[bm, em)`` bounds: filter (``time >= begin``
    pushed to parquet — safe because every valid metric's ``bm >= begin``)
    -> one window lag -> one grouped aggregation.  ``exact``: order-free
    integer sum/integral in micro-value units — see rollup._piece_aggs.
    """
    if begin >= end:
        raise InvalidRangeError(
            f"invalid request: begin timestamp {begin} >= end timestamp {end}")
    ranges = ranges if ranges is not None else raw_range(raw)
    valid, bm, em = _clamp(begin, end)
    bounds = ranges.filter(valid).select("metric", bm.alias("_bm"),
                                         em.alias("_em"))
    return _identity_fill(ranges, _edge_aggregate_cols(
        raw, bounds, "_bm", "_em", begin, exact=exact))


def _auto_choice(levels: dict[int, DataFrame], meta: Meta,
                 begin: int, end: int, ranges: DataFrame,
                 row_floor: int, row_ratio: int) -> tuple[str, int, int]:
    """The planner probe behind :func:`aggregate_auto`: estimate the raw
    rows the exact path would window (from the COARSEST materialized
    rollup's ``count`` sums — O(range/interval_max) rows read, never the
    raw store) against the rows the telescope would touch (the static
    decomposition's chunk widths x metric count + density-scaled ragged
    edges).  Returns (choice, est_raw_rows, est_telescope_rows).

    Decision rule: telescope iff ``est_raw > max(row_floor,
    row_ratio * est_tel)``.  ``row_floor`` encodes the telescope's fixed
    per-branch stage overhead (~2 + 2/level plan branches) against the
    exact path's single windowed scan: on the measured 16.7M-point
    crossover (BENCH_DETAIL aggregate_crossover_16m) exact wins at 1% of
    range (~167k rows: 0.86 s vs 3.76 s) and telescope wins from 10% up
    (~1.7M rows: 1.13 s vs 2.36 s), putting the breakeven near half a
    million windowed rows; stage dispatch vs per-row cost keeps the same
    order on a multi-executor cluster.  ``row_ratio`` guards the regime
    where levels are barely smaller than raw (sf0.1's 30-points-per-
    bucket store: reading levels is not much cheaper than raw).

    The store statistics cost two small collects per dispatch: the
    global bounds and metric count of ``ranges``, and the coarsest
    rollup's metric-summed bucket counts — O(time_range / interval_max)
    rows, planner-state sized at any data scale (a year of data at the
    100 h default is ~90 rows).  The [b, e) estimate is driver arithmetic
    over that histogram: partially-overlapped buckets contribute
    fractionally, and the unmaterialized open tail keeps the estimate a
    mild lower bound — a planning-only error toward the cheap exact
    path."""
    usable = [iv for iv in meta.level_intervals() if iv in levels]
    if not usable:
        return "exact", -1, -1
    coarse = max(usable)
    lo, hi, n_metrics = ranges.select(F.min("t_first"), F.max("t_last"),
                                      F.count("*")).collect()[0]
    if lo is None:
        return "exact", 0, 0
    hist = sorted(tuple(r) for r in levels[coarse].groupBy("interval_start")
                  .agg(F.sum("count")).collect())
    b, e = max(begin, lo), min(end, hi)
    if b >= e:
        return "exact", 0, 0
    acc = 0.0
    for s, c in hist:
        if b - coarse < s < e:
            acc += c * ((min(e, s + coarse) - max(b, s)) / float(coarse))
    est_raw = int(acc)
    raw_edges, chunks = _telescope_plan(b, e, meta)
    chunk_rows = sum((ce - cb) // iv for iv, cb, ce in chunks
                     if iv in levels)
    # levels absent from the dict fall back to raw chunk scans — count
    # them at raw density, like the edges
    raw_spans = sum(e2 - b2 for b2, e2 in raw_edges)
    raw_spans += sum(ce - cb for iv, cb, ce in chunks if iv not in levels)
    density = est_raw / max(e - b, 1)
    est_tel = int(chunk_rows * n_metrics + raw_spans * density)
    choice = ("telescope"
              if est_raw > max(row_floor, row_ratio * est_tel)
              else "exact")
    return choice, est_raw, est_tel


def aggregate_auto(raw: DataFrame, levels: dict[int, DataFrame], meta: Meta,
                   begin: int, end: int, ranges: DataFrame | None = None,
                   row_floor: int = AUTO_ROW_FLOOR,
                   row_ratio: int = AUTO_ROW_RATIO) -> DataFrame:
    """Cost-based exact-vs-telescope choice (VERDICT r5 item 6): the
    reference always telescopes (metric.cpp:160-231) because its level
    reads are pointer-cheap; in Spark each telescope branch is a stage,
    so small ranges are faster as one raw windowed scan (measured
    crossover: BENCH_DETAIL aggregate_crossover_16m).  This entry point
    estimates both sides from the ROLLUPS (:func:`_auto_choice`'s two
    small collects — the raw store is never scanned for planning) and
    dispatches; results are path-independent (equivalence-tested), so a
    planning miss costs time, never correctness."""
    if begin >= end:
        raise InvalidRangeError(
            f"invalid request: begin timestamp {begin} >= end timestamp {end}")
    # both paths broadcast/reuse the bounds repeatedly; one eager
    # metric-count-sized materialization stops the planner probe and the
    # chosen path from re-running the full-raw ranges aggregate (as in
    # stats.count_via_levels)
    ranges = pin(ranges if ranges is not None else raw_range(raw))
    choice, _r, _t = _auto_choice(levels, meta, begin, end, ranges,
                                  int(row_floor), int(row_ratio))
    if choice == "telescope":
        return aggregate_telescope(raw, levels, meta, begin, end,
                                   ranges=ranges)
    return aggregate_exact(raw, begin, end, ranges=ranges)


def _telescope_plan(begin: int, end: int, meta: Meta) -> tuple[
        list[tuple[int, int]], list[tuple[int, int, int]]]:
    """The reference's decomposition loop (metric.cpp:184-227) on clamped
    bounds: returns (raw_edges, level_chunks) with level chunks as
    (interval, chunk_begin, chunk_end), all [b, e) with aligned b/e."""
    interval = meta.interval_min
    next_begin = interval_end(begin - 1, interval)
    next_end = interval_begin(end, interval)
    if next_begin >= next_end:
        return [(begin, end)], []
    raw_edges = [(begin, next_begin), (next_end, end)]
    begin, end = next_begin, next_end
    chunks: list[tuple[int, int, int]] = []
    while True:
        next_interval = interval * meta.interval_factor
        nb = interval_end(begin - 1, next_interval)
        ne = interval_begin(end, next_interval)
        if next_interval > meta.interval_max or nb >= ne:
            chunks.append((interval, begin, end))
            break
        chunks.append((interval, begin, nb))
        chunks.append((interval, ne, end))
        begin, end = nb, ne
        interval = next_interval
    return raw_edges, [(iv, b, e) for (iv, b, e) in chunks if b < e]


def _telescope_bounds(ranges: DataFrame, begin: int, end: int,
                      meta: Meta) -> tuple[DataFrame, list[int]]:
    """The telescope decomposition (metric.cpp:184-227) as per-metric
    COLUMN expressions: for each static level k a pair of chunk windows
    ``(_l{k}_lo1, _l{k}_hi1), (_l{k}_lo2, _l{k}_hi2)`` plus the two raw
    ragged edges ``(_re1_lo, _re1_hi), (_re2_lo, _re2_hi)``.

    The recurrence that the reference runs imperatively over literal
    bounds is bounded by the STATIC level list of ``meta``, so it unrolls
    into one ``select`` — per-metric clamped bounds never reach the
    driver (the r3 design collected the distinct clamped pairs and built
    a plan per pair; this builds ONE plan for any number of distinct
    clamps).  NULL chunk bounds mean "level not part of this metric's
    cover" and fail every join filter."""
    from ..chrono import col_interval_begin, col_interval_end

    intervals = meta.level_intervals()
    valid, bm, em = _clamp(begin, end)
    df = ranges.filter(valid)
    m = intervals[0]
    b0 = col_interval_end(bm - 1, m)
    e0 = col_interval_begin(em, m)
    degen = (bm >= em) | (b0 >= e0)
    cols = {"_bm": bm, "_em": em,
            "_re1_lo": bm,
            "_re1_hi": F.when(degen, em).otherwise(b0),
            "_re2_lo": F.when(degen, em).otherwise(e0),
            "_re2_hi": em}
    alive = ~degen
    b_k, e_k = b0, e0
    for k, iv in enumerate(intervals):
        last = k == len(intervals) - 1
        if last:
            stop = F.lit(True)
            nb = ne = None
        else:
            nxt = intervals[k + 1]
            nb = col_interval_end(b_k - 1, nxt)
            ne = col_interval_begin(e_k, nxt)
            stop = nb >= ne
        cols[f"_l{k}_lo1"] = F.when(alive, b_k)
        cols[f"_l{k}_hi1"] = F.when(alive,
                                    F.when(stop, e_k).otherwise(nb))
        cols[f"_l{k}_lo2"] = F.when(alive & ~stop, ne)
        cols[f"_l{k}_hi2"] = F.when(alive & ~stop, e_k)
        if not last:
            alive = alive & ~stop
            b_k, e_k = nb, ne
    out = df.select("metric", *[c.alias(n) for n, c in cols.items()])
    return out, intervals


def _edge_aggregate_cols(raw: DataFrame, bounds: DataFrame,
                         lo_col: str, hi_col: str, static_lo: int,
                         fields: tuple[str, ...] = _FIELDS,
                         exact: bool = False) -> DataFrame:
    """The raw kernel: ``aggregate_raw`` with PER-METRIC [lo, hi) bound
    columns from a broadcast frame — scoped scan {closed, extended} with
    boundary-partial carry (metric.cpp:112-137); contributions only,
    identity fill happens at the caller.  ``static_lo`` (<= every
    per-metric lo) is the literal that reaches the parquet scan as a
    pushed filter; NULL bounds (metric not in this edge's cover) fail
    every predicate.  ``fields == ("count",)``: a count needs no
    predecessor gap and no boundary-partial carry, so the window drops to
    a filtered map-side-combined count.  Otherwise each point is one
    ``(value, cnt, dur)`` piece — ``cnt=1`` inside ``[lo, hi)``, and the
    end point carries the partial ``hi - prev`` — aggregated by
    ``rollup._piece_aggs(exact)``, the level build's constructor."""
    t = F.col("time")
    lo, hi = F.col(lo_col), F.col(hi_col)
    sub = (raw.filter(t >= F.lit(static_lo))
           .join(F.broadcast(bounds.select("metric", lo_col, hi_col)),
                 "metric")
           .filter(t >= lo))
    if fields == ("count",):
        return (sub.filter(t < hi).groupBy("metric")
                .agg(F.count(F.lit(1)).cast("long").alias("count")))
    pts = sub.groupBy("metric").agg(
        F.min(F.when(t >= hi, t)).alias("_e_pt"))
    sub = (sub.join(F.broadcast(pts), "metric", "left")
           .filter(F.col("_e_pt").isNull() | (t <= F.col("_e_pt"))))
    w = Window.partitionBy("metric").orderBy("time")
    prev = F.greatest(F.coalesce(F.lag("time").over(w), lo), lo)
    inside = t < hi
    return sub.select(
        "metric", "value",
        F.when(inside, F.lit(1)).otherwise(F.lit(0)).alias("cnt"),
        F.when(inside, t - prev).otherwise(hi - prev).alias("dur"),
    ).groupBy("metric").agg(*_piece_aggs(exact))


def aggregate_telescope(raw: DataFrame, levels: dict[int, DataFrame], meta: Meta,
                        begin: int, end: int,
                        ranges: DataFrame | None = None) -> DataFrame:
    """Telescoping exact aggregate via materialized rollups: the six-field
    projection of :func:`_telescope_walk`."""
    if begin >= end:
        raise InvalidRangeError(
            f"invalid request: begin timestamp {begin} >= end timestamp {end}")
    ranges = ranges if ranges is not None else raw_range(raw)
    return _telescope_walk(raw, levels, meta, begin, end, ranges, _FIELDS)


def _telescope_walk(raw: DataFrame, levels: dict[int, DataFrame], meta: Meta,
                    begin: int, end: int, ranges: DataFrame,
                    fields: tuple[str, ...]) -> DataFrame:
    """The telescope decomposition over the monoid ``fields``.

    Per-metric clamping makes the decomposition metric-dependent; the
    whole decomposition is carried as per-metric bound COLUMNS
    (:func:`_telescope_bounds`), so the plan is ONE static union of
    2 raw-edge kernels + one select per level, joined against a
    broadcast bounds frame — no driver collect anywhere in the path
    (VERDICT r3 item 8; the r3 version collected the distinct clamped
    pairs, which was group-count-sized driver state and one plan per
    group).  10^5 metrics with 10^5 distinct clamps now cost the same
    plan as one.  Level frames need only carry ``fields``."""
    # one small eager materialization (metric-count-sized, stays on
    # executors): the bounds frame is broadcast into every union branch,
    # and a lazy subtree would re-run the ranges aggregate per branch
    bounds, intervals = _telescope_bounds(ranges, begin, end, meta)
    bounds = pin(bounds)

    def edge(bnd: DataFrame, lo: str, hi: str) -> DataFrame:
        return _edge_aggregate_cols(raw, bnd, lo, hi, begin, fields)

    parts: list[DataFrame] = [edge(bounds, "_re1_lo", "_re1_hi"),
                              edge(bounds, "_re2_lo", "_re2_hi")]
    par = max(2, default_parallelism(raw.sparkSession) // 8)
    s = F.col("interval_start")
    for k, iv in enumerate(intervals):
        lvl = levels.get(iv)
        lo1, hi1 = F.col(f"_l{k}_lo1"), F.col(f"_l{k}_hi1")
        lo2, hi2 = F.col(f"_l{k}_lo2"), F.col(f"_l{k}_hi2")
        if lvl is None:
            # missing rollup level (not built / unreadable): fall back to
            # exact raw scans of the chunks rather than silently
            # undercounting — the aligned [b, e) raw aggregate equals the
            # level-row sum by the path-equivalence invariant
            parts.append(edge(bounds.filter(lo1.isNotNull() & (lo1 < hi1)),
                              f"_l{k}_lo1", f"_l{k}_hi1"))
            parts.append(edge(bounds.filter(lo2.isNotNull() & (lo2 < hi2)),
                              f"_l{k}_lo2", f"_l{k}_hi2"))
            continue
        # chunk [lo, hi) with iv-aligned bounds keeps exactly the buckets
        # lo <= s < hi; NULL bounds (level not in this metric's cover)
        # fail the predicate.  Each chunk reads O(metrics * factor)
        # rollup rows — tiny next to its 32-partition parent; without the
        # coalesce the final union+agg schedules parts*shuffle_partitions
        # map tasks (~800 at sf0.1) and task overhead dominates.
        sub = (lvl.join(F.broadcast(bounds), "metric")
               .filter(((s >= lo1) & (s < hi1)) | ((s >= lo2) & (s < hi2))))
        parts.append(sub.select("metric", *fields).coalesce(par))

    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    return _identity_fill(
        ranges, allc.groupBy("metric").agg(*_merge_exprs(fields)), fields)
