"""Hierarchical rollup build — the engine's core transform.

Re-expresses the reference's insert cascade (W1-W4 in SURVEY.md §2.1;
/root/reference/src/metric.cpp:510-603, /root/reference/src/level.hpp:38-67,
/root/reference/src/aggregate.cpp:37-59) as one declarative Spark pipeline.

Semantics (LAST / sample-and-hold, ns-exact):
- every point ``(t_i, v_i)`` contributes ``count=1, sum=v, min=max=v`` to the
  bucket containing ``t_i``;
- its *segment* ``[t_{i-1}, t_i)`` carries value ``v_i`` and contributes
  ``integral = v * overlap_ns``, ``active_time = overlap_ns`` and
  ``min=max=v`` (count=0, sum=0) to every bucket it overlaps — this is the
  reference's boundary-splitting partial aggregate
  (/root/reference/src/metric.cpp:537-558: ``Aggregate{v, v, 0, 0,
  v*partial_ns, partial_duration}``);
- the first point of a metric has an empty segment (``Level.time_current`` is
  initialized to the first point's own time, /root/reference/src/metric.cpp:533-535).

Only *closed* intervals are materialized, matching the reference's level
files: bucket ``k`` of width ``d`` is closed iff ``(k+1)*d <= t_last`` (the
open tail interval lives in the Level state, not storage).  At every level
``m`` the stored buckets are exactly ``floor(t_first/d_m) <= k <
floor(t_last/d_m)`` — higher levels are pure monoid re-groups of the level
below (/root/reference/src/metric.cpp:562-603).

Scale notes:
- the lag window shuffles once on ``metric``; the grouped aggregation is
  partial-aggregated map-side, so the second shuffle moves ~|level-1| rows
  (≈ raw/30 with recommended params), not raw rows;
- each following level is a single groupBy over a 10x smaller input — total
  build cost ≈ 1.1x one raw scan (the reference's ~11% overhead figure,
  /root/reference/README.md "Planning the aggregation parameters");
- a single giant metric makes ``Window.partitionBy(metric)`` skew; for that
  shape :func:`plan_build` salts the window into time chunks per metric
  (:func:`lagged_salted`: the per-chunk first row is fixed up from the
  previous chunk's last point).  The segment explode is bounded by the
  same dense-row count the reference itself would write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..meta import Meta
from ..compat import default_parallelism

__all__ = [
    "raw_range",
    "lagged",
    "segment_pieces",
    "build_level1",
    "build_next_level",
    "build_levels",
    "materialize_levels",
]


#: auto-salting aims for at most this many rows per window task; a metric
#: whose series exceeds it gets its window salted into time chunks
AUTO_SALT_TARGET_ROWS = 1_000_000


def auto_salt_chunks(raw: DataFrame) -> int | None:
    """Skew decision alone: the chunk count :func:`plan_build` would give
    ``raw``'s build (None when no metric's series overfills one window
    task of ``AUTO_SALT_TARGET_ROWS`` rows).  Runs the planner's stats
    collect."""
    return plan_build(raw)[0]


def _chunks_for(mx: int | None, raw: DataFrame) -> int | None:
    if not mx or mx <= AUTO_SALT_TARGET_ROWS:
        return None
    par = default_parallelism(raw.sparkSession)
    need = -(-mx // AUTO_SALT_TARGET_ROWS)          # ceil
    # 4x the parallelism, not 1x (r15, guide §2.5): hashing exactly
    # `par` chunk keys into `par` shuffle partitions is balls-in-bins —
    # ~1/e of the partitions draw no chunk and the busiest carry 2-3,
    # so the window stage runs at ~60% effective parallelism with 2x
    # stragglers.  At >=4 keys/partition the expected imbalance drops
    # to ~±25% (measured on the 16.7M single-metric build: the salted
    # window pass 3.06 s -> 1.80 s at 32 cores).  Scale-adaptive: the
    # floor tracks default_parallelism on any cluster size; the 256 cap
    # bounds the boundary-repair broadcast.
    return int(min(256, max(need, min(4 * par, 256))))


def plan_build(raw: DataFrame) -> tuple[int | None, DataFrame]:
    """The hierarchy build's one planner: one collected stats pass ->
    (salt decision, LITERAL ranges frame).

    The skew decision needs a driver-side value, so planning runs an
    action; folding min/max into the same aggregate and re-emitting the
    collected rows as a literal frame means the (possibly expensive) raw
    lineage executes exactly once for all planner needs — the lazy
    ``raw_range`` broadcast subtree would re-execute it inside the build
    job.  Driver state is metric-count-sized (the repo's planner-state
    convention; 10^4-metric smoke-tested)."""
    rows = raw.groupBy("metric").agg(
        F.min("time").alias("t_first"), F.max("time").alias("t_last"),
        F.count(F.lit(1)).alias("n")).collect()
    spark = raw.sparkSession
    schema = "metric string, t_first long, t_last long"
    ranges = spark.createDataFrame(
        [(r["metric"], r["t_first"], r["t_last"]) for r in rows], schema)
    mx = max((r["n"] for r in rows), default=0)
    return _chunks_for(mx, raw), ranges


def raw_range(raw: DataFrame) -> DataFrame:
    """Per-metric (t_first, t_last) — the reference's ``Metric::range()``
    (/root/reference/src/metric.cpp:441-445)."""
    return raw.groupBy("metric").agg(
        F.min("time").alias("t_first"), F.max("time").alias("t_last")
    )


def lagged(raw: DataFrame) -> DataFrame:
    """Attach ``prev_time`` (strictly-earlier neighbour) per metric.

    One shuffle on ``metric`` + in-partition sort; feeds both the level-1
    build and the raw-exact aggregate.  For a single giant metric this puts
    the whole series through one task — use :func:`lagged_salted` there.
    """
    w = Window.partitionBy("metric").orderBy("time")
    return raw.withColumn("prev_time", F.lag("time").over(w))


def chunk_index(time_col: Column, chunks: int) -> Column:
    """Contiguous time-slice index in ``[0, chunks)`` over a joined
    (t_first, t_last) range — the salting key shared by the skew-proof
    window paths.  All rows with the same timestamp land in the same
    chunk (the index is a pure function of time), which is what makes
    chunk-local window logic repairable/exact."""
    span = F.col("t_last") - F.col("t_first")
    width = F.greatest(F.call_function("div", span, F.lit(chunks)), F.lit(1))
    return F.least(F.call_function("div", time_col - F.col("t_first"), width),
                   F.lit(chunks - 1).cast("long"))


def lagged_salted(raw: DataFrame, chunks: int = 256,
                  ranges: DataFrame | None = None) -> DataFrame:
    """Skew-proof ``prev_time``: salt each metric's time range into
    ``chunks`` contiguous slices, window within (metric, slice), and repair
    each slice's first row from the previous *non-empty* slice's last
    timestamp (a slice-count-sized aggregate + broadcast join).

    Identical output to :func:`lagged` (equivalence-tested); turns the
    one-task-per-metric sort into ``chunks`` parallel tasks, which is the
    difference between a single-threaded and a cluster-wide build when one
    metric dominates.  Cost: one extra tiny aggregate + broadcast join.
    """
    ranges = ranges if ranges is not None else raw_range(raw)
    j = raw.join(F.broadcast(ranges), "metric")
    df = (j.withColumn("_c", chunk_index(F.col("time"), chunks))
          .drop("t_first", "t_last"))

    # boundary frame from the PRE-window frame: chunk_last only needs
    # max(time) per slice, so deriving it before the window keeps the
    # sorted/windowed subtree single-consumer (computing it from the
    # windowed frame makes Spark sort the entire input twice — measured
    # 2x on the 16.7M-point single-metric build)
    chunk_last = df.groupBy("metric", "_c").agg(F.max("time").alias("_cl"))
    w_c = Window.partitionBy("metric").orderBy("_c")
    boundary = chunk_last.select(
        "metric", "_c", F.lag("_cl").over(w_c).alias("_prev_last"))

    w_in = Window.partitionBy("metric", "_c").orderBy("time")
    return (df.withColumn("_lag_in", F.lag("time").over(w_in))
            .join(F.broadcast(boundary), ["metric", "_c"], "left")
            .withColumn("prev_time", F.coalesce("_lag_in", "_prev_last"))
            .drop("_c", "_lag_in", "_prev_last"))


def segment_pieces(
    lagged_df: DataFrame,
    interval: int,
    origin: int = 0,
    clip_begin: int | None = None,
    clip_end: int | None = None,
) -> DataFrame:
    """Explode each point + its segment into per-bucket contribution pieces.

    Returns columns: ``metric, k (bucket index), value, cnt (0/1), dur (ns)``.

    One explode serves both callers: the point's bucket ``kp`` is the last
    bucket of its segment (the segment ends AT the point), so one
    ``sequence(k_start, kp)`` per point carries both the count piece
    (``k == kp``, ``cnt=1``) and every overlap piece (``dur`` = the
    segment's overlap with bucket ``k``).  A non-monotonic pair
    (``prev >= t``) degenerates to the count piece alone.

    ``origin``/``clip_*`` generalize the transform: the level build uses
    ``origin=0`` and no clipping; ``retrieve_flex``'s raw smoothing
    (/root/reference/src/metric.cpp:259-311) uses ``origin=clip_begin=begin``
    and ``clip_end=end``, with the clip bounds as column expressions.
    Faithful smoothing quirks reproduced here:

    - a missing predecessor is initialized to ``begin`` (the reference's
      ``previous_tp = min(begin, first_point)``), so the first point
      back-fills to the query begin;
    - points before ``begin`` only serve as predecessors and emit nothing;
    - a segment entering from before ``begin`` is *not* clipped: its
      bucket index is clamped to 0 and its pre-begin overhang folds into
      bucket 0 (the reference's skip loop leaves ``previous_tp`` at the
      last pre-begin point and the first consumed point is weighted from
      there, metric.cpp:265-272,289);
    - segments are clipped at ``end``: a point at or after ``end`` has no
      count piece, and its segment's pieces stop at the bucket of
      ``end - 1`` (the inner loop never consumes a point ``>= current_end``;
      partials stop at ``min(current_begin + interval, end)``,
      metric.cpp:286,299-306) — an empty clipped segment emits nothing.
    """
    t = F.col("time")
    prev = F.col("prev_time")
    o = F.lit(origin)
    d = F.lit(interval)

    def bucket(x: Column) -> Column:
        # exact int64 floor-division (see chrono.col_bucket: double division
        # can truncate the quotient off-by-one at 1e18 ns magnitudes)
        off = x - o
        return F.call_function("div", off - F.pmod(off, d), d)

    src = lagged_df
    k_lo = bucket(prev)
    lower = o + F.col("k") * d
    if clip_begin is not None:
        # reference: previous_tp starts at min(begin, first point time)
        prev = F.coalesce(prev, F.least(F.lit(clip_begin), t))
        src = src.filter(t >= F.lit(clip_begin))
        k_lo = F.greatest(bucket(prev), F.lit(0).cast("long"))
        # pre-begin overhang folds into bucket 0 (matched by the clamp);
        # without clip_begin negative-k pieces carry it instead
        lower = F.when(F.col("k") == 0, F.least(o, F.col("sb"))
                       ).otherwise(lower)
    # kp: the count piece's bucket, NULL for a point at or after end
    kp = k_hi = bucket(t)
    se = t
    if clip_end is not None:
        se = F.least(t, F.lit(clip_end))
        kp = F.when(t < F.lit(clip_end), kp)
        k_hi = F.coalesce(kp, bucket(se - F.lit(1)))
    valid_seg = prev.isNotNull() & (prev < se)
    k_start = F.when(valid_seg, k_lo).otherwise(kp)
    if clip_begin is not None or clip_end is not None:
        # a clipped row may have no piece at all (no count piece and an
        # empty segment): never let the sequence descend or start at NULL
        src = src.filter(k_start <= k_hi)
    rows = src.select(
        "metric",
        "value",
        F.when(valid_seg, prev).alias("sb"),
        se.alias("se"),
        kp.alias("kp"),
        F.explode(F.sequence(k_start, k_hi)).alias("k"),
    )
    k = F.col("k")
    dur = F.when(F.col("sb").isNull(), F.lit(0).cast("long")).otherwise(
        F.least(o + (k + 1) * d, F.col("se")) - F.greatest(lower, F.col("sb")))
    return rows.select(
        "metric",
        k.alias("k"),
        "value",
        F.when(k == F.col("kp"), 1).otherwise(0).alias("cnt"),
        dur.alias("dur"),
    )


def micro_value(value: Column) -> Column:
    """``round(value * 1e6)`` as BIGINT — the micro-unit quantization used by
    the order-free ``exact=True`` accumulation.  For |value| << 2^53/1e6 the
    double product is correctly rounded, so every engine (Spark, DuckDB, ...)
    computes the identical integer; after that all arithmetic is exact."""
    return F.round(value * F.lit(1e6), 0).cast("long")


#: the Aggregate monoid's six fields (reference ``src/aggregate.cpp:37-59``)
_FIELDS = ("minimum", "maximum", "sum", "count", "integral", "active_time")
#: each field's identity, the reference's empty ``Aggregate{}``
#: (reference ``src/metric.cpp:174-178``); the rest are 0
_IDENTITY = {"minimum": float("inf"), "maximum": float("-inf")}


def _merge_exprs(fields: tuple[str, ...] | list[str] = _FIELDS) -> list[Column]:
    """``Aggregate::operator+=`` (reference ``src/aggregate.cpp:50-59``)
    over already-aggregated rows, one column per requested field: a field
    subset is a projection of the monoid."""
    merge = {"minimum": F.min("minimum"), "maximum": F.max("maximum"),
             "count": F.sum("count").cast("long"),
             "active_time": F.sum("active_time").cast("long")}
    return [merge.get(f, F.sum(f)).alias(f) for f in fields]


def _closed(agg: DataFrame, interval: int, ranges: DataFrame) -> DataFrame:
    """Keep the closed buckets only: ``interval_start + interval <=
    t_last`` (the open tail lives in the Level state, not storage)."""
    return (agg.join(F.broadcast(ranges), "metric")
            .filter(F.col("interval_start") + F.lit(interval) <= F.col("t_last"))
            .drop("t_first", "t_last"))


def _piece_aggs(exact: bool = False) -> list[Column]:
    """The Aggregate's six fields over contribution pieces ``(value, cnt,
    dur)``: a count piece (``cnt=1``) adds its value to ``sum``, and every
    piece holds ``value`` for ``dur`` ns (reference
    ``src/aggregate.cpp:37-48``).  Grouped by (metric, bucket) it is the
    level-1 build, grouped by metric the raw-exact range aggregate.

    ``exact=True``: order-free integer accumulation for the oracle-gated
    queries.  ``sum`` becomes BIGINT in micro-value units and ``integral``
    DECIMAL(38,0) in micro-value*ns: values are quantized once via
    :func:`micro_value` (deterministic across engines), then summed with
    exact associative integer arithmetic — bit-reproducible regardless of
    partition/summation order.  Assumes |value| <= ~1e9 (documented
    convention; the double default path has no such bound and matches the
    reference's engine-internal doubles).
    """
    v, cnt, dur = F.col("value"), F.col("cnt"), F.col("dur")
    if exact:
        mv = micro_value(v)
        sum_expr = F.sum(F.when(cnt == 1, mv).otherwise(F.lit(0))).cast("long")
        integral = F.sum(mv.cast("decimal(38,0)") * dur)
    else:
        sum_expr = F.sum(F.when(cnt == 1, v).otherwise(0.0))
        integral = F.sum(v * dur)
    return [F.min(v).alias("minimum"), F.max(v).alias("maximum"),
            sum_expr.alias("sum"), F.sum(cnt).cast("long").alias("count"),
            integral.alias("integral"),
            F.sum(dur).cast("long").alias("active_time")]


def _merge_pieces(pieces: DataFrame, interval: int, origin: int = 0,
                  exact: bool = False) -> DataFrame:
    """groupBy (metric, bucket) with :func:`_piece_aggs` — Spark's
    partial+final hash aggregation IS ``Aggregate::operator+=``
    (/root/reference/src/aggregate.cpp:50-59)."""
    return (pieces.groupBy("metric", "k").agg(*_piece_aggs(exact))
            .select("metric", (F.lit(origin) + F.col("k") * F.lit(interval))
                    .alias("interval_start"), *_FIELDS))


def _level1(raw: DataFrame, interval: int, ranges: DataFrame,
            chunks: int | None, exact: bool = False) -> DataFrame:
    """The level-1 kernel every build runs: the lag window (salted into
    ``chunks`` time slices via :func:`lagged_salted` when set), the
    segment explode, the monoid merge and the closed-bucket filter on
    ``ranges``."""
    lg = lagged_salted(raw, chunks, ranges) if chunks else lagged(raw)
    pieces = segment_pieces(lg, interval)
    return _closed(_merge_pieces(pieces, interval, exact=exact), interval,
                   ranges)


def build_level1(raw: DataFrame, interval: int,
                 exact: bool = False) -> DataFrame:
    """Level-1 rollup (closed buckets only) from the raw table.

    Equivalent to replaying ``Metric::insert`` (/root/reference/src/metric.cpp:510-560)
    over the whole series, keeping only closed intervals.
    :func:`plan_build` decides the salt: the per-metric window is salted
    via :func:`lagged_salted` only when a metric's series would overfill
    one window task.
    ``exact``: decimal sum/integral accumulation (see :func:`_piece_aggs`);
    higher levels inherit the decimal type through their plain ``sum()``s.
    """
    chunks, ranges = plan_build(raw)
    return _level1(raw, interval, ranges, chunks, exact)


def build_levels_counts(raw: DataFrame, meta: Meta) -> dict[int, DataFrame]:
    """Counts-only cascade: dict interval_ns -> (metric, interval_start,
    count), the ``count`` projection of :func:`build_levels`' levels on
    the buckets holding a point (the full build also stores closed
    buckets that only a segment crosses, with count 0; a count sum does
    not see them).

    For consumers that read ONLY the rollup ``count`` field (the
    telescoped count walk, ``stats.count_via_levels``), the expensive
    parts of the full build exist only for the other five fields: the
    per-metric lag window feeds the segment durations and the segment
    bucket explode spreads min/max/integral across overlapped buckets.
    A bucket's ``count`` is the number of points inside it, so level 1 is
    one map-side-combined groupBy (zero windows, zero explodes), and the
    levels above run :func:`build_levels`' own cascade, whose
    :func:`build_next_level` merges only the fields its child carries.

    The level-1 count frame (~raw/30 rows) is materialized eagerly when
    levels stack above it, so a consumer whose one action unions several
    level branches (the telescoped count walk) reads it once instead of
    every branch re-deriving the level-1 aggregate from raw — racing
    branches inside a single job do not reliably share a lazy cache.
    Ranges come from a lazy :func:`raw_range`: no planner collect."""
    ranges = raw_range(raw)
    intervals = meta.level_intervals()
    if not intervals:
        return {}
    d = intervals[0]
    off = F.col("time") - F.lit(0)
    k = F.call_function("div", off - F.pmod(off, F.lit(d)), F.lit(d))
    lvl = _closed(raw.groupBy("metric", k.alias("k"))
                  .agg(F.count(F.lit(1)).cast("long").alias("count"))
                  .select("metric", (F.col("k") * F.lit(d))
                          .alias("interval_start"), "count"), d, ranges)
    if len(intervals) > 1:
        from ..compat import pin
        lvl = pin(lvl)
    return _cascade(lvl, meta, ranges)


def build_next_level(child: DataFrame, child_interval: int, factor: int,
                     ranges: DataFrame) -> DataFrame:
    """Level n+1 from level n — the ``Metric::insert(Row)`` cascade
    (reference ``src/metric.cpp:562-603``) as a monoid re-group of the
    monoid fields ``child`` carries."""
    parent_interval = child_interval * factor
    pk = (F.col("interval_start") - F.pmod(F.col("interval_start"), F.lit(parent_interval)))
    agg = (child.groupBy("metric", pk.alias("interval_start"))
           .agg(*_merge_exprs([f for f in _FIELDS if f in child.columns])))
    return _closed(agg, parent_interval, ranges)


def _cascade(level1: DataFrame, meta: Meta,
             ranges: DataFrame) -> dict[int, DataFrame]:
    """Every level from level 1, each built from the one below."""
    intervals = meta.level_intervals()
    out = {intervals[0]: level1}
    child = level1
    for iv in intervals[:-1]:
        child = build_next_level(child, iv, meta.interval_factor, ranges)
        out[iv * meta.interval_factor] = child
    return out


def materialize_levels(levels: dict[int, DataFrame]) -> None:
    """Force the whole cascade dict into cache with TWO jobs instead of
    one per level.

    Per-level ``cache().write(noop)`` loops pay one full job (scheduling,
    broadcast re-execution, shuffle setup) per level even though every
    level above 1 is a trivial re-group of a tiny cached parent — measured
    ~0.5 s/level of pure overhead on the 16.7M-point single-metric build
    (levels 2-4 hold 559k/56k/5.6k rows).  Instead: job 1 materializes
    level 1 (the only expensive lineage) into cache; job 2 forces the
    UNION of all higher levels in one action.  Branches start
    concurrently, so branch k typically recomputes levels 2..k-1 from
    the cached level 1 rather than reading a sibling's not-yet-populated
    cache — worst-case duplicate work is O(n_levels * |level 1|) row
    re-grouping (every branch re-aggregating the cached level 1), which
    for factor-10 ladders is still well under one job's scheduling
    overhead; each level's own ``cache()`` populates as its branch
    computes, so callers keep per-level cached frames."""
    if not levels:
        return
    ivs = sorted(levels)

    def cached(df: DataFrame) -> DataFrame:
        # re-materializing an already-cached dict (bench re-runs, repeated
        # reads) must not re-issue cache(): CacheManager warns "already
        # cached" per call and the warning tail is a parse surface
        return df if df.is_cached else df.cache()

    cached(levels[ivs[0]]).write.mode("overwrite").format("noop").save()
    if len(ivs) == 1:
        return
    rest = None
    for iv in ivs[1:]:
        df = cached(levels[iv]).select(
            F.lit(iv).alias("_iv"), "metric", "interval_start")
        rest = df if rest is None else rest.unionByName(df)
    rest.write.mode("overwrite").format("noop").save()


def build_levels(raw: DataFrame, meta: Meta,
                 exact: bool = False) -> dict[int, DataFrame]:
    """Build the whole hierarchy: dict interval_ns -> agg DataFrame.

    One :func:`plan_build` (the salt decision and the ranges frame), the
    level-1 kernel, then the cascade, each level built from the one
    below.  Levels stay lazy: no Dataset is cached.  One action over
    several levels (a union) shares the level-1 shuffle but re-runs the
    lag window and the segment explode per level branch; callers that run
    one action per level should :func:`materialize_levels` first.
    ``exact``: as for :func:`build_level1`.
    """
    chunks, ranges = plan_build(raw)
    lvl = _level1(raw, meta.level_intervals()[0], ranges, chunks, exact)
    return _cascade(lvl, meta, ranges)
