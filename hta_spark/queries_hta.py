"""HTA operator queries on the ``events`` table, paired with DuckDB oracle
SQL (the driver's correctness gate — see __spark_entry__.py).

Canonical events -> raw mapping (both engines MUST agree bit-for-bit):
the engine-native time axis is int64 nanoseconds at µs precision, whatever
the parquet physical type of ``events.ts`` happens to be (the driver has
shipped both TIMESTAMP(NANOS) — read as long via ``nanosAsLong``, truncated
``time = ts - ts % 1000`` to match DuckDB's ns->µs parquet read — and plain
``timestamp[us]`` — converted exactly via ``unix_micros`` under the UTC
session timezone, matching DuckDB's ``epoch_ns``).  :func:`ns_time` adapts
per schema.  Duplicate (metric, time) pairs collapse to
``max(value)`` to honor the reference's strict-monotonicity requirement
(/root/reference/src/metric.cpp:519-524) deterministically.

Double-summation note: ``sum``/``integral`` are accumulated with EXACT
integer arithmetic on BOTH engines (``exact=True`` operator mode here,
mirrored in the oracle SQL): values are quantized once to micro-units
(``round(value*1e6)::bigint`` — a correctly-rounded double product below
2^53, hence identical everywhere), then ``sum(V)`` (BIGINT) and
``sum(V*dur)`` (DECIMAL(38,0)/HUGEINT) are associative integer sums —
bit-reproducible regardless of partition/summation order.  The 3-decimal
output doubles come from :func:`_fix3`: one integer floor-division to exact
milli-units (< 2^53) plus one correctly-rounded IEEE division by 1000.0 —
no engine-specific double<->decimal conversion anywhere in the path.
(Rounding a double *sum* — the r01 approach — is NOT order-robust: FP
addition is order-dependent and a round() tie amplifies the ulp; DuckDB's
double->DECIMAL cast is itself lossy, so decimal-casting doubles is not
portable either.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .chrono import HOUR, SECOND
from .meta import Meta
from .operators import (IntervalScope, Scope, aggregate_exact,
                        count_scoped, filter_raw, last_point, metric_range)
from .operators.rollup import build_level1, build_levels
from .operators.tools import throttle

# query window constants (ns, UTC) — inside the events span (2024-01)
AGG_BEGIN = 1_704_412_800 * SECOND   # 2024-01-05
AGG_END = 1_705_708_800 * SECOND     # 2024-01-20
RET_BEGIN = 1_704_844_800 * SECOND   # 2024-01-10
RET_END = 1_704_931_200 * SECOND     # 2024-01-11
LEVEL1 = HOUR                        # 1 h level
COOLDOWN = 2 * HOUR

# DuckDB relation producing the canonical raw mapping
EVT = ("SELECT event_type AS metric, epoch_ns(ts) AS time, max(value) AS value "
       "FROM events GROUP BY 1, 2")

EVENTS_META = Meta(interval_min=LEVEL1, interval_max=100 * HOUR,
                   interval_factor=10)


def ns_time(ev: DataFrame, col: str = "ts"):
    """µs-precision ns-long time from an events timestamp column,
    schema-adaptive (see module docstring): long ns -> truncate to µs;
    timestamp[us]/timestamp_ntz -> exact ``unix_micros`` (session tz UTC,
    so naive timestamps are epoch-UTC exactly like DuckDB ``epoch_ns``)."""
    dt = dict(ev.dtypes).get(col)
    if dt in ("bigint", "long"):
        return F.col(col) - F.pmod(F.col(col), F.lit(1000))
    return (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)
            ).cast("long")


def _ts_literal(ev: DataFrame, us: int):
    """A literal comparable to the native ``ts`` column: long ns for the
    nanosAsLong representation, µs timestamp (cast to the column's exact
    type — constant-folded, so it still pushes down) otherwise."""
    dt = dict(ev.dtypes).get("ts")
    if dt in ("bigint", "long"):
        return F.lit(us * 1000)
    lit = F.timestamp_micros(F.lit(us))
    return lit if dt == "timestamp" else lit.cast(dt)


def _dedup_max(pts: DataFrame) -> DataFrame:
    """max-value collapse of duplicate (metric, time) pairs as a WINDOW
    keeper instead of a groupBy: within metric ordered by (time, value),
    the last row of each equal-time run carries the max value.

    Same rows as ``groupBy(metric, time).agg(max(value))``
    (equivalence-tested), but partitioned by ``metric`` — which every
    downstream consumer (rollup lag window, scoped boundary aggs, range
    stats) partitions by anyway, so the whole events pipeline runs on ONE
    exchange where the groupBy form forced a (metric, time) shuffle plus
    a second metric shuffle.  The window serializes per metric (the
    groupBy form did not)."""
    w = Window.partitionBy("metric").orderBy("time", "value")
    nxt = F.lead("time").over(w)
    return (pts.withColumn("_nt", nxt)
            .filter(F.col("_nt").isNull() | (F.col("_nt") != F.col("time")))
            .drop("_nt"))


def events_raw(spark: SparkSession, sf_dir: str,
               begin_ns: int | None = None,
               end_ns: int | None = None) -> DataFrame:
    """Canonical events -> raw frame (metric, ns-long time, value).

    Optional conservative ``[begin_ns, end_ns)`` bounds are applied to the
    NATIVE ``ts`` column before any conversion, so they reach the parquet
    scan as PushedFilters (Catalyst cannot invert the ns_time arithmetic
    for pushdown — at 100 TB this is the difference between a row-group-
    pruned scan and reading the whole table).  Bounds round outward to µs
    boundaries; since dedup groups are keyed by µs-truncated time, groups
    are kept or dropped ATOMICALLY and the result equals post-hoc
    ``time >= begin_ns`` / ``time < end_ns`` filters on the unbounded
    frame.  Callers keep their exact time predicates downstream; scopes
    that need points outside the window (extended begin/end) must not
    pass that side's bound."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if begin_ns is not None:
        ev = ev.filter(F.col("ts") >= _ts_literal(ev, begin_ns // 1000))
    if end_ns is not None:
        ev = ev.filter(F.col("ts") < _ts_literal(ev, -(-end_ns // 1000)))
    t = ns_time(ev).alias("time")
    return _dedup_max(
        ev.select(F.col("event_type").alias("metric"), t, "value"))


def events_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded per-metric (t_first, t_last) — the clamping frame for
    window-bounded queries.  Dedup-free (min/max of time are unaffected by
    the max-value collapse), a two-column scan; the native store keeps
    this in its meta catalog instead (sources/store.py)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.select(F.col("event_type").alias("metric"),
                      ns_time(ev).alias("time"))
            .groupBy("metric").agg(F.min("time").alias("t_first"),
                                   F.max("time").alias("t_last")))


#: pre-divisors from the exact micro-unit accumulations to milli-units:
#: ``sum`` is micro-value (BIGINT), ``integral`` micro-value*ns (DECIMAL).
SUM_PRE = 1000                       # micro-value -> milli-value
INT_PRE = 1_000_000_000_000          # micro-value*ns -> milli-value*sec


def _fix3(c, pre: int):
    """3-decimal double from an exact micro-unit integer accumulation,
    bit-identical on Spark and DuckDB: round-half-away integer division to
    milli-units (an exact BIGINT < 2^53), then one correctly-rounded IEEE
    division by 1000.0.  Sign-symmetric (negative accumulations mirror the
    positive rounding).  SQL twin: :func:`_fix3_sql`."""
    h, p = F.lit(pre // 2), F.lit(pre)
    pos = F.call_function("div", c + h, p)
    neg = -F.call_function("div", -c + h, p)
    return F.when(c < 0, neg).otherwise(pos) / F.lit(1000.0)


def _fix3_sql(expr: str, pre: int, huge: bool = False) -> str:
    x = f"CAST({expr} AS HUGEINT)" if huge else f"({expr})"
    h = pre // 2
    return (f"CAST(CASE WHEN {x} < 0 THEN -((-{x} + {h}) // {pre}) "
            f"ELSE ({x} + {h}) // {pre} END AS BIGINT) / 1000.0")


def _round_rollup(df: DataFrame) -> DataFrame:
    """Common result shaping for exact-mode rollup outputs (``sum`` in
    micro-value BIGINT, ``integral`` in micro-value*ns DECIMAL(38,0))."""
    return df.select(
        "metric", "interval_start",
        F.col("minimum").alias("min_v"),
        F.col("maximum").alias("max_v"),
        _fix3(F.col("sum"), SUM_PRE).alias("sum_v"),
        F.col("count").alias("cnt"),
        _fix3(F.col("integral"), INT_PRE).alias("integral_s"),
        F.col("active_time").alias("active_ns"),
    )


def _rollup_sql(interval: int, parent: int | None = None,
                tail: str | None = None) -> str:
    """Oracle for the segment-split rollup at ``interval`` (optionally
    re-grouped to ``parent``, or with a custom ``tail`` select over the
    ``lvl`` CTE) — independent SQL re-statement of the LAST semantics, not a
    translation of the Spark plan."""
    d = interval
    base = f"""
WITH pts AS ({EVT}),
lag_pts AS (
  SELECT metric, time, value,
         lag(time) OVER (PARTITION BY metric ORDER BY time) AS prev
  FROM pts
),
rng AS (SELECT metric, min(time) AS t_first, max(time) AS t_last FROM pts GROUP BY 1),
apieces AS (
  SELECT metric, time // {d} AS k, value, 1 AS cnt, 0 AS dur FROM lag_pts
),
bpieces AS (
  SELECT metric,
         unnest(range(prev // {d}, (time - 1) // {d} + 1)) AS k,
         value, 0 AS cnt, 0 AS dur, prev, time
  FROM lag_pts WHERE prev IS NOT NULL
),
bpieces2 AS (
  SELECT metric, k, value, cnt,
         least((k + 1) * {d}, time) - greatest(k * {d}, prev) AS dur
  FROM bpieces
),
pieces AS (
  SELECT metric, k, value, cnt, dur FROM apieces
  UNION ALL
  SELECT metric, k, value, cnt, dur FROM bpieces2
),
lvl AS (
  SELECT p.metric, p.k * {d} AS interval_start,
         min(p.value) AS minimum, max(p.value) AS maximum,
         sum(CASE WHEN p.cnt = 1 THEN CAST(round(p.value * 1e6, 0) AS BIGINT) ELSE 0 END) AS sum_val,
         CAST(sum(p.cnt) AS BIGINT) AS cnt_val,
         sum(CAST(CAST(round(p.value * 1e6, 0) AS BIGINT) AS HUGEINT) * p.dur) AS integral_q,
         CAST(sum(p.dur) AS BIGINT) AS active_time
  FROM pieces p JOIN rng r ON p.metric = r.metric
  WHERE (p.k + 1) * {d} <= r.t_last
  GROUP BY 1, 2
)"""
    if tail is not None:
        return base + tail
    if parent is None:
        return base + f"""
SELECT metric, interval_start, minimum AS min_v, maximum AS max_v,
       {_fix3_sql('sum_val', SUM_PRE)} AS sum_v, cnt_val AS cnt,
       {_fix3_sql('integral_q', INT_PRE, huge=True)} AS integral_s, active_time AS active_ns
FROM lvl"""
    p = parent
    return base + f""",
plvl AS (
  SELECT l.metric, (l.interval_start // {p}) * {p} AS interval_start,
         min(l.minimum) AS minimum, max(l.maximum) AS maximum,
         sum(l.sum_val) AS sum_val, CAST(sum(l.cnt_val) AS BIGINT) AS cnt_val,
         sum(l.integral_q) AS integral_q,
         CAST(sum(l.active_time) AS BIGINT) AS active_time
  FROM lvl l JOIN rng r ON l.metric = r.metric
  WHERE ((l.interval_start // {p}) + 1) * {p} <= r.t_last
  GROUP BY 1, 2
)
SELECT metric, interval_start, minimum AS min_v, maximum AS max_v,
       {_fix3_sql('sum_val', SUM_PRE)} AS sum_v, cnt_val AS cnt,
       {_fix3_sql('integral_q', INT_PRE, huge=True)} AS integral_s, active_time AS active_ns
FROM plvl"""


def q_hta_level1(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = events_raw(spark, sf_dir)
    lvl = build_level1(raw, LEVEL1, exact=True)
    return _round_rollup(lvl)


def q_hta_level2(spark: SparkSession, sf_dir: str) -> DataFrame:
    levels = build_levels(events_raw(spark, sf_dir), EVENTS_META, exact=True)
    return _round_rollup(levels[10 * LEVEL1])


def q_hta_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # begin-bounded scan (aggregate semantics never look below the clamped
    # begin); clamping ranges must come from the UNBOUNDED frame.
    raw = events_raw(spark, sf_dir, begin_ns=AGG_BEGIN)
    agg = aggregate_exact(raw, AGG_BEGIN, AGG_END,
                          ranges=events_range(spark, sf_dir), exact=True)
    # drop identity rows (out-of-range metrics) to keep the hash finite
    return (agg.filter(F.col("active_time") > 0)
            .select("metric",
                    F.col("minimum").alias("min_v"),
                    F.col("maximum").alias("max_v"),
                    _fix3(F.col("sum"), SUM_PRE).alias("sum_v"),
                    F.col("count").alias("cnt"),
                    _fix3(F.col("integral"), INT_PRE).alias("integral_s"),
                    F.col("active_time").alias("active_ns")))


SQL_HTA_AGGREGATE = f"""
WITH pts AS ({EVT}),
rng AS (SELECT metric, min(time) AS t_first, max(time) AS t_last FROM pts GROUP BY 1),
cl AS (
  SELECT metric, t_first, t_last,
         greatest(least({AGG_BEGIN}, t_last), t_first) AS bm,
         greatest(least({AGG_END}, t_last), t_first) AS em
  FROM rng
  WHERE {AGG_END} > t_first AND {AGG_BEGIN} <= t_last
),
f AS (
  SELECT p.metric, p.time, p.value, c.bm, c.em
  FROM pts p JOIN cl c ON p.metric = c.metric
  WHERE p.time >= c.bm
),
g AS (
  SELECT metric, time, value, bm, em,
         greatest(coalesce(lag(time) OVER (PARTITION BY metric ORDER BY time), bm), bm) AS pv,
         min(CASE WHEN time >= em THEN time END) OVER (PARTITION BY metric) AS ept
  FROM f
),
h AS (SELECT * FROM g WHERE ept IS NULL OR time <= ept)
SELECT metric,
       min(value) AS min_v, max(value) AS max_v,
       {_fix3_sql("sum(CASE WHEN time < em THEN CAST(round(value * 1e6, 0) AS BIGINT) ELSE 0 END)", SUM_PRE)} AS sum_v,
       CAST(sum(CASE WHEN time < em THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
       {_fix3_sql("sum(CAST(CAST(round(value * 1e6, 0) AS BIGINT) AS HUGEINT) * ((CASE WHEN time < em THEN time ELSE em END) - pv))", INT_PRE, huge=True)} AS integral_s,
       CAST(sum((CASE WHEN time < em THEN time ELSE em END) - pv) AS BIGINT) AS active_ns
FROM h
GROUP BY 1
HAVING CAST(sum((CASE WHEN time < em THEN time ELSE em END) - pv) AS BIGINT) > 0
"""


def q_hta_aggregate_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the TELESCOPE path and the auto dispatch (r6):
    both forced dispatches of :func:`aggregate_auto` — telescope
    (row_floor=1, row_ratio=0) and raw-exact (astronomical floor) — must
    reproduce ONE oracle aggregate, row for row.

    Order-robustness without the micro-integer machinery: values quantize
    once to exact QUARTER units (``round(v*4)/4`` — x4 is a power of two,
    the rounded integer is < 2^53, so the quantized double is identical
    in every engine), making every float sum along either path an exact
    binary arithmetic result — associative, partition-order-free.
    ``integral`` is excluded from the gated columns (value x ns-duration
    products exceed 2^53; its exact-integer gate is ``hta_aggregate_range``).
    Levels build in-query from the same quantized frame (EVENTS_META:
    1 h / 10 h / 100 h)."""
    from .operators import aggregate_auto
    raw = events_raw(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 4) / 4)
    levels = build_levels(raw, EVENTS_META)

    def shaped(df: DataFrame, tag: str) -> DataFrame:
        return (df.filter(F.col("active_time") > 0)
                .select("metric", F.lit(tag).alias("path"),
                        F.col("minimum").alias("min_v"),
                        F.col("maximum").alias("max_v"),
                        F.col("sum").alias("sum_v"),
                        F.col("count").alias("cnt"),
                        F.col("active_time").alias("active_ns")))

    tel = aggregate_auto(raw, levels, EVENTS_META, AGG_BEGIN, AGG_END,
                         row_floor=1, row_ratio=0)
    ex = aggregate_auto(raw, levels, EVENTS_META, AGG_BEGIN, AGG_END,
                        row_floor=10 ** 15)
    return shaped(tel, "telescope").unionByName(shaped(ex, "exact"))


SQL_HTA_AGGREGATE_AUTO = f"""
WITH pts0 AS ({EVT}),
pts AS (SELECT metric, time, round(value * 4, 0) / 4 AS value FROM pts0),
rng AS (SELECT metric, min(time) AS t_first, max(time) AS t_last FROM pts GROUP BY 1),
cl AS (
  SELECT metric, t_first, t_last,
         greatest(least({AGG_BEGIN}, t_last), t_first) AS bm,
         greatest(least({AGG_END}, t_last), t_first) AS em
  FROM rng
  WHERE {AGG_END} > t_first AND {AGG_BEGIN} <= t_last
),
f AS (
  SELECT p.metric, p.time, p.value, c.bm, c.em
  FROM pts p JOIN cl c ON p.metric = c.metric
  WHERE p.time >= c.bm
),
g AS (
  SELECT metric, time, value, bm, em,
         greatest(coalesce(lag(time) OVER (PARTITION BY metric ORDER BY time), bm), bm) AS pv,
         min(CASE WHEN time >= em THEN time END) OVER (PARTITION BY metric) AS ept
  FROM f
),
h AS (SELECT * FROM g WHERE ept IS NULL OR time <= ept),
agg AS (
  SELECT metric,
         min(value) AS min_v, max(value) AS max_v,
         coalesce(sum(CASE WHEN time < em THEN value END), 0.0) AS sum_v,
         CAST(sum(CASE WHEN time < em THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
         CAST(sum((CASE WHEN time < em THEN time ELSE em END) - pv) AS BIGINT) AS active_ns
  FROM h
  GROUP BY 1
  HAVING CAST(sum((CASE WHEN time < em THEN time ELSE em END) - pv) AS BIGINT) > 0
)
SELECT metric, p.path, min_v, max_v, sum_v, cnt, active_ns
FROM agg CROSS JOIN (SELECT 'telescope' AS path UNION ALL SELECT 'exact') p
"""


def q_hta_retrieve_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = events_raw(spark, sf_dir)
    return filter_raw(raw, RET_BEGIN, RET_END,
                      IntervalScope(Scope.extended, Scope.extended)) \
        .select("metric", "time", F.round("value", 3).alias("value"))


SQL_HTA_RETRIEVE_EXTENDED = f"""
WITH pts AS ({EVT}),
b AS (
  SELECT metric,
         max(CASE WHEN time <= {RET_BEGIN} THEN time END) AS b_ext,
         min(CASE WHEN time >= {RET_END} THEN time END) AS e_ext
  FROM pts GROUP BY 1)
SELECT p.metric, p.time, round(p.value, 3) AS value
FROM pts p JOIN b ON p.metric = b.metric
WHERE (b.b_ext IS NULL OR p.time >= b.b_ext)
  AND (b.e_ext IS NULL OR p.time <= b.e_ext)
"""


def q_hta_count_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed begin never looks below RET_BEGIN -> scan-bounded; the
    # extended end needs the first point past RET_END, so no end bound.
    raw = events_raw(spark, sf_dir, begin_ns=RET_BEGIN)
    return count_scoped(raw, RET_BEGIN, RET_END,
                        IntervalScope(Scope.closed, Scope.extended))


def q_hta_count_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the telescoped count walk (r6): ``count_via_levels``
    sums rollup ``count`` fields over the telescope decomposition + the
    tail correction (the reference's count-prefix-sum hierarchy walk,
    /root/reference/src/storage/file/metric.cpp:102-156) — and must equal
    a plain pruned COUNT(*) over [begin, end) for every metric, including
    zero for metrics whose data misses the range.  Levels build in-query
    (EVENTS_META); all outputs are integers — trivially order-robust.
    r15: the in-query cascade is the pruned ``build_levels_counts`` (the
    walk reads only ``count``, so the full monoid build's lag window +
    segment explode computed five fields this query throws away — guide
    §1.2); bucket rows and the telescoped sum are identical."""
    from .compat import pin
    from .operators.rollup import build_levels_counts
    from .operators.stats import count_via_levels
    # pin the deduped raw once: the walk's two ragged-edge counts, the
    # level-1 count aggregate and the ranges aggregate would otherwise
    # each re-run the events scan + max-collapse window (4 reads)
    raw = pin(events_raw(spark, sf_dir))
    levels = build_levels_counts(raw, EVENTS_META)
    return count_via_levels(raw, levels, EVENTS_META, AGG_BEGIN, AGG_END)


SQL_HTA_COUNT_LEVELS = f"""
WITH pts AS ({EVT}),
m AS (SELECT DISTINCT metric FROM pts),
c AS (
  SELECT metric, CAST(count(*) AS BIGINT) AS n FROM pts
  WHERE time >= {AGG_BEGIN} AND time < {AGG_END} GROUP BY 1
)
SELECT m.metric, coalesce(c.n, 0) AS n FROM m LEFT JOIN c USING (metric)
"""


SQL_HTA_COUNT_SCOPED = f"""
WITH pts AS ({EVT}),
b AS (
  SELECT metric, min(CASE WHEN time >= {RET_END} THEN time END) AS e_ext
  FROM pts GROUP BY 1)
SELECT p.metric, CAST(count(*) AS BIGINT) AS n
FROM pts p JOIN b ON p.metric = b.metric
WHERE p.time >= {RET_BEGIN}
  AND (b.e_ext IS NULL OR p.time <= b.e_ext)
GROUP BY 1
"""


def q_hta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metric_range(events_raw(spark, sf_dir))


SQL_HTA_RANGE = f"""
WITH pts AS ({EVT})
SELECT metric, min(time) AS t_first, max(time) AS t_last FROM pts GROUP BY 1
"""


def q_hta_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_point(events_raw(spark, sf_dir)) \
        .select("metric", "time", F.round("value", 3).alias("value"))


SQL_HTA_LAST = f"""
WITH pts AS ({EVT})
SELECT metric, max(time) AS time, round(arg_max(value, time), 3) AS value
FROM pts GROUP BY 1
"""


def q_hta_smooth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row smoothing (convert_timeaggregates_to_rows with smooth_factor=3,
    /root/reference/src/metric.cpp:313-354): consecutive level-1 result rows
    merged in threes anchored at each metric's first row."""
    from .operators.retrieve import _rows_from_level, _smooth_rows
    raw = events_raw(spark, sf_dir)
    lvl = build_level1(raw, LEVEL1, exact=True)
    rows = _rows_from_level(lvl, LEVEL1)
    sm = _smooth_rows(rows, LEVEL1, 3)
    return sm.select(
        "metric", "time",
        F.col("minimum").alias("min_v"), F.col("maximum").alias("max_v"),
        _fix3(F.col("sum"), SUM_PRE).alias("sum_v"), F.col("count").alias("cnt"),
        _fix3(F.col("integral"), INT_PRE).alias("integral_s"),
        F.col("active_time").alias("active_ns"))


SQL_HTA_SMOOTH3 = _rollup_sql(LEVEL1, tail=f""",
numbered AS (
  SELECT *, (row_number() OVER (PARTITION BY metric ORDER BY interval_start) - 1) // 3 AS grp
  FROM lvl
)
SELECT metric, min(interval_start) AS time,
       min(minimum) AS min_v, max(maximum) AS max_v,
       {_fix3_sql('sum(sum_val)', SUM_PRE)} AS sum_v, CAST(sum(cnt_val) AS BIGINT) AS cnt,
       {_fix3_sql('sum(integral_q)', INT_PRE, huge=True)} AS integral_s,
       CAST(sum(active_time) AS BIGINT) AS active_ns
FROM numbered GROUP BY metric, grp""")


def q_hta_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hta_throttle routed through the SIZE-DISPATCHED planner (r8,
    VERDICT r6 "What's wrong #4"): sequential per-metric pass below the
    straggler cap, pointer-doubling chain-parallel above it.  At gate
    scale every metric is far below the cap, so this exercises the
    planner + the sequential path; ``hta_throttle_auto`` force-gates BOTH
    dispatch arms against the same oracle."""
    from .operators.tools import throttle_auto
    raw = events_raw(spark, sf_dir)
    return (throttle_auto(raw, COOLDOWN)
            .select("metric", "time", F.round("value", 3).alias("value")))


def q_hta_throttle_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispatch gate for throttle_auto: run the planner with the cap
    forced BELOW and ABOVE the data (parallel resp. sequential arm), tag
    and union — both arms must reproduce the same recursive-CTE oracle
    kept-set (the aggregate_auto gate pattern)."""
    from .operators.tools import throttle_auto
    raw = events_raw(spark, sf_dir)

    def shaped(df: DataFrame, tag: str) -> DataFrame:
        return df.select(F.lit(tag).alias("path"), "metric", "time",
                         F.round("value", 3).alias("value"))

    seq = throttle_auto(raw, COOLDOWN, seq_rows_cap=1 << 62)
    par = throttle_auto(raw, COOLDOWN, seq_rows_cap=0)
    return shaped(seq, "seq").unionByName(shaped(par, "par"))


def q_hta_throttle_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the pointer-doubling chain-parallel throttle
    (operators/tools.py::throttle_parallel) — gated by the same recursive-
    CTE oracle as hta_throttle."""
    from .operators.tools import throttle_parallel
    raw = events_raw(spark, sf_dir)
    return (throttle_parallel(raw, COOLDOWN)
            .select("metric", "time", F.round("value", 3).alias("value")))


SQL_HTA_THROTTLE = f"""
WITH RECURSIVE pts AS ({EVT}),
f AS (SELECT metric, min(time) AS t FROM pts GROUP BY 1),
keep AS (
  SELECT metric, t FROM f
  UNION ALL
  SELECT p.metric, min(p.time) AS t
  FROM keep k JOIN pts p ON p.metric = k.metric AND p.time > k.t + {COOLDOWN}
  GROUP BY p.metric
)
SELECT k.metric, k.t AS time, round(p.value, 3) AS value
FROM keep k JOIN pts p ON p.metric = k.metric AND p.time = k.t
"""
# kept-point JUMP recursion (r8): the working table holds each metric's
# LATEST kept point and each iteration aggregates straight to the next
# kept one (min time past the cooldown), so iterations = kept points per
# metric (~hundreds), not raw points (~10^5 at sf0.1 — the previous
# rn+1-stepping CTE was O(n) iterations x O(n) scans and ground the sf0.1
# sweep for hours; this one is equal-output-verified and ~30x faster at
# sf0.01, far more at sf0.1).  (metric, time) is unique post-EVT, so the
# value join-back is exact.

SQL_HTA_THROTTLE_AUTO = f"""
SELECT 'seq' AS path, * FROM ({SQL_HTA_THROTTLE}) t1
UNION ALL
SELECT 'par' AS path, * FROM ({SQL_HTA_THROTTLE}) t2
"""


def q_hta_check_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hta_check's duplicate/monotonicity scan on the *un-deduplicated*
    events mapping (check.cpp:190-254) — counts offending points."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = ev.select(F.col("event_type").alias("metric"),
                    ns_time(ev).alias("time"), "value")
    from .operators.tools import check_raw
    issues = check_raw(raw)
    return (issues.select("metric", F.explode("issues").alias("issue"))
            .groupBy("metric", "issue").agg(F.count("*").alias("n")))


SQL_HTA_CHECK_DUPS = """
WITH raw AS (
  SELECT event_type AS metric, epoch_ns(ts) AS time, value FROM events
),
lag_raw AS (
  SELECT metric, time, value,
         lag(time) OVER (PARTITION BY metric ORDER BY time) AS prev
  FROM raw
)
SELECT metric, issue, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT metric, 'duplicate_timestamp' AS issue
  FROM lag_raw WHERE prev IS NOT NULL AND time = prev
  UNION ALL SELECT metric, 'nan' FROM raw WHERE isnan(value)
  UNION ALL SELECT metric, 'inf' FROM raw WHERE value = 'infinity'::DOUBLE
  UNION ALL SELECT metric, '-inf' FROM raw
  WHERE value = '-infinity'::DOUBLE
  UNION ALL SELECT metric, 'implausible_magnitude' FROM raw
  WHERE NOT isnan(value) AND abs(value) > 1e20
  UNION ALL SELECT metric, 'timestamp_too_old' FROM raw
  WHERE time < 946684800000000000
) GROUP BY 1, 2
"""


def q_hta_level1_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-1 rollup with user_id as the metric key (15 concurrent series)
    — stresses multi-metric bucketing/closing in one build."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = ns_time(ev).alias("time")
    raw = _dedup_max(
        ev.select(F.col("user_id").cast("string").alias("metric"), t, "value"))
    return _round_rollup(build_level1(raw, LEVEL1, exact=True))


_EVT_USER = ("SELECT CAST(user_id AS VARCHAR) AS metric, epoch_ns(ts) AS time, "
             "max(value) AS value FROM events GROUP BY 1, 2")


SMOOTH_IV = 1800 * SECOND  # 30-minute synthetic bins


def q_hta_smooth_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retrieve_flex's raw-smoothing branch
    (/root/reference/src/metric.cpp:259-311): scoped raw points re-binned
    into begin-anchored synthetic intervals with LAST weighting, pre-begin
    overhang folded into bucket 0."""
    from .operators.retrieve import smooth_raw
    raw = events_raw(spark, sf_dir)
    pts = filter_raw(raw, RET_BEGIN, RET_END,
                     IntervalScope(Scope.extended, Scope.open))
    sm = smooth_raw(pts, RET_BEGIN, RET_END, SMOOTH_IV, exact=True)
    return sm.select(
        "metric", "time",
        F.col("minimum").alias("min_v"), F.col("maximum").alias("max_v"),
        _fix3(F.col("sum"), SUM_PRE).alias("sum_v"), F.col("count").alias("cnt"),
        _fix3(F.col("integral"), INT_PRE).alias("integral_s"),
        F.col("active_time").alias("active_ns"))


SQL_HTA_SMOOTH_RAW = f"""
WITH pts AS ({EVT}),
b AS (
  SELECT metric, max(CASE WHEN time <= {RET_BEGIN} THEN time END) AS b_ext
  FROM pts GROUP BY 1),
scoped AS (
  SELECT p.metric, p.time, p.value
  FROM pts p JOIN b ON p.metric = b.metric
  WHERE (b.b_ext IS NULL OR p.time >= b.b_ext) AND p.time < {RET_END}
),
lg AS (
  SELECT metric, time, value,
         lag(time) OVER (PARTITION BY metric ORDER BY time) AS prev
  FROM scoped
),
seg AS (
  SELECT metric, time, value,
         coalesce(prev, least({RET_BEGIN}, time)) AS sb,
         least(time, {RET_END}) AS se
  FROM lg
),
apieces AS (
  SELECT metric, (time - {RET_BEGIN}) // {SMOOTH_IV} AS k, value,
         1 AS cnt, 0 AS dur
  FROM seg WHERE time >= {RET_BEGIN} AND time < {RET_END}
),
braw AS (
  SELECT metric, value, sb, se,
         unnest(range(greatest((sb - {RET_BEGIN}) // {SMOOTH_IV}, 0),
                      greatest((se - 1 - {RET_BEGIN}) // {SMOOTH_IV}, 0) + 1)) AS k
  FROM seg
  WHERE time >= {RET_BEGIN} AND sb <= se AND se >= {RET_BEGIN}
),
bpieces AS (
  SELECT metric, k, value, 0 AS cnt,
         least({RET_BEGIN} + (k + 1) * {SMOOTH_IV}, se)
         - greatest(CASE WHEN k = 0 THEN least({RET_BEGIN}, sb)
                         ELSE {RET_BEGIN} + k * {SMOOTH_IV} END, sb) AS dur
  FROM braw
),
pieces AS (
  SELECT metric, k, value, cnt, dur FROM apieces
  UNION ALL SELECT metric, k, value, cnt, dur FROM bpieces
)
SELECT metric, {RET_BEGIN} + k * {SMOOTH_IV} AS time,
       min(value) AS min_v, max(value) AS max_v,
       {_fix3_sql("sum(CASE WHEN cnt = 1 THEN CAST(round(value * 1e6, 0) AS BIGINT) ELSE 0 END)", SUM_PRE)} AS sum_v,
       CAST(sum(cnt) AS BIGINT) AS cnt,
       {_fix3_sql("sum(CAST(CAST(round(value * 1e6, 0) AS BIGINT) AS HUGEINT) * dur)", INT_PRE, huge=True)} AS integral_s,
       CAST(sum(dur) AS BIGINT) AS active_ns
FROM pieces GROUP BY 1, 2
"""


# --- multi-metric aligned retrieve (VERDICT r6 "Next round #5") ----------

ALIGN_IV = 10 * LEVEL1               # common grid: the 10 h level
ALIGN_METRICS = ["click", "error", "purchase", "signup", "view"]
# ROW_DEFAULT scope (extended begin, open end) on the ALIGN_IV grid
# (operators/scopes.py::level_start_bounds): floor / ceil-minus-interval
_ALIGN_LO = AGG_BEGIN - AGG_BEGIN % ALIGN_IV
_ALIGN_HI = -(-AGG_END // ALIGN_IV) * ALIGN_IV - ALIGN_IV


def q_hta_retrieve_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-metric ALIGNED retrieve: all metrics' means pivoted onto one
    10 h interval grid over [AGG_BEGIN, AGG_END) — the dashboard
    composition a metricq client assembles from N sequential per-metric
    retrieves (/root/reference/src/metric.cpp:414-439 serves one metric
    per call).  Levels build in-query (exact-integer mode); the pivoted
    cell is the reference ``mean_integral`` (types.hpp:80-83) made
    bit-reproducible: the proven _fix3 3-decimal integral (value*sec)
    divided by exact active_time ns, scaled back to value units — two
    IEEE ops over bit-identical operands, hence identical on both
    engines.  Grid rows where a metric has no closed bucket are NULL."""
    from .operators.retrieve import retrieve_aligned
    levels = build_levels(events_raw(spark, sf_dir), EVENTS_META, exact=True)
    mean_v = (_fix3(F.col("integral"), INT_PRE) / F.col("active_time")
              * F.lit(1e9))
    return retrieve_aligned(levels, EVENTS_META,
                            AGG_BEGIN, AGG_END, ALIGN_IV,
                            metrics=ALIGN_METRICS, value=mean_v)


SQL_HTA_RETRIEVE_ALIGNED = _rollup_sql(LEVEL1, tail=f""",
plvl AS (
  SELECT l.metric, (l.interval_start // {ALIGN_IV}) * {ALIGN_IV} AS interval_start,
         sum(l.integral_q) AS integral_q,
         CAST(sum(l.active_time) AS BIGINT) AS active_time
  FROM lvl l JOIN rng r ON l.metric = r.metric
  WHERE ((l.interval_start // {ALIGN_IV}) + 1) * {ALIGN_IV} <= r.t_last
  GROUP BY 1, 2
),
cells AS (
  SELECT metric, interval_start AS time,
         {_fix3_sql('integral_q', INT_PRE, huge=True)} / active_time
         * 1000000000.0 AS v
  FROM plvl
  WHERE interval_start >= {_ALIGN_LO} AND interval_start <= {_ALIGN_HI}
)
SELECT time, CAST({ALIGN_IV} AS BIGINT) AS interval,
""" + ",\n".join(
    f"       max(CASE WHEN metric = '{m}' THEN v END) AS {m}"
    for m in ALIGN_METRICS) + "\nFROM cells GROUP BY time")


def q_hta_streaming_level1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest correctness gate: the events series is replayed as
    three time-ordered micro-batches through ``IncrementalRollup``
    (partition-scoped idempotent upserts — the foreachBatch sink path),
    and the resulting stored level-1 table is gated against the SAME
    DuckDB rollup oracle as the batch build: stream ≡ batch ≡ oracle.

    Only the order-robust columns are exposed (min/max are comparisons,
    count/active_time exact integers); the incremental path accumulates
    sum/integral as doubles, which are not order-reproducible across
    engines (the r1 hashing lesson).  The backing store lives at a FIXED
    per-(session, sf) path and is wiped before each re-ingest, so repeated
    gate/bench invocations reuse one directory instead of accumulating
    tempdirs (the previous frame returned for this sf becomes invalid at
    that point — callers materialize before re-invoking, as the driver
    does)."""
    import shutil
    import tempfile

    from .streaming.ingest import IncrementalRollup
    raw = events_raw(spark, sf_dir)
    base = os.path.join(
        tempfile.gettempdir(),
        f"hta_stream_q_{os.getpid()}_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(base, ignore_errors=True)
    ing = IncrementalRollup(spark, base, EVENTS_META)
    cut1, cut2 = 1_704_844_800 * SECOND, 1_705_708_800 * SECOND
    ing.ingest(raw.filter(F.col("time") < cut1))
    ing.ingest(raw.filter((F.col("time") >= cut1) & (F.col("time") < cut2)))
    ing.ingest(raw.filter(F.col("time") >= cut2))
    lvl = ing.level(LEVEL1)
    return lvl.select(
        "metric", "interval_start",
        F.col("minimum").alias("min_v"), F.col("maximum").alias("max_v"),
        F.col("count").alias("cnt"), F.col("active_time").alias("active_ns"))


SQL_HTA_STREAMING_LEVEL1 = _rollup_sql(LEVEL1, tail="""
SELECT metric, interval_start, minimum AS min_v, maximum AS max_v,
       cnt_val AS cnt, active_time AS active_ns
FROM lvl""")


HTA_QUERIES: dict[str, tuple] = {
    "hta_streaming_level1": (q_hta_streaming_level1,
                             SQL_HTA_STREAMING_LEVEL1),
    "hta_level1_rollup": (q_hta_level1, _rollup_sql(LEVEL1)),
    "hta_level2_rollup": (q_hta_level2, _rollup_sql(LEVEL1, 10 * LEVEL1)),
    "hta_level1_by_user": (q_hta_level1_by_user,
                           _rollup_sql(LEVEL1).replace(EVT, _EVT_USER)),
    "hta_aggregate_range": (q_hta_aggregate, SQL_HTA_AGGREGATE),
    "hta_aggregate_auto": (q_hta_aggregate_auto, SQL_HTA_AGGREGATE_AUTO),
    "hta_retrieve_extended": (q_hta_retrieve_extended, SQL_HTA_RETRIEVE_EXTENDED),
    "hta_count_scoped": (q_hta_count_scoped, SQL_HTA_COUNT_SCOPED),
    "hta_count_levels": (q_hta_count_levels, SQL_HTA_COUNT_LEVELS),
    "hta_range": (q_hta_range, SQL_HTA_RANGE),
    "hta_last": (q_hta_last, SQL_HTA_LAST),
    "hta_smooth3": (q_hta_smooth3, SQL_HTA_SMOOTH3),
    "hta_retrieve_aligned": (q_hta_retrieve_aligned,
                             SQL_HTA_RETRIEVE_ALIGNED),
    "hta_smooth_raw": (q_hta_smooth_raw, SQL_HTA_SMOOTH_RAW),
    "hta_throttle": (q_hta_throttle, SQL_HTA_THROTTLE),
    "hta_throttle_parallel": (q_hta_throttle_parallel, SQL_HTA_THROTTLE),
    "hta_throttle_auto": (q_hta_throttle_auto, SQL_HTA_THROTTLE_AUTO),
    "hta_check_dups": (q_hta_check_dups, SQL_HTA_CHECK_DUPS),
}
