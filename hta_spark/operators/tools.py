"""Data-management pipelines (SURVEY.md §2.2): check, repair, throttle,
clone, dummy.

References: /root/reference/src/tools/check.cpp, repair.cpp, throttle.cpp,
clone.cpp, dummy.cpp.  The reference chunks these by 4096 records; Spark's
task batching + vectorized parquet reader replaces that, and the per-metric
fan-out of ``helpers/check_db_directory.sh`` is native task parallelism.
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..chrono import SECOND
from ..compat import default_parallelism, pin, release
from ..meta import Meta
from .rollup import build_levels, chunk_index

__all__ = ["check_raw", "check_levels", "check_store", "repair", "throttle",
           "throttle_parallel", "clone", "dummy"]

# plausibility bounds from check.cpp:76-101
_MAX_MAGNITUDE = 1e20
_MIN_TS = 946_684_800 * SECOND  # 2000-01-01 (check.cpp:94-99)


def check_raw(raw: DataFrame, now_ns: int | None = None,
              order_col: str | None = None) -> DataFrame:
    """Consistency scan of the raw table — one row per offending point with
    an ``issues`` array (mirrors hta_check's raw checks,
    /root/reference/src/tools/check.cpp:43-115,190-254: non-finite values,
    implausible magnitude, timestamps outside [2000-01-01, now],
    non-monotonic, duplicates).

    The reference checks *file order*; a parquet table has no inherent
    order, so the non-monotonic check needs an explicit insertion-order
    column (``order_col``, e.g. an event id) — without one, ordering by
    time can only surface duplicate timestamps.

    Fully declarative: one window pass; Catalyst pushes nothing here because
    every row is inspected — exactly what the reference does, chunked.
    """
    order = order_col if order_col is not None else "time"
    w = Window.partitionBy("metric").orderBy(order)
    prev = F.lag("time").over(w)
    v, t = F.col("value"), F.col("time")
    non_mono = (F.when(prev.isNotNull() & (t < prev), F.lit("non_monotonic"))
                if order_col is not None else F.lit(None).cast("string"))
    issues = F.array_compact(F.array(
        F.when(F.isnan(v), F.lit("nan")),
        F.when(v == float("inf"), F.lit("inf")),
        F.when(v == float("-inf"), F.lit("-inf")),
        F.when(~F.isnan(v) & (F.abs(v) > _MAX_MAGNITUDE), F.lit("implausible_magnitude")),
        F.when(t < F.lit(_MIN_TS), F.lit("timestamp_too_old")),
        F.when(now_ns is not None and t > F.lit(now_ns), F.lit("timestamp_in_future"))
         if now_ns is not None else F.lit(None).cast("string"),
        non_mono,
        F.when(prev.isNotNull() & (t == prev), F.lit("duplicate_timestamp")),
    ))
    cols = ["metric", "time", "value"]
    return (raw.select(*cols, issues.alias("issues"))
            .filter(F.size("issues") > 0))


def check_levels(raw: DataFrame, levels: dict[int, DataFrame]) -> DataFrame:
    """Level-file invariants (check.cpp:117-188): dense epoch-aligned grid
    per metric (entry i at epoch + i*interval), last entry abuts
    interval_begin(raw_end), finite aggregate fields.

    Implemented as an anti-join of the expected dense start sequence against
    the actual rows, plus a finiteness filter.
    """
    from .rollup import raw_range
    if not levels:
        return raw.sparkSession.createDataFrame(
            [], "metric string, interval_start long, interval long, "
                "issue string")
    parts = []
    ranges = raw_range(raw)
    for interval, lvl in levels.items():
        lo = F.col("t_first") - F.pmod(F.col("t_first"), F.lit(interval))
        hi = (F.col("t_last") - F.pmod(F.col("t_last"), F.lit(interval))
              - F.lit(interval))
        expected = (
            ranges.select(
                "metric",
                F.explode(F.when(lo <= hi, F.sequence(lo, hi, F.lit(interval)))
                          .otherwise(F.array().cast("array<bigint>")))
                .alias("interval_start"))
            .filter(F.col("interval_start") >= 0)
        )
        missing = (expected.join(lvl, ["metric", "interval_start"], "left_anti")
                   .select("metric", "interval_start",
                           F.lit(interval).cast("long").alias("interval"),
                           F.lit("missing_row").alias("issue")))
        bad = lvl.filter(
            F.isnan("minimum") | F.isnan("maximum") | F.isnan("sum")
            | F.isnan("integral")
            | (F.abs(F.col("minimum")) == float("inf"))
            | (F.abs(F.col("maximum")) == float("inf"))
        ).select("metric", "interval_start",
                 F.lit(interval).cast("long").alias("interval"),
                 F.lit("non_finite_aggregate").alias("issue"))
        parts.append(missing.unionByName(bad))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def check_store(store, now_ns: int | None = None,
                order_col: str | None = None) -> DataFrame:
    """Whole-store consistency report — the
    ``helpers/check_db_directory.sh`` fan-out (the reference forks one
    ``hta_check`` per metric directory) as ONE Spark job: every metric's
    raw scan and every materialized level's invariant check run as
    parallel tasks of a single unioned plan.

    Output: ``metric, table, time, issue`` — one row per finding, where
    ``table`` is ``raw`` or ``levels/<interval>``.  Empty frame = clean
    store."""
    raw = store.raw()
    if raw is None:
        return store.spark.createDataFrame(
            [], "metric string, table string, time long, issue string")
    raw_issues = (check_raw(raw, now_ns=now_ns, order_col=order_col)
                  .select("metric", F.lit("raw").alias("table"),
                          F.col("time"),
                          F.explode("issues").alias("issue")))
    # per-interval metric membership: a metric is only expected dense at
    # the intervals ITS meta builds — checking every metric against the
    # union ladder would report spurious missing_row for any store with
    # heterogeneous metas (review r4 finding)
    by_interval: dict[int, list[str]] = {}
    for m in store.metric_names():
        for iv in store.meta_for(m).level_intervals():
            by_interval.setdefault(iv, []).append(m)
    spark = store.spark
    out = raw_issues
    for iv in sorted(by_interval):
        lvl = store.level(iv)
        if lvl is None:
            continue
        members = F.broadcast(spark.createDataFrame(
            [(m,) for m in by_interval[iv]], "metric string"))
        sub_raw = raw.join(members, "metric", "left_semi")
        lvl_issues = (check_levels(sub_raw, {iv: lvl})
                      .select("metric",
                              F.concat(F.lit("levels/"),
                                       F.col("interval").cast("string"))
                              .alias("table"),
                              F.col("interval_start").alias("time"),
                              "issue"))
        out = out.unionByName(lvl_issues)
    return out


def repair(raw: DataFrame,
           drop_above: float | None = None,
           drop_below: float | None = None,
           drop_intervals: list[tuple[int, int]] | None = None,
           take_absolute: bool = False) -> DataFrame:
    """Cleaning copy (hta_repair, /root/reference/src/tools/repair.cpp:81-136):
    drop non-monotonic/duplicate timestamps, NaN, ±Inf, clamp filters,
    timestamp drop-intervals, optional abs().  Rebuild levels afterwards by
    re-running the rollup build on the result."""
    v, t = F.col("value"), F.col("time")
    df = raw.filter(~F.isnan(v) & (F.abs(v) != float("inf")) & (t > 0))
    if drop_above is not None:
        df = df.filter(v <= F.lit(drop_above))
    if drop_below is not None:
        df = df.filter(v >= F.lit(drop_below))
    for (b, e) in drop_intervals or []:
        df = df.filter(~((t >= F.lit(b)) & (t < F.lit(e))))
    if take_absolute:
        df = df.withColumn("value", F.abs(v))
    # duplicate-timestamp collapse: keep the first occurrence per (metric,
    # time).  (The reference additionally drops file-order regressions; a
    # parquet table is unordered, so after this dedup time order IS the
    # canonical order — there is nothing further to drop.)
    df = df.withColumn("_rn", F.row_number().over(
        Window.partitionBy("metric", "time").orderBy("value"))).filter(
        F.col("_rn") == 1).drop("_rn")
    return df


def throttle(raw: DataFrame, cooldown_ns: int) -> DataFrame:
    """Rate-limit downsample (hta_throttle,
    /root/reference/src/tools/throttle.cpp:57-92): keep a point iff
    ``last_kept + cooldown < t``.  The kept-set is an order-dependent
    recurrence (each decision depends on the previous *kept* point), not
    expressible as a stateless filter or plain window — flagged "hard" in
    SURVEY.md §2.2.

    Implemented with ``applyInPandas`` per metric: Arrow-batched, one pass,
    O(points-per-metric) memory.  At scale, per-metric state is exactly how
    the reference runs (one metric per process); Spark gives the fan-out.
    """
    def _throttle(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        times = pdf["time"].to_numpy()
        keep = [False] * len(times)
        last_kept = None
        for i, t in enumerate(times):
            if last_kept is None or last_kept + cooldown_ns < t:
                keep[i] = True
                last_kept = t
        return pdf[keep]

    return raw.groupBy("metric").applyInPandas(
        _throttle, schema="metric string, time long, value double")


def throttle_parallel(raw: DataFrame, cooldown_ns: int,
                      max_rounds: int = 48,
                      salt_chunks: int | None = None) -> DataFrame:
    """Exact throttle without per-metric sequential state: pointer doubling
    over the "next kept" successor function.

    The kept-set recurrence (keep t iff ``last_kept + cooldown < t``) makes
    :func:`throttle` one sequential pandas pass per metric — correct, but a
    single dominant metric serializes the job.  This variant is
    chain-parallel:

    1. ``f(t) = min{u : u > t + cooldown}`` for every distinct time (one
       merged-stream window: suffix-min over the time-sorted union of
       points and their ``t + cooldown`` probes);
    2. jump tables ``f^(2^k)`` by repeated self-join (log2 n rounds);
    3. the kept set = orbit of each metric's first point, grown by frontier
       doubling against the jump tables (log2 n joins).

    Work O(n log n), depth O(log n) — every round is an all-parallel
    equi-join shuffle, so a 10^9-point metric throttles at cluster width
    instead of one core.  Exactly equivalent to :func:`throttle` on
    duplicate-free timestamps (equivalence-tested; duplicate (metric,time)
    rows are collapsed to the min value first, which is also what the
    strict ingest contract guarantees).

    ``salt_chunks``: also parallelize the successor computation's
    per-metric suffix-min window (the one remaining per-metric-sequential
    stage) — suffix-min is associative, so each chunk's window is repaired
    with the later chunks' minima (same trick as rollup.lagged_salted);
    equivalence-tested against the plain window.
    """
    pts = pin(raw.groupBy("metric", "time")
              .agg(F.min("value").alias("value")))

    # 1. successor: suffix-min over the merged stream.  kind 0 (data) sorts
    # before kind 1 (probe) at equal pos, so u == t + cooldown is excluded
    # (the reference keeps only strictly later points).
    data = pts.select("metric", F.col("time").alias("pos"),
                      F.lit(0).alias("kind"), F.col("time").alias("t"),
                      F.col("time").alias("u"))
    probe = pts.select("metric",
                       (F.col("time") + F.lit(cooldown_ns)).alias("pos"),
                       F.lit(1).alias("kind"), F.col("time").alias("t"),
                       F.lit(None).cast("long").alias("u"))
    merged = data.unionByName(probe)
    if salt_chunks:
        rngs = merged.groupBy("metric").agg(F.min("pos").alias("t_first"),
                                            F.max("pos").alias("t_last"))
        j = (merged.join(F.broadcast(rngs), "metric")
             .withColumn("_c", chunk_index(F.col("pos"), salt_chunks))
             .drop("t_first", "t_last"))
        # suffix-min as a REVERSE-ordered prefix-min: Spark executes
        # (unboundedPreceding, -1) frames incrementally (O(rows)), while
        # (1, unboundedFollowing) frames re-scan the remaining frame for
        # EVERY row — O(rows^2) per partition, measured minutes on a
        # 2^18-point metric (r8).  Reversing the ORDER BY makes "strictly
        # after me" become "strictly before me" with identical ties
        # ((pos, kind) is duplicate-free post-dedup).
        w_in = (Window.partitionBy("metric", "_c")
                .orderBy(F.desc("pos"), F.desc("kind"))
                .rowsBetween(Window.unboundedPreceding, -1))
        j = j.withColumn("_in", F.min("u").over(w_in))
        chunk_min = j.groupBy("metric", "_c").agg(F.min("u").alias("_cm"))
        w_c = (Window.partitionBy("metric").orderBy(F.desc("_c"))
               .rowsBetween(Window.unboundedPreceding, -1))
        later = chunk_min.select("metric", "_c",
                                 F.min("_cm").over(w_c).alias("_later"))
        merged = (j.join(F.broadcast(later), ["metric", "_c"])
                  .withColumn("j", F.least("_in", "_later")))
    else:
        # reverse-ordered prefix-min == suffix-min, O(rows) not O(rows^2)
        # (see the salted branch comment)
        w = (Window.partitionBy("metric")
             .orderBy(F.desc("pos"), F.desc("kind"))
             .rowsBetween(Window.unboundedPreceding, -1))
        merged = merged.withColumn("j", F.min("u").over(w))
    jump = pin(merged
               .filter(F.col("kind") == 1)
               .select("metric", "t", "j"))

    # rounds needed: orbit length <= points of the largest metric
    n_max = pts.groupBy("metric").count().agg(F.max("count")).collect()[0][0]
    if n_max is None:
        return _throttle_empty(raw)
    rounds = min(max_rounds, max(1, (int(n_max) - 1).bit_length()))

    # 2 + 3. doubling: after round k the frontier holds f^(<2^k) of the
    # first point and `jump` maps t -> f^(2^k)(t)
    kept = pin(pts.groupBy("metric").agg(F.min("time").alias("t")))
    kept_n = kept.count()
    for _ in range(rounds):
        nxt = (kept.join(jump, ["metric", "t"])
               .filter(F.col("j").isNotNull())
               .select("metric", F.col("j").alias("t")))
        new_kept = pin(kept.unionByName(nxt).distinct())
        new_n = new_kept.count()   # carried across rounds: one job, not two
        # the old frontier is folded into the (materialized) new one —
        # release it so the persist-fallback path doesn't cache one
        # Dataset per doubling round (ADVICE r9)
        release(kept)
        if new_n == kept_n:
            kept = new_kept
            break
        kept, kept_n = new_kept, new_n
        j2 = jump.alias("a").join(
            jump.select(F.col("metric").alias("_m"), F.col("t").alias("_t"),
                        F.col("j").alias("_j")).alias("b"),
            (F.col("a.metric") == F.col("_m")) & (F.col("a.j") == F.col("_t")),
            "left")
        new_jump = pin(j2.select("a.metric", "a.t",
                                 F.when(F.col("a.j").isNotNull(), F.col("_j"))
                                 .alias("j")))
        release(jump)              # superseded jump table, same reason
        jump = new_jump
    release(jump)                  # not part of the returned lineage
    return (pts.join(kept.withColumnRenamed("t", "time"),
                     ["metric", "time"], "left_semi")
            .select("metric", "time", "value"))


def _throttle_empty(raw: DataFrame) -> DataFrame:
    """Empty-input fallback with the SAME pinned schema as the real arms
    (ADVICE r8): the sequential arm pins 'metric string, time long, value
    double' via applyInPandas, so the empty path must cast rather than
    inherit raw's column types (an int `value` column would otherwise
    yield a schema that differs from every non-empty result)."""
    return raw.filter(F.lit(False)).select(
        F.col("metric").cast("string").alias("metric"),
        F.col("time").cast("long").alias("time"),
        F.col("value").cast("double").alias("value"))


def throttle_auto_arm(raw: DataFrame,
                      seq_rows_cap: int = 8_000_000) -> str:
    """The :func:`throttle_auto` dispatch decision, exposed so callers
    (and the bench's guard-binding cell) can observe which arm the
    planner chooses WITHOUT constructing the chosen arm —
    ``throttle_parallel`` runs its pin/doubling jobs eagerly at build
    time, so "check the plan" is not free there.  One grouped-count
    planner job; returns ``"empty" | "seq" | "par"``."""
    n_max = (raw.groupBy("metric").count()
             .agg(F.max("count")).collect()[0][0])
    if n_max is None:
        return "empty"
    return "seq" if int(n_max) <= seq_rows_cap else "par"


def throttle_auto(raw: DataFrame, cooldown_ns: int,
                  seq_rows_cap: int = 8_000_000, **parallel_kw) -> DataFrame:
    """T4-auto: size-dispatched throttle (VERDICT r6 "What's wrong #4").

    The sequential :func:`throttle` is one Arrow batch + one Python pass
    per metric — cheapest whenever no metric is huge, but a single
    dominant metric serializes the whole job on one core.  The
    chain-parallel :func:`throttle_parallel` runs at cluster width but
    pays ~log2(n) join rounds of fixed overhead.  Dispatch on the
    straggler bound — the LARGEST per-metric row count (total rows don't
    matter: applyInPandas already parallelizes across metrics):

        max_rows <= seq_rows_cap  ->  sequential per-metric pass
        otherwise                 ->  pointer-doubling parallel

    ``seq_rows_cap`` default 8M is first a MEMORY bound, then a latency
    one: applyInPandas materializes the whole group as ONE pandas frame
    on one executor (8M points ~ a few hundred MB with Arrow+pandas
    overhead — safe in a normal executor; an unbounded group is an OOM
    waiting for the first hot metric).  Latency-wise the pure-Python
    keep-loop runs ~5M points/s/core (measured: 0.73 s for 4M int64
    points; Arrow transfer and the pandas sort roughly halve that), so
    the worst straggler stays in the low seconds at the cap.  On
    local[32] the sequential pass stays faster than the parallel rounds
    at ANY size that fits memory (bench cell ``throttle_dispatch``
    carries both arms' measured costs) — the parallel arm buys bounded
    per-task state and cluster-width scaling, not local speed, exactly
    like the IVF sub-block bound.  The planner is ONE metric-count-sized
    job (a groupBy count max), same cost class as throttle_parallel's
    own rounds estimate.

    ``**parallel_kw`` (``max_rounds``, ``salt_chunks``) applies ONLY when
    the parallel arm is chosen; if the dispatch lands on the sequential
    arm the kwargs are meaningless there, and a ``UserWarning`` is issued
    so a caller tuning ``salt_chunks`` can see which arm consumed it
    (ADVICE r8)."""
    arm = throttle_auto_arm(raw, seq_rows_cap)
    if arm == "empty":
        return _throttle_empty(raw)
    if arm == "seq":
        if parallel_kw:
            warnings.warn(
                "throttle_auto dispatched to the sequential arm; parallel-"
                f"only kwargs {sorted(parallel_kw)} are ignored there",
                UserWarning, stacklevel=2)
        return throttle(raw, cooldown_ns)
    pk = dict(parallel_kw)
    if "salt_chunks" not in pk:
        # r13: the parallel arm is chosen precisely because ONE metric
        # is past the cap — unsalted, that metric's successor suffix-min
        # runs as a single-partition window (the arm's measured dominant
        # cost at 8M rows).  Default the salt to the cluster width; the
        # salted suffix-min is equivalence-tested against the plain one.
        pk["salt_chunks"] = max(2, default_parallelism(raw.sparkSession))
    return throttle_parallel(raw, cooldown_ns, **pk)


def clone(raw: DataFrame, new_meta: Meta) -> dict[int, DataFrame]:
    """hta_clone (/root/reference/src/tools/clone.cpp:57-81): re-aggregate the
    same raw series under different hierarchy parameters."""
    return build_levels(raw, new_meta)


def dummy(spark, metric: str = "dummy", count: int = 3600,
          time_delta_ns: int = 50 * 1_000_000,
          start_ns: int = 1_519_832_293_179_227_888,
          value: float | None = 42.0) -> DataFrame:
    """hta_dummy (/root/reference/src/tools/dummy.cpp:53-79) / the bench
    generator (tests/bench.cpp:64-71): ``count`` points at fixed spacing.
    ``value=None`` gives the bench ramp ``i + 1/3``."""
    # metric stays a plain literal ON PURPOSE: FoldablePropagation then
    # elides the constant key from every downstream groupBy/window
    # partition spec, which is worth ~20% on the 16.7M rollup build
    # (measured: per-row hashing of the key vanishes).  Side effect: the
    # tiny chunk-boundary windows plan partition-less and WindowExec
    # logs a single-partition WARN per execution — intended here (one
    # metric IS one partition; the auto-salt planner handles the big
    # frames), and bench.py quiets that one logger with a note.
    df = spark.range(count).select(
        F.lit(metric).alias("metric"),
        (F.lit(start_ns) + F.col("id") * F.lit(time_delta_ns)).alias("time"),
        (F.lit(value) if value is not None
         else F.col("id").cast("double") + F.lit(1.0 / 3.0)).alias("value"),
    )
    return df
