"""Streaming ingest with incremental rollup maintenance (M3 in SURVEY.md §7).

The reference's insert path IS an incremental streaming aggregator: per-
interval open state advanced point by point, closed intervals cascading
upward (W1-W3, /root/reference/src/metric.cpp:510-603), with
``restore_level`` rebuilding open state after a restart
(/root/reference/src/metric.cpp:451-497; equivalence pinned by
tests/restore.cpp:87-215 — reopen-and-continue must equal one continuous
run).

Spark-first mapping:
- the raw append is a Structured Streaming sink (``foreachBatch``);
- rollup maintenance is *idempotent bucket recomputation*: each micro-batch
  recomputes exactly the level buckets its time-range intersects, from raw
  (plus one predecessor point per metric for the segment boundary) — the
  batch analog of ``restore_level``;
- every level lives in ONE levels table (sources/store.py), partitioned
  by ``(interval, metric, tb)`` where ``tb`` is the top-level interval
  index of ``interval_start``.  Because a monotonic batch can only change
  buckets from the top level's open interval onward (``rewrite_from``),
  and ``rewrite_from`` is top-aligned, the rewrite region is an exact set
  of partitions at every level — the upsert touches O(region) files and
  never reads or rewrites table history (the O(table) full-rewrite this
  replaces was the round-1 scale-killer);
- exactly-once: bucket rewrites are deterministic versioned publishes, so
  replaying a batch after a crash converges to the same table — checkpoint
  + idempotent sink.  Consistency: each batch's open-region rewrite of
  every level goes through the table's PARTITION MANIFEST (sources/
  store.py::publish_partitions) under one writer lease: the region is
  staged in one write, fresh immutable ``v=<n>`` partition dirs land
  first, then ONE POSIX rename flips ``levels/_part_manifest.json`` — a
  reader racing a micro-batch resolves every level's pre-batch or every
  level's post-batch partition set, never a mid-swap mix and never level
  1 of one batch beside level 2 of another (the reference's flush barrier
  + torn-tail tolerance, reference src/storage/file/file.hpp:210-247,
  src/metric.cpp:605-609).  Whole-table rewrites use the same
  discipline at table granularity (sources/store.py::publish_version);
- late/duplicate data: the reference rejects non-monotonic inserts outright
  (src/metric.cpp:519-524).  ``enforce_monotonic`` drops violations per
  micro-batch (documented relaxation: cross-batch enforcement uses the
  stored per-metric max time); non-positive timestamps are rejected
  batch-wide (src/metric.cpp:515-518 throws on t == 0).

All planning state (batch spans, predecessor anchors, rewrite bounds) stays
in small DataFrames joined by broadcast — no per-metric literal predicates
or driver-side dicts, so a batch carrying 10^5 metrics plans exactly like
one carrying 5.

Incremental cost per batch: O(points-in-batch + touched-buckets * levels)
for the recompute + upsert itself, in three lineage cuts (the plan frame,
the enforced batch, the pinned recompute input), one raw append and one
staged write of every level's region, PLUS the per-batch planning lookups
— one combined stats aggregate (per-metric max time + rewrite anchor) and,
for the upsert policy, one duplicate-key anti-join — which scan the
batch's metrics' raw history.  Those lookups are restricted to the batch's
metrics by a broadcast join; under the store's metric-partitioned
layout they prune to those metrics' partitions, and their aggregate shape
(max of the physically sorted time column) is row-group-stats-friendly —
but they are NOT history-size-independent on an unpartitioned append-only
raw table; `compact_raw_every` bounds the file count, and a deployment
with hot metrics should keep the metric-partitioned layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..meta import Meta
from ..operators.rollup import _cascade, _level1, raw_range
from ..schemas import RAW_SCHEMA
from ..sources.store import (HtaStore, _adopt_into_partition_manifest,
                             append_raw, as_raw, level_of,
                             publish_partitions, read_levels,
                             read_raw_table, stack_levels)

__all__ = ["IncrementalRollup", "enforce_monotonic"]


def enforce_monotonic(batch: DataFrame,
                      prev_max: DataFrame | None = None) -> DataFrame:
    """The insert guard of src/metric.cpp:519-524 as a batch rule: drop
    points at/before the stored per-metric max time, and collapse
    duplicate (metric, time) keys to one row (smallest value — a
    deterministic pick).

    The reference additionally rejects FILE-ORDER regressions within one
    ingest; an unordered batch DataFrame has no arrival order, so after
    the duplicate collapse, time order IS the canonical order and there
    is nothing further to reject (a lag-based "strictly increasing"
    filter over the time-ordered window is vacuously true — r4 review
    removed it along with its window pass)."""
    df = batch
    if prev_max is not None:
        df = (df.join(F.broadcast(prev_max), "metric", "left")
              .filter(F.col("_prev_max_t").isNull()
                      | (F.col("time") > F.col("_prev_max_t")))
              .drop("_prev_max_t"))
    return df.withColumn("_rn", F.row_number().over(
        Window.partitionBy("metric", "time").orderBy("value"))) \
        .filter(F.col("_rn") == 1).drop("_rn")


class IncrementalRollup:
    """Maintains raw + all rollup levels under ``base`` incrementally.

    Usage (batch-driven or from ``foreachBatch``)::

        ing = IncrementalRollup(spark, base, meta)
        ing.ingest(batch_df)          # per micro-batch
        # or as a streaming sink:
        stream.writeStream.foreachBatch(lambda df, _eid: ing.ingest(df)).start()
    """

    def __init__(self, spark: SparkSession, base: str, meta: Meta,
                 policy: str = "strict",
                 compact_raw_every: int | None = None):
        """``policy``:

        - ``"strict"`` — the reference's semantics: late (non-monotonic)
          points are rejected per batch (src/metric.cpp:519-524).
        - ``"upsert"`` — documented relaxation for distributed sources that
          deliver out of order: late points with *new* timestamps are
          accepted and the affected historical buckets are recomputed (the
          idempotent rewrite already anchors at the predecessor of the
          earliest batch point, so correctness is the same equivalence-to-
          continuous-build invariant); duplicate (metric, time) keys are
          still dropped (first write wins).

        The batch recompute never salts its lag window and runs no planner
        collect: its input is the open region (from the top interval
        holding the batch's earliest point on), not a metric's whole
        series.  A salted backfill of a dominant metric is
        ``HtaStore.write_raw`` + ``HtaStore.build()``.
        """
        if policy not in ("strict", "upsert"):
            raise ValueError(f"unknown policy {policy!r}")
        self.spark = spark
        self.base = base.rstrip("/")
        self.meta = meta
        self.policy = policy
        # auto-compaction policy: every N point-carrying micro-batches,
        # rewrite the raw table via the atomic whole-table republish
        # (store.compact -> publish_version).  Streaming appends a few
        # files per batch; at scale those small files dominate scan
        # planning cost, so a periodic compaction bound is the production
        # default story (levels are already version-GC-bounded per
        # partition by publish_partitions).
        self.compact_raw_every = compact_raw_every
        self._batches_since_compact = 0

    # -- table access ------------------------------------------------------
    # reads/appends resolve through the store's manifest indirection so a
    # compacted (atomically republished) table keeps working mid-stream
    def raw(self) -> DataFrame | None:
        return read_raw_table(self.spark, f"{self.base}/raw")

    def level(self, interval: int) -> DataFrame | None:
        """One level of the levels table (either layout), in the aggregate
        schema — reads resolve through the partition manifest, so a
        concurrent micro-batch's publish is invisible until its atomic
        flip."""
        levels = read_levels(self.spark, f"{self.base}/levels")
        return None if levels is None else level_of(levels, interval)

    def _top(self) -> int:
        return self.meta.level_intervals()[-1]

    # -- ingest ------------------------------------------------------------
    def ingest(self, batch: DataFrame) -> None:
        # reference insert guard: t <= 0 is invalid (src/metric.cpp:515-518);
        # reject up front so bogus rows can neither reach raw nor be chosen
        # as a predecessor anchor for segment integrals.  Cast to the
        # declared raw types: the store reads raw with that schema
        batch = as_raw(batch).filter(F.col("time") > 0)
        # a store-built levels table joins the streaming layout before
        # anything is written; the per-level tables of earlier releases
        # raise here, before the raw append
        _adopt_into_partition_manifest(self.spark, f"{self.base}/levels",
                                       self._top())
        # the metrics/time-range this batch *attempts* are the repair scope,
        # even when every point is a duplicate (crash replay: a previous
        # run may have appended raw and died before level maintenance).  A
        # metric with no history always keeps a surviving row.
        attempted = batch.groupBy("metric").agg(F.min("time").alias("b_min"))
        existing = self.raw()
        if existing is None:
            existing = self.spark.createDataFrame([], RAW_SCHEMA)
        # ONE pre-append stats pass over the batch metrics' history, one
        # row per attempted metric: per-metric max time (the monotonic
        # guard) AND the predecessor of the batch's earliest ATTEMPTED
        # point (the rewrite anchor; anchoring at the earliest SURVIVING
        # point left crash-replayed, fully deduped metrics stale, review
        # r4).  The history rows carry their metric's b_min through the
        # broadcast join; the union adds the metrics with no history.
        plan = (existing.join(F.broadcast(attempted), "metric")
                .select("metric", "time", "b_min")
                .unionByName(attempted.withColumn(
                    "time", F.lit(None).cast("long")))
                .groupBy("metric")
                .agg(F.max("b_min").alias("b_min"),
                     F.max("time").alias("_prev_max_t"),
                     F.max(F.when(F.col("time") < F.col("b_min"),
                                  F.col("time"))).alias("_pt")))
        # rewrite bound _rb per metric: the start of the top level's open
        # interval at the predecessor anchor — everything before it is
        # closed at every level and therefore immutable.
        # NOTE (SCALE.md Connect table): ingest's three localCheckpoints —
        # this plan frame, the enforced batch and the recompute input —
        # are deliberate lineage CUTS, not compat.pin candidates: each
        # frame's plan reads the store snapshot this epoch is about to
        # append to, and the append's refreshByPath would invalidate a
        # persist fallback and re-evaluate against the NEW files.
        # Streaming ingest therefore requires a runtime whose
        # localCheckpoint works (classic Spark, or Connect servers that
        # accept it) — a documented gate.
        anchor = F.coalesce(F.col("_pt"), F.col("b_min"))
        plan = plan.withColumn(
            "_rb", F.greatest(anchor - F.pmod(anchor, F.lit(self._top())),
                              F.lit(0).cast("long"))
        ).localCheckpoint(eager=True)
        if plan.isEmpty():
            return
        if self.policy == "strict":
            batch = enforce_monotonic(batch, plan.select("metric",
                                                         "_prev_max_t"))
        else:
            # upsert: accept out-of-order points; drop only exact
            # (metric, time) duplicates vs the store and within batch
            batch = enforce_monotonic(batch).join(
                existing.join(F.broadcast(plan.select("metric")),
                              "metric", "left_semi").select("metric", "time"),
                ["metric", "time"], "left_anti")
        # cut lineage: the enforced batch's plan reads base/raw (monotonic
        # join), which is about to be appended to and refreshed — a plain
        # cache would be invalidated by the refresh and re-evaluate against
        # the new files, dropping the whole batch as duplicates.
        batch = batch.localCheckpoint(eager=True)
        empty = batch.isEmpty()
        if not empty:
            # append in the live table's layout: flat files beside a
            # store's metric= directories would be invisible to readers
            append_raw(self.spark, f"{self.base}/raw", batch, [])
        self._update_levels(plan.select("metric", "_rb"))
        if not empty and self.compact_raw_every:
            self._batches_since_compact += 1
            if self._batches_since_compact >= self.compact_raw_every:
                self.compact_raw()

    def compact_raw(self, target_partitions: int = 1) -> int:
        """Compact the streaming-appended raw table (atomic republish via
        the store's versioned manifest); resets the auto-trigger counter."""
        n = HtaStore(self.spark, self.base).compact(
            "raw", target_partitions=target_partitions)
        self._batches_since_compact = 0
        return n

    def _update_levels(self, bounds: DataFrame) -> None:
        """Recompute exactly the buckets the batch can change, at every
        level, and publish them with one staged write and one flip.

        ``bounds`` is the broadcastable (metric, _rb) rewrite-bound frame.
        The single point before ``_rb`` is included in the recompute input so
        the entering segment (and its count=0 gap buckets) is reproduced
        exactly (the same argument as the reference's ``restore_level``
        reading only the open tail, metric.cpp:451-497).  That input is
        pinned once and the levels derive from it uncached: one write plans
        every level, so the level-1 shuffle is reused, and no cached
        Dataset outlives the batch.  Level 1 is the build's kernel run
        unsalted over a lazy ``raw_range`` of the pinned input — no
        planner collect for an open region — and is not pinned itself (a
        pin there costs 6 more jobs per batch).

        The levels table is partitioned by (interval, metric, tb =
        interval_start div top_interval); ``_rb`` is top-aligned, so
        {buckets >= _rb} is an exact partition set at every level.
        store.publish_partitions stages the region under
        ``<base>/levels/_stage`` and flips the table's one partition
        manifest under one writer lease — O(region) writes, history never
        touched, all levels atomic together for a racing reader.  Monotonic
        ingest (and the upsert policy's predecessor anchoring) guarantees
        the fresh region covers every previously-published bucket >= _rb.
        """
        # inner join restricts the scan to the batch's metrics and attaches
        # each row's rewrite bound — column comparisons, no literal
        # predicates, so planning cost is independent of the metric count
        raw_b = self.raw().join(F.broadcast(bounds), "metric")
        # the last point before _rb, whole: one aggregate, no join back
        p0 = (raw_b.filter(F.col("time") < F.col("_rb")).groupBy("metric")
              .agg(F.max(F.struct("time", "value")).alias("_p0"))
              .select("metric", "_p0.time", "_p0.value"))
        sub = (raw_b.filter(F.col("time") >= F.col("_rb"))
               .select("metric", "time", "value").unionByName(p0)
               .localCheckpoint(eager=True))
        ranges = raw_range(sub)
        levels = _cascade(_level1(sub, self.meta.level_intervals()[0],
                                  ranges, None), self.meta, ranges)
        top = self._top()
        region = (stack_levels(levels).join(F.broadcast(bounds), "metric")
                  .filter(F.col("interval_start") >= F.col("_rb"))
                  .drop("_rb")
                  .withColumn("tb", F.call_function(
                      "div", F.col("interval_start"), F.lit(top))))
        path = f"{self.base}/levels"
        publish_partitions(self.spark, path, region, top)
        self.spark.catalog.refreshByPath(path)

    # -- streaming entry ---------------------------------------------------
    def stream_from(self, stream_df: DataFrame, checkpoint: str,
                    trigger_seconds: int | None = None):
        """Attach as a Structured Streaming sink with exactly-once upserts
        (checkpointed offsets + idempotent bucket rewrite)."""
        writer = (stream_df.writeStream
                  .outputMode("append")
                  .option("checkpointLocation", checkpoint)
                  .foreachBatch(lambda df, _eid: self.ingest(df)))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
