"""The benchmark's workloads: single-client closed loops over the engine's
public calls.

``dashboard``    read path: a built store; each op is one ``retrieve_flex``
                 or ``aggregate_auto`` over a seeded metric and window, and
                 opens its inputs through ``HtaStore.raw()`` /
                 ``levels_for()`` as the Metric facade does.  One metric
                 is dense enough to make the set-up build salt its window.
``live_ingest``  write path beside reads: strictly-later micro-batches
                 through ``IncrementalRollup.ingest``, each followed by a
                 tail ``retrieve_flex`` of a seeded metric.
``driver_suite`` a fixed list of ``__spark_entry__`` queries (relational,
                 dedup, text, ANN) over generated tables, in seeded order.

Set-up (input generation, raw write, level build) runs once, on a cold
JVM.  The loop runs a fixed number of rounds, each the same list of op
kinds; ``--seconds`` only sets how many rounds.  Wall and CPU time are
measured around the public calls only; output checks run after each op,
outside both.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from hta_spark import Meta
from hta_spark.operators import aggregate_auto, build_levels, retrieve_flex
from hta_spark.operators.rollup import AUTO_SALT_TARGET_ROWS, auto_salt_chunks
from hta_spark.sources import HtaStore
from hta_spark.streaming.ingest import IncrementalRollup

import checks
import inputs
from inputs import SECOND

# interval_min 30 s, factor 10, levels 30 s / 300 s / 3000 s
META = Meta(interval_min=30 * SECOND, interval_max=3000 * SECOND,
            interval_factor=10)
TOP = META.level_intervals()[-1]

# 63 metrics at 10 s spacing plus one metric 256x denser, whose series
# (1,048,576 rows) is above AUTO_SALT_TARGET_ROWS
DASHBOARD = {"metrics": 64, "points": 4096, "spacing_s": 10, "dense": 256}
assert DASHBOARD["points"] * DASHBOARD["dense"] > AUTO_SALT_TARGET_ROWS
# one round: (op, flex resolution in s or None, window fraction).  The
# resolutions hit the raw-smooth branch (below interval_min) and a
# smoothed level read (300 s rows merged three at a time)
DASHBOARD_ROUND = [("flex", 15, 0.1), ("aggregate", None, 0.01),
                   ("flex", 1000, 1.0), ("aggregate", None, 1.0)]

LIVE = {"metrics": 16, "history": 1024, "batch": 90, "spacing_s": 10}
TAIL_S = 3600
TAIL_RES_S = 30


def dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def cpu_seconds(pid: int) -> float:
    """CPU time of the JVM ``pid`` (driver and, in local mode, executor
    threads) plus this Python process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return (int(fields[11]) + int(fields[12])) / ticks + time.process_time()


class Workload:
    """Shared loop machinery; subclasses define set-up, one round's op
    kinds, one op and the checks."""

    #: wall seconds of one round on the reference host (NOTES.md); only
    #: used to turn ``--seconds`` into a whole number of rounds
    round_s = 1.0
    #: number of ops in one round
    round_ops = 1
    #: traced runs: traced/untraced round pairs after the warm-up round
    trace_pairs = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed + 1)
        self.failures: list[str] = []
        self.attempted = 0
        self.lat: dict[str, list[float]] = {}
        self.setup_parts: dict[str, float] = {}
        self.store = None
        self.base = None
        self.points = 0

    def record(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def fail(self, why: str | None) -> None:
        if why:
            self.failures.append(why)

    def rounds(self, seconds: float) -> int:
        return max(1, round(seconds / self.round_s))

    def timed(self, fn):
        """Run ``fn``; add its wall and CPU time to the current op."""
        cpu, t = cpu_seconds(self.jvm_pid), time.perf_counter()
        out = fn()
        self._wall += time.perf_counter() - t
        self._cpu += cpu_seconds(self.jvm_pid) - cpu
        return out

    def setup_part(self, name: str, fn, op_id: int):
        t = time.perf_counter()
        with self.tracer.span(name, op_id):
            out = fn()
        self.setup_parts[name] = time.perf_counter() - t
        return out

    def open(self, store: HtaStore, metric: str, op_id: int):
        with self.tracer.span("store.open", op_id):
            raw = store.raw().filter(F.col("metric") == metric)
            levels = {iv: df.filter(F.col("metric") == metric)
                      for iv, df in store.levels_for(META).items()}
        return raw, levels

    def flex(self, store, metric: str, b: int, e: int, res_s: int,
             op_id: int) -> None:
        def call():
            with self.tracer.span("op.flex", op_id):
                raw, levels = self.open(store, metric, op_id)
                with self.tracer.span("retrieve.plan", op_id):
                    kind, df = retrieve_flex(raw, levels, META, b, e,
                                             res_s * SECOND)
                with self.tracer.span("retrieve.exec", op_id):
                    return kind, df.collect()
        t = self._wall
        kind, rows = self.timed(call)
        self.record("flex", self._wall - t)
        self.attempted += 1
        if kind != "rows":
            self.fail(f"flex {metric} res {res_s}: returned {kind}")
        else:
            self.fail(checks.check_flex(self.oracle, metric, b, e,
                                        res_s * SECOND, META, rows))

    def aggregate(self, store, metric: str, b: int, e: int,
                  op_id: int) -> None:
        def call():
            with self.tracer.span("op.aggregate", op_id):
                raw, levels = self.open(store, metric, op_id)
                with self.tracer.span("aggregate.plan", op_id):
                    df = aggregate_auto(raw, levels, META, b, e)
                with self.tracer.span("aggregate.exec", op_id):
                    return df.collect()
        t = self._wall
        rows = self.timed(call)
        self.record("aggregate", self._wall - t)
        self.attempted += 1
        self.fail(checks.check_aggregate(self.oracle, metric, b, e, rows))

    def loop(self, rounds: int, traced_rounds: set[int]) -> float:
        """Closed loop of ``rounds`` whole rounds; the rounds in
        ``traced_rounds`` run with job attribution.  Records each round's
        wall and CPU time (sums over its ops' public calls); returns the
        loop's elapsed time."""
        start = time.perf_counter()
        self.round_traced: list[bool] = []
        for r in range(rounds):
            self.tracer.active = r in traced_rounds
            self.round_traced.append(self.tracer.active)
            self._wall = self._cpu = 0.0
            for k in range(self.round_ops):
                op_id = self.tracer.new_op()
                try:
                    self.op(k, op_id)
                except Exception:
                    self.attempted += 1
                    self.fail(f"round {r} op {k} raised:\n"
                              f"{traceback.format_exc()}")
                self.tracer.collect()
            self.record("round", self._wall)
            self.record("round_cpu", self._cpu)
        self.tracer.active = self.tracer.enabled
        return time.perf_counter() - start

    def salt_chunks(self) -> int:
        """The build's auto-salting decision for this store (traced runs)."""
        if self.store is None:
            return 0
        return auto_salt_chunks(self.store.raw()) or 0


class Dashboard(Workload):
    name = "dashboard"
    round_ops = len(DASHBOARD_ROUND)
    round_s = 14.0

    def setup(self) -> None:
        d = DASHBOARD
        t = time.perf_counter()
        names = inputs.metric_names(d["metrics"])
        spacing = d["spacing_s"] * SECOND
        series = inputs.Series(self.seed, names[1:], spacing, TOP // SECOND)
        dense = inputs.Series(self.seed + 7, names[:1], spacing // d["dense"],
                              TOP // SECOND)
        dense.t0 = series.t0
        paths = [inputs.write(series.take(d["points"]),
                              f"{self.work}/dashboard.parquet"),
                 inputs.write(dense.take(d["points"] * d["dense"]),
                              f"{self.work}/dashboard-dense.parquet")]
        self.setup_parts["inputs"] = time.perf_counter() - t
        self.base = f"{self.work}/store"
        store = HtaStore(self.spark, self.base,
                         configs={m: META for m in names})
        df = self.spark.read.parquet(*paths)
        op_id = self.tracer.new_op()
        self.setup_part("store.write_raw", lambda: store.write_raw(df), op_id)
        self.setup_part("store.build", store.build, op_id)
        self.store, self.series, self.inputs = store, series, paths
        self.points = (d["metrics"] - 1 + d["dense"]) * d["points"]

    def prepare(self) -> None:
        self.oracle = checks.Oracle(self.inputs)
        # reads draw from the regular metrics; the dense one is built and
        # checked after the loop
        self.names = list(self.series.names)
        # windows stay clear of the top level's last (open) bucket
        self.lo = self.series.t0
        self.usable = (self.series.time_of(DASHBOARD["points"] - 1)
                       - TOP - self.lo)

    def window(self, frac: float) -> tuple[int, int]:
        """Seeded window of ``frac`` of the range; its width is a whole
        number of interval_min, so raw-smooth buckets are all full."""
        width = int(frac * self.usable) // META.interval_min * META.interval_min
        off = int(self.rng.integers(0, self.usable - width + 1)) // SECOND
        b = self.lo + off * SECOND
        return b, b + width

    def op(self, k: int, op_id: int) -> None:
        kind, res, frac = DASHBOARD_ROUND[k]
        metric = self.names[int(self.rng.integers(len(self.names)))]
        b, e = self.window(frac)
        if kind == "flex":
            self.flex(self.store, metric, b, e, res, op_id)
        else:
            self.aggregate(self.store, metric, b, e, op_id)

    def final_check(self) -> None:
        """Traced runs only (untraced runs rely on the per-op checks, to
        keep a run short): every level's counts sum to the raw points its
        closed buckets cover."""
        if not self.tracer.enabled:
            return
        self.attempted += 1
        parts = [self.store.level(iv).agg(F.sum("count").alias("n"))
                 .withColumn("iv", F.lit(iv)) for iv in META.level_intervals()]
        got = parts[0]
        for p in parts[1:]:
            got = got.unionByName(p)
        for r in got.collect():
            want = self.oracle.closed_points(r["iv"])
            if r["n"] != want:
                self.fail(f"level {r['iv']}: counts sum to {r['n']}, "
                          f"raw points in closed buckets {want}")


class LiveIngest(Workload):
    name = "live_ingest"
    round_ops = 1
    round_s = 10.0
    # traced runs ingest four batches after the warm-up one, for the slope
    trace_pairs = 2

    def setup(self) -> None:
        d = LIVE
        t = time.perf_counter()
        series = inputs.Series(self.seed, inputs.metric_names(d["metrics"]),
                               d["spacing_s"] * SECOND, TOP // SECOND)
        hist = inputs.write(series.take(d["history"]),
                            f"{self.work}/history.parquet")
        self.setup_parts["inputs"] = time.perf_counter() - t
        self.base = f"{self.work}/live"
        df = self.spark.read.parquet(hist)
        ing = IncrementalRollup(self.spark, self.base, META)
        # the history arrives as one batch: raw plus every level, in the
        # partition-manifest layout the loop's micro-batches maintain
        self.setup_part("store.build", lambda: ing.ingest(df),
                        self.tracer.new_op())
        # the streaming appender writes plain files: raw is unpartitioned
        self.store = HtaStore(self.spark, self.base,
                              configs={m: META for m in series.names},
                              partition_by_metric=False)
        self.series, self.ing = series, ing
        self.inputs = [hist]
        self.points = d["metrics"] * d["history"]

    def prepare(self) -> None:
        self.oracle = checks.Oracle(self.inputs)
        self.names = list(self.series.names)
        self.batch_points = LIVE["metrics"] * LIVE["batch"]
        self.written: list[int] = []
        self.batches = 0

    def op(self, k: int, op_id: int) -> None:
        """One strictly-later micro-batch, then a tail read of a seeded
        metric; the batch file is written outside the timed calls."""
        self.batches += 1
        path = inputs.write(self.series.take(LIVE["batch"]),
                            f"{self.work}/batch-{self.batches}.parquet")
        batch = self.spark.read.parquet(path)
        before = dir_size(self.base)[1]
        t = self._wall

        def call():
            with self.tracer.span("ingest", op_id):
                self.ing.ingest(batch)
        self.timed(call)
        self.record("ingest", self._wall - t)
        self.written.append(dir_size(self.base)[1] - before)
        self.attempted += 1
        self.oracle.extend([path])
        self.points += self.batch_points
        metric = self.names[int(self.rng.integers(len(self.names)))]
        t_last = self.series.time_of(self.series.next_i - 1)
        e = checks.floor_grid(t_last, TAIL_RES_S * SECOND)
        self.flex(self.store, metric, e - TAIL_S * SECOND, e, TAIL_RES_S,
                  op_id)

    def final_check(self) -> None:
        """Traced runs only (untraced runs rely on the per-op checks, to
        keep a run short): the ingest contract, the maintained levels equal
        a fresh ``build_levels`` of the final raw table; and one aggregate
        over every metric and the whole range, against DuckDB."""
        if not self.tracer.enabled:
            return
        op_id = self.tracer.new_op()
        with self.tracer.span("store.open", op_id):
            raw = self.store.raw()
            levels = self.store.levels_for(META)
        b = self.series.t0
        e = self.series.time_of(self.series.next_i - 1)
        with self.tracer.span("aggregate.plan", op_id):
            df = aggregate_auto(raw, levels, META, b, e)
        with self.tracer.span("aggregate.exec", op_id):
            rows = {r["metric"]: r for r in df.collect()}
        self.tracer.collect()
        for m in self.names:
            self.attempted += 1
            self.fail(checks.check_aggregate(
                self.oracle, m, b, e, [rows[m]] if m in rows else []))
        self.attempted += 1
        fresh = build_levels(raw, META)
        for iv in META.level_intervals():
            got = checks.level_dict(levels[iv].collect())
            want = checks.level_dict(fresh[iv].collect())
            if not checks.same_levels(got, want):
                self.fail(f"level {iv}: incremental != fresh build "
                          f"({len(got)} vs {len(want)} buckets)")


class DriverSuite(Workload):
    name = "driver_suite"
    round_ops = len(inputs.SUITE_QUERIES)
    round_s = 18.0

    def setup(self) -> None:
        import __spark_entry__
        t = time.perf_counter()
        self.data = inputs.suite_tables(self.seed, f"{self.work}/suite")
        self.setup_parts["inputs"] = time.perf_counter() - t
        self.queries = __spark_entry__.queries(housekeep=False)
        self.sql = __spark_entry__.oracle_sql()
        # the seed permutes the order; every round runs the same order
        q = inputs.SUITE_QUERIES
        self.order = [q[i] for i in self.rng.permutation(len(q))]

    def prepare(self) -> None:
        self.oracle = checks.SuiteOracle(self.data)
        self.want = {}

    def op(self, k: int, op_id: int) -> None:
        name = self.order[k]
        t = self._wall

        def call():
            with self.tracer.span(f"suite.{name}", op_id):
                return self.queries[name](self.spark, self.data).collect()
        rows = self.timed(call)
        self.record(f"suite.{name}", self._wall - t)
        self.attempted += 1
        if name not in self.want:
            self.want[name] = self.oracle.rows(self.sql[name])
        self.fail(checks.check_suite(name, rows, self.want[name]))

    def final_check(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (Dashboard, LiveIngest, DriverSuite)}
