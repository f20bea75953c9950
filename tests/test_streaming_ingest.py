"""Restore-equivalence (W5): incremental multi-batch ingest must produce
level tables identical to one continuous build — the Spark analog of
/root/reference/tests/restore.cpp:87-215 (reopen-between-inserts equals a
single session), plus a real Structured Streaming smoke via foreachBatch.
"""

from __future__ import annotations

import shutil

import pytest

from hta_spark import SECOND
from hta_spark.operators import build_levels
from hta_spark.streaming.ingest import IncrementalRollup

from .conftest import F1_META, f1_points


def _as_df(spark, pts):
    return spark.createDataFrame(pts, "metric string, time long, value double")


def _level_dict(df):
    return {(r["metric"], r["interval_start"]):
            (r["minimum"], r["maximum"], r["sum"], r["count"], r["integral"],
             r["active_time"])
            for r in df.collect()}


@pytest.mark.parametrize("n_batches", [2, 6])
def test_incremental_equals_continuous(spark, tmp_path, n_batches):
    pts = f1_points()
    base = str(tmp_path / f"store_{n_batches}")
    ing = IncrementalRollup(spark, base, F1_META)
    step = (len(pts) + n_batches - 1) // n_batches
    for i in range(0, len(pts), step):
        ing.ingest(_as_df(spark, pts[i:i + step]))

    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        inc = ing.level(iv)
        cont = continuous[iv]
        inc_d = _level_dict(inc) if inc is not None else {}
        cont_d = _level_dict(cont)
        assert inc_d == cont_d, f"level {iv}: incremental != continuous"


def test_monotonic_enforcement(spark, tmp_path):
    base = str(tmp_path / "mono")
    ing = IncrementalRollup(spark, base, F1_META)
    t0 = 1_519_130_000 * SECOND
    ing.ingest(_as_df(spark, [("m", t0 + 10 * SECOND, 1.0),
                              ("m", t0 + 20 * SECOND, 2.0)]))
    # replayed/late points are dropped, new ones kept
    ing.ingest(_as_df(spark, [("m", t0 + 15 * SECOND, 99.0),   # late -> drop
                              ("m", t0 + 20 * SECOND, 99.0),   # dup -> drop
                              ("m", t0 + 30 * SECOND, 3.0)]))
    rows = sorted((r["time"], r["value"]) for r in ing.raw().collect())
    assert rows == [(t0 + 10 * SECOND, 1.0), (t0 + 20 * SECOND, 2.0),
                    (t0 + 30 * SECOND, 3.0)]


def test_structured_streaming_smoke(spark, tmp_path):
    """Drive the ingest through a real Structured Streaming query
    (file source -> foreachBatch sink) and check the level build."""
    src = tmp_path / "src"
    src.mkdir()
    base = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    pts = f1_points()
    _as_df(spark, pts).coalesce(1).write.parquet(str(src / "batch1"))

    ing = IncrementalRollup(spark, base, F1_META)
    stream = (spark.readStream
              .schema("metric string, time long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "batch1")))
    q = ing.stream_from(stream, ckpt)
    q.processAllAvailable()
    q.stop()

    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in [10 * SECOND, 100 * SECOND]:
        inc = ing.level(iv)
        assert inc is not None
        assert _level_dict(inc) == _level_dict(continuous[iv])


def test_stateful_stream_level1_matches_batch(spark, tmp_path):
    """applyInPandasWithState closed-interval stream must equal the batch
    level-1 build, across multiple micro-batches (state persistence)."""
    from hta_spark import SECOND
    from hta_spark.streaming.live import stream_level1

    src = tmp_path / "live_src"
    src.mkdir()
    pts = f1_points()
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    n = len(pts)
    for i in range(4):
        chunk = pts[i * n // 4:(i + 1) * n // 4]
        _as_df(spark, chunk).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (spark.readStream
              .schema("metric string, time long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "b*")))
    out = stream_level1(stream, 10 * SECOND)
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "live_ckpt"))
         .format("memory").queryName("live_l1").start())
    q.processAllAvailable()
    q.stop()

    got = {(r["metric"], r["interval_start"]):
           (r["minimum"], r["maximum"], r["sum"], r["count"], r["integral"],
            r["active_time"])
           for r in spark.sql("SELECT * FROM live_l1").collect()}
    expected = _level_dict(
        build_levels(_as_df(spark, pts), F1_META)[10 * SECOND])
    assert got == expected


def test_stateful_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill the stateful query mid-stream, restart from the checkpoint with
    new data arriving: closed rows across both runs must equal one
    continuous batch build (restore_level contract, tests/restore.cpp)."""
    from hta_spark import SECOND
    from hta_spark.streaming.live import stream_level1

    src = tmp_path / "restart_src"
    src.mkdir()
    ckpt = str(tmp_path / "restart_ckpt")
    pts = f1_points()
    half = len(pts) // 2

    def mk_stream():
        return (spark.readStream
                .schema("metric string, time long, value double")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src / "b*")))

    def sink(stream):
        return (stream_level1(stream, 10 * SECOND)
                .writeStream.outputMode("append")
                .option("checkpointLocation", ckpt)
                .format("parquet")
                .option("path", str(tmp_path / "restart_out"))
                .start())

    # session 1: first half in two files
    _as_df(spark, pts[:half // 2]).coalesce(1).write.parquet(str(src / "b0"))
    _as_df(spark, pts[half // 2:half]).coalesce(1).write.parquet(str(src / "b1"))
    q = sink(mk_stream())
    q.processAllAvailable()
    q.stop()            # "crash"

    # session 2: rest arrives, new query resumes from the checkpoint
    _as_df(spark, pts[half:]).coalesce(1).write.parquet(str(src / "b2"))
    q = sink(mk_stream())
    q.processAllAvailable()
    q.stop()

    got = {(r["metric"], r["interval_start"]):
           (r["minimum"], r["maximum"], r["sum"], r["count"], r["integral"],
            r["active_time"])
           for r in spark.read.parquet(str(tmp_path / "restart_out")).collect()}
    expected = _level_dict(
        build_levels(_as_df(spark, pts), F1_META)[10 * SECOND])
    assert got == expected


def test_compaction_after_streaming(spark, tmp_path):
    """Many-batch ingest leaves many small files; compaction rewrites them
    without changing query results."""
    import os
    from hta_spark.sources import HtaStore
    from hta_spark import Meta

    base = str(tmp_path / "compact_store")
    ing = IncrementalRollup(spark, base, F1_META)
    pts = f1_points()
    for i in range(0, len(pts), 10):    # 11 micro-batches
        ing.ingest(_as_df(spark, pts[i:i + 10]))
    raw_dir = f"{base}/raw"
    files_before = sum(1 for _r, _d, fs in os.walk(raw_dir)
                       for f in fs if f.endswith(".parquet"))
    before = sorted((r["metric"], r["time"], r["value"])
                    for r in spark.read.parquet(raw_dir).collect())

    store = HtaStore(spark, base, configs={"foo": F1_META},
                     partition_by_metric=False)
    files_after = store.compact("raw", target_partitions=1)
    assert files_after < files_before
    after = sorted((r["metric"], r["time"], r["value"])
                   for r in store.raw().collect())
    assert after == before


def test_crash_replay_repairs_levels(spark, tmp_path):
    """Simulated crash between raw append and level maintenance: the
    replayed (all-duplicate) batch must still repair the level tables."""
    from pyspark.sql import functions as F
    base = str(tmp_path / "crash_store")
    ing = IncrementalRollup(spark, base, F1_META)
    pts = f1_points()
    half = len(pts) // 2
    ing.ingest(_as_df(spark, pts[:half]))

    # crash simulation: second batch reaches raw but dies before levels
    batch2 = _as_df(spark, pts[half:])
    batch2.write.mode("append").parquet(f"{base}/raw")
    spark.catalog.refreshByPath(f"{base}/raw")
    before = ing.level(10_000_000_000).count()

    # streaming replays the same epoch -> every point is now a duplicate
    ing.ingest(batch2)
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        inc = ing.level(iv)
        inc_d = _level_dict(inc) if inc is not None else {}
        assert inc_d == _level_dict(continuous[iv]), f"level {iv}"
    assert ing.level(10_000_000_000).count() > before


def test_compact_day_partitioned_store(spark, tmp_path):
    """Compaction of a day-partitioned table must preserve the partition
    layout so later appends stay readable."""
    from pyspark.sql import functions as F
    from hta_spark.sources import HtaStore
    from hta_spark import Meta, SECOND
    base = str(tmp_path / "daycompact")
    store = HtaStore(spark, base, configs={"m": Meta()},
                     partition_time_days=True)
    day = 86_400_000_000_000
    store.write_raw(spark.createDataFrame(
        [("m", 3 * day + i * 3600 * SECOND, float(i)) for i in range(1, 10)],
        "metric string, time long, value double"))
    store.compact("raw")
    # post-compaction append must still be readable
    store.write_raw(spark.createDataFrame(
        [("m", 4 * day + i * 3600 * SECOND, float(i)) for i in range(1, 10)],
        "metric string, time long, value double"))
    spark.catalog.refreshByPath(f"{base}/raw")
    assert store.raw().count() == 18


def test_store_config_merge(spark, tmp_path):
    """Re-opening a store with extra configs merges instead of clobbering."""
    from hta_spark.sources import HtaStore
    from hta_spark import Meta
    base = str(tmp_path / "mergestore")
    HtaStore(spark, base, configs={"a": Meta()})
    s2 = HtaStore(spark, base, configs={"b": Meta()})
    assert s2.meta_for("a") is not None and s2.meta_for("b") is not None
    s3 = HtaStore(spark, base, prefix_configs={"p": Meta()})
    assert s3.meta_for("a") is not None
    assert s3.meta_for("p.x").interval_min == Meta().interval_min
    # persisted merge survives a fresh open
    s4 = HtaStore(spark, base)
    assert s4.meta_for("b") is not None and s4.meta_for("p.x") is not None


def test_upsert_policy_accepts_out_of_order(spark, tmp_path):
    """policy='upsert': out-of-order batch arrival converges to the same
    level tables as a continuous in-order build (the strict policy would
    drop the late batches entirely)."""
    base = str(tmp_path / "upsert_store")
    ing = IncrementalRollup(spark, base, F1_META, policy="upsert")
    pts = f1_points()
    q = len(pts) // 4
    # arrival order: 3rd quarter, 1st, 4th, 2nd
    for chunk in (pts[2*q:3*q], pts[:q], pts[3*q:], pts[q:2*q]):
        ing.ingest(_as_df(spark, chunk))
    assert ing.raw().count() == len(pts)
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        inc = ing.level(iv)
        inc_d = _level_dict(inc) if inc is not None else {}
        assert inc_d == _level_dict(continuous[iv]), f"level {iv}"


def test_upsert_policy_drops_exact_duplicates(spark, tmp_path):
    base = str(tmp_path / "upsert_dups")
    ing = IncrementalRollup(spark, base, F1_META, policy="upsert")
    t0 = 1_519_130_000 * SECOND
    ing.ingest(_as_df(spark, [("m", t0 + 10 * SECOND, 1.0)]))
    ing.ingest(_as_df(spark, [("m", t0 + 10 * SECOND, 99.0),   # dup -> drop
                              ("m", t0 + 5 * SECOND, 0.5)]))   # late -> keep
    rows = sorted((r["time"], r["value"]) for r in ing.raw().collect())
    assert rows == [(t0 + 5 * SECOND, 0.5), (t0 + 10 * SECOND, 1.0)]


def test_watermarked_window_stream(spark, tmp_path):
    """Spark-native late-data handling demo: tumbling-window streaming agg
    with a watermark over the events shape — the documented alternative to
    the reference's reject-late policy (SURVEY.md §2.4 Streaming)."""
    from pyspark.sql import functions as F
    src = tmp_path / "wm_src"
    src.mkdir()
    rows = [(i, 1_700_000_000_000_000 + i * 60_000_000, "a" if i % 2 else "b",
             float(i)) for i in range(120)]  # µs timestamps, 1/min
    df = spark.createDataFrame(
        rows, "event_id long, ts_us long, event_type string, value double")
    df.coalesce(1).write.parquet(str(src / "b0"))

    stream = (spark.readStream
              .schema("event_id long, ts_us long, event_type string, value double")
              .parquet(str(src / "b0"))
              .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))
    agg = (stream
           .withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
           .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")))
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
         .format("memory").queryName("wm_out").start())
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM wm_out").collect()
    # 120 minutes of data -> complete 15-min windows emitted below the
    # watermark, two event types each
    assert len(out) >= 10
    assert all(r["n"] > 0 for r in out)


def _level_files(base, interval):
    """Map partition-relative dir -> sorted parquet file names."""
    import os
    root = f"{base}/levels/interval={interval}"
    out = {}
    for r, _d, fs in os.walk(root):
        pq = sorted(f for f in fs if f.endswith(".parquet"))
        if pq:
            out[os.path.relpath(r, root)] = pq
    return out


def test_upsert_touches_only_intersecting_partitions(spark, tmp_path):
    """A micro-batch must rewrite ONLY the level partitions intersecting its
    rewrite region (the top level's open interval onward) — history files
    stay byte-identical (the restore contract of
    /root/reference/src/metric.cpp:451-497, now enforced at the file level
    via dynamic partition overwrite)."""
    from hta_spark import Meta
    meta = Meta(interval_min=10 * SECOND, interval_max=100 * SECOND,
                interval_factor=10)   # top=100s -> F1's 225s span = 3 parts
    base = str(tmp_path / "partscope")
    ing = IncrementalRollup(spark, base, meta)
    pts = f1_points()
    top = meta.level_intervals()[-1]
    # batch 1: everything except the last few points
    ing.ingest(_as_df(spark, pts[:-4]))
    before = _level_files(base, 10_000_000_000)
    t_last = max(t for _m, t, _v in pts[:-4])
    open_tb = (t_last - t_last % top) // top
    # batch 2: the tail points (inside the same top-level open interval)
    ing.ingest(_as_df(spark, pts[-4:]))
    after = _level_files(base, 10_000_000_000)
    changed = {d for d in before
               if d in after and before[d] != after[d]}
    changed |= set(after) - set(before)
    for d in changed:
        assert f"tb={open_tb}" in d or int(d.split("tb=")[1].split("/")[0]) >= open_tb, \
            f"partition {d} outside the open region was rewritten"
    untouched = {d for d in before
                 if int(d.split("tb=")[1].split("/")[0]) < open_tb}
    for d in untouched:
        assert before[d] == after[d], f"historic partition {d} was rewritten"
    assert untouched, "test vacuous: no historic partitions existed"
    # and the result is still the continuous build
    continuous = build_levels(_as_df(spark, pts), meta)
    for iv in meta.level_intervals():
        assert _level_dict(ing.level(iv)) == _level_dict(continuous[iv])


def test_nonpositive_timestamps_rejected(spark, tmp_path):
    """t <= 0 never reaches raw nor corrupts level anchors
    (/root/reference/src/metric.cpp:515-518 throws on t == 0)."""
    base = str(tmp_path / "nonpos")
    ing = IncrementalRollup(spark, base, F1_META)
    t0 = 1_519_130_000 * SECOND
    ing.ingest(_as_df(spark, [("m", -5, 7.0), ("m", 0, 8.0),
                              ("m", t0, 1.0), ("m", t0 + 20 * SECOND, 2.0)]))
    rows = sorted((r["time"], r["value"]) for r in ing.raw().collect())
    assert rows == [(t0, 1.0), (t0 + 20 * SECOND, 2.0)]
    # an all-invalid batch is a no-op (no raw table created)
    import os
    base2 = str(tmp_path / "nonpos2")
    IncrementalRollup(spark, base2, F1_META).ingest(
        _as_df(spark, [("m", 0, 1.0), ("m", -1, 2.0)]))
    assert not os.path.exists(f"{base2}/raw")


def test_store_facade_reads_streaming_levels(spark, tmp_path):
    """An HtaStore pointed at an IncrementalRollup-maintained base reads
    the partitioned level tables transparently (bookkeeping column
    stripped, metric type normalized)."""
    from hta_spark.sources import HtaStore

    base = str(tmp_path / "interop")
    ing = IncrementalRollup(spark, base, F1_META)
    pts = f1_points()
    ing.ingest(_as_df(spark, pts))

    store = HtaStore(spark, base, configs={"foo": F1_META},
                     partition_by_metric=False)
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        got = store.level(iv)
        assert got is not None
        assert _level_dict(got) == _level_dict(continuous[iv])
    # the metric facade works end-to-end over the same base (count excludes
    # the point at the clamped end em == t_last — reference clamping,
    # metric.cpp:160-231)
    agg = store["foo"].aggregate(pts[0][1], pts[-1][1] + 1).collect()
    assert len(agg) == 1 and agg[0]["count"] == len(pts) - 1


def test_numeric_metric_names_survive_partition_inference(spark, tmp_path):
    """Partition directories like metric=42 would be inferred as ints;
    level() must normalize them back to the raw table's string type."""
    base = str(tmp_path / "numnames")
    ing = IncrementalRollup(spark, base, F1_META)
    t0 = 1_519_130_000 * SECOND
    pts = [("42", t0 + i * 5 * SECOND, float(i)) for i in range(30)]
    ing.ingest(_as_df(spark, pts))
    lvl = ing.level(10 * SECOND)
    rows = lvl.collect()
    assert rows and all(r["metric"] == "42" for r in rows)
    assert dict(lvl.dtypes)["metric"] == "string"


def test_level_compaction_preserves_streaming_layout(spark, tmp_path):
    """Compacting a streaming level table must keep the (metric, tb)
    partition layout (and versioned publish), so later micro-batches keep
    upserting correctly."""
    from hta_spark.sources import HtaStore

    base = str(tmp_path / "lvlcompact")
    ing = IncrementalRollup(spark, base, F1_META)
    pts = f1_points()
    half = len(pts) // 2
    ing.ingest(_as_df(spark, pts[:half]))

    store = HtaStore(spark, base, configs={"foo": F1_META},
                     partition_by_metric=False)
    n_files = store.compact("levels", target_partitions=1)
    assert n_files > 0

    ing.ingest(_as_df(spark, pts[half:]))
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        assert _level_dict(ing.level(iv)) == _level_dict(continuous[iv]), iv


def test_stream_levels_cascade_matches_batch(spark, tmp_path):
    """The single-stage streaming cascade (stream_levels) must emit closed
    rows at EVERY level equal to the batch hierarchy build — the streaming
    form of Metric::insert(Row)'s recursion (metric.cpp:562-603)."""
    from hta_spark.streaming.live import stream_levels

    src = tmp_path / "cascade_src"
    src.mkdir()
    pts = f1_points()
    n = len(pts)
    for i in range(4):
        chunk = pts[i * n // 4:(i + 1) * n // 4]
        _as_df(spark, chunk).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (spark.readStream
              .schema("metric string, time long, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "b*")))
    out = stream_levels(stream, F1_META.level_intervals())
    q = (out.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cascade_ckpt"))
         .format("memory").queryName("cascade_out").start())
    q.processAllAvailable()
    q.stop()

    got_all = spark.sql("SELECT * FROM cascade_out").collect()
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        got = {(r["metric"], r["interval_start"]):
               (r["minimum"], r["maximum"], r["sum"], r["count"],
                r["integral"], r["active_time"])
               for r in got_all if r["interval"] == iv}
        # the stream emits only CLOSED intervals; the batch build also
        # materializes the still-open tail bucket of each level — compare
        # on the closed prefix and require it to be exactly the batch rows
        # minus each level's open tail
        exp_full = _level_dict(continuous[iv])
        open_tail = {k for k in exp_full if k not in got}
        for k in open_tail:
            # anything missing must be the (single, last) open bucket
            assert k[1] == max(s for _m, s in exp_full), \
                f"level {iv}: closed bucket {k} missing from stream"
        for k, v in got.items():
            assert exp_full[k] == v, f"level {iv} bucket {k}"
        # non-vacuous wherever the level has at least one CLOSED bucket
        # (the top level may hold only its open tail over a short series)
        assert got or len(exp_full) <= 1, \
            f"level {iv}: stream emitted nothing"


def test_stream_levels_restart_from_checkpoint(spark, tmp_path):
    """Kill the cascade query mid-stream and resume from the checkpoint:
    closed rows across both runs equal one continuous run at EVERY level
    (restore_level extended to n>1, tests/restore.cpp contract)."""
    from hta_spark.streaming.live import stream_levels

    src = tmp_path / "cascr_src"
    src.mkdir()
    ckpt = str(tmp_path / "cascr_ckpt")
    out_dir = str(tmp_path / "cascr_out")
    pts = f1_points()
    half = len(pts) // 2

    def mk_stream():
        return (spark.readStream
                .schema("metric string, time long, value double")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src / "b*")))

    def sink(stream):
        return (stream_levels(stream, F1_META.level_intervals())
                .writeStream.outputMode("append")
                .option("checkpointLocation", ckpt)
                .format("parquet").option("path", out_dir)
                .start())

    _as_df(spark, pts[:half // 2]).coalesce(1).write.parquet(str(src / "b0"))
    _as_df(spark, pts[half // 2:half]).coalesce(1).write.parquet(str(src / "b1"))
    q = sink(mk_stream())
    q.processAllAvailable()
    q.stop()            # "crash"

    _as_df(spark, pts[half:]).coalesce(1).write.parquet(str(src / "b2"))
    q = sink(mk_stream())
    q.processAllAvailable()
    q.stop()

    rows = spark.read.parquet(out_dir).collect()
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        got = {(r["metric"], r["interval_start"]):
               (r["minimum"], r["maximum"], r["sum"], r["count"],
                r["integral"], r["active_time"])
               for r in rows if r["interval"] == iv}
        exp_full = _level_dict(continuous[iv])
        missing = {k for k in exp_full if k not in got}
        for k in missing:
            assert k[1] == max(s for _m, s in exp_full), \
                f"level {iv}: closed bucket {k} lost across restart"
        for k, v in got.items():
            assert exp_full[k] == v, f"level {iv} bucket {k}"
    # no duplicate emissions across the restart
    assert len(rows) == len({(r["interval"], r["metric"],
                              r["interval_start"]) for r in rows})


def test_auto_compact_policy_bounds_small_files(spark, tmp_path):
    """compact_raw_every=N: raw small-file growth is cut back every N
    point-carrying batches (atomic republish), with results unchanged and
    further ingests still correct."""
    import os
    from hta_spark.sources.store import resolve_table_path

    base = str(tmp_path / "autocompact")
    ing = IncrementalRollup(spark, base, F1_META, compact_raw_every=4)
    pts = f1_points()
    chunks = [pts[i:i + 10] for i in range(0, len(pts), 10)]
    for chunk in chunks[:8]:                 # 8 batches -> 2 compactions
        ing.ingest(_as_df(spark, chunk))
    live = resolve_table_path(f"{base}/raw")
    n_files = sum(1 for _r, _d, fs in os.walk(live)
                  for f in fs if f.endswith(".parquet"))
    assert n_files <= 4, f"raw not compacted: {n_files} files"
    for chunk in chunks[8:]:                 # keep ingesting post-compact
        ing.ingest(_as_df(spark, chunk))
    assert ing.raw().count() == len(pts)
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        assert _level_dict(ing.level(iv)) == _level_dict(continuous[iv]), iv


@pytest.mark.parametrize("by_metric,by_day", [
    (True, False), (False, True), (True, True), (False, False)])
def test_ingest_and_compact_keep_store_raw_layout(spark, tmp_path,
                                                  by_metric, by_day):
    """Ingest and compact_raw on an HtaStore-written base append and
    rewrite in the store's raw layout (metric= / day= directories):
    a flat file beside the partition directories is invisible to every
    reader, so the ingested batch, and after a flat compaction the
    whole history, used to vanish from store.raw()."""
    from hta_spark.sources import HtaStore

    day = 86_400_000_000_000
    # two metrics on either side of a day boundary
    pts = sorted(f1_points() + [("bar", t + day // 2, -v)
                                for _m, t, v in f1_points()],
                 key=lambda p: p[1])
    cut = len(pts) // 2
    base = str(tmp_path / "layout")
    store = HtaStore(spark, base, configs={"foo": F1_META, "bar": F1_META},
                     partition_by_metric=by_metric,
                     partition_time_days=by_day)
    store.write_raw(_as_df(spark, pts[:cut]))
    store.build()
    ing = IncrementalRollup(spark, base, F1_META)
    ing.ingest(_as_df(spark, pts[cut:]))
    assert store.raw().count() == len(pts)
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        assert _level_dict(ing.level(iv)) == _level_dict(continuous[iv]), iv

    ing.compact_raw()
    late = [("bar", pts[-1][1] + i * SECOND, float(i)) for i in range(1, 4)]
    store.write_raw(_as_df(spark, late))
    spark.catalog.refreshByPath(f"{base}/raw")
    got = sorted((r["metric"], r["time"], r["value"])
                 for r in store.raw().collect())
    assert got == sorted(pts + late)
