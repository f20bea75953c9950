"""Regression tests for the r4 streaming review findings: cross-chunk
ordering in stream_levels, and crash-replay level repair for
partially-deduped batches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hta_spark import Meta
from hta_spark.chrono import SECOND
from hta_spark.operators import build_level1
from hta_spark.streaming.ingest import IncrementalRollup
from hta_spark.streaming.live import stream_level1


def test_stream_levels_multi_chunk_out_of_order(spark, tmp_path):
    """A micro-batch whose group spans MULTIPLE Arrow chunks with no
    cross-chunk ordering must not drop points: the state fn sorts the
    whole batch, not each chunk (the per-chunk sort + global last_t
    cursor silently discarded chunk-2 points below chunk 1's max)."""
    import random
    n = 400
    rng = random.Random(7)
    rows = [("m", (1000 + i) * SECOND, float(i % 13)) for i in range(n)]
    rng.shuffle(rows)                      # unsorted within the one batch
    src = tmp_path / "src"
    src.mkdir()
    (spark.createDataFrame(rows, "metric string, time long, value double")
     .coalesce(1).write.parquet(str(src / "b0")))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        stream = (spark.readStream
                  .schema("metric string, time long, value double")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src / "b*")))
        out = stream_level1(stream, 30 * SECOND)
        q = (out.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .format("memory").queryName("chunked_lvl").start())
        q.processAllAvailable()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r["interval_start"]: (r["count"], r["sum"], r["active_time"])
           for r in spark.sql("SELECT * FROM chunked_lvl").collect()}
    pts = spark.createDataFrame(rows, "metric string, time long, value double")
    want = {r["interval_start"]: (r["count"], r["sum"], r["active_time"])
            for r in build_level1(pts, 30 * SECOND).collect()}
    assert got == want
    assert sum(c for c, _s, _a in got.values()) > n - 30  # nothing dropped


def test_ingest_mixed_replay_repairs_deduped_metric(spark, tmp_path):
    """Crash simulation: metric A's rows reach raw but levels were never
    updated; the replayed batch also carries NEW rows for metric B.  The
    mixed batch (A fully deduped, B surviving) must still repair A's
    levels — the r3 code rebuilt the repair spans from surviving rows
    only."""
    meta = Meta(interval_min=10 * SECOND, interval_max=100 * SECOND,
                interval_factor=10)
    base = str(tmp_path / "db")
    ing = IncrementalRollup(spark, base, meta)

    t0 = 1_700_000_000 * SECOND
    batch1 = [("A", t0 + i * SECOND, 1.0) for i in range(25)] \
        + [("B", t0 + i * SECOND, 2.0) for i in range(25)]
    ing.ingest(spark.createDataFrame(
        batch1, "metric string, time long, value double"))

    # simulate the crashed run: append A's next rows straight to raw
    # (as the dead run's committed append job would have), NO level update
    crashed = [("A", t0 + (25 + i) * SECOND, 3.0) for i in range(30)]
    from hta_spark.sources.store import resolve_table_path
    (spark.createDataFrame(crashed, "metric string, time long, value double")
     .write.mode("append").parquet(resolve_table_path(f"{base}/raw")))
    spark.catalog.refreshByPath(resolve_table_path(f"{base}/raw"))

    # replay: the crashed rows (all duplicates now) + new rows for B only
    replay = crashed + [("B", t0 + (25 + i) * SECOND, 4.0)
                        for i in range(30)]
    ing.ingest(spark.createDataFrame(
        replay, "metric string, time long, value double"))

    # levels must now equal a clean build over the FULL raw contents
    lvl = ing.level(10 * SECOND)
    raw = ing.raw()
    want = build_level1(raw, 10 * SECOND)
    got_rows = sorted(map(tuple, lvl.select(
        "metric", "interval_start", "count", "sum").collect()))
    want_rows = sorted(map(tuple, want.select(
        "metric", "interval_start", "count", "sum").collect()))
    assert got_rows == want_rows
    # specifically: A's crashed region is present in the level table
    a_end = (lvl.filter(F.col("metric") == "A")
             .agg(F.max("interval_start")).collect()[0][0])
    assert a_end >= t0 + 40 * SECOND
