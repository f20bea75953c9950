"""Snapshot isolation of the streaming open-region publish: a reader
racing micro-batch ingestion must NEVER observe a partial or mixed level
table — every read is exactly the post-state of some batch prefix.

This is the streaming analog of tests/test_atomic_publish.py's
concurrent-reader-during-compaction check, closing the round-2 verdict's
#1 item: the per-batch open-region rewrite now goes through the partition
manifest (sources/store.py::publish_partitions — immutable ``v=<n>`` dirs
+ one atomic manifest flip) instead of an in-place dynamic partition
overwrite.  Reference analog: the flush durability barrier + torn-tail
tolerance (/root/reference/src/storage/file/file.hpp:210-247,
src/metric.cpp:605-609).
"""

from __future__ import annotations

import threading

import pytest

from hta_spark import Meta, SECOND
from hta_spark.operators import build_levels
from hta_spark.streaming.ingest import IncrementalRollup

from .conftest import F1_META, f1_points

META = Meta(interval_min=10 * SECOND, interval_max=100 * SECOND,
            interval_factor=10)      # top=100s -> several top partitions
N_BATCHES = 6


def _as_df(spark, pts):
    return spark.createDataFrame(pts, "metric string, time long, value double")


def _snapshot(df):
    if df is None:
        return frozenset()
    return frozenset(
        (r["metric"], r["interval_start"], r["minimum"], r["maximum"],
         r["sum"], r["count"], r["integral"], r["active_time"])
        for r in df.collect())


def _batches():
    pts = f1_points()
    step = (len(pts) + N_BATCHES - 1) // N_BATCHES
    return [pts[i:i + step] for i in range(0, len(pts), step)]


def test_reader_racing_ingest_sees_only_batch_boundaries(spark, tmp_path):
    """Hammer level reads from a second thread while batches land: every
    observation must equal the table exactly as of some completed batch."""
    levels = META.level_intervals()

    # phase 1 — the ground truth: same batch sequence, sequential, with the
    # per-level table captured after every batch (writes are deterministic)
    ref = IncrementalRollup(spark, str(tmp_path / "ref"), META)
    valid: dict[int, set] = {iv: {frozenset()} for iv in levels}
    for chunk in _batches():
        ref.ingest(_as_df(spark, chunk))
        for iv in levels:
            valid[iv].add(_snapshot(ref.level(iv)))

    # phase 2 — same sequence with a racing reader
    ing = IncrementalRollup(spark, str(tmp_path / "race"), META)
    stop = threading.Event()
    observations: list[tuple[int, frozenset]] = []
    errors: list[BaseException] = []

    def reader():
        try:
            while not stop.is_set():
                for iv in levels:
                    observations.append((iv, _snapshot(ing.level(iv))))
        except BaseException as exc:        # surface in the main thread
            errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for chunk in _batches():
            ing.ingest(_as_df(spark, chunk))
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, f"reader crashed mid-race: {errors[0]!r}"
    assert len(observations) >= 2 * len(levels), "test vacuous: too few reads"
    for iv, snap in observations:
        assert snap in valid[iv], (
            f"level {iv}: reader observed a state that is no batch "
            f"boundary ({len(snap)} rows)")
    # non-vacuous the other way: the reader saw at least one non-empty state
    assert any(snap for _iv, snap in observations)


def test_store_built_levels_adopted_by_streaming(spark, tmp_path):
    """A store.build()-produced (whole-table versioned) level table is
    adopted into the partition-manifest layout at the first streaming
    upsert; results remain the continuous build."""
    from hta_spark.sources import HtaStore
    from hta_spark.sources.store import read_partition_manifest

    base = str(tmp_path / "adopt")
    pts = f1_points()
    half = len(pts) // 2
    # unpartitioned raw: the streaming appender writes plain files, which
    # must stay readable alongside the store's layout
    store = HtaStore(spark, base, configs={"foo": F1_META},
                     partition_by_metric=False)
    store.write_raw(_as_df(spark, pts[:half]))
    store.build()
    assert read_partition_manifest(f"{base}/levels") is None  # whole-table

    ing = IncrementalRollup(spark, base, F1_META)
    ing.ingest(_as_df(spark, pts[half:]))
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        got = {(r["metric"], r["interval_start"]) : (r["minimum"], r["maximum"],
               r["sum"], r["count"], r["integral"], r["active_time"])
               for r in ing.level(iv).collect()}
        exp = {(r["metric"], r["interval_start"]) : (r["minimum"], r["maximum"],
               r["sum"], r["count"], r["integral"], r["active_time"])
               for r in continuous[iv].collect()}
        assert got == exp, f"level {iv} after adoption"
    assert read_partition_manifest(f"{base}/levels") is not None  # adopted


def test_rebuild_clears_partition_manifest(spark, tmp_path):
    """store.build() on a streaming-maintained base replaces the partition
    manifest with the whole-table versioned layout (no stale overlay)."""
    from hta_spark.sources import HtaStore
    from hta_spark.sources.store import read_partition_manifest

    base = str(tmp_path / "rebuild")
    pts = f1_points()
    ing = IncrementalRollup(spark, base, F1_META)
    ing.ingest(_as_df(spark, pts))
    lvl_path = f"{base}/levels"
    assert read_partition_manifest(lvl_path) is not None

    store = HtaStore(spark, base, configs={"foo": F1_META},
                     partition_by_metric=False)
    store.build()
    assert read_partition_manifest(lvl_path) is None
    continuous = build_levels(_as_df(spark, pts), F1_META)
    for iv in F1_META.level_intervals():
        got = _snapshot(store.level(iv))
        assert got == _snapshot(continuous[iv]), f"level {iv} after rebuild"
