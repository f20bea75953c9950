"""One micro-batch, one pinned recompute, one staged publish.

``IncrementalRollup.ingest`` cuts lineage three times (the plan frame, the
enforced batch, the recompute input), appends raw once and stages every
level's region in one write before flipping the levels table's one
partition manifest.  These tests pin the batch's Spark job count, that no
cached Dataset outlives an ingest, and what a crash between the staged
write and the first flip leaves behind: the pre-batch levels, and a
``levels/_stage`` directory every level reader skips."""

from __future__ import annotations

import os

import pytest

from hta_spark import Meta, SECOND
from hta_spark.operators import build_levels
from hta_spark.sources import HtaStore
from hta_spark.sources import store as store_mod
from hta_spark.sources.store import _pm_path, as_raw, resolve_table_path
from hta_spark.sql import register_store
from hta_spark.streaming.ingest import IncrementalRollup

from .conftest import T0, jobs_in

META = Meta(interval_min=30 * SECOND, interval_max=3000 * SECOND,
            interval_factor=10)
NAMES = [f"m{i:02d}" for i in range(16)]
HISTORY = 200                      # points per metric, 10 s apart
BATCH = 30
# the batch's job budget: 39 when each level published on its own and
# re-read raw, 19 with one plan pass, the pinned recompute and the single
# staged publish
MAX_BATCH_JOBS = 25


def _df(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(m, T0 + (k + 1) * 10 * SECOND, float((k * (j + 3)) % 17 - 8))
         for j, m in enumerate(NAMES) for k in range(lo, hi)],
        "metric string, time long, value double")


def _levels(read) -> dict[int, set]:
    out = {}
    for iv in META.level_intervals():
        df = read(iv)
        out[iv] = set() if df is None else {
            tuple(r) for r in df.select(
                "metric", "interval_start", "minimum", "maximum", "sum",
                "count", "integral", "active_time").collect()}
    return out


def _assert_fresh(ing: IncrementalRollup) -> None:
    fresh = build_levels(ing.raw(), META)
    assert _levels(ing.level) == _levels(fresh.get)


def test_ingest_leaves_no_cached_datasets(spark, tmp_path):
    spark.catalog.clearCache()
    ing = IncrementalRollup(spark, str(tmp_path / "s"), META)
    ing.ingest(_df(spark, 0, HISTORY))
    for b in range(3):
        lo = HISTORY + b * BATCH
        ing.ingest(_df(spark, lo, lo + BATCH))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("policy", ["strict", "upsert"])
def test_batch_job_budget_and_duplicate_replay(spark, tmp_path, policy):
    ing = IncrementalRollup(spark, str(tmp_path / "s"), META, policy=policy)
    ing.ingest(_df(spark, 0, HISTORY))
    ing.ingest(_df(spark, HISTORY, HISTORY + BATCH))       # warm the plans
    batch = _df(spark, HISTORY + BATCH, HISTORY + 2 * BATCH)
    _, jobs = jobs_in(spark, lambda: ing.ingest(batch))
    assert len(jobs) <= MAX_BATCH_JOBS, f"{len(jobs)} jobs for one batch"
    _assert_fresh(ing)

    # a crashed run appended the next batch to raw but never reached the
    # levels: its fully-duplicate replay appends nothing and repairs them
    crashed = _df(spark, HISTORY + 2 * BATCH, HISTORY + 3 * BATCH)
    raw_path = resolve_table_path(f"{ing.base}/raw")
    as_raw(crashed).write.mode("append").parquet(raw_path)
    spark.catalog.refreshByPath(raw_path)
    n_raw = ing.raw().count()
    ing.ingest(crashed)
    assert ing.raw().count() == n_raw
    _assert_fresh(ing)


def test_crash_between_staged_write_and_flip(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "s")
    ing = IncrementalRollup(spark, base, META)
    ing.ingest(_df(spark, 0, HISTORY))
    paths = [f"{base}/levels"]
    manifests = [open(_pm_path(p)).read() for p in paths]
    before = _levels(ing.level)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the first flip")

    batch = _df(spark, HISTORY, HISTORY + BATCH)
    monkeypatch.setattr(store_mod, "_flip_partitions", crash)
    with pytest.raises(RuntimeError, match="first flip"):
        ing.ingest(batch)
    monkeypatch.undo()

    stage = f"{base}/levels/_stage"
    assert os.path.isdir(stage)
    assert [open(_pm_path(p)).read() for p in paths] == manifests
    assert _levels(ing.level) == before
    # no writer lease survives the failed publish
    assert not [p for p in paths if os.path.exists(p + ".lock")]

    # the leftover staging dir is invisible to every level reader
    store = HtaStore(spark, base, configs={m: META for m in NAMES},
                     partition_by_metric=False)
    assert sorted(store.levels_for(META)) == META.level_intervals()
    views = register_store(spark, store, prefix="crash")
    assert sorted(k for k in views if k != "raw") == META.level_intervals()

    # the replay (raw already holds the batch) repairs every level
    ing.ingest(batch)
    assert not os.path.exists(stage)
    continuous = build_levels(_df(spark, 0, HISTORY + BATCH), META)
    assert _levels(ing.level) == _levels(continuous.get)

    # a subset rebuild beside a leftover staging dir keeps every metric
    os.makedirs(f"{stage}/interval={META.interval_min}/metric=m00/tb=1")
    store.build({"m00": META})
    assert _levels(store.level) == _levels(continuous.get)
