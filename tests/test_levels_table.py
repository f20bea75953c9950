"""One levels table: every rollup level of a store lives in
``<base>/levels``, partitioned by ``interval``, so a build or an ingest
batch publishes all levels with one write and one atomic flip.

These tests pin what that buys and what it costs to migrate:

- a failure during a publish leaves every level as of the same build or
  batch (per-level tables left level 1 ahead of levels 2-3);
- one batch takes one writer lease and writes one manifest, and one
  build writes the levels once under one ``publish_version``;
- no build leaves a cached Dataset behind;
- the per-level tables of earlier releases fail loudly until a full
  ``HtaStore.build()`` rewrites them;
- ``HtaStore.write_raw`` appends in the live raw table's layout, whatever
  the store's partition flags say.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameWriter

from hta_spark import Meta, SECOND
from hta_spark.errors import HtaError
from hta_spark.operators import build_levels
from hta_spark.sources import HtaStore
from hta_spark.sources import store as store_mod
from hta_spark.streaming.ingest import IncrementalRollup

from .conftest import T0

META = Meta(interval_min=30 * SECOND, interval_max=3000 * SECOND,
            interval_factor=10)
NAMES = ["a", "b", "c", "d"]
HISTORY = 150                  # points per metric, 10 s apart
BATCH = 300                    # closes new buckets at every level


def _df(spark, lo: int, hi: int, names=NAMES):
    return spark.createDataFrame(
        [(m, T0 + (k + 1) * 10 * SECOND, float((k * (j + 3)) % 17 - 8))
         for j, m in enumerate(names) for k in range(lo, hi)],
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


def _fail_on_second_call(monkeypatch, name: str) -> list:
    real, calls = getattr(store_mod, name), []

    def wrapper(*args, **kwargs):
        calls.append(args[0])
        if len(calls) == 2:
            raise RuntimeError(f"injected failure at the second {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(store_mod, name, wrapper)
    return calls


def _assert_untorn(got: dict, pre: dict, post: dict) -> None:
    # the batch or rebuild changes at least two levels, so a hierarchy
    # torn between them matches neither side
    assert sum(pre[iv] != post[iv] for iv in pre) >= 2
    assert got in (pre, post), {iv: (got[iv] == pre[iv], got[iv] == post[iv])
                                for iv in got}


def test_failed_ingest_publish_leaves_no_torn_hierarchy(spark, tmp_path,
                                                        monkeypatch):
    ing = IncrementalRollup(spark, str(tmp_path / "s"), META)
    ing.ingest(_df(spark, 0, HISTORY))
    pre = _levels(ing.level)
    _fail_on_second_call(monkeypatch, "_write_partition_manifest")
    try:
        ing.ingest(_df(spark, HISTORY, HISTORY + BATCH))
    except RuntimeError:
        pass
    monkeypatch.undo()
    post = _levels(build_levels(_df(spark, 0, HISTORY + BATCH), META).get)
    _assert_untorn(_levels(ing.level), pre, post)


def test_failed_rebuild_publish_leaves_no_torn_hierarchy(spark, tmp_path,
                                                         monkeypatch):
    store = HtaStore(spark, str(tmp_path / "s"),
                     configs={m: META for m in NAMES})
    store.write_raw(_df(spark, 0, HISTORY))
    store.build()
    pre = _levels(store.level)
    store.write_raw(_df(spark, HISTORY, HISTORY + BATCH))
    _fail_on_second_call(monkeypatch, "publish_version")
    try:
        store.build()
    except RuntimeError:
        pass
    monkeypatch.undo()
    post = _levels(build_levels(_df(spark, 0, HISTORY + BATCH), META).get)
    _assert_untorn(_levels(store.level), pre, post)


def test_builds_leave_no_cached_datasets(spark, tmp_path):
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    levels = build_levels(_df(spark, 0, HISTORY), META)
    assert levels[META.level_intervals()[-1]].count() > 0
    assert cache.isEmpty()
    store = HtaStore(spark, str(tmp_path / "s"),
                     configs={m: META for m in NAMES})
    store.write_raw(_df(spark, 0, HISTORY))
    store.build()
    assert cache.isEmpty()


def test_one_publish_per_batch_and_per_build(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "s")
    ing = IncrementalRollup(spark, base, META)
    ing.ingest(_df(spark, 0, HISTORY))
    calls = {}
    for name in ("_writer_lease", "_write_partition_manifest",
                 "publish_version"):
        real = getattr(store_mod, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls.setdefault(_name, []).append(args[0])
            return _real(*args, **kwargs)

        monkeypatch.setattr(store_mod, name, counted)
    ing.ingest(_df(spark, HISTORY, HISTORY + BATCH))
    assert calls == {"_writer_lease": [f"{base}/levels"],
                     "_write_partition_manifest": [f"{base}/levels"]}

    calls.clear()
    writes = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    store = HtaStore(spark, base, configs={m: META for m in NAMES},
                     partition_by_metric=False)
    store.build()
    assert calls["publish_version"] == [f"{base}/levels"]
    assert [w for w in writes if "levels" in w] == [
        f"{base}/levels.versions/v_1"]
    monkeypatch.undo()
    assert _levels(store.level) == _levels(
        build_levels(_df(spark, 0, HISTORY + BATCH), META).get)


def test_per_level_layout_fails_loudly_until_rebuilt(spark, tmp_path):
    """The per-level tables of earlier releases (``levels/<ns>/`` plain or
    behind ``levels/<ns>.manifest``) must not read as a store without
    levels: ``retrieve_flex`` would then answer from raw, or with nothing."""
    base = str(tmp_path / "old")
    store = HtaStore(spark, base, configs={m: META for m in NAMES})
    store.write_raw(_df(spark, 0, HISTORY))
    fresh = build_levels(store.raw(), META)
    for iv, df in fresh.items():
        path = f"{base}/levels/{iv}"
        if iv == META.interval_min:
            store_mod.publish_version(path, lambda t, df=df: df.write
                                      .partitionBy("metric").parquet(t))
        else:
            df.write.partitionBy("metric").parquet(path)
    with pytest.raises(HtaError, match=r"HtaStore\.build\(\)"):
        store.level(META.interval_min)
    with pytest.raises(HtaError, match=r"HtaStore\.build\(\)"):
        store["a"].retrieve_flex(T0, T0 + 1200 * SECOND, 300 * SECOND)
    with pytest.raises(HtaError, match=r"HtaStore\.build\(\)"):
        store.compact("levels")
    with pytest.raises(HtaError, match=r"HtaStore\.build\(\)"):  # no append
        IncrementalRollup(spark, base, META).ingest(
            _df(spark, HISTORY, HISTORY + 10))
    assert store.raw().count() == HISTORY * len(NAMES)
    for bad in (str(META.interval_min), "level", ""):
        with pytest.raises(ValueError, match="'raw' or 'levels'"):
            store.compact(bad)

    store.build()
    assert not os.path.exists(f"{base}/levels")     # only the new table
    assert _levels(store.level) == _levels(fresh.get)
    assert store.compact("levels") > 0
    assert _levels(store.level) == _levels(fresh.get)


@pytest.mark.parametrize("first", ["ingest", "store"])
def test_write_raw_appends_in_live_layout(spark, tmp_path, first):
    """A base whose raw table IncrementalRollup created (flat), or a
    metric-partitioned base reopened with ``partition_by_metric=False``:
    ``write_raw`` appends in the table's own layout, so no row hides."""
    names = [f"m{i}" for i in range(10)]
    base = str(tmp_path / first)
    if first == "ingest":
        IncrementalRollup(spark, base, META).ingest(
            _df(spark, 0, 20, names))
        store = HtaStore(spark, base)
    else:
        HtaStore(spark, base).write_raw(_df(spark, 0, 20, names))
        store = HtaStore(spark, base, partition_by_metric=False)
    store.write_raw(_df(spark, 20, 30, names))
    assert store.raw().count() == 300
    assert store.metric_names() == names
