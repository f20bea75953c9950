"""Opening store tables runs no Spark job.

Store tables are read with the declared raw / aggregate schemas (no
schema-inference job), and ``get_spark`` keeps file listing on the driver
under ``local[N]`` (no parallel listing job past Spark's default threshold
of 32 paths).  Both layouts are covered: the metric-partitioned tables of
``HtaStore.build`` and the partition-manifest levels of
``IncrementalRollup.ingest``.  Raw writes cast to the declared types, so a
declared-schema read never meets a different physical type."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hta_spark import SECOND
from hta_spark.operators import aggregate_auto, retrieve_flex
from hta_spark.sources import HtaStore
from hta_spark.sources.store import (read_partition_manifest,
                                     resolve_table_path)
from hta_spark.streaming.ingest import IncrementalRollup

from .conftest import F1_META, T0, jobs_in

# above spark.sql.sources.parallelPartitionDiscovery.threshold's default
N_METRICS = 36
N_POINTS = 150                       # 10 s apart: 1500 s per metric
NAMES = [f"m{i:02d}" for i in range(N_METRICS)]


def _points(lo: int, hi: int, as_int: bool = False) -> list[tuple]:
    return [(m, T0 + (k + 1) * 10 * SECOND,
             (k * (j + 3)) % 17 - 8 if as_int else float((k * (j + 3)) % 17 - 8))
            for j, m in enumerate(NAMES) for k in range(lo, hi)]


def _df(spark, pts, value_type: str = "double"):
    return spark.createDataFrame(
        pts, f"metric string, time long, value {value_type}")


def _plain_level(spark, path: str, interval: int):
    """One level of the levels table read by schema inference, the live
    files only."""
    doc = read_partition_manifest(path)
    if doc is None:
        df = spark.read.parquet(resolve_table_path(path))
    else:
        dirs = [os.path.join(path, k, f"v={v}")
                for k, v in doc["partitions"].items()]
        df = spark.read.option("basePath", path).parquet(*dirs)
    return df.filter(df["interval"] == interval).select("metric", "interval_start", "minimum", "maximum", "sum",
                     "count", "integral", "active_time")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _build_store(spark, base: str) -> HtaStore:
    store = HtaStore(spark, base, configs={m: F1_META for m in NAMES})
    store.write_raw(_df(spark, _points(0, N_POINTS)))
    store.build()
    return store


def _ingest_store(spark, base: str) -> HtaStore:
    ing = IncrementalRollup(spark, base, F1_META)
    ing.ingest(_df(spark, _points(0, 100)))
    ing.ingest(_df(spark, _points(100, N_POINTS)))
    return HtaStore(spark, base, configs={m: F1_META for m in NAMES},
                    partition_by_metric=False)


@pytest.mark.parametrize("make", [_build_store, _ingest_store],
                         ids=["build", "ingest"])
def test_open_runs_no_spark_job(spark, tmp_path, make):
    store = make(spark, str(tmp_path / "store"))
    lvls, lvl0 = f"{store.base}/levels", f"interval={F1_META.interval_min}"
    doc = read_partition_manifest(lvls)
    assert (len([k for k in doc["partitions"] if k.startswith(lvl0 + "/")])
            if doc else len(glob.glob(
                f"{resolve_table_path(lvls)}/{lvl0}/metric=*"))) > 32

    (raw, levels), jobs = jobs_in(
        spark, lambda: (store.raw(), store.levels_for(F1_META)))
    assert jobs == [], f"opening the store ran Spark jobs {jobs}"
    assert sorted(levels) == F1_META.level_intervals()
    assert raw.schema["value"].dataType == T.DoubleType()
    assert raw.schema["metric"].dataType == T.StringType()

    # the streaming writer's own reader is the same declared-schema read
    ing = IncrementalRollup(spark, store.base, F1_META)
    _, jobs = jobs_in(spark, lambda: (
        ing.raw(), [ing.level(iv) for iv in F1_META.level_intervals()]))
    assert jobs == []

    # the counter sees jobs: a plain read infers its schema with one
    (plain_raw, plain_levels), jobs = jobs_in(spark, lambda: (
        spark.read.parquet(resolve_table_path(f"{store.base}/raw"))
        .select("metric", "time", "value"),
        {iv: _plain_level(spark, f"{store.base}/levels", iv)
         for iv in F1_META.level_intervals()}))
    assert jobs

    # the opened frames answer exactly as the inferred ones
    b, e = T0 + 55 * SECOND, T0 + 1450 * SECOND

    def flex(r, lv):
        m = F.col("metric") == "m07"
        kind, df = retrieve_flex(r.filter(m), {iv: d.filter(m)
                                               for iv, d in lv.items()},
                                 F1_META, b, e, 100 * SECOND)
        assert kind == "rows"
        return _rows(df)

    got = flex(raw, levels)
    assert got and got == flex(plain_raw, plain_levels)
    agg = _rows(aggregate_auto(raw, levels, F1_META, T0 + 15 * SECOND,
                               T0 + 1234 * SECOND))
    assert len(agg) == N_METRICS
    assert agg == _rows(aggregate_auto(plain_raw, plain_levels, F1_META,
                                       T0 + 15 * SECOND, T0 + 1234 * SECOND))


def _raw_file_types(base: str) -> set[tuple[str, str]]:
    out = set()
    for f in glob.glob(f"{resolve_table_path(base + '/raw')}/**/*.parquet",
                       recursive=True):
        s = pq.read_schema(f)
        out |= {(n, str(s.field(n).type)) for n in s.names}
    return out


def test_int_values_write_as_declared_types(spark, tmp_path):
    """Integer ``value`` input is written as double, reads back as the
    float input does, and aggregates to the same result — through both
    raw writers."""
    b, e = T0 + 15 * SECOND, T0 + 1234 * SECOND
    got = {}
    for kind in ("int", "double"):
        pts = _points(0, 120, as_int=kind == "int")
        base = str(tmp_path / kind)
        store = HtaStore(spark, f"{base}/store",
                         configs={m: F1_META for m in NAMES[:3]})
        store.write_raw(_df(spark, [p for p in pts if p[0] in NAMES[:3]],
                            kind))
        store.build()
        ing = IncrementalRollup(spark, f"{base}/ingest", F1_META)
        ing.ingest(_df(spark, pts[:40], kind))
        for name, s, raw, levels in (
                ("store", store.base, store.raw(),
                 store.levels_for(F1_META)),
                ("ingest", ing.base, ing.raw(),
                 {iv: ing.level(iv) for iv in F1_META.level_intervals()})):
            assert ("value", "double") in _raw_file_types(s), (kind, name)
            assert ("time", "int64") in _raw_file_types(s), (kind, name)
            assert raw.schema["value"].dataType == T.DoubleType()
            got[kind, name] = (
                _rows(raw.select("metric", "time", "value")),
                _rows(aggregate_auto(raw, levels, F1_META, b, e)))
    for name in ("store", "ingest"):
        assert got["int", name] == got["double", name], name
        assert got["int", name][1]


def test_empty_level_and_numeric_metric_name(spark, tmp_path):
    """A level with no closed bucket has no data files in the levels
    table; it reads as an empty frame, without a job.  A
    metric name that looks like a number stays a string (inference read
    the ``metric=007`` directory as the integer 7)."""
    from .conftest import f1_points
    store = HtaStore(spark, str(tmp_path / "f1"), configs={"007": F1_META})
    store.write_raw(_df(spark, [("007", t, v) for _m, t, v in f1_points()]))
    store.build()                     # f1 spans < one top interval
    top = F1_META.level_intervals()[-1]
    live = resolve_table_path(f"{store.base}/levels")
    assert not glob.glob(f"{live}/interval={top}/**/*.parquet",
                         recursive=True)
    df, jobs = jobs_in(spark, lambda: store.level(top))
    assert jobs == []
    assert df.columns == ["metric", "interval_start", "minimum", "maximum",
                          "sum", "count", "integral", "active_time"]
    assert df.count() == 0
    assert {r["metric"] for r in store.raw().collect()} == {"007"}
    assert {r["metric"] for r in store.level(F1_META.interval_min)
            .collect()} == {"007"}
