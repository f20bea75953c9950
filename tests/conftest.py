from __future__ import annotations

import uuid

import pytest

from hta_spark import Meta, SECOND
from hta_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hta_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


# F1 — canonical series "foo" (FIXTURES.md; /root/reference/tests/retrieve.cpp:93-110)
T0 = 1_519_130_000 * SECOND


def f1_points() -> list[tuple[str, int, float]]:
    deltas = [(11, -37.0), (21, -36.0), (42, -30.0), (48, -20.0), (53, -10.0),
              (67, 0.0), (80, -10.0)]
    deltas += [(101 + i, 20.0) for i in range(99)]          # 101..199
    deltas += [(203, 31.0), (217, 35.0), (219, 45.0), (225, 35.0)]
    return [("foo", T0 + int(d) * SECOND, v) for d, v in deltas]


F1_META = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
               interval_factor=10)


@pytest.fixture(scope="session")
def f1_raw(spark):
    df = spark.createDataFrame(f1_points(), "metric string, time long, value double")
    df = df.repartition(2).cache()
    df.count()
    return df


def tp(seconds: float) -> int:
    """Timestamp helper matching the reference tests' ``tp(…s)``."""
    return T0 + int(seconds * SECOND)


def jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
