"""SparkSession factory with the engine's required configs.

Scale notes (local[N] here; multi-executor by design):
- AQE on: runtime partition coalescing + skew-join splitting.
- shuffle.partitions sized to cores locally; on a real cluster this should be
  ~2-3x total executor cores (or left to AQE with a high initial value).
- ``nanosAsLong``: the engine's native timestamp representation is int64 ns
  (see hta_spark.chrono); parquet TIMESTAMP(NANOS) columns load losslessly as
  LongType instead of erroring.
- Arrow enabled: every pandas_udf / applyInPandas crossing is Arrow-batched.
- File listing stays on the driver under ``local[N]``
  (``parallelPartitionDiscovery.threshold`` raised): past 32 paths Spark
  otherwise lists a table's partition directories with a parallel Spark
  job, whose tasks here run on the same cores and cost more than the
  listing itself (opening a 64-metric store's raw table and three levels
  on a 4-core host: 8 jobs / 2.0 s -> 0 jobs / 0.22 s, together with the
  store's declared schemas).  A cluster ``master``, or a caller's own
  cluster session, keeps Spark's default: there, parallel listing spreads
  a large object-store listing over executors.
- One JIT compiler thread per tier under ``local[N]``
  (``spark.driver.defaultJavaOptions=-XX:CICompilerCount=2``: one C1 and
  one C2 thread, the smallest tiered setting; ergonomics picks 3 on 4
  cores and more on larger hosts).  In ``local[N]`` the driver JVM runs
  the N task slots, so compiler threads take cores from tasks, and short
  sessions (tests, CLI calls, a few queries) spend most of their JVM CPU
  compiling Spark's own machinery (Janino, serialization, closure
  reading, class loading) that never runs long enough to pay the compile
  back.  One C2 thread still compiles the hottest methods (the generated
  data loops) first, so steady throughput holds.  Measured on a 4-core
  host (perfbench medians): one round's CPU 45.4 -> 37.2 s
  (``driver_suite``), 23.9 -> 18.6 s (``dashboard``) and 18.4 -> 13.0 s
  (``live_ingest``); the 16.7M-point ``rollup_build_16m`` steady rebuild
  is unchanged (11.0 -> 10.9 s), its first (cold) build a little slower
  (19.3 -> 19.8 s).  The flag goes into the *default* options, which Spark places
  before ``spark.driver.extraJavaOptions``, so a caller's extra options
  still apply; passing ``spark.driver.defaultJavaOptions`` in
  ``extra_conf`` replaces it.  A cluster ``master`` or a caller's own
  session keeps the JVM's ergonomic count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .compat import set_log_level


def get_spark(app_name: str = "hta_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        b = (b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                      str(2 ** 31 - 1))
             .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    set_log_level(spark, "WARN")
    return spark
