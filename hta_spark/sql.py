"""SQL surface: expose the engine's tables and derived relations as temp
views so everything is queryable via ``spark.sql`` (Catalyst planned, same
plans as the DataFrame API).

The reference has no SQL layer (SURVEY.md §3); this is part of the
"standard surface Spark gives for free" (§2.4) — wired so a SQL user can
query raw series, every rollup level, and the HTA row shape directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .meta import Meta
from .operators.rollup import build_levels
from .sources.store import level_of, read_levels

__all__ = ["register_views", "register_store"]


def register_views(spark: SparkSession, raw: DataFrame, meta: Meta,
                   prefix: str = "hta") -> dict[str, str]:
    """Register ``<prefix>_raw`` and ``<prefix>_level_<ns>`` temp views for
    an in-memory raw DataFrame; returns view-name map.  The level views
    are lazy: each query re-derives its level from ``raw`` (run
    :func:`~hta_spark.operators.rollup.materialize_levels` on the
    ``build_levels`` dict first to query cached levels).

    Example::

        register_views(spark, raw, Meta())
        spark.sql('''
          SELECT metric, interval_start,
                 integral / active_time AS mean_value
          FROM hta_level_10000000000
          WHERE interval_start BETWEEN :b AND :e
        ''')
    """
    names = {}
    raw.createOrReplaceTempView(f"{prefix}_raw")
    names["raw"] = f"{prefix}_raw"
    for iv, df in build_levels(raw, meta).items():
        nm = f"{prefix}_level_{iv}"
        df.createOrReplaceTempView(nm)
        names[iv] = nm
    return names


def register_store(spark: SparkSession, store, prefix: str = "hta") -> dict[str, str]:
    """Register a persisted :class:`~hta_spark.sources.store.HtaStore`'s
    tables as temp views: raw, and one view per level of its metrics'
    ladders (every metric needs a config, as for ``HtaStore.build``),
    each filtered from one read of the levels table."""
    names = {}
    raw = store.raw()
    if raw is not None:
        raw.createOrReplaceTempView(f"{prefix}_raw")
        names["raw"] = f"{prefix}_raw"
    levels = read_levels(spark, f"{store.base}/levels")
    if levels is not None:
        for iv in sorted({iv for m in store.metric_names()
                          for iv in store.meta_for(m).level_intervals()}):
            nm = f"{prefix}_level_{iv}"
            level_of(levels, iv).createOrReplaceTempView(nm)
            names[iv] = nm
    return names
