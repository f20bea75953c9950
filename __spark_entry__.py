"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship hierarchical-rollup query on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
training-data pipeline surface; ``oracle_sql()`` gives the DuckDB-equivalent
SQL for the driver's correctness gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

_REQUIRED_CONF = {
    # engine-native ns timestamps: parquet TIMESTAMP(NANOS) loads as long
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def _conf(spark: SparkSession) -> SparkSession:
    for k, v in _REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # verify-and-warn instead of swallowing: a silently missing
            # nanosAsLong / non-UTC zone surfaces much later as an
            # unrelated-looking schema error or shifted ns values
            try:
                current = spark.conf.get(k, None)
            except Exception:
                current = None
            if current != v:
                print(f"WARNING: required conf {k}={v!r} could not be "
                      f"set (current: {current!r}): {e}", file=sys.stderr)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: hierarchical level-1 rollup (LAST-semantics
    min/max/sum/count/integral/active_time) of the events stream."""
    from hta_spark.queries_hta import q_hta_level1
    return q_hta_level1(_conf(spark), "/root/testdata/sf0.001")


#: Entries promoted into the registry's leading block (the driver's
#: per-round correctness gate samples the leading 50).  The rotation
#: changes each round so every registry entry eventually acquires a
#: driver-green row (VERDICT r9 item 7 / r10 item 6) without removing
#: anything from the registry — every query stays present, and the
#: committed sf0.1 full sweep still covers all of them each round.
#:
#: r10 rotated the LLM-pipeline core in (all 32 driver-green in
#: CORRECTNESS_r10); r11 rotated the TPC-H remainder + window/scalar
#: breadth (all green in CORRECTNESS_r11); r12 promoted the last 15
#: never-gated entries plus the stalest r1-r9 rows — after r12 every
#: registry entry has been driver-gated at least once.
#:
#: From r13 on the policy is PURE STALENESS: the rotation holds any
#: never-gated new entries first, then the oldest last-green rows
#: filling the remaining slots of the leading-50 sample (computed by
#: unioning CORRECTNESS_r*.json), and `_registry` leads with this
#: block so the driver's leading-50 sample IS the rotation.
#: r13: the three new entries (dedup_ngram_jaccard_hotdrop,
#: text_strip_boilerplate — the shingle- and line-level boilerplate
#: arms — and dedup_repeated_spans, the ExactSubstr fixed-window form)
#: + the r9 scalar/set block + the r10 LLM-pipeline core + the oldest
#: r11 rows.
#:
#: r14 (recomputed by unioning CORRECTNESS_r1..r13): the two new
#: entries (dedup_trim_spans — the ExactSubstr span-removal step — and
#: text_strip_boilerplate_anti, the anti-join arm of the line strip
#: against the same oracle) first, then the r11 TPC-H/window/scalar
#: breadth block (now the stalest) and the oldest r12 rows (the HTA
#: core + the ivf/incremental/bloom block, which includes this round's
#: behavior-touched dedup_neardup_bloom).
#:
#: r15 (recomputed by unioning CORRECTNESS_r1..r14): the TWO NEW
#: entries first — split_leakage_safe (near-dup-component train/val/
#: test split) and ann_prototype_prune (D4 prototypicality pruning) —
#: then the 24 remaining r12-green rows (throttle twins, TPC-H head,
#: window/pivot breadth, text stats) + the oldest 24 r13-green rows
#: (the ANN/dedup/decontaminate block, which includes the r15-touched
#: dedup_repeated_spans family neighbors); the two stalest-r13 rows
#: displaced by the new entries (q10/q11) lead the r16 queue.
_GATE_ROTATION = [
    "split_leakage_safe", "ann_prototype_prune",
    "hta_throttle_auto", "hta_throttle_parallel", "pack_bin_report",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_asof_signup", "q_bucketed_join", "q_cube_lineitem",
    "q_pivot_events", "q_range_join_incidents", "q_rollup_orders",
    "q_running_sum", "q_semi_anti", "q_sessionize", "q_topk_per_group",
    "q_unpivot", "sample_top_quality", "sketch_hist_by_group",
    "text_fingerprint", "text_repetition", "text_rules",
    "text_unigram_surprisal", "text_vocab", "ann_cosine_topk",
    "ann_ivf_recall", "ann_kmeans_lite", "ann_knn_join",
    "ann_knn_join_ivf", "ann_semantic_dedup", "curation_report",
    "decontaminate_bloom", "decontaminate_overlap", "dedup_cluster_keep",
    "dedup_components", "dedup_embedding_cosine", "dedup_exact",
    "dedup_incremental", "dedup_lsh_recall", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_hotdrop",
    "dedup_repeated_spans", "dedup_simhash", "dedup_simhash_pairs",
    "mix_weights", "pack_contiguous", "pipeline_funnel",
]


def _registry() -> dict[str, tuple]:
    from hta_spark.queries_extra import EXTRA_QUERIES
    from hta_spark.queries_hta import HTA_QUERIES
    from hta_spark.queries_pipeline import PIPELINE_QUERIES
    from hta_spark.queries_rel import REL_QUERIES
    from hta_spark.queries_scale import SCALE_QUERIES
    full: dict[str, tuple] = {}
    full.update(HTA_QUERIES)
    full.update(REL_QUERIES)
    full.update(PIPELINE_QUERIES)
    full.update(EXTRA_QUERIES)
    full.update(SCALE_QUERIES)
    # the rotation block LEADS so the driver's leading-50 gate sample is
    # exactly the staleness-selected set (r13 policy change: HTA queries
    # are now the freshest rows, so they rotate out like everything else)
    reg: dict[str, tuple] = {}
    for name in _GATE_ROTATION:
        reg[name] = full[name]
    reg.update(HTA_QUERIES)
    reg.update(full)              # everything else, original order
    return reg


def _housekeep(spark: SparkSession) -> None:
    """Pre-query housekeeping for long gate runs on a DEFAULT-heap
    session (r14: a 50-query sequential run on a vanilla local[8]
    session OOM'd around query ~36 — 1 GiB driver heap accumulates the
    previous queries' py4j-held plans and pinned localCheckpoint
    blocks until the reference chain is collected on BOTH sides).  A
    Python gc pass releases the py4j proxies, then a JVM gc lets the
    ContextCleaner drop the now-unreferenced blocks before the next
    query allocates.  ~0.1 s per query; no-op on Connect (no _jvm)."""
    import gc
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def queries(housekeep: bool = True) \
        -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``housekeep=True`` (the driver's no-arg call) runs the gc pass
    before every query — the 50-query gate needs it on a default-heap
    session.  bench.py passes ``housekeep=False`` so timed cells never
    include a full JVM GC pause inside the measured region (ADVICE r14:
    the r14 pipeline-latency figures silently absorbed ~0.1 s of GC per
    query, breaking round-over-round comparability)."""
    out = {}
    for name, (fn, _sql) in _registry().items():
        def wrapped(spark, sf_dir, _fn=fn):
            if housekeep:
                _housekeep(spark)
            return _fn(_conf(spark), sf_dir)
        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (fn, sql) in _registry().items()
            if sql is not None}
