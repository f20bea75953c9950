"""Physical-plan regression tests: the properties that make the engine
scale must stay visible in `.explain` output.

- time-range predicates reach the parquet scan (PushedFilters);
- small dimension sides broadcast (no shuffle of the fact table);
- the rollup cascade adds no exchange beyond the window shuffle
  (hash-partitioning by metric satisfies (metric, bucket) grouping);
- the hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hta_spark import SECOND
from hta_spark.operators import aggregate_exact, build_level1


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def events_native(spark, tmp_path_factory):
    """events rewritten to the ENGINE-NATIVE raw layout (long ns `time`) —
    the surface whose scan pruning these plan tests pin.  Foreign
    timestamp[us] parquet needs a conversion at the scan (ns_time), which
    no engine can push filters through; native tables keep `time` as the
    physical column so time-range predicates reach parquet intact."""
    from hta_spark.queries_hta import ns_time
    path = str(tmp_path_factory.mktemp("native") / "events_native")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    (ev.select(F.col("event_type").alias("metric"),
               ns_time(ev).alias("time"), "value")
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def test_aggregate_exact_pushdown(events_native):
    plan = _plan(aggregate_exact(events_native, 1_704_412_800 * SECOND,
                                 1_705_708_800 * SECOND))
    # the static begin bound must be pushed into the scan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(time,1704412800",
                     plan), plan[:2000]


def test_rollup_exchange_budget(events_native):
    plan = _plan(build_level1(events_native, 3600 * SECOND))
    # exactly ONE hash exchange: the per-metric window.  plan_build folds
    # the ranges aggregate into the auto-salt stats collect and re-emits
    # it as a literal broadcast frame, so the raw lineage appears once in
    # the plan; the exploded piece merge must NOT introduce another
    # exchange (hash-partitioning by metric already satisfies
    # (metric, bucket) grouping).
    n_shuffles = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_shuffles == 1, f"expected 1 hash exchange, got {n_shuffles}\n{plan}"
    assert "BroadcastExchange" in plan


def test_q5_broadcasts_dimensions(spark):
    from hta_spark.queries_rel import q5_local_supplier
    plan = _plan(q5_local_supplier(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_scoped_retrieve_pushdown(events_native):
    from hta_spark.operators import IntervalScope, Scope, filter_raw
    plan = _plan(filter_raw(events_native, 1_704_844_800 * SECOND,
                            1_704_931_200 * SECOND,
                            IntervalScope(Scope.closed, Scope.open)))
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(time,1704844800", plan)
    assert re.search(r"PushedFilters:.*LessThan\(time,1704931200", plan)

def test_text_vocab_distributed_topk(spark):
    """The vocabulary global top-k must compile to TakeOrderedAndProject
    (per-partition heap top-k) — never an Exchange SinglePartition sort
    of the full distinct-token set (VERDICT r3 #1: at 100 TB the token
    set is billions of rows; a partitionless row_number window funnels
    all of them through one task)."""
    from hta_spark.queries_scale import q_text_vocab
    plan = _plan(q_text_vocab(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    # exactly ONE SinglePartition exchange is legitimate: the 1-row global
    # total aggregate feeding the broadcast.  The pre-fix plan had a
    # second one — the partitionless row_number window funnelling the full
    # token set through one task.  (formatted explain puts the partitioning
    # on an Arguments: line, so match the word, not "Exchange SinglePar...")
    assert plan.count("SinglePartition") <= 1, plan[:3000]
    assert "WindowGroupLimit" not in plan  # rank runs AFTER the limit


def test_pipeline_scans_prune_columns(spark):
    """Column pruning must reach the parquet scan: a query that only
    needs `text` must not read the whole documents row (at 100 TB the
    payload columns dominate scan bytes)."""
    import re as _re
    from hta_spark.queries_scale import q_text_vocab
    plan = _plan(q_text_vocab(spark, "/root/testdata/sf0.001"))
    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"text"}, cols


def test_dedup_scan_prunes_columns(spark):
    import re as _re
    from hta_spark.pipeline.dedup import exact_dedup
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup(docs))
    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"doc_id", "text"}, cols


def test_knn_label_accuracy_windowgrouplimit(spark):
    """The majority-vote rank filter must compile to WindowGroupLimit
    (map-side top-1 per vector), not a full per-group sort retained."""
    from hta_spark.queries_scale import q_knn_label_accuracy
    plan = _plan(q_knn_label_accuracy(spark, "/root/testdata/sf0.001"))
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_dedup_max_equals_groupby(spark):
    """The window-keeper dedup must emit exactly the rows of
    groupBy(metric, time).agg(max(value)) — including duplicate values and
    multi-duplicate runs."""
    from hta_spark.queries_hta import _dedup_max
    rows = [("m", 10, 1.0), ("m", 10, 3.0), ("m", 10, 2.0),
            ("m", 20, 5.0), ("m", 20, 5.0), ("m", 30, -1.0),
            ("n", 10, 7.0)]
    pts = spark.createDataFrame(rows, "metric string, time long, value double")
    got = sorted(tuple(r) for r in _dedup_max(pts).collect())
    want = sorted(tuple(r) for r in
                  pts.groupBy("metric", "time")
                  .agg(F.max("value").alias("value")).collect())
    assert got == want


def test_events_query_single_metric_exchange(spark):
    """The canonical events pipeline (dedup + rollup window + merge) must
    run on ONE full-data hash exchange: the window dedup shares the
    metric partitioning with every downstream consumer, where the old
    groupBy(metric, time) form forced an extra full shuffle — and since
    plan_build the ranges broadcast is a literal frame, not a second
    aggregate over the deduped lineage."""
    from hta_spark.queries_hta import q_hta_level1
    plan = _plan(q_hta_level1(spark, "/root/testdata/sf0.001"))
    n = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n == 1, f"expected 1 hash exchange (the window), got {n}"


def test_events_raw_bound_pushdown(spark):
    """Foreign timestamp[us] events table: Catalyst cannot push a filter
    through the ns_time conversion, so events_raw applies conservative
    window bounds to the NATIVE ts column — those must reach the scan."""
    from hta_spark.queries_hta import events_raw
    df = events_raw(spark, "/root/testdata/sf0.001",
                    begin_ns=1_704_412_800 * SECOND)
    plan = _plan(df)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts,", plan), \
        plan[:2000]


def test_events_raw_bounds_equal_post_filters(spark):
    """Bounds are exactly post-hoc time filters on the unbounded frame
    (µs-outward rounding keeps dedup groups atomic)."""
    from hta_spark.queries_hta import events_raw
    b, e = 1_704_412_801 * SECOND + 1, 1_704_931_200 * SECOND + 999
    full = events_raw(spark, "/root/testdata/sf0.001")
    want = full.filter((F.col("time") >= b) & (F.col("time") < e))
    got = events_raw(spark, "/root/testdata/sf0.001", begin_ns=b, end_ns=e) \
        .filter((F.col("time") >= b) & (F.col("time") < e))
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_flex_plan_no_metric_in_lists(events_native):
    """The flex planner must carry per-metric choices as broadcast joins,
    never literal IN lists over metric (round-1 design capped at ~15
    metrics; IN-list plans explode at 10^5)."""
    from hta_spark import Meta
    from hta_spark.operators import build_levels
    from hta_spark.operators.retrieve import retrieve_flex
    raw = events_native
    meta = Meta(interval_min=3600 * SECOND, interval_max=36000 * SECOND,
                interval_factor=10)
    levels = build_levels(raw, meta)
    kind, df = retrieve_flex(raw, levels, meta,
                             1_704_412_800 * SECOND, 1_705_708_800 * SECOND,
                             7200 * SECOND)
    assert kind == "rows"
    plan = _plan(df)
    assert not re.search(r"metric#\d+ IN \(", plan), plan[:3000]
    assert not re.search(r"metric#\d+ INSET", plan), plan[:3000]


def test_flex_many_metrics_single_probe_job(spark, tmp_path):
    """Step-down probe with 10^4 metrics: one union job for the choice
    frame, plan-light execution end-to-end (VERDICT r1 item 3)."""
    from hta_spark import Meta
    from hta_spark.operators import build_levels
    from hta_spark.operators.retrieve import retrieve_flex

    n = 10_000
    t0 = 1_519_130_000 * SECOND
    # 4 points per metric, 10 s apart
    base = spark.range(n).select(
        F.concat(F.lit("m"), F.col("id")).alias("metric"))
    pts = (base.crossJoin(spark.range(4).select(F.col("id").alias("i")))
           .select("metric",
                   (F.lit(t0) + F.col("i") * F.lit(10 * SECOND)).alias("time"),
                   (F.col("i") * 1.0).alias("value")))
    meta = Meta(interval_min=10 * SECOND, interval_max=100 * SECOND,
                interval_factor=10)
    levels = build_levels(pts, meta)
    kind, df = retrieve_flex(pts, levels, meta, t0, t0 + 40 * SECOND,
                             100 * SECOND)
    assert kind == "rows"
    assert df.count() == n   # one smoothed row per metric
    plan = _plan(df)
    assert not re.search(r"metric#\d+ IN \(", plan)


def test_auto_salt_triggers_on_dominant_metric(spark, monkeypatch):
    """The build planner must salt the level-1 window when one metric's
    series exceeds the per-task target, and stay unsalted otherwise —
    with identical results either way."""
    from hta_spark.operators import rollup
    from hta_spark.operators.tools import dummy

    big = dummy(spark, count=5000, time_delta_ns=1_000_000_000, value=None)
    # small threshold so the test doesn't need millions of rows
    monkeypatch.setattr(rollup, "AUTO_SALT_TARGET_ROWS", 1000)
    assert rollup.auto_salt_chunks(big) >= 4          # ceil(5000/1000)+par
    assert rollup.auto_salt_chunks(big) == rollup.plan_build(big)[0]
    salted = rollup.build_level1(big, 30 * 1_000_000_000)
    assert "_c#" in _plan(salted), "dominant metric did not auto-salt"

    monkeypatch.setattr(rollup, "AUTO_SALT_TARGET_ROWS", 1_000_000)
    assert rollup.auto_salt_chunks(big) is None       # below target: no salt
    unsalted = rollup.build_level1(big, 30 * 1_000_000_000)
    assert "_c#" not in _plan(unsalted)
    assert sorted(map(tuple, salted.collect())) \
        == sorted(map(tuple, unsalted.collect()))


def test_q3_broadcast_dim_before_fact_shuffle(spark):
    """r7 join reorder (VERDICT r6 'What's wrong #1'): the selective
    broadcast(customer BUILDING) filter-join applies map-side BEFORE any
    fact-fact exchange.  At test scale the whole q3 join tree runs
    broadcast-only (no SortMergeJoin); the only exchanges left are the
    final aggregate's."""
    from hta_spark.queries_rel import q3_shipping_priority
    plan = _plan(q3_shipping_priority(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan


def test_q18_having_subquery_broadcasts(spark):
    """r7: q18's highly selective HAVING subquery broadcasts, so orders
    never shuffles for the semi-join."""
    from hta_spark.queries_rel import q18_large_orders
    plan = _plan(q18_large_orders(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan


def _executed_nodes(df) -> dict[str, int]:
    """Run ``df`` and count the operator names in its executed plan: the
    final adaptive plans, cached and broadcast subtrees included, each
    ``== Initial Plan ==`` section skipped."""
    from collections import Counter
    df.collect()
    txt = df._jdf.queryExecution().executedPlan().toString()
    out: Counter = Counter()
    skip = None
    for line in txt.splitlines():
        m = re.match(r"^([\s:|+\-]*)(?:\*\(\d+\)\s+)?(.*)$", line)
        depth, node = len(m.group(1)), m.group(2)
        if skip is not None and depth >= skip:
            continue
        skip = depth if node.startswith("== Initial Plan ==") else None
        name = re.match(r"[A-Za-z]\w*", node)
        if skip is None and name:
            out[name.group(0)] += 1
    return out


def test_count_walk_window_free_exact_one_window(spark, f1_raw):
    """The shared raw kernel keeps its count-only projection window-free:
    the count walk over the counts-only cascade runs no Window and no
    Generate, while the raw-exact aggregate keeps exactly one Window."""
    from hta_spark.operators import count_via_levels
    from hta_spark.operators.rollup import build_levels_counts
    from .conftest import F1_META, tp
    levels = build_levels_counts(f1_raw, F1_META)
    walk = _executed_nodes(count_via_levels(f1_raw, levels, F1_META,
                                            tp(11), tp(225)))
    assert walk["Window"] == 0 and walk["Generate"] == 0, walk
    exact = _executed_nodes(aggregate_exact(f1_raw, tp(11), tp(225)))
    assert exact["Window"] == 1, exact


def test_smooth_raw_runs_one_sequence_explode(spark, f1_raw):
    """Raw smoothing runs the level build's segment explode: one
    ``explode(sequence(...))`` per point, no array-of-struct pieces
    assembled by a ``transform`` lambda, in the executed plan."""
    from hta_spark.operators import smooth_raw
    from .conftest import tp

    df = smooth_raw(f1_raw, tp(95), tp(125), 7 * SECOND)
    df.collect()
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "lambdafunction" not in plan, plan
    assert len(re.findall(r"Generate explode\(sequence\(", plan)) == 1, plan
