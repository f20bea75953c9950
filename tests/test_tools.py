"""Tool-pipeline tests (SURVEY.md §2.2): check, repair, throttle, clone,
dummy — plus the flex negative-limit total aggregate and the level-backed
count scale path."""

from __future__ import annotations

import math

import pytest

from hta_spark import Meta, SECOND
from hta_spark.operators import build_levels, retrieve_flex
from hta_spark.operators.rollup import build_levels_counts
from hta_spark.operators.tools import (check_levels, check_raw, clone, dummy,
                                       repair, throttle)

from .conftest import F1_META, tp


def test_check_raw_flags(spark):
    pts = [
        ("m", tp(1), 1.0),
        ("m", tp(2), float("nan")),
        ("m", tp(3), float("inf")),
        ("m", tp(4), -5e20),
        ("m", tp(4), 2.0),           # duplicate timestamp
        ("m", 1 * SECOND, 3.0),      # before 2000-01-01
    ]
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    issues = {(r["time"], i) for r in check_raw(df).collect()
              for i in r["issues"]}
    assert (tp(2), "nan") in issues
    assert (tp(3), "inf") in issues
    assert (tp(4), "implausible_magnitude") in issues
    assert (tp(4), "duplicate_timestamp") in issues
    assert (1 * SECOND, "timestamp_too_old") in issues


def test_check_levels_clean(spark, f1_raw):
    levels = build_levels(f1_raw, F1_META)
    assert check_levels(f1_raw, levels).count() == 0


def test_repair_cleans(spark):
    pts = [
        ("m", tp(1), 1.0),
        ("m", tp(2), float("nan")),
        ("m", tp(3), float("inf")),
        ("m", tp(4), -500.0),
        ("m", tp(4), 2.0),
        ("m", tp(5), -2.0),
    ]
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    out = repair(df, drop_below=-100.0, take_absolute=True)
    rows = sorted((r["time"], r["value"]) for r in out.collect())
    assert rows == [(tp(1), 1.0), (tp(4), 2.0), (tp(5), 2.0)]


def test_throttle_cooldown(spark):
    pts = [("m", i * SECOND, float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    kept = sorted(r["time"] for r in throttle(df, 5 * SECOND).collect())
    # keep iff last_kept + 5s < t: 1, 7, 13, 19
    assert kept == [1 * SECOND, 7 * SECOND, 13 * SECOND, 19 * SECOND]


def test_clone_reaggregates(spark, f1_raw):
    new_meta = Meta(interval_min=20 * SECOND, interval_max=2000 * SECOND,
                    interval_factor=10)
    levels = clone(f1_raw, new_meta)
    assert sorted(levels.keys()) == [20 * SECOND, 200 * SECOND, 2000 * SECOND]
    l20 = {r["interval_start"]: r for r in levels[20 * SECOND].collect()}
    # bucket [20,40): points at 21 (-36); segment to 42 spans it
    r = l20[tp(20)]
    assert r["count"] == 1 and r["sum"] == -36.0
    assert r["active_time"] == 20 * SECOND


def test_dummy_generator(spark):
    df = dummy(spark, count=100, time_delta_ns=50_000_000,
               start_ns=1_519_832_293_179_227_888, value=42.0)
    rows = df.collect()
    assert len(rows) == 100
    assert all(r["value"] == 42.0 for r in rows)
    ramp = dummy(spark, count=10, value=None)
    vals = [r["value"] for r in ramp.orderBy("time").collect()]
    assert vals[3] == 3 + 1.0 / 3.0


def test_flex_total_aggregate(spark, f1_raw):
    levels = build_levels(f1_raw, F1_META)
    kind, df = retrieve_flex(f1_raw, levels, F1_META, tp(20), tp(220), -1)
    assert kind == "rows"
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["interval"] == 200 * SECOND and r["time"] == tp(20)
    assert r["count"] == 108 and r["sum"] == 1985.0
    assert r["active_time"] == 200 * SECOND


def _staggered_points() -> list[tuple[str, int, float]]:
    """Three metrics with staggered first/last times and densities."""
    pts = []
    for mi, (off, step, n) in enumerate([(0, 7, 90), (150, 3, 200),
                                         (400, 13, 40)]):
        pts += [(f"m{mi}", tp(off + i * step) + mi * 1000,
                 float((i * 37 + mi * 11) % 23) - 7.5) for i in range(n)]
    return pts


_LEVEL_DICTS = {
    "build_levels": lambda raw: build_levels(raw, F1_META),
    "build_levels_counts": lambda raw: build_levels_counts(raw, F1_META),
    "finest_dropped": lambda raw: {
        iv: df for iv, df in build_levels(raw, F1_META).items()
        if iv != F1_META.interval_min},
    "no_levels": lambda raw: {},
}


@pytest.mark.parametrize("levels_of", list(_LEVEL_DICTS))
def test_count_via_levels_matches_raw(spark, f1_raw, levels_of):
    """The count walk equals a plain pruned count on full-monoid levels,
    on the count projection, with the finest level missing (raw chunk
    fallback) and with no level at all."""
    from pyspark.sql import functions as F
    from hta_spark.operators import count_via_levels
    from .conftest import f1_points
    stag_pts = _staggered_points()
    stag = spark.createDataFrame(stag_pts,
                                 "metric string, time long, value double")
    cases = [(f1_raw, f1_points(),
              [(20, 220), (11, 225), (0, 500), (12, 20), (110, 125)]),
             (stag, stag_pts, [(5, 640), (149, 433), (400, 401)])]
    for raw, pts, spans in cases:
        levels = _LEVEL_DICTS[levels_of](raw)
        via = None
        for i, (b_s, e_s) in enumerate(spans):
            df = count_via_levels(raw, levels, F1_META, tp(b_s), tp(e_s))
            df = df.withColumn("span", F.lit(i))
            via = df if via is None else via.unionByName(df)
        got = {(r["span"], r["metric"]): r["n"] for r in via.collect()}
        want = {(i, m): sum(pm == m and tp(b_s) <= t < tp(e_s)
                            for pm, t, _ in pts)
                for i, (b_s, e_s) in enumerate(spans)
                for m in {p[0] for p in pts}}
        assert got == want
    if levels_of == "build_levels_counts":
        full = build_levels(stag, F1_META)
        counts = build_levels_counts(stag, F1_META)
        assert sorted(counts) == sorted(full)
        for iv, df in counts.items():
            # the full build also stores buckets that only a segment
            # crosses (count 0); they add nothing to a count sum
            proj = (full[iv].filter(F.col("count") > 0)
                    .select("metric", "interval_start", "count"))
            assert sorted(df.collect()) == sorted(proj.collect()), iv


def test_approx_functions_sane(spark):
    """The approximate surface (approx_count_distinct, percentile_approx)
    — not oracle-gated (sketch results are engine-specific), sanity-bounded
    against exact results."""
    from pyspark.sql import functions as F
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    r = li.agg(
        F.approx_count_distinct("l_partkey").alias("apx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_med"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
    ).collect()[0]
    assert abs(r["apx"] - r["exact"]) <= 0.05 * r["exact"]
    assert abs(r["apx_med"] - r["med"]) <= 0.05 * abs(r["med"])


def test_throttle_parallel_equivalence(spark):
    """Pointer-doubling throttle == sequential pandas throttle, on the F1
    fixture and on seeded random multi-metric series (incl. exact-cooldown
    boundary spacing)."""
    import random
    from hta_spark.operators.tools import throttle, throttle_parallel
    from .conftest import f1_points

    def check(pts, cooldown):
        df = spark.createDataFrame(
            pts, "metric string, time long, value double")
        seq = {(r["metric"], r["time"]) for r in
               throttle(df, cooldown).collect()}
        par = {(r["metric"], r["time"]) for r in
               throttle_parallel(df, cooldown).collect()}
        assert par == seq, (len(par), len(seq))

    check(f1_points(), 25 * 1_000_000_000)
    rng = random.Random(11)
    pts = []
    for m in ("a", "b", "c"):
        t = 1_000
        for _ in range(400):
            # mix of sub-cooldown, exactly-cooldown and above-cooldown gaps
            t += rng.choice([1, 5, 10, 10, 17, 40])
            pts.append((m, t, rng.random()))
    check(pts, 10)
    check(pts, 0)          # cooldown 0: strict > keeps everything distinct
    check([("x", 5, 1.0)], 100)   # single point


def test_throttle_parallel_salted_equivalence(spark):
    """Salted successor window == plain window == sequential throttle."""
    import random
    from hta_spark.operators.tools import throttle, throttle_parallel

    rng = random.Random(23)
    pts = []
    for m in ("big", "tiny"):
        t = 500
        n = 600 if m == "big" else 7
        for _ in range(n):
            t += rng.choice([1, 5, 10, 10, 17, 40])
            pts.append((m, t, rng.random()))
    df = spark.createDataFrame(pts, "metric string, time long, value double")
    seq = {(r["metric"], r["time"]) for r in throttle(df, 12).collect()}
    plain = {(r["metric"], r["time"]) for r in
             throttle_parallel(df, 12).collect()}
    salted = {(r["metric"], r["time"]) for r in
              throttle_parallel(df, 12, salt_chunks=16).collect()}
    assert salted == plain == seq


def test_check_store_whole_db(spark, tmp_path):
    """check_store = the check_db_directory.sh fan-out in one job: raw
    issues + level invariants over every metric of a store."""
    from tests.conftest import F1_META
    from hta_spark.chrono import SECOND
    from hta_spark.operators.tools import check_store
    from hta_spark.sources.store import HtaStore

    base = str(tmp_path / "db")
    store = HtaStore(spark, base, configs={"m1": F1_META, "m2": F1_META})
    t0 = 1_600_000_000 * SECOND
    rows = [("m1", t0 + i * SECOND, float(i)) for i in range(100)] \
        + [("m2", t0 + i * SECOND, float(i % 7)) for i in range(50)] \
        + [("m2", t0 + 3 * SECOND, float("nan"))]     # NaN + dup ts
    store.write_raw(spark.createDataFrame(
        rows, "metric string, time long, value double"), validate=False)
    store.build()

    report = check_store(store).collect()
    issues = {(r["metric"], r["table"], r["issue"]) for r in report}
    assert ("m2", "raw", "nan") in issues
    assert any(i == "duplicate_timestamp" and m == "m2"
               for (m, t, i) in issues)
    # the NaN propagates into every level bucket containing it
    assert any(t.startswith("levels/") and i == "non_finite_aggregate"
               for (_m, t, i) in issues)
    # m1 is clean in raw
    assert not any(m == "m1" and t == "raw" for (m, t, _i) in issues)


def test_check_store_heterogeneous_metas(spark, tmp_path):
    """Metrics with DIFFERENT ladders: a metric must only be checked
    against the intervals its own meta builds (no spurious missing_row)."""
    from hta_spark import Meta
    from hta_spark.chrono import SECOND
    from hta_spark.operators.tools import check_store
    from hta_spark.sources.store import HtaStore

    base = str(tmp_path / "db2")
    m_fine = Meta(interval_min=10 * SECOND, interval_max=1000 * SECOND,
                  interval_factor=10)
    m_coarse = Meta(interval_min=100 * SECOND, interval_max=1000 * SECOND,
                    interval_factor=10)
    store = HtaStore(spark, base,
                     configs={"fine": m_fine, "coarse": m_coarse})
    t0 = 1_600_000_000 * SECOND
    rows = [("fine", t0 + i * SECOND, float(i)) for i in range(500)] \
        + [("coarse", t0 + i * SECOND, float(i)) for i in range(500)]
    store.write_raw(spark.createDataFrame(
        rows, "metric string, time long, value double"), validate=False)
    store.build()
    report = check_store(store).collect()
    assert report == [], [tuple(r) for r in report[:5]]


def test_throttle_auto_dispatch_both_arms(spark, monkeypatch):
    """throttle_auto (VERDICT r6 'What's wrong #4') picks the sequential
    per-metric pass below the straggler cap and the pointer-doubling
    parallel variant above it — and both arms return the same kept-set."""
    import hta_spark.operators.tools as tools

    pts = [("m", i * SECOND, float(i)) for i in range(1, 21)]
    pts += [("n", i * SECOND, float(i)) for i in range(1, 4)]
    df = spark.createDataFrame(pts, "metric string, time long, value double")

    calls: list[str] = []
    orig_seq, orig_par = tools.throttle, tools.throttle_parallel
    monkeypatch.setattr(tools, "throttle",
                        lambda *a, **k: (calls.append("seq"),
                                         orig_seq(*a, **k))[1])
    monkeypatch.setattr(tools, "throttle_parallel",
                        lambda *a, **k: (calls.append("par"),
                                         orig_par(*a, **k))[1])

    kept = sorted((r["metric"], r["time"]) for r in
                  tools.throttle_auto(df, 5 * SECOND).collect())
    assert calls == ["seq"]          # max per-metric rows (20) <= default cap
    calls.clear()
    # cap below the largest metric (20 rows) -> parallel arm, same result
    kept_par = sorted((r["metric"], r["time"]) for r in
                      tools.throttle_auto(df, 5 * SECOND,
                                          seq_rows_cap=10).collect())
    assert calls == ["par"]
    assert kept_par == kept
    assert [t for m, t in kept if m == "m"] == [
        1 * SECOND, 7 * SECOND, 13 * SECOND, 19 * SECOND]
    # the dispatch key is the per-metric MAX, not the total: the small
    # metric does not pull a huge sibling into the sequential arm
    calls.clear()
    tools.throttle_auto(df, 5 * SECOND, seq_rows_cap=19).collect()
    assert calls == ["par"]


def test_throttle_auto_empty_frame(spark):
    from hta_spark.operators.tools import throttle_auto
    df = spark.createDataFrame(
        [], "metric string, time long, value double")
    out = throttle_auto(df, 5 * SECOND)
    assert out.columns == ["metric", "time", "value"]
    assert out.count() == 0


def test_throttle_auto_empty_schema_matches_arms(spark):
    """ADVICE r8: the empty-input fallback must pin the SAME schema as the
    real arms even when raw's column types differ (int value here)."""
    from hta_spark.operators.tools import throttle, throttle_auto
    empty_int = spark.createDataFrame(
        [], "metric string, time long, value int")
    out = throttle_auto(empty_int, 5 * SECOND)
    nonempty = spark.createDataFrame(
        [("m", SECOND, 1.0)], "metric string, time long, value double")
    assert [f.simpleString() for f in out.schema.fields] == \
        [f.simpleString() for f in throttle(nonempty, SECOND).schema.fields]
    assert out.count() == 0


def test_throttle_auto_warns_on_dropped_parallel_kwargs(spark):
    """ADVICE r8: sequential dispatch must signal that parallel-only
    kwargs were ignored."""
    import warnings as _w
    from hta_spark.operators.tools import throttle_auto
    df = spark.createDataFrame(
        [("m", i * SECOND, float(i)) for i in range(1, 6)],
        "metric string, time long, value double")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        throttle_auto(df, 2 * SECOND, salt_chunks=4).collect()
    msgs = [str(r.message) for r in rec if r.category is UserWarning]
    assert any("salt_chunks" in m and "sequential" in m for m in msgs)
    # no kwargs -> no warning
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        throttle_auto(df, 2 * SECOND).collect()
    assert not [r for r in rec2 if r.category is UserWarning]
