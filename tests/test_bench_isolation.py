"""VERDICT r10 items 2/3: bench.py failure isolation.  The r10 bench
lost its ENTIRE record (rc=1, parsed: null) to one crashing
scale-evidence cell; these tests pin the repaired contract — a poisoned
cell records its error, every other cell still measures, and main()
still emits the headline JSON line and the BENCH_DETAIL file."""

from __future__ import annotations

import json
import sys

import pytest

sys.path.insert(0, "/root/repo")
import bench  # noqa: E402


def test_cell_returns_result():
    assert bench._cell("x", lambda: 42) == 42


def test_cell_isolates_exception(capsys):
    r = bench._cell("x", lambda: 1 / 0)
    assert "ZeroDivisionError" in r["error"]
    assert "trace_head" in r
    assert "bench cell 'x' failed" in capsys.readouterr().err


def test_cell_isolates_memoryerror():
    # the r10 crash class (JVM broadcast OOM surfaces as a raised error)
    def boom():
        raise MemoryError("Not enough memory to build and broadcast")
    assert "MemoryError" in bench._cell("x", boom)["error"]


def test_cell_propagates_exit_signals():
    with pytest.raises(KeyboardInterrupt):
        bench._cell("x", lambda: (_ for _ in ()).throw(KeyboardInterrupt()))


def test_scale_evidence_subcells_isolated(monkeypatch):
    monkeypatch.setattr(bench, "_se_lsh_hot_bucket", lambda s: {"ok": 1})
    monkeypatch.setattr(bench, "_se_gemm_guard",
                        lambda s: (_ for _ in ()).throw(MemoryError("oom")))
    monkeypatch.setattr(bench, "_se_semdedup_hot", lambda s: {"ok": 3})
    monkeypatch.setattr(bench, "_se_throttle_cap", lambda s: {"ok": 4})
    monkeypatch.setattr(bench, "_se_ivf_subblock", lambda s: {"ok": 5})
    out = bench._scale_evidence(None)
    assert out["lsh_hot_bucket"] == {"ok": 1}
    assert "MemoryError" in out["gemm_broadcast_guard"]["error"]
    assert out["semdedup_hot_cluster"] == {"ok": 3}
    assert out["throttle_auto_cap"] == {"ok": 4}
    assert out["ivf_subblock"] == {"ok": 5}


def test_main_survives_poisoned_cell(spark, monkeypatch, tmp_path, capsys):
    """End-to-end: main() with a deliberately-poisoned detail cell still
    prints the headline JSON (the r10 'done' criterion) and BENCH_DETAIL
    carries both the finished cells and the poisoned cell's error."""
    detail_path = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_path))
    monkeypatch.setenv("SPARK_GRAFT_SCALE_EVIDENCE", "0")
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setattr(bench, "HEADLINE", ["hta_last"])
    monkeypatch.setattr(bench, "N_RUNS", 1)
    monkeypatch.setattr(bench, "_pin_page_cache", lambda: {"stub": True})
    monkeypatch.setattr(bench, "_host_canary",
                        lambda s: {"single_sec": 0.225, "cores_sec": 1.05})
    monkeypatch.setattr(bench, "_insert_throughput", lambda s: {
        "rows": 1, "sec": 0.1, "cold_sec": 0.1,
        "full_runs": {"median": 0.1, "min": 0.1, "max": 0.1, "n": 1}})
    monkeypatch.setattr(bench, "_insert_matrix", lambda s: [{"stub": True}])
    monkeypatch.setattr(bench, "_query_latency", lambda s: {
        "flex_latency_sec": {}, "aggregate_latency_sec": {}})
    # the poisoned cell — the shape that destroyed BENCH_r10
    monkeypatch.setattr(
        bench, "_aggregate_crossover",
        lambda s: (_ for _ in ()).throw(
            MemoryError("Not enough memory to build and broadcast")))
    monkeypatch.setattr(bench, "_streaming_throughput", lambda s: {"s": 1})
    monkeypatch.setattr(bench, "_ivf_skew_cell", lambda s: {"s": 2})
    monkeypatch.setattr(bench, "_throttle_dispatch_cell", lambda s: {"s": 3})
    monkeypatch.setattr(bench, "_pipeline_latency", lambda s, qs: {"q": 0.1})
    # reuse the live test session; main() must not stop it
    import hta_spark.session as sess

    class _NoStop:
        def __init__(self, s):
            self._s = s

        def __getattr__(self, name):
            if name == "stop":
                return lambda: None
            return getattr(self._s, name)

    monkeypatch.setattr(sess, "get_spark",
                        lambda **kw: _NoStop(spark))
    bench.main()
    out = capsys.readouterr().out
    headline = json.loads(out.strip().splitlines()[-1])
    assert headline["metric"] == "headline_suite_sec"
    assert "hta_last" in headline["queries"]
    assert headline["value"] > 0
    assert headline["cells_failed"] == 1       # the poisoned cell
    detail = json.loads(detail_path.read_text())
    assert "MemoryError" in detail["aggregate_crossover_16m"]["error"]
    assert detail["streaming_ingest_throughput"] == {"s": 1}
    assert detail["pipeline_latency_sec"] == {"q": 0.1}
    assert "partial" not in detail
