"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` runs the same workload with spans and Spark job
attribution and reports the per-layer metrics (the span tree is written to
``.perfbench_out/``).  Every file the run makes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import SUITE_QUERIES  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "round_cpu_s": "s",
}

PER_LAYER = {
    "round_s": "s",
    "session.start_s": "s",
    "setup.inputs_s": "s",
    "store.write_raw_s": "s",
    "store.build_s": "s",
    "jvm.peak_rss_mb": "MB",
    "store.open_s": "s",
    "store.open_jobs": "count",
    "store.files": "count",
    "store.bytes": "B",
    "store.bytes_per_point": "B/point",
    "rollup.jobs": "count",
    "rollup.shuffle_bytes": "B",
    "rollup.driver_self_s": "s",
    "rollup.salt_chunks": "count",
    "ingest.batch_p50_s": "s",
    "ingest.jobs_per_batch": "count",
    "ingest.stages_per_batch": "count",
    "ingest.shuffle_bytes_per_batch": "B",
    "ingest.bytes_written_per_point": "B/point",
    "ingest.points_per_s": "1/s",
    "ingest.latency_slope_s": "s",
    "flex_p50_s": "s",
    "retrieve.plan_s": "s",
    "retrieve.exec_s": "s",
    "retrieve.jobs": "count",
    "aggregate_p50_s": "s",
    "aggregate.plan_s": "s",
    "aggregate.exec_s": "s",
    "aggregate.jobs": "count",
    **{f"suite.{q}_{k}": u for q in SUITE_QUERIES
       for k, u in (("s", "s"), ("jobs", "count"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_self_s": "s",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """``get_spark()`` with SPARK_GRAFT_CPUS=nproc; Spark's scratch space
    and the JVM temp dir point into the run's work dir."""
    from hta_spark import get_spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(w, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "round_cpu_s": mean(w.lat["round_cpu"]),
    }


def per_layer(w, tr, session_s: float, rss_mb: float) -> dict:
    from workloads import dir_size

    def per_span(name, key):
        """Mean over the traced spans called ``name``."""
        return mean([tr.totals(i)[key] for i in tr.by_name(name)
                     if tr.spans[i].group is not None])

    def span_s(name):
        return mean([tr.spans[i].duration for i in tr.by_name(name)])

    builds = tr.by_name("store.build")
    # top-level spans of the loop's traced ops
    top = [i for i, s in enumerate(tr.spans)
           if s.parent is None and s.group is not None
           and s.op_id in tr.loop_ops]
    op_totals: dict[int, dict] = {}
    for i in top:
        acc = op_totals.setdefault(tr.spans[i].op_id, {})
        for k, v in tr.totals(i).items():
            acc[k] = acc.get(k, 0) + v
    n_ops = max(len(op_totals), 1)

    def per_op(key):
        return sum(t[key] for t in op_totals.values()) / n_ops

    lat = w.lat.get("ingest", [])
    # least-squares growth of batch latency per batch, after the warm-up
    # batch
    slope, ys = 0.0, lat[1:]
    if len(ys) >= 2:
        xs = range(len(ys))
        mx, my = mean(xs), mean(ys)
        slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
                 / sum((x - mx) ** 2 for x in xs))
    files, size = dir_size(w.base) if w.base else (0, 0)
    batch_points = getattr(w, "batch_points", 0)
    written = getattr(w, "written", [])
    traced = [d for d, t in zip(w.lat["round"], w.round_traced) if t]
    plain = [d for d, t in zip(w.lat["round"][1:], w.round_traced[1:])
             if not t]
    suite = {}
    for q in SUITE_QUERIES:
        suite[f"suite.{q}_s"] = mean(w.lat.get(f"suite.{q}", []))
        suite[f"suite.{q}_jobs"] = per_span(f"suite.{q}", "jobs")
    return {
        # wall time of the untraced rounds after the warm-up one
        "round_s": mean(plain),
        "session.start_s": session_s,
        "setup.inputs_s": w.setup_parts.get("inputs", 0.0),
        "store.write_raw_s": w.setup_parts.get("store.write_raw", 0.0),
        "store.build_s": w.setup_parts.get("store.build", 0.0),
        "jvm.peak_rss_mb": rss_mb,
        "store.open_s": span_s("store.open"),
        "store.open_jobs": per_span("store.open", "jobs"),
        "store.files": files,
        "store.bytes": size,
        "store.bytes_per_point": size / w.points if w.points else 0.0,
        "rollup.jobs": per_span("store.build", "jobs"),
        "rollup.shuffle_bytes": per_span("store.build", "shuffle_write_bytes"),
        "rollup.driver_self_s": mean([tr.driver_time(i) for i in builds]),
        "rollup.salt_chunks": w.salt_chunks(),
        "ingest.batch_p50_s": median(lat),
        "ingest.jobs_per_batch": per_span("ingest", "jobs"),
        "ingest.stages_per_batch": per_span("ingest", "stages"),
        "ingest.shuffle_bytes_per_batch":
            per_span("ingest", "shuffle_write_bytes"),
        "ingest.bytes_written_per_point":
            mean(written) / batch_points if batch_points else 0.0,
        "ingest.points_per_s":
            batch_points / median(lat) if lat else 0.0,
        "ingest.latency_slope_s": slope,
        "flex_p50_s": median(w.lat.get("flex", [])),
        "retrieve.plan_s": span_s("retrieve.plan"),
        "retrieve.exec_s": span_s("retrieve.exec"),
        "retrieve.jobs": per_span("retrieve.plan", "jobs")
            + per_span("retrieve.exec", "jobs"),
        "aggregate_p50_s": median(w.lat.get("aggregate", [])),
        "aggregate.plan_s": span_s("aggregate.plan"),
        "aggregate.exec_s": span_s("aggregate.exec"),
        "aggregate.jobs": per_span("aggregate.plan", "jobs")
            + per_span("aggregate.exec", "jobs"),
        **suite,
        "spark.jobs": per_op("jobs"),
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.executor_cpu_s": per_op("executor_cpu_s"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "spark.driver_self_s": mean([tr.driver_time(i) for i in top]),
        "trace.overhead_s": mean(traced) - mean(plain) if plain else 0.0,
        "trace.bookkeeping_s": tr.bookkeeping_s / n_ops,
    }


def run(args, work: str) -> dict:
    import workloads
    from spans import Tracer

    t = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        w = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        t = time.perf_counter()
        w.setup()
        setup_s = session_s + time.perf_counter() - t
        tracer.collect()
        w.prepare()
        if args.trace:
            # an untraced warm-up round, then traced and untraced rounds
            # in turn, so the run also measures the tracing overhead
            rounds = 1 + 2 * w.trace_pairs
            traced_rounds = set(range(1, rounds, 2))
        else:
            rounds = w.rounds(args.seconds)
            traced_rounds = set()
        first_op = tracer.new_op()
        loop_s = w.loop(rounds, traced_rounds)
        tracer.loop_ops = range(first_op, tracer.new_op())
        t_check = time.perf_counter()
        w.final_check()
        check_s = time.perf_counter() - t_check
        rss = jvm_peak_rss_mb(spark)
        if args.trace:
            metrics = per_layer(w, tracer, session_s, rss)
            units = PER_LAYER
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.dump()}, f)
        else:
            metrics = end_to_end(w, setup_s)
            units = END_TO_END
        for why in w.failures:
            print(f"perfbench: check failed: {why}", file=sys.stderr)
        print(f"perfbench: {args.workload} seed {args.seed}: {rounds} rounds "
              f"of {w.round_ops} ops in {loop_s:.1f} s "
              f"({[round(x, 2) for x in w.lat['round']]}), set-up "
              f"{setup_s:.2f} s (session {session_s:.2f} s), final check "
              f"{check_s:.1f} s", file=sys.stderr)
        return {"correct": not w.failures, "attempted": max(w.attempted, 1),
                "failed": len(w.failures),
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hta_spark")):
        print(f"perfbench: no hta_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still removes its files and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
