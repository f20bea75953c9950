"""Full-registry strict (float-BIT-exact) Spark-vs-DuckDB sweep — the
committed evidence artifact behind SURVEY §13 (VERDICT r6 "Next round #2":
scale-dependent divergence — LSH band boundaries, caps that stop binding,
float accumulation over more rows — is exactly what sf0.01 can miss, so
the full sweep runs at sf0.1 too).

Usage: python tests/full_sweep.py [sf_dir] [out.json] [only1,only2,...]
Writes one JSON file {sf, total, ok, failed: [...], per_query: {...}} and
prints one line per query; exit 1 on any mismatch.  The optional third
argument restricts the sweep to a comma-separated query-name list (fast
re-verification of touched operators; the committed artifact is always a
FULL sweep).  The session takes ``SPARK_GRAFT_CPUS`` cores and a
``SPARK_GRAFT_DRIVER_MEM`` heap, as ``hta_spark.session.get_spark`` does.
"""
import json
import os
import struct
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def key(v):
    if isinstance(v, float):
        return struct.pack("<d", v).hex()
    return str(v)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    import __spark_entry__ as e
    reg = e._registry()
    if len(sys.argv) > 3:
        only = set(sys.argv[3].split(","))
        missing = only - set(reg)
        if missing:
            sys.exit(f"unknown query names: {sorted(missing)}")
        reg = {k: v for k, v in reg.items() if k in only}
    per = {}
    failed = []
    for name in sorted(reg):
        fn, sql = reg[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            drel = con.sql(sql)
            dcols = drel.columns
            drows = drel.fetchall()
            so = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            do = sorted(range(len(dcols)), key=lambda i: dcols[i].lower())
            sn = sorted(tuple(key(r[i]) for i in so) for r in srows)
            dn = sorted(tuple(key(r[i]) for i in do) for r in drows)
            sec = round(time.time() - t0, 2)
            if [scols[i].lower() for i in so] != [dcols[i].lower() for i in do]:
                per[name] = {"status": "SCHEMA", "sec": sec,
                             "spark": scols, "duck": dcols}
            elif len(sn) != len(dn):
                per[name] = {"status": "ROWS", "sec": sec,
                             "spark": len(sn), "duck": len(dn)}
            elif sn != dn:
                bad = sum(a != b for a, b in zip(sn, dn))
                per[name] = {"status": "VALUES", "sec": sec,
                             "mismatched": bad, "rows": len(sn)}
            else:
                per[name] = {"status": "ok", "sec": sec, "rows": len(sn)}
        except Exception as ex:
            per[name] = {"status": "ERR", "sec": round(time.time() - t0, 2),
                         "error": f"{type(ex).__name__}: {ex}"[:400]}
        if per[name]["status"] != "ok":
            failed.append(name)
        print(f"{name}: {per[name]['status']} "
              f"({per[name].get('rows', '?')} rows, {per[name]['sec']}s)",
              flush=True)
    summary = {"sf": sf, "total": len(reg), "ok": len(reg) - len(failed),
               "failed": failed, "per_query": per}
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(f"SWEEP {summary['ok']}/{summary['total']} bit-exact at {sf}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
