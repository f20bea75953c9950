"""Output checks: engine results against DuckDB over the generated parquet."""

from __future__ import annotations

import duckdb

# the engine's range aggregate (operators/aggregate.py::aggregate_exact):
# the range is clamped to the metric's [t_first, t_last]; count and sum
# cover points in [bm, em); min and max also see the first point >= em,
# whose value holds over the range's last segment
_AGG_SQL = """
WITH s AS (SELECT time, value FROM raw WHERE metric = $m),
r AS (SELECT min(time) AS tf, max(time) AS tl FROM s),
c AS (SELECT greatest(least($b, tl), tf) AS bm,
             greatest(least($e, tl), tf) AS em FROM r),
p AS (SELECT min(time) AS ep FROM s, c WHERE time >= em)
SELECT count(*) FILTER (WHERE time < em) AS n,
       sum(value) FILTER (WHERE time < em) AS sm,
       min(value) AS mn, max(value) AS mx
FROM s, c, p WHERE time >= bm AND time <= ep
"""

_COUNT_SQL = ("SELECT count(*) FROM raw WHERE metric = $m "
              "AND time >= $b AND time < $e")


class Oracle:
    """DuckDB view ``raw`` over the generated raw parquet files."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.files = []
        self.extend(files)

    def extend(self, files: list[str]) -> None:
        self.files += files
        self.con.execute("CREATE OR REPLACE VIEW raw AS SELECT * FROM "
                         f"read_parquet({self.files!r})")

    def aggregate(self, metric: str, b: int, e: int) -> tuple:
        return self.con.execute(_AGG_SQL, {"m": metric, "b": b, "e": e}).fetchone()

    def count(self, metric: str, b: int, e: int) -> int:
        return self.con.execute(_COUNT_SQL, {"m": metric, "b": b, "e": e}).fetchone()[0]

    def closed_points(self, iv: int) -> int:
        """Points a level of interval ``iv`` covers: levels hold closed
        buckets only, so each metric's last (open) bucket is left out."""
        return self.con.execute(
            "WITH l AS (SELECT metric, max(time) AS tl FROM raw GROUP BY metric) "
            "SELECT count(*) FROM raw JOIN l USING (metric) "
            "WHERE time < tl - tl % $iv", {"iv": iv}).fetchone()[0]


def floor_grid(x: int, iv: int) -> int:
    return x - x % iv


def ceil_grid(x: int, iv: int) -> int:
    return floor_grid(x + iv - 1, iv)


def check_aggregate(oracle: Oracle, metric: str, b: int, e: int,
                    rows: list) -> str | None:
    """``None`` if the engine's aggregate row matches DuckDB, else why not."""
    if len(rows) != 1:
        return f"aggregate returned {len(rows)} rows"
    r = rows[0]
    got = (r["count"], r["sum"], r["minimum"], r["maximum"])
    want = oracle.aggregate(metric, b, e)
    if tuple(got) != tuple(want):
        return f"aggregate {metric} [{b},{e}): engine {got} != duckdb {want}"
    return None


def check_flex(oracle: Oracle, metric: str, b: int, e: int, res: int,
               meta, rows: list) -> str | None:
    """Row count against the count implied by the resolution, and the
    rows' point counts against DuckDB over the window they cover.

    Level reads (``res >= interval_min``) use the extended-begin,
    open-end row scope: buckets from floor(b) up to ceil(e) of the largest
    level ``iv`` within the resolution, merged ``res // iv`` at a time.
    The raw-smooth branch re-bins points into ``res``-wide buckets
    anchored at ``b``."""
    if res < meta.interval_min:
        lo, hi = b, e
        want_rows = -(-(e - b) // res)
    else:
        limit = min(res, meta.interval_max)
        iv = max(i for i in meta.level_intervals() if i <= limit)
        lo, hi = floor_grid(b, iv), ceil_grid(e, iv)
        want_rows = -(-((hi - lo) // iv) // (limit // iv))
    if len(rows) != want_rows:
        return (f"flex {metric} [{b},{e}) res {res}: {len(rows)} rows, "
                f"resolution implies {want_rows}")
    got = sum(r["count"] for r in rows)
    want = oracle.count(metric, lo, hi)
    if got != want:
        return (f"flex {metric} [{b},{e}) res {res}: rows count {got} "
                f"points, duckdb {want}")
    return None


class SuiteOracle:
    """DuckDB views over the driver_suite tables, for ``oracle_sql()``."""

    def __init__(self, data_dir: str):
        from inputs import SUITE_TABLES
        self.con = duckdb.connect()
        for t in SUITE_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def rows(self, sql: str) -> list[tuple]:
        rel = self.con.sql(sql)
        return normalize(rel.fetchall(), rel.columns)


def normalize(rows, columns) -> list[tuple]:
    """The ``oracle_sql()`` comparison: columns in name order, floats to
    six significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())

    def cell(v):
        if isinstance(v, float):
            return "NaN" if v != v else f"{v:.6g}"
        return str(v)
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def check_suite(name: str, rows: list, want: list[tuple]) -> str | None:
    cols = list(rows[0].__fields__) if rows else []
    got = normalize([tuple(r) for r in rows], cols)
    if got != want:
        return (f"suite {name}: {len(got)} rows differ from the DuckDB "
                f"oracle's {len(want)}")
    return None


def level_dict(rows) -> dict:
    return {(r["metric"], r["interval_start"]):
            (r["minimum"], r["maximum"], r["sum"], r["count"],
             r["integral"], r["active_time"]) for r in rows}


def same_levels(got: dict, want: dict) -> bool:
    """Exact on every field but the integral (value x ns products exceed
    2^53, so its float sum depends on addition order): relative 1e-12."""
    if got.keys() != want.keys():
        return False
    for k, g in got.items():
        w = want[k]
        if g[:4] != w[:4] or g[5] != w[5]:
            return False
        if abs(g[4] - w[4]) > 1e-12 * max(1.0, abs(w[4])):
            return False
    return True
