"""Seeded input generator shared by every workload.

Time series (``dashboard``, ``live_ingest``) are integer-valued random
walks, so sums are exact in float64 and the DuckDB checks can compare them
bit for bit.  The seed moves the series' start time and draws every value;
sizes are fixed per workload.  The ``driver_suite`` tables follow the
schemas the ``__spark_entry__`` queries read (a TPC-H-like star, an
``events`` stream, ``documents`` and ``embeddings``).  Tables are written
as parquet files; the engine only ever sees ``spark.read.parquet`` of them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SECOND = 1_000_000_000
EPOCH_S = 1_600_000_000


def metric_names(n: int) -> list[str]:
    return [f"m{i:02d}" for i in range(n)]


class Series:
    """Random walks of ``names``, continued batch by batch in time order."""

    def __init__(self, seed: int, names: list[str], spacing_ns: int,
                 align_s: int):
        """The start time is a seeded multiple of ``align_s`` within a day
        of ``EPOCH_S``, so every seed lays out the same level buckets and
        files; values differ."""
        self.rng = np.random.default_rng(seed)
        self.names = np.array(names)
        self.spacing = spacing_ns
        start = EPOCH_S + int(self.rng.integers(0, 86_400))
        self.t0 = (start - start % align_s) * SECOND
        self.next_i = 0
        self.level = self.rng.integers(-100, 100, size=len(names))

    def time_of(self, i: int) -> int:
        return self.t0 + i * self.spacing

    def take(self, points: int) -> pa.Table:
        """The next ``points`` points of every metric."""
        m = len(self.names)
        steps = self.rng.integers(-3, 4, size=(m, points))
        vals = self.level[:, None] + np.cumsum(steps, axis=1)
        self.level = vals[:, -1]
        idx = np.arange(self.next_i, self.next_i + points, dtype=np.int64)
        self.next_i += points
        return pa.table({
            "metric": np.repeat(self.names, points),
            "time": np.tile(self.t0 + idx * self.spacing, m),
            "value": vals.reshape(-1).astype(np.float64),
        })


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# -- driver_suite tables ---------------------------------------------------

# relational (queries_rel) and training-data pipeline (pipeline/) entries
# of __spark_entry__.queries() that driver_suite runs
SUITE_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_sessionize", "q_asof_signup", "dedup_exact", "dedup_minhash_lsh",
    "text_quality", "ann_cosine_topk"]
SUITE_TABLES = ("region", "nation", "customer", "supplier", "orders",
                "lineitem", "events", "documents", "embeddings")
_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window join order data column small big "
          "query customer stream group filter and of to is").split()
_DAY_US = 86_400 * 1_000_000


def _ts_us(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def suite_tables(seed: int, out_dir: str, orders: int = 15_000,
                 events: int = 10_000, docs: int = 500,
                 vectors: int = 500) -> str:
    """Write the driver_suite tables as ``<out_dir>/<name>.parquet``.

    Sizes default to about 60k lineitem rows.
    Documents and embeddings hold exact and near duplicates, so the dedup
    and ANN queries have pairs to find."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = orders // 10, 100
    d1992 = 8035 * _DAY_US                      # 1992-01-01 in epoch µs
    odate = d1992 + rng.integers(0, 2557, orders) * _DAY_US
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(orders), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, n_li) * _DAY_US
    doc_text = _documents(rng, docs)
    # random directions; a tenth are near copies of an earlier vector
    emb = rng.normal(size=(vectors, 64))
    for i in np.flatnonzero(rng.random(vectors) < 0.1)[1:]:
        emb[i] = emb[rng.integers(0, i)] + rng.normal(scale=0.3, size=64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    label = rng.integers(0, 8, vectors)
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999, 9999, n_supp)},
        "orders": {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": _money(rng, 1000, 500_000, orders),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                orders)},
        "lineitem": {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_lineno.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts_us(ship)},
        "events": {
            "event_id": np.arange(events, dtype=np.int64),
            # January 2024, µs resolution
            "ts": _ts_us(np.sort(19723 * _DAY_US
                                 + rng.integers(0, 31 * _DAY_US, events))),
            "user_id": rng.integers(0, 150, events).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup",
                                      "error"], events),
            "value": _money(rng, 0, 100, events),
            "props": [json.dumps({"k": int(k)})
                      for k in rng.integers(0, 100, events)]},
        "documents": {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": doc_text,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], docs),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64)},
        "embeddings": {
            "vec_id": np.arange(vectors, dtype=np.int64),
            "embedding": pa.array(list(emb.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": label.astype(np.int32)},
    }
    for name in SUITE_TABLES:
        write(pa.table(tables[name]), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _documents(rng, n: int) -> list[str]:
    """Random word documents; a tenth are exact copies of an earlier one
    (up to case and outer spaces), a tenth near copies (a few words
    changed)."""
    out: list[str] = []
    for i in range(n):
        kind = rng.random() if i else 1.0
        if kind < 0.1:
            src = out[int(rng.integers(0, i))]
            out.append(f" {src.upper()} " if rng.random() < 0.5 else src)
        elif kind < 0.2:
            words = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = str(rng.choice(_VOCAB))
            out.append(" ".join(words))
        else:
            k = int(rng.integers(8, 80))
            out.append(" ".join(rng.choice(_VOCAB, k)))
    return out
