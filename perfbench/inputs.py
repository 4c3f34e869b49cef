"""Seeded input generators for the benchmark workloads.

Every input the engine sees is made here from the run's ``--seed``: the
same seed gives byte-identical inputs, a different seed gives different
ones. Nothing in this module touches Spark; the workloads hand the
generated tables, batches and vectors to the engine.

Each generator draws from its own ``numpy`` stream, keyed by the seed
plus a fixed stream tag, so adding a draw to one workload never shifts
another workload's inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The eleven read-only registered queries the olap_scan workload runs.
OLAP_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_profit_by_nation_year",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    "q21_suppliers_kept_waiting",
    "win_running_sum",
    "dt_sessionize",
    "join_asof_events",
)

_STREAMS = {"tpch": 1, "order": 2, "cdc_base": 3, "cdc": 4,
            "corpus": 5, "queries": 6, "append": 7}


def rng(seed: int, stream: str, *extra: int) -> np.random.Generator:
    """The numpy generator of one named input stream."""
    return np.random.default_rng([int(seed), _STREAMS[stream], *extra])


# ---------------------------------------------------------------- olap_scan

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "old", "cold", "green", "small", "red"]
_NOUN = ["ring", "bolt", "plate", "widget", "gear", "pipe", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(r: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r: np.random.Generator, start: str, end: str, n: int):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return r.integers(lo, hi, n).astype("datetime64[D]").astype(
        "datetime64[us]")


def tpch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus the ``events`` stream, with the schema and
    value domains the registered queries filter on. ``scale`` follows
    TPC-H scale factors (0.1 gives 600k lineitem rows)."""
    r = rng(seed, "tpch")
    n_cust = max(int(150_000 * scale), 100)
    n_supp = max(int(10_000 * scale), 25)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 1_000)
    n_users = max(int(15_000 * scale), 50)
    n_events = max(int(1_000_000 * scale), 1_000)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    adj = np.array(_ADJ)[r.integers(0, len(_ADJ), n_part)]
    noun = np.array(_NOUN)[r.integers(0, len(_NOUN), n_part)]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add(
            "Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(r, 900.0, 2100.0, n_part)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)]})
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(
            np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-05", n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(start, start + span_us, n_events))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": _money(r, 0.0, 560.0, n_events),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_events)]})
    return {name: pa.Table.from_pandas(df, preserve_index=False)
            for name, df in t.items()}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def query_order(seed: int, pass_no: int) -> list[str]:
    """The seed-permuted order of the olap queries in one pass."""
    order = rng(seed, "order", pass_no).permutation(len(OLAP_QUERIES))
    return [OLAP_QUERIES[i] for i in order]


# ------------------------------------------------------------ lakehouse_cdc

def cdc_base(seed: int, n_keys: int) -> pd.DataFrame:
    """The orders-derived table both lakehouse copies start from:
    key ``k``, three payload columns and ``_cdc_seq`` 0."""
    r = rng(seed, "cdc_base")
    return pd.DataFrame({
        "k": np.arange(n_keys, dtype=np.int64),
        "status": np.array(["F", "O", "P"])[r.integers(0, 3, n_keys)],
        "price": _money(r, 1000.0, 500_000.0, n_keys),
        "prio": np.array(_PRIORITIES)[r.integers(0, 5, n_keys)],
        "_cdc_seq": np.zeros(n_keys, dtype=np.int64)})


# Shares of a change batch: upserts of base keys, deletes of base keys,
# inserts of new keys.
CDC_SHARES = (0.7, 0.15, 0.15)


def cdc_batch(seed: int, batch_no: int, n_keys: int, size: int
              ) -> pd.DataFrame:
    """Change batch ``batch_no`` (0-based): ``size`` rows with distinct
    keys, split by ``CDC_SHARES`` into upserts of base keys, deletes of
    base keys and inserts of keys no earlier batch used. Columns are the
    table payload plus ``op`` ('U' or 'D') and a ``seq`` that grows across
    batches."""
    r = rng(seed, "cdc", batch_no)
    n_up = int(size * CDC_SHARES[0])
    n_del = int(size * CDC_SHARES[1])
    n_ins = size - n_up - n_del
    old = r.choice(n_keys, n_up + n_del, replace=False).astype(np.int64)
    new = n_keys + batch_no * size + np.arange(n_ins, dtype=np.int64)
    keys = np.concatenate([old, new])
    ops = np.array(["U"] * n_up + ["D"] * n_del + ["U"] * n_ins)
    upd = ops == "U"
    return pd.DataFrame({
        "k": keys,
        "status": np.where(upd, np.array(["F", "O", "P"])[
            r.integers(0, 3, size)], None),
        "price": np.where(upd, _money(r, 1000.0, 500_000.0, size), np.nan),
        "prio": np.where(upd, np.array(_PRIORITIES)[
            r.integers(0, 5, size)], None),
        "op": ops,
        "seq": batch_no * size + 1 + np.arange(size, dtype=np.int64)})


def lookup_keys(seed: int, draw: int, n_keys: int, n_inserted: int,
                count: int) -> list[int]:
    """Keys for point lookup number ``draw``: mostly base keys, some of
    the ``n_inserted`` keys the batches may have inserted."""
    r = rng(seed, "cdc", 1_000_000 + draw)
    hi = n_keys + max(n_inserted, 1)
    return sorted(int(k) for k in r.choice(hi, count, replace=False))


# ----------------------------------------------------------- vector_serving

def corpus(seed: int, n: int, dim: int, n_clusters: int
           ) -> tuple[np.ndarray, np.ndarray]:
    """Clustered float32 vectors and their cluster centres. Row ``i`` has
    ``vec_id`` ``i``; rows ``0..n_clusters-1`` are one member of each
    cluster, so the lowest-id IVF centroids cover every cluster."""
    r = rng(seed, "corpus")
    centres = r.normal(0.0, 1.0, (n_clusters, dim))
    label = np.concatenate([np.arange(n_clusters),
                            r.integers(0, n_clusters, n - n_clusters)])
    vecs = centres[label] + r.normal(0.0, 0.35, (n, dim))
    return vecs.astype(np.float32), centres


def query_vectors(seed: int, batch_no: int, base: np.ndarray,
                  count: int) -> np.ndarray:
    """Perturbed copies of ``count`` seeded corpus rows."""
    r = rng(seed, "queries", batch_no)
    rows = r.choice(len(base), count, replace=False)
    noise = r.normal(0.0, 0.1, (count, base.shape[1]))
    return (base[rows] + noise).astype(np.float32)


def append_vectors(seed: int, batch_no: int, centres: np.ndarray,
                   count: int) -> np.ndarray:
    """A batch of new vectors drawn from the corpus clusters."""
    r = rng(seed, "append", batch_no)
    label = r.integers(0, len(centres), count)
    vecs = centres[label] + r.normal(0.0, 0.35, (count, centres.shape[1]))
    return vecs.astype(np.float32)
