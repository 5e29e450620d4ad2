"""Seeded input generation for the benchmark workloads.

Every input the program sees is made here from the run's ``--seed``:
TPC-H-shaped tables (written as plain parquet, which both Spark and the
DuckDB oracle read), the document micro-batches of the stream workload
with a planted near-duplicate share, and the per-operation literals of
each workload's operation mix. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
EPOCH = dt.date(1992, 1, 1)
DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span

# Scale of the generated TPC-H-shaped tables: 1 unit is TPC-H sf0.001,
# 1,500 orders (~6,000 lineitems), 150 customers and 10 suppliers.
ORDERS_PER_UNIT = 1500


def _date_col(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int32"), type=pa.int32()).cast(pa.date32())


def _days_since_epoch(d: dt.date) -> int:
    return (d - EPOCH).days + (EPOCH - dt.date(1970, 1, 1)).days


def tpch_tables(seed: int, units: int) -> dict[str, pa.Table]:
    """TPC-H-shaped region/nation/supplier/customer/orders/lineitem at
    ``units`` x sf0.001."""
    rng = np.random.default_rng([seed, 1])
    n_orders = ORDERS_PER_UNIT * units
    n_cust = 150 * units
    n_supp = max(10, 10 * units)
    base = _days_since_epoch(EPOCH)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int64()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_phone": [
            f"{a:02d}-{b:03d}-{c:03d}-{d:04d}"
            for a, b, c, d in zip(
                rng.integers(10, 35, n_cust), rng.integers(100, 999, n_cust),
                rng.integers(100, 999, n_cust), rng.integers(1000, 9999, n_cust),
            )
        ],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int64()),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
    })
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    odays = rng.integers(0, DAYS - 151, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, n_orders), 2),
        "o_orderdate": _date_col(base + odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
        "o_shippriority": pa.array(np.zeros(n_orders, dtype=np.int64)),
    })
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    l_okey = np.repeat(okeys, per_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = np.repeat(odays, per_order) + rng.integers(1, 122, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _date_col(base + ship),
        "l_shipmode": [SHIPMODES[i] for i in rng.integers(0, 7, n_li)],
    })
    return {
        "region": region, "nation": nation, "supplier": supplier,
        "customer": customer, "orders": orders, "lineitem": lineitem,
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as ``<out_dir>/<name>.parquet``; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


# ---------------------------------------------------------------- documents
LANGS = ["en", "de", "fr", "es"]
_VOCAB_SIZE = 4000


def document_batches(
    seed: int, n_batches: int, batch_docs: int, dup_share: float = 0.2,
    words: int = 60,
) -> tuple[list[list[tuple]], set[tuple[int, int]]]:
    """``n_batches`` micro-batches of (doc_id, lang, text) rows.

    A ``dup_share`` of each batch is a planted near-duplicate: a copy of an
    earlier document (same batch or an earlier one) with one word changed,
    which keeps the 5-shingle Jaccard similarity above 0.8 at ``words``
    >= 60 (one changed word touches at most 5 of the ``words - 4``
    shingles). Every other document draws its words uniformly from
    a 4,000-word vocabulary, so unplanted pairs sit far below the
    threshold. Returns the batches and the planted (earlier, later) id
    pairs.
    """
    rng = np.random.default_rng([seed, 2])
    batches: list[list[tuple]] = []
    texts: dict[int, list[str]] = {}
    planted: set[tuple[int, int]] = set()
    next_id = 1
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_docs):
            doc_id = next_id
            next_id += 1
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            if texts and rng.random() < dup_share:
                src = int(rng.integers(1, doc_id))
                if src in texts:
                    toks = list(texts[src])
                    toks[int(rng.integers(0, len(toks)))] = f"x{doc_id}"
                    planted.add((src, doc_id))
                    texts[doc_id] = toks
                    batch.append((doc_id, lang, " ".join(toks)))
                    continue
            toks = [f"w{int(w)}" for w in rng.integers(0, _VOCAB_SIZE, words)]
            texts[doc_id] = toks
            batch.append((doc_id, lang, " ".join(toks)))
        batches.append(batch)
    return batches, planted
