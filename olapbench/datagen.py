"""Seeded TPC-H-shaped tables for the hierarchy benchmark.

Writes region, nation, customer, part, orders and lineitem as one parquet
file each, with only the columns the hierarchy path reads. The same
(seed, scale) always yields the same files; row counts follow TPC-H's
per-scale-factor cardinalities, so ``scale=0.1`` gives 15,000 customers
and 20,000 parts. The engine sees nothing but these files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
N_BRANDS = 25
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_WORDS = ("red", "blue", "small", "large", "ring", "widget", "bolt", "gear", "plate", "rod")

# fact dates span 1995-01-01 .. 2001-12-31; ship dates trail by 1-121 days
DATE_LO = datetime.date(1995, 1, 1)
DATE_HI = datetime.date(2001, 12, 31)
_EPOCH = datetime.date(1970, 1, 1)


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": max(1, round(150_000 * scale)),
        "part": max(1, round(200_000 * scale)),
        "orders": max(1, round(1_500_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so decimal(18,2) sums on both engines are exact
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    sizes = table_sizes(scale)
    n_cust, n_part, n_ord = sizes["customer"], sizes["part"], sizes["orders"]

    region = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array(
                rng.permutation(np.arange(N_NATIONS) % len(REGIONS)), pa.int32()
            ),
        }
    )
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": custkey,
            "c_name": [f"Customer#{k:09d}" for k in custkey],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), pa.int32()),
        }
    )
    partkey = np.arange(1, n_part + 1, dtype=np.int64)
    w1 = rng.integers(0, len(_WORDS), n_part)
    w2 = rng.integers(0, len(_WORDS), n_part)
    part_price = _money(rng, 900, 2000, n_part)
    part = pa.table(
        {
            "p_partkey": partkey,
            "p_name": [f"{_WORDS[a]} {_WORDS[b]}" for a, b in zip(w1, w2)],
            "p_brand": [f"Brand#{b:02d}" for b in rng.integers(1, N_BRANDS + 1, n_part)],
            "p_type": [TYPES[t] for t in rng.integers(0, len(TYPES), n_part)],
        }
    )
    span = (DATE_HI - DATE_LO).days + 1
    lo = (DATE_LO - _EPOCH).days
    orderdate = lo + rng.integers(0, span, n_ord)
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
            "o_orderdate": pa.array(orderdate.astype(np.int32), pa.date32()),
            "o_totalprice": _money(rng, 800, 400_000, n_ord),
            "o_clerkkey": rng.integers(1, max(10, round(1000 * scale)) + 1, n_ord).astype(np.int64),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    l_part = rng.integers(1, n_part + 1, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    shipdate = np.repeat(orderdate, lines) + rng.integers(1, 122, n_line)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(1, max(2, n_part // 20) + 1, n_line).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * part_price[l_part - 1], 2),
            "l_shipdate": pa.array(shipdate.astype(np.int32), pa.date32()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


# synthetic hierarchy shapes: node count and the depth bound to build with
SYNTHETIC_SHAPES = {
    "binary": (2**14 - 1, 32),  # complete binary tree, depth 14
    "random": (10_000, 300),  # random recursive tree, depth ~ e ln n
    "chain": (256, 300),  # one 256-deep path
}


def synthetic_nodes(shape: str, rng: np.random.Generator) -> pa.Table:
    """Adjacency list of a synthetic tree with seeded node labels, so
    sibling order (by natural key) differs from seed to seed."""
    n = SYNTHETIC_SHAPES[shape][0]
    idx = np.arange(n)
    if shape == "binary":
        parent = (idx - 1) // 2
    elif shape == "random":
        parent = np.concatenate([[-1], rng.integers(0, np.maximum(idx[1:], 1))])
    else:
        parent = idx - 1
    label = rng.permutation(n).astype(np.int64)
    node_id = np.array([f"s:{k:09d}" for k in label], dtype=object)
    return pa.table(
        {
            "node_id": node_id,
            "node_natural_key": label,
            "node_name": [f"{shape} node {k}" for k in label],
            "level_name": pa.array(["Synthetic"] * n),
            "parent_node_id": pa.array([None] + list(node_id[parent[1:]]), pa.string()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
