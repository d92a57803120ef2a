"""Seeded TPC-H-shaped source tables for the pipeline benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
``customer`` / ``orders`` / ``lineitem`` parquet files from ``--seed``:
the same seed and scale give byte-identical inputs.  Shapes follow the
TPC-H schema at the given scale factor (sf 0.1 = 15k customers, 150k
orders, ~600k line items), one single-file table each.  Money columns
are DECIMAL(15,2) as in the TPC-H spec, so sums are exact in both Spark
and the DuckDB oracle and content hashes can match bit for bit.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
WORDS = (
    "furiously carefully quickly slyly blithely express regular final "
    "ironic pending special bold even silent unusual deposits packages "
    "requests accounts theodolites instructions foxes pinto beans ideas"
).split()
EPOCH = dt.date(1992, 1, 1)
DAYS = (dt.date(1998, 8, 2) - EPOCH).days
MONEY = pa.decimal128(15, 2)


def _comments(rng: np.random.Generator, n_pool: int = 2048) -> np.ndarray:
    lens = rng.integers(3, 9, n_pool)
    return np.array(
        [" ".join(rng.choice(WORDS, k)) for k in lens], dtype=object
    )


def _cents(values: np.ndarray) -> pa.Array:
    """Integer cents -> exact DECIMAL(15,2), built from the unscaled
    128-bit little-endian words so no per-value Python object exists."""
    v = np.asarray(values, dtype=np.int64)
    words = np.empty((len(v), 2), dtype=np.int64)
    words[:, 0] = v
    words[:, 1] = np.where(v < 0, -1, 0)
    return pa.Array.from_buffers(
        MONEY, len(v), [None, pa.py_buffer(words.tobytes())]
    )


def _dates(days: np.ndarray) -> pa.Array:
    """Day offsets from EPOCH -> DATE."""
    since_1970 = (days + (EPOCH - dt.date(1970, 1, 1)).days).astype(np.int32)
    return pa.array(since_1970).cast(pa.date32())


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write customer/orders/lineitem parquet under ``out_dir``; return
    the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pool = _comments(rng)
    n_cust = max(150, int(150_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng.integers(-99_999, 999_999, n_cust)),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )

    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = rng.integers(0, DAYS - 151, n_ord)
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_odate = np.repeat(odate, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li)
    unit_cents = rng.integers(90_000, 200_000, n_li)
    price_cents = qty * unit_cents
    disc = rng.integers(0, 11, n_li)
    tax = rng.integers(0, 9, n_li)
    ship = l_odate + rng.integers(1, 122, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    cutoff = (dt.date(1995, 6, 17) - EPOCH).days
    status = np.where(ship > cutoff, "O", "F")
    rflag = np.where(
        receipt <= cutoff, rng.choice(np.array(["R", "A"]), n_li), "N"
    )
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(1, max(200, int(200_000 * scale)) + 1, n_li),
            "l_suppkey": rng.integers(1, max(10, int(10_000 * scale)) + 1, n_li),
            "l_linenumber": l_num,
            "l_quantity": _cents(qty * 100),
            "l_extendedprice": _cents(price_cents),
            "l_discount": _cents(disc),
            "l_tax": _cents(tax),
            "l_returnflag": rflag,
            "l_linestatus": status,
            "l_shipdate": _dates(ship),
            "l_shipmode": rng.choice(SHIPMODES, n_li),
            "l_comment": pool[rng.integers(0, len(pool), n_li)],
        }
    )

    # order total = sum of its lines' charged prices, in whole cents
    charged = price_cents * (100 - disc) * (100 + tax) // 10_000
    total = np.bincount(l_order, weights=charged, minlength=n_ord + 1)[1:]
    o_status = np.where(
        np.bincount(l_order, weights=(status == "F"), minlength=n_ord + 1)[1:]
        == lines,
        "F",
        np.where(
            np.bincount(l_order, weights=(status == "O"), minlength=n_ord + 1)[1:]
            == lines,
            "O",
            "P",
        ),
    )
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
            "o_orderstatus": o_status,
            "o_totalprice": _cents(total.astype(np.int64)),
            "o_orderdate": _dates(odate),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            "o_comment": pool[rng.integers(0, len(pool), n_ord)],
        }
    )

    counts = {}
    for name, table in (
        ("customer", customer),
        ("orders", orders),
        ("lineitem", lineitem),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
