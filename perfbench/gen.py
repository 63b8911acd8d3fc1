"""Seeded input generator for the benchmark.

Writes only the tables a workload reads, with the column names and
parquet types of the TPC-H-shaped fixtures the package maps onto its
retail schema (``plans/retail_views.py``): lineitem, orders, customer,
part, supplier, nation, region and embeddings.  The same seed and
settings give byte-identical files.

    python3 perfbench/gen.py --workload daily_etl --seed 1 --out DIR

Every knob is a field of ``Settings``; ``WORKLOADS`` holds each
workload's values and the reason for them.  ``--orders``,
``--key-skew``, ``--date-span-days`` and ``--dirty-share`` override the
workload's size, key skew, date span and dirty-line share.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1992, 1, 1)
EMB_DIM = 64
EMB_LABELS = 10
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
FINISHES = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
METALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]


@dataclasses.dataclass(frozen=True)
class Settings:
    orders: int              # orders rows; lineitem has 1-7 lines each
    customers: int
    parts: int
    suppliers: int
    key_skew: float          # Zipf exponent of customer/product keys
    date_span_days: int      # distinct order dates, from 1992-01-01
    dirty_share: float       # share of fact lines made dirty (see _facts)
    dq_fault: bool           # one store's lines all carry refund prices
    founding_vectors: int    # embeddings in the founding ANN index
    batch_vectors: int       # embeddings added to the corpus per day
    store_days: int          # date-ordered fact batches after founding
    founding_share: float    # share of the date span in the founding batch


# Why each workload's settings were chosen:
# - daily_etl: 15k orders (about 60k lines, the sf0.01 fixture scale)
#   keep one cold pipeline run near 20 s on 4 cores, so a run fits the
#   per-run budget; at 600k lines a cold run is about 31 s.  Zipf 1.1
#   skews customer/product keys the way retail sales are skewed, so the
#   gold aggregations see hot keys.  About 2.5k order dates matches the
#   TPC-H date span the fixtures use.  1% dirty lines exercise the
#   cleaning and DQ paths, and dq_fault makes the DQ verdict fail in a
#   known way (one store with negative revenue).
# - store_lifecycle: the same fact shape, split into a founding batch
#   (60% of the date span) and date-ordered daily batches, so ingest
#   sees small batches against a large store.  No DQ fault: the gold
#   store has no DQ step.  The embedding corpus starts at 500 vectors
#   (the sf0.01 fixture size) and grows by 50 a day; each day's index
#   is built over the corpus so far.
WORKLOADS: dict[str, Settings] = {
    "daily_etl": Settings(
        orders=15_000, customers=1_500, parts=2_000, suppliers=100,
        key_skew=1.1, date_span_days=2_526, dirty_share=0.01,
        dq_fault=True, founding_vectors=0, batch_vectors=0,
        store_days=0, founding_share=1.0,
    ),
    "store_lifecycle": Settings(
        orders=15_000, customers=1_500, parts=2_000, suppliers=100,
        key_skew=1.1, date_span_days=2_526, dirty_share=0.01,
        dq_fault=False, founding_vectors=500, batch_vectors=50,
        store_days=6, founding_share=0.6,
    ),
}

# The store whose lines all carry refund (negative) prices under
# dq_fault: its store_performance.total_revenue is negative, which the
# gold DQ rule ``non_negative(total_revenue)`` must flag.
FAULT_STORE = 1

# The tables each workload reads.  Every table is drawn either way, so
# the random stream, and with it each written file, does not depend on
# which tables a workload writes.
READS = {
    "daily_etl": {"lineitem", "orders", "customer", "part", "supplier",
                  "nation", "region"},
    "store_lifecycle": {"lineitem", "orders", "customer", "part",
                        "embeddings"},
}


def _zipf_keys(rng, n_keys: int, size: int, s: float) -> np.ndarray:
    """1-based keys with P(rank r) ~ 1/r^s, ranks shuffled over keys."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    ranks = rng.choice(n_keys, size=size, p=p)
    perm = rng.permutation(n_keys) + 1
    return perm[ranks].astype(np.int64)


def _ts(days: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    us = (days.astype(np.int64) * 86_400_000_000) + int(
        (EPOCH - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    mask = None if valid is None else ~valid
    return pa.array(us, type=pa.timestamp("us"), mask=mask)


class _Writer:
    """Writes the tables in ``wanted`` as ``<out>/<name>.parquet``."""

    def __init__(self, out: str, wanted: set[str]):
        self.out, self.wanted = out, wanted

    def __call__(self, table: pa.Table, name: str) -> None:
        if name in self.wanted:
            pq.write_table(table, os.path.join(self.out, f"{name}.parquet"),
                           compression="snappy")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _dims(rng, s: Settings, write: _Writer) -> np.ndarray:
    """customer, part, supplier, nation, region; returns part prices."""
    write(pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    }), "region")
    write(pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    }), "nation")
    ck = np.arange(1, s.customers + 1, dtype=np.int64)
    write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, s.customers)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
    }), "customer")
    pk = np.arange(1, s.parts + 1, dtype=np.int64)
    prices = _money(900 + (pk % 20001) / 10 + 100 * (pk % 1000) / 1000)
    write(pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, s.parts), rng.integers(1, 6, s.parts))],
        "p_type": [f"{TYPES[a]} {FINISHES[b]} {METALS[c]}" for a, b, c in
                   zip(rng.integers(0, 6, s.parts), rng.integers(0, 5, s.parts),
                       rng.integers(0, 5, s.parts))],
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": prices,
    }), "part")
    sk = np.arange(1, s.suppliers + 1, dtype=np.int64)
    write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, s.suppliers)),
    }), "supplier")
    return prices


def _facts(rng, s: Settings, prices: np.ndarray, write: _Writer) -> dict:
    """orders + lineitem.  Returns row counts and the injected faults."""
    n_o = s.orders
    okey = np.arange(1, n_o + 1, dtype=np.int64)
    odate = rng.integers(0, s.date_span_days, n_o)
    n_lines = rng.integers(1, 8, n_o)
    l_okey = np.repeat(okey, n_lines)
    l_odate = np.repeat(odate, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_line = (np.arange(len(l_okey)) - starts + 1).astype(np.int32)
    n = len(l_okey)
    part = _zipf_keys(rng, s.parts, n, s.key_skew)
    supp = rng.integers(1, s.suppliers + 1, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)  # >= 1: no x/0
    price = _money(qty * prices[part - 1])
    ship = l_odate + rng.integers(1, 122, n)

    # Dirty lines (each kind means the same thing to the Spark plans and
    # to the DuckDB oracles, so every check stays exact):
    # - missing ship date: dropped from the daily summary only;
    # - orphan product key: no part row, left-joined to NULL attributes;
    # - duplicated line: the same (order, line) twice, counted twice.
    n_dirty = int(n * s.dirty_share)
    dirty = rng.choice(n, size=n_dirty, replace=False)
    thirds = np.array_split(dirty, 3)
    ship_valid = np.ones(n, dtype=bool)
    ship_valid[thirds[0]] = False
    part[thirds[1]] = s.parts + 1 + rng.integers(0, 1000, len(thirds[1]))
    if s.dq_fault:
        price = np.where(supp == FAULT_STORE, -price, price)
    dup = np.sort(thirds[2])
    order = np.concatenate([np.arange(n), dup])
    order.sort(kind="stable")

    disc = np.round(rng.integers(0, 11, n) / 100, 2)
    tax = np.round(rng.integers(0, 9, n) / 100, 2)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    write(pa.table({
        "l_orderkey": l_okey[order],
        "l_partkey": part[order],
        "l_suppkey": supp[order],
        "l_linenumber": pa.array(l_line[order], pa.int32()),
        "l_quantity": qty[order],
        "l_extendedprice": price[order],
        "l_discount": disc[order],
        "l_tax": tax[order],
        "l_returnflag": flags[order].tolist(),
        "l_linestatus": status[order].tolist(),
        "l_shipdate": _ts(ship[order], ship_valid[order]),
    }), "lineitem")

    total = np.zeros(n_o)
    np.add.at(total, l_okey - 1, price)
    write(pa.table({
        "o_orderkey": okey,
        "o_custkey": _zipf_keys(rng, s.customers, n_o, s.key_skew),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)].tolist(),
        "o_totalprice": _money(total),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    }), "orders")
    return {
        "lineitem_rows": int(len(order)),
        "orders_rows": n_o,
        "dirty_lines": n_dirty,
        "dq_fault_store": FAULT_STORE if s.dq_fault else None,
        "ship_days": [int(ship.min()), int(ship.max())],
    }


def _embeddings(rng, s: Settings, write: _Writer) -> int:
    """Label-clustered 64-d float vectors with the fixtures' spread
    (coordinate std about 0.125): founding ids first, then the daily
    batches in id order."""
    n = s.founding_vectors + s.batch_vectors * s.store_days
    centers = rng.normal(0.0, 0.09, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    vec = (centers[label] + rng.normal(0.0, 0.087, (n, EMB_DIM))).astype(
        np.float32
    )
    write(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), "embeddings")
    return n


def store_day_bounds(s: Settings, ship_days: list[int]) -> list[int]:
    """Day offsets (from 1992-01-01) that split the fact by ship date:
    founding = [.., b0) plus every line without a ship date; day i =
    [b_i-1, b_i); the last bound is past the last ship date."""
    lo, hi = ship_days[0], ship_days[1] + 1
    b0 = lo + int((hi - lo) * s.founding_share)
    step = (hi - b0) / s.store_days
    return [b0] + [b0 + round(step * (i + 1)) for i in range(s.store_days)]


def generate(workload: str, seed: int, out: str, **overrides) -> dict:
    """Write the workload's tables into ``out``; return the manifest.
    ``overrides`` replace fields of the workload's ``Settings``."""
    s = dataclasses.replace(WORKLOADS[workload], **overrides)
    os.makedirs(out, exist_ok=True)
    write = _Writer(out, READS[workload])
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    prices = _dims(rng, s, write)
    manifest = {"workload": workload, "seed": seed,
                "settings": dataclasses.asdict(s)}
    manifest.update(_facts(rng, s, prices, write))
    if s.founding_vectors:
        manifest["embedding_rows"] = _embeddings(rng, s, write)
    if s.store_days:
        manifest["day_bounds"] = store_day_bounds(s, manifest["ship_days"])
    return manifest


# The settings gen.py exposes on its command line.
CLI_SETTINGS = {"orders": int, "key_skew": float, "date_span_days": int,
                "dirty_share": float}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    for name, kind in CLI_SETTINGS.items():
        ap.add_argument("--" + name.replace("_", "-"), dest=name, type=kind,
                        help=f"override the workload's {name}")
    args = vars(ap.parse_args())
    base = {k: args.pop(k) for k in ("workload", "seed", "out")}
    overrides = {k: v for k, v in args.items() if v is not None}
    print(json.dumps(generate(**base, **overrides)))


if __name__ == "__main__":
    main()
