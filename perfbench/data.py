"""Seeded input generators. The same seed gives the same rows.

Shapes follow the TPC-H-like star schema and `events` stream the
program's catalog knows (catalog/tables.py TABLE_NAMES), at the sizes
of the sf0.1 set: 600k lineitem, 150k orders and 100k events rows.
Every distribution is fixed; the seed only changes which values are
drawn, so the cost of a workload does not depend on the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 2_000
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["emea", "amer", "apac", "latam", "anz", "nordics", "iberia", "dach"]
TAGS = [f"t{i:02d}" for i in range(40)]
# text vocabulary: plain lowercase tokens, none an analyzer stop word
WORDS = [
    "amber", "basalt", "cobalt", "delta", "ember", "fjord", "granite",
    "harbor", "indigo", "juniper", "kelp", "lumen", "magma", "nectar",
    "onyx", "pylon", "quartz", "raven", "sierra", "tundra", "umber",
    "vortex", "willow", "xenon", "yarrow", "zephyr", "alpine", "boreal",
    "cinder", "dune", "estuary", "fern",
]
DAY_US = 86_400 * 1_000_000
EPOCH_1992 = int(pd.Timestamp("1992-01-01").value // 1000)
EPOCH_2024 = int(pd.Timestamp("2024-01-01").value // 1000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def write_olap_tables(data_dir: str, seed: int) -> dict[str, int]:
    """lineitem, orders and events parquet files; returns user bytes per
    table (the in-memory Arrow size of the rows the user supplied)."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    orderdate = EPOCH_1992 + rng.integers(0, 2400, N_ORDERS) * DAY_US
    orders = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, N_ORDERS),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    okey = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, N_LINEITEM),
        "l_suppkey": rng.integers(0, 1_000, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(orderdate[okey] + rng.integers(1, 120, N_LINEITEM) * DAY_US),
    })
    ev = event_frame(rng, N_EVENTS)
    events = pa.table({
        "event_id": ev["event_id"].to_numpy(),
        "ts": _ts(ev["ts_us"].to_numpy()),
        "user_id": ev["user_id"].to_numpy(),
        "event_type": ev["event_type"].to_numpy(),
        "value": ev["value"].to_numpy(),
        "props": ev["props"].to_numpy(),
    })
    sizes = {}
    for name, t in (("orders", orders), ("lineitem", lineitem), ("events", events)):
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"), row_group_size=100_000)
        sizes[name] = t.nbytes
    return sizes


def event_frame(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Rows shaped like the `events` table plus the columns the segment
    store indexes: a region (star-tree dimension), integer cents (exact
    star-tree sums) and a short text message."""
    user = rng.integers(0, N_USERS, n)
    tag = rng.integers(0, len(TAGS), n)
    k = rng.integers(0, 100, n)
    words = rng.integers(0, len(WORDS), (n, 4))
    vocab = np.array(WORDS)
    msg = [" ".join(row) for row in vocab[words]]
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n)),
        "user_id": user.astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "region": rng.choice(REGIONS, n),
        "value": np.round(rng.uniform(0, 500, n), 2),
        "cents": rng.integers(0, 50_000, n).astype(np.int64),
        "props": [json.dumps({"k": int(a), "tag": TAGS[b]}) for a, b in zip(k, tag)],
        "msg": msg,
    })

