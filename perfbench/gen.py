"""Seeded generator of the benchmark's input lakes.

Writes the star-schema tables the program reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each, one row group per file) with the same column names, types and
value domains as the TPC-H-ish test data the registry is verified on.
The same seed always writes the same bytes.

`lineitem.parquet` is a directory holding one file per ship month. When
`twins_dir` is given it receives, for every month, the original file and a
corrected twin whose `l_quantity` is one higher: the late-correction
workload lands those files in the lake.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SHIP_LO = dt.date(1995, 1, 2)


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _days(rng, lo, hi, n):
    """n uniform dates in [lo, hi] as microsecond timestamps."""
    span = (hi - lo).days + 1
    days = rng.integers(0, span, n) + (lo - dt.date(1970, 1, 1)).days
    return (days.astype(np.int64) * 86_400_000_000).astype("datetime64[us]")


def _round2(x):
    return np.round(x, 2)


def lineitem(rng, n, n_orders, n_parts, n_supp, ship_hi):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_round2(rng.uniform(900.0, 105000.0, n))),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, SHIP_LO, ship_hi, n), pa.timestamp("us")),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: a prefix of an earlier document plus a marker
            src = texts[int(rng.integers(0, i))].split()
            words = src[:max(5, len(src) * 2 // 3)] + ["dup"]
        else:
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang = langs[np.minimum(rng.geometric(0.55, n) - 1, 4)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0.0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def events(rng, n, n_users):
    gaps = rng.exponential(259.0, n)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + (np.cumsum(gaps) * 1e6).astype(np.int64).astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": pa.array(np.maximum(0.01, _round2(rng.exponential(50.0, n)))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir, sf, seed, months, twins_dir=None):
    """Write one lake at scale factor `sf` into `out_dir`, with ship dates
    in the `months` months from January 1995; returns the number of
    lineitem rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_parts = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vecs = 500 if sf <= 0.01 else int(20_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_supp))),
    }), f"{out_dir}/supplier.parquet")
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(types[rng.integers(0, 6, n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 1)),
    }), f"{out_dir}/part.parquet")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_orders)]),
    }), f"{out_dir}/orders.parquet")
    _write(events(rng, n_events, max(10, int(15_000 * sf))), f"{out_dir}/events.parquet")
    _write(documents(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(embeddings(rng, n_vecs), f"{out_dir}/embeddings.parquet")

    ship_hi = dt.date(1995 + months // 12, 1 + months % 12, 1) - dt.timedelta(days=1)
    li = lineitem(rng, n_line, n_orders, n_parts, n_supp, ship_hi)
    lake = f"{out_dir}/lineitem.parquet"
    os.makedirs(lake, exist_ok=True)
    if twins_dir:
        os.makedirs(twins_dir, exist_ok=True)
    ship = li.column("l_shipdate").to_numpy()
    month = ship.astype("datetime64[M]")
    for m in np.unique(month):
        part = li.filter(pa.array(month == m))
        name = str(m)  # YYYY-MM
        _write(part, f"{lake}/{name}.parquet")
        if twins_dir:
            _write(part, f"{twins_dir}/{name}.original.parquet")
            q = part.column("l_quantity").to_numpy() + 1.0
            fixed = part.set_column(part.schema.get_field_index("l_quantity"),
                                    "l_quantity", pa.array(q))
            _write(fixed, f"{twins_dir}/{name}.corrected.parquet")
    return n_line
