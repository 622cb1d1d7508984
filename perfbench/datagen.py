"""Seeded synthetic inputs shaped like the TPC-H-ish fixture tables.

The benchmark never reads fixtures from outside its checkout: every table
is generated here from ``(seed, sf)`` with NumPy and written as one parquet
file per table, with the same schema and value domains as the fixture
tables the registry queries and their DuckDB oracles were written against
(FIXTURES.md, family A). Row counts scale linearly with ``sf``; the same
arguments always give byte-identical tables.

Value domains that queries depend on:

- dates: orders 1995-01-01 .. 2001-08-01 (midnight timestamps), shipdate
  1..95 days after the order;
- money: two-decimal doubles; discount 0.00..0.10, tax 0.00..0.08;
- documents: 10..100 words drawn from a 30-word vocabulary that includes
  the stopwords ``the`` and ``a``; 5% are near duplicates (an earlier
  document's text plus `` dup``); ``source`` cycles over 20 sources;
- embeddings: 64-d unit vectors (float32), labels 0..9;
- events: January 2024, five event types, JSON ``{"k": n}`` props.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EPOCH_DAY_1995 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1
US_PER_DAY = 86_400_000_000


def _n(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (lineitem: about 4 per
    order, drawn)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": _n(150_000, sf),
        "supplier": _n(10_000, sf),
        "part": _n(200_000, sf),
        "orders": _n(1_500_000, sf),
        "events": _n(1_000_000, sf),
        "documents": _n(50_000, sf, floor=500),
        "embeddings": _n(20_000, sf, floor=500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _ts_days(days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) + EPOCH_DAY_1995) * US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``(seed, sf)``."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = sizes(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    retail = np.round(900.0 + (np.arange(npart) % 12_000) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })

    no = n["orders"]
    odays = rng.integers(0, ORDER_DAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts_days(odays),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })

    # 1..7 lines per order (mean 4), numbered 1..n, so (orderkey,
    # linenumber) is a key as in TPC-H; the total is about 6M * sf
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    lok = np.repeat(np.arange(no), per)
    lnum = np.arange(nl) - np.repeat(np.cumsum(per) - per, per) + 1
    lpk = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk] * rng.uniform(0.02, 1.0, nl), 2),
        "l_discount": np.round(np.clip(np.rint(rng.uniform(-0.5, 10.5, nl)), 0, 10) / 100, 2),
        "l_tax": np.round(np.clip(np.rint(rng.uniform(-0.5, 8.5, nl)), 0, 8) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts_days(odays[lok] + rng.integers(1, 96, nl)),
    })

    ne = n["events"]
    start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * US_PER_DAY
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + start
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne // 67), ne), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(["en", "en", "de", "es", "fr", "zh"], dtype=object)[
            np.minimum(rng.integers(0, 7, nd), 5)
        ]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
