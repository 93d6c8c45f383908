"""Seeded synthetic tables with the schemas of the repository's TPC-H-like
fixtures (``region nation customer supplier part orders lineitem events
documents embeddings``).

The benchmark runs in a bare checkout, so it cannot read a fixture
directory; it writes its own Parquet files from the seed instead. Row
counts scale with ``sf`` the way the fixtures do (lineitem ~6M x sf), and
value domains follow them: money in whole cents, discounts and taxes in
hundredths, dates in the fixtures' ranges, a 64-dim embedding with
``vec_id = 0`` as the query vector, and documents drawn from a small
vocabulary with every tenth document long enough for near-dup variants.
The same ``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark scan sort hash join agg group filter window row "
    "column table key value query stream batch merge line part order "
    "customer vector fast slow big small"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000


def _days(start: dt.date, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days
    us = (base + rng.integers(0, n_days, n)).astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n_orders = max(int(1_500_000 * sf), 10)
    n = max(int(6_000_000 * sf), 10)
    n_part = max(int(200_000 * sf), 400)
    n_supp = max(int(10_000 * sf), 10)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _days(dt.date(1995, 1, 2), 2500, rng, n),
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(int(50_000 * sf), 20)
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 90, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(words[pos : pos + k]))
        pos += k
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(int(1_000_000 * sf), 20)
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(int(15_000 * sf), 5), n),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": _cents(rng, 0.0, 560.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(int(20_000 * sf), 20)
    vecs = (rng.standard_normal((n, 64)) * 0.1).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 400)
    n_orders = max(int(1_500_000 * sf), 10)
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _cents(rng, -999.0, 9999.0, n_cust),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _cents(rng, -999.0, 9999.0, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{VOCAB[i % 30]} {VOCAB[i * 7 % 30]}" for i in range(n_part)],
                "p_brand": [f"Brand#{i % 25 + 1}" for i in range(n_part)],
                "p_type": pa.array(np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO"])[rng.integers(0, 5, n_part)]),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": _cents(rng, 900.0, 2100.0, n_part),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders),
                "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)]),
                "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_orders),
                "o_orderdate": _days(dt.date(1995, 1, 1), 2400, rng, n_orders),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
            }
        ),
        "lineitem": lineitem(rng, sf),
        "events": _events(rng, sf),
        "documents": _documents(rng, sf),
        "embeddings": _embeddings(rng, sf),
    }


def write(tables_: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables_.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
