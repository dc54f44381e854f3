"""Seeded inputs: TPC-H-shaped tables, an events stream and a document
corpus, generated with numpy from the workload seed. The same seed gives
the same tables; the column names, types and value domains follow the
repository's TPC-H-ish fixtures, so registry queries run on them as is."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


ORDER_DAY0 = _us(dt.datetime(1992, 1, 1)) // DAY_US
ORDER_DAYS = (dt.datetime(1998, 8, 2) - dt.datetime(1992, 1, 1)).days
EVENT_T0 = _us(dt.datetime(2024, 1, 1))
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
VOCAB = (
    "a the data table query scan filter join hash sort window group agg "
    "order line part key value row column batch stream merge spark fast "
    "slow big small customer vector"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — one stream per table,
    client and batch, so draws in one never shift another."""
    return np.random.default_rng([seed, *stream])


def _pick(g: np.random.Generator, choices, n: int) -> pa.Array:
    idx = pa.array(g.integers(0, len(choices), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).cast(pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def tpch(seed: int, sf: float) -> dict[str, pa.Table]:
    """customer, orders and lineitem at scale factor ``sf`` (sf 0.1 is
    15k customers, 150k orders, ~600k line items). Line items come out
    sorted by ``l_orderkey``."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    g = rng(seed, 1)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(g, SEGMENTS, n_cust),
    })
    g = rng(seed, 2)
    odays = ORDER_DAY0 + g.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(g, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(odays * DAY_US),
        "o_orderpriority": _pick(g, PRIORITIES, n_ord),
    })
    g = rng(seed, 3)
    lines = g.integers(1, 8, n_ord)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = g.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(g.integers(0, max(1, int(200_000 * sf)), n).astype(np.int64)),
        "l_suppkey": pa.array(g.integers(0, max(1, int(10_000 * sf)), n).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * g.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(g, ("A", "N", "R"), n),
        "l_linestatus": _pick(g, ("F", "O"), n),
        "l_shipdate": _ts((np.repeat(odays, lines) + g.integers(1, 122, n)) * DAY_US),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def events(g: np.random.Generator, n: int, first_id: int, n_users: int = 1500) -> pa.Table:
    """``n`` events with ids ``first_id .. first_id + n - 1``."""
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(EVENT_T0 + np.sort(g.integers(0, 30 * DAY_US, n))),
        "user_id": pa.array(g.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(g, EVENT_TYPES, n),
        "value": pa.array(np.round(g.exponential(50.0, n), 2) + 0.01),
        "props": _pick(g, tuple(f'{{"k": {k}}}' for k in range(100)), n),
    })


def documents(seed: int, n: int) -> pa.Table:
    """A corpus over a small vocabulary in which about one document in
    six is a lightly edited copy of an earlier one, so the near-duplicate
    operators have pairs to find."""
    g = rng(seed, 4)
    texts: list[list[str]] = []
    for i in range(n):
        if i > 10 and g.random() < 0.15:
            words = list(texts[int(g.integers(0, i))])
            for _ in range(int(g.integers(1, 4))):
                words[int(g.integers(0, len(words)))] = VOCAB[int(g.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in g.integers(0, len(VOCAB), int(g.integers(8, 90)))]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": _pick(g, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
