"""Seeded synthetic copy of the engine's test corpus.

The engine's queries read ten parquet tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). The benchmark cannot rely on a
prepared corpus on the machine that runs it, so it writes one from a seed,
with the column names, parquet types and row counts that the parquet footers
of the engine's sf0.001, sf0.01 and sf0.1 test corpora show: timestamps are
``timestamp[us]`` (``FIXTURES.md`` says ms and ns, which the footers no
longer do), ``events.ts`` rises with ``event_id``, and ``documents`` and
``embeddings`` keep 500 rows up to sf0.01. Value domains follow
``FIXTURES.md``; the values themselves are synthetic.

Every table comes from its own ``numpy`` generator derived from
``(seed, table)``, so one table's row count never shifts another's values.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (region/nation fixed; the text
    and vector tables never drop below 500 rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _days(rng: np.random.Generator, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days
    base = np.datetime64(first, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name: str, n: int, counts: dict[str, int], rng: np.random.Generator) -> pa.Table:
    if name == "region":
        return pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        )
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table(
            {
                "n_nationkey": keys,
                "n_name": [f"NATION_{k}" for k in keys],
                "n_regionkey": keys % 5,
            }
        )
    keys = np.arange(n, dtype=np.int64)
    if name == "customer":
        return pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                "c_acctbal": _money(rng, n, -999.99, 9999.99),
                "c_mktsegment": rng.choice(_SEGMENTS, n),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": keys,
                "s_name": [f"Supplier#{k:09d}" for k in keys],
                "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                "s_acctbal": _money(rng, n, -999.99, 9999.99),
            }
        )
    if name == "part":
        return pa.table(
            {
                "p_partkey": keys,
                "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                "p_type": rng.choice(_PTYPES, n),
                "p_size": rng.integers(1, 51, n, dtype=np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, counts["customer"], n, dtype=np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n),
                "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": rng.choice(_PRIORITIES, n),
            }
        )
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": rng.integers(0, counts["orders"], n, dtype=np.int64),
                "l_partkey": rng.integers(0, counts["part"], n, dtype=np.int64),
                "l_suppkey": rng.integers(0, counts["supplier"], n, dtype=np.int64),
                "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n),
                "l_linestatus": rng.choice(["F", "O"], n),
                "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        )
    if name == "events":
        # Exponential gaps spread n events over January 2024, microsecond
        # precision, in event_id order.
        gaps = rng.exponential(30 * 86_400e6 / n, n)
        ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
        return pa.table(
            {
                "event_id": keys,
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, max(1, counts["customer"] // 10), n, dtype=np.int64),
                "event_type": rng.choice(_EVENT_TYPES, n),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )
    if name == "documents":
        # Word soup over a 30-word vocabulary, with exact copies and
        # truncated "... dup" near-copies of earlier documents so the
        # dedup and similarity queries have pairs to find.
        texts: list[str] = []
        for i in range(n):
            r = rng.random()
            if i > 0 and r < 0.05:
                texts.append(texts[int(rng.integers(0, i))])
            elif i > 0 and r < 0.10:
                words = texts[int(rng.integers(0, i))].split()
                texts.append(" ".join(words[: max(5, len(words) // 2)] + ["dup"]))
            else:
                texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
        return pa.table(
            {
                "doc_id": keys,
                "text": texts,
                "lang": rng.choice(_LANGS, n, p=_LANG_P),
                "source": [f"src{k % 20}" for k in keys],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
    if name == "embeddings":
        labels = rng.integers(0, 10, n, dtype=np.int32)
        centers = rng.normal(0.0, 1.0, (10, _DIM))
        vecs = 0.5 * centers[labels] + rng.normal(0.0, 1.0, (n, _DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table(
            {
                "vec_id": keys,
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": labels,
            }
        )
    raise KeyError(name)


def write_corpus(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one ``<table>.parquet`` per table under ``out_dir`` and return
    the row counts. Existing files of the same (sf, seed) are reused."""
    counts = row_counts(sf)
    stamp = os.path.join(out_dir, f".complete-{sf}-{seed}")
    if os.path.exists(stamp):
        return counts
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        t = _table(name, counts[name], counts, _rng(seed, name))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(stamp, "w").close()
    return counts
