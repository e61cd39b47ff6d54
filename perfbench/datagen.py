"""Seeded synthetic fixture generator.

The engine's tests and ``bench.py`` read the deterministic fixture tables
described in TESTDATA.md and FIXTURES.md. Those tables are not part of the
repository, and the benchmark reads nothing outside its checkout, so it
writes its own copy: the ten tables (``region`` … ``embeddings``) as
parquet, with the fixtures' column names, types, row counts per scale
factor and value distributions:

- key ranges and foreign keys as in the fixtures (every ``events.user_id``
  is one of the first tenth of the customers; no event is orphaned);
- the fixtures' categorical domains and their uniform shares, including
  the part-name words;
- ``events.value`` exponential with mean 50 rounded to cents, ``ts``
  sorted by ``event_id`` over the 30 days of January 2024;
- documents of 10-100 words from the fixtures' 30-word vocabulary, one
  in 20 a near-duplicate (another document's text plus ``" dup"``), one
  in 600 an exact duplicate;
- embeddings as random 64-d unit vectors with ten uniform labels.

``perfbench/tests/test_datagen.py`` compares these statistics with the
repository's fixture directory when one is present. The same ``seed``
always yields identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red",
                   "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark sort line window data column join small customer query big "
         "filter order group stream vector").split()
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30
EMBEDDING_DIM = 64
NEAR_DUP_EVERY = 20
EXACT_DUP_EVERY = 600


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return pa.array(base + rng.integers(0, span_days, n) * day,
                    type=pa.timestamp("us"))


def _make(name: str, n: int, sizes: dict[str, int],
          rng: np.random.Generator) -> pa.Table:
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        keys = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": keys,
                         "n_name": [f"NATION_{k}" for k in keys],
                         "n_regionkey": (keys % 5).astype(np.int32)})
    if name == "customer":
        keys = np.arange(n, dtype=np.int64)
        return pa.table({
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        })
    if name == "supplier":
        keys = np.arange(n, dtype=np.int64)
        return pa.table({
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        keys = np.arange(n, dtype=np.int64)
        names = (np.array(PART_ADJECTIVES)[
                     rng.integers(0, len(PART_ADJECTIVES), n)].astype(object)
                 + " "
                 + np.array(PART_NOUNS)[rng.integers(0, len(PART_NOUNS), n)])
        return pa.table({
            "p_partkey": keys,
            "p_name": names.astype(str),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, sizes["customer"], n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500_000, n),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        })
    if name == "lineitem":
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, sizes["orders"], n),
            "l_partkey": rng.integers(0, sizes["part"], n),
            "l_suppkey": rng.integers(0, sizes["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n),
        })
    if name == "events":
        users = max(1, sizes["customer"] // 10)
        span_us = EVENTS_DAYS * 86_400_000_000
        offsets = np.sort(rng.integers(0, span_us, n))
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(np.datetime64(EVENTS_START, "us") + offsets,
                           type=pa.timestamp("us")),
            "user_id": rng.integers(0, users, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        lengths = rng.integers(10, 101, n)
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
        # near- and exact duplicates, as crawled corpora have
        # (each copy from its own source, which is no copy itself)
        n_near, n_exact = n // NEAR_DUP_EVERY, n // EXACT_DUP_EVERY
        picked = rng.choice(n, size=2 * (n_near + n_exact), replace=False)
        copies, sources = np.split(picked, 2)
        for k, (i, src) in enumerate(zip(copies, sources)):
            texts[i] = texts[src] + (" dup" if k < n_near else "")
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_WEIGHTS)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        vecs = rng.standard_normal((n, EMBEDDING_DIM)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        flat = pa.array(vecs.reshape(-1), type=pa.float32())
        offsets = pa.array(np.arange(0, n * EMBEDDING_DIM + 1, EMBEDDING_DIM,
                                     dtype=np.int32))
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        })
    raise KeyError(name)


def write_fixture(out_dir: str, seed: int, sf: float,
                  tables: tuple[str, ...] = ALL_TABLES) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; return row counts.

    Each table draws from its own generator stream, derived from ``seed``
    and the table's name, so generating a subset of tables gives the same
    rows for those tables as generating all of them."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    counts = {}
    for name in tables:
        rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
        table = _make(name, sizes[name], sizes, rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
