"""Seeded input generator mirroring FIXTURES.md.

``generate(out_dir, sf, seed)`` writes the ten fixture tables as parquet
files. The same ``(sf, seed)`` always gives byte-identical data:

* the same schemas and physical types as the fixtures (events.ts is
  TIMESTAMP(MICROS), which the loader reads as well as the NANOS form);
* the same value domains (5 regions, 25 nations, 5 segments, 25 brands,
  6 part types, 64 part names, 31-word document vocabulary, ...);
* dense keys ``0..n-1`` and full referential integrity (every foreign key
  points at an existing row; no NULLs at rest);
* unit-norm float32 embeddings of 64 dimensions.

Row counts are FIXTURES.md's table for the named scale (``"sf0.001"``,
``"sf0.01"``, ``"sf0.1"``), and ``generate`` checks every written table
against it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "big", "old", "new", "hot", "cold"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget", "spring", "valve"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small query big stream filter "
    "group vector customer"
).split()
EMBED_DIM = 64

_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# FIXTURES.md "Row counts", one column per scale, in TABLES order.
FIXTURE_ROWS: dict[str, dict[str, int]] = {
    sf: dict(zip(TABLES, counts))
    for sf, counts in {
        "sf0.001": (5, 25, 150, 10, 200, 1_500, 6_000, 1_000, 500, 500),
        "sf0.01": (5, 25, 1_500, 100, 2_000, 15_000, 60_000, 10_000, 500, 500),
        "sf0.1": (5, 25, 15_000, 1_000, 20_000, 150_000, 600_000, 100_000, 5_000, 2_000),
    }.items()
}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(idx.astype(np.int32), values).cast(pa.string())


def _day_ts(rng, first: dt.date, last: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(first), _days(last) + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _tables(sf: str, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = FIXTURE_ROWS[sf]
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ORDER_STATUS, no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _day_ts(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
            "l_linestatus": _pick(rng, LINE_STATUS, nl),
            "l_shipdate": _day_ts(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    start_us = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(start_us + rng.integers(0, span_us, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nd = n["documents"]
    lengths = rng.integers(8, 91, nd)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, nd),
            "source": _pick(rng, [f"src{i}" for i in range(20)], nd),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def generate(out_dir: str, sf: str, seed: int) -> str:
    """Write the tables under ``out_dir`` (created if missing) and return it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        if table.num_rows != FIXTURE_ROWS[sf][name]:
            raise AssertionError(
                f"{sf} {name}: {table.num_rows} rows, FIXTURES.md has {FIXTURE_ROWS[sf][name]}"
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
