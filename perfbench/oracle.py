"""DuckDB oracle results and the result check.

Each query's registered oracle SQL runs on DuckDB over the same parquet
files the engine reads, outside every timed region. Results are cached on
disk under a key made of the input files' hash and the SQL text, so a
rerun on the same inputs never recomputes them.

A result is canonicalised the same way on both sides: columns sorted by
name, values reduced to plain Python values (timestamps as naive ISO
strings, NaN as NULL), rows compared as a multiset. The check is as strict
as the engine's own differential preflight: row count, column names and
every value must agree.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import pickle
from collections import Counter


def input_hash(data_dir: str) -> str:
    from .datagen import TABLES

    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _norm(v):
    # pandas' NaT / NA are matched by type name so that the worker does
    # not import pandas before its timed set-up begins.
    if v is None or type(v).__name__ in ("NaTType", "NAType"):
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, dt.datetime):  # pandas.Timestamp is a datetime subclass
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], Counter]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    return cols, Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def canonical_pandas(pdf) -> tuple[list[str], Counter]:
    cols = list(pdf.columns)
    values = [pdf[c].tolist() for c in cols]
    return canonical(cols, zip(*values) if values else [])


def oracle_results(
    data_dir: str, oracles: dict[str, str], cache_dir: str
) -> dict[str, tuple[list[str], Counter]]:
    """Canonical DuckDB results per query name, cached by input hash."""
    import duckdb

    from .datagen import TABLES

    base = input_hash(data_dir)
    out: dict[str, tuple[list[str], Counter]] = {}
    con = None
    os.makedirs(cache_dir, exist_ok=True)
    for name, sql in oracles.items():
        key = hashlib.sha256(f"{base}\0{sql}".encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            con = duckdb.connect(config={"threads": 4, "temp_directory": cache_dir})
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        res = con.execute(sql)
        names = [d[0] for d in res.description]
        out[name] = canonical(names, res.fetchall())
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out[name], f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def mismatch(
    name: str, got: tuple[list[str], Counter], want: tuple[list[str], Counter]
) -> str | None:
    """None when equal, else a one-line description of the difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"{name}: columns {gc} != oracle {wc}"
    n_got, n_want = sum(gr.values()), sum(wr.values())
    if n_got != n_want:
        return f"{name}: {n_got} rows != oracle {n_want}"
    if gr != wr:
        extra = sum((gr - wr).values())
        return f"{name}: {extra} rows differ from the oracle"
    return None
