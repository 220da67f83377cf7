"""Seeded inputs and the DuckDB output oracle.

``generate`` writes one input dir per seed from a source dir of the ten
base tables (``collector_spark.tables.TABLE_NAMES``). Each table gets a
seeded row-order permutation, and two kinds of opaque id get seeded
bijective remaps:

- ``orders.o_orderkey`` and ``lineitem.l_orderkey``, through one map.
- ``documents.doc_id``, onto new values in the same order. The curation
  queries use ``doc_id`` only through equality and order (``MIN``, ``<``),
  so their results do not depend on the seed, and their costly oracle
  (``ml_export_manifest``) is computed once per source (``rank_fingerprint``).

``events`` is permuted only. The log corpus renders each line's rule, text
and ``seq`` from ``event_id`` and ``user_id``, so a remap there would change
the log fact and cost a new oracle (about 5 s) in every run; permuted, the
fact is the same for every seed, and its oracle is computed once per source.

Row counts, the parquet schema (timestamp unit included) and every value
set except ``doc_id``'s are kept; only which row carries which id changes.
The program only ever reads the generated dir.

``oracle`` runs a registered query's DuckDB oracle SQL over the same dir and
reduces it with ``value_hash``: sorted column names, row count and an
order-insensitive hash over canonicalized rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from collector_spark.tables import TABLE_NAMES

# doc_id images are drawn from [0, DOC_ID_SPREAD * n_docs)
DOC_ID_SPREAD = 16


def _remap(values: np.ndarray, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """A seeded bijection over the distinct values of ``values``, as
    (sorted keys, images)."""
    keys = np.unique(values)
    return keys, rng.permutation(keys)


def _ordered_remap(values: np.ndarray, rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """A seeded order-preserving bijection onto new values."""
    keys = np.unique(values)
    images = np.sort(rng.choice(DOC_ID_SPREAD * len(keys), size=len(keys), replace=False))
    return keys, images.astype(keys.dtype)


def _apply(col: pa.ChunkedArray, mapping: tuple[np.ndarray, np.ndarray]) -> pa.Array:
    keys, images = mapping
    return pa.array(images[np.searchsorted(keys, col.to_numpy())], type=col.type)


def _set(t: pa.Table, name: str, arr) -> pa.Table:
    return t.set_column(t.schema.get_field_index(name), name, arr)


def _permute_table(name: str, t: pa.Table, rng: np.random.Generator, maps: dict) -> pa.Table:
    if name == "orders":
        t = _set(t, "o_orderkey", _apply(t.column("o_orderkey"), maps["orderkey"]))
    elif name == "lineitem":
        t = _set(t, "l_orderkey", _apply(t.column("l_orderkey"), maps["orderkey"]))
    elif name == "documents":
        ids = t.column("doc_id")
        t = _set(t, "doc_id", _apply(ids, _ordered_remap(ids.to_numpy(), rng)))
    return t.take(pa.array(rng.permutation(t.num_rows)))


def generate(src_dir: str, out_dir: str, seed: int) -> str:
    """Write the seeded input dir (idempotent: an existing complete dir is
    reused). Returns ``out_dir``."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    orders = pq.read_table(os.path.join(src_dir, "orders.parquet"), columns=["o_orderkey"])
    maps = {
        "orderkey": _remap(
            orders.column("o_orderkey").to_numpy(),
            np.random.default_rng([seed, 1]),
        )
    }
    for i, name in enumerate(TABLE_NAMES):
        src = os.path.join(src_dir, f"{name}.parquet")
        t = pq.read_table(src)
        t = _permute_table(name, t, np.random.default_rng([seed, 100 + i]), maps)
        # one row group per file, as in the source tables
        pq.write_table(
            t,
            os.path.join(tmp, f"{name}.parquet"),
            compression="snappy",
            row_group_size=max(1, t.num_rows),
        )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def canon(v):
    """One value, canonicalized as the repository's oracle checks do it:
    Decimal -> float, bool -> int, NaN -> NULL, floats rounded to 9 places.
    Time-zone-aware timestamps become naive UTC, so a parquet round trip
    that tags the zone compares equal to the oracle's naive value."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def summary(cols: list[str], rows: list[tuple]) -> dict:
    return {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}


def _duck(input_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(input_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def rank_fingerprint(input_dir: str, table: str, id_col: str, drop_id: bool = True) -> str:
    """Hash of ``table`` with its rows in ``id_col`` order, ``id_col``
    dropped unless ``drop_id`` is false: equal for every seed when
    ``id_col`` is remapped in order (or, kept, when the table is only
    permuted)."""
    t = pq.read_table(os.path.join(input_dir, f"{table}.parquet")).sort_by(id_col)
    if drop_id:
        t = t.drop_columns([id_col])
    h = hashlib.md5()
    for row in t.to_pylist():
        h.update(repr(row).encode())
    return h.hexdigest()


def oracle(input_dir: str, sql: str, path: str) -> dict:
    """The oracle summary of ``sql`` over ``input_dir``, cached at ``path``."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _duck(input_dir)
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        out = summary(cols, res.fetchall())
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def output_summary(parquet_dir: str, partitioned: bool = False) -> dict:
    """Summary of a Spark parquet sink, read back through DuckDB; a
    ``partitioned`` sink gets its partition column back from the paths."""
    import duckdb

    con = duckdb.connect()
    try:
        parts = ("*", "*.parquet") if partitioned else ("*.parquet",)
        glob = os.path.join(parquet_dir, *parts).replace("'", "''")
        res = con.execute(
            f"SELECT * FROM read_parquet('{glob}', hive_partitioning = {partitioned})"
        )
        cols = [d[0] for d in res.description]
        return summary(cols, res.fetchall())
    finally:
        con.close()
