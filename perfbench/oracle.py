"""Order-insensitive, NULL-safe result hashes and the DuckDB oracle.

A result is a list of rows over named columns. Its hash is taken over
the rows with columns in sorted-name order, each cell in a type-tagged
canonical form (floats by shortest round-trip repr, so bit-exact;
ints and floats tagged apart), the rows sorted with the NULL-safe key
`(v is None, v)` per cell. Spark rows and DuckDB rows of the same
answer hash identically.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", str(v))
    if isinstance(v, (list, tuple)):
        return ("l", repr([_canon(x) for x in v]))
    if isinstance(v, dict):
        return ("m", repr(sorted((str(k), _canon(x)) for k, x in v.items())))
    return ("s", str(v))


def _key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def result_hash(columns: list[str], rows) -> str:
    """Hash of a result, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=_key)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def spark_hash(rows, columns: list[str]) -> str:
    """Hash of collected Spark rows (struct cells become dicts)."""

    def plain(v):
        if hasattr(v, "asDict"):
            return {k: plain(x) for k, x in v.asDict().items()}
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    return result_hash(columns, [tuple(plain(v) for v in r) for r in rows])


def connect(tables_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    if tables_dir is not None:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def sql_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    rel = con.sql(sql)
    return result_hash(list(rel.columns), rel.fetchall())


def cached_sql_hashes(tables_dir: str, sqls: dict[str, str], cache_path: str) -> dict[str, str]:
    """`sql_hash` of each query over the tables, reusing earlier runs'
    answers for the same table bytes and SQL text (kept in `cache_path`)."""
    tables = hashlib.sha256()
    for t in TABLES:
        with open(f"{tables_dir}/{t}.parquet", "rb") as f:
            tables.update(f.read())
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    keys = {name: hashlib.sha256((tables.hexdigest() + sql).encode()).hexdigest() for name, sql in sqls.items()}
    missing = {name: sql for name, sql in sqls.items() if keys[name] not in cache}
    if missing:
        con = connect(tables_dir)
        try:
            for name, sql in missing.items():
                cache[keys[name]] = sql_hash(con, sql)
        finally:
            con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return {name: cache[keys[name]] for name in sqls}
