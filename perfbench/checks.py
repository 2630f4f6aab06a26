"""Output checks: order-insensitive row-set hashes and DuckDB oracles.

Checks run outside the timed region.  A value is normalised before
hashing (NaN → NULL, dates and timestamps → ISO text, decimals → their
exact digits, columns sorted by name) so the same rows hash the same
whether Spark or DuckDB produced them.  Doubles are compared exactly:
the SQL the benchmark sends is written so that both engines compute
them exactly (integer-valued doubles, decimal sums).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

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


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def normalized(columns: list[str], rows: list) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, repr(x)) for x in r))


def rowset_hash(columns: list[str], rows: list) -> str:
    h = hashlib.sha1(repr(sorted(columns)).encode())
    for r in normalized(columns, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def duck(data_dir: str):
    """DuckDB connection with every table as a view over its parquet."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def duck_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return rowset_hash(cols, cur.fetchall())
