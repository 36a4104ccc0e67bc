"""Order-insensitive result fingerprints for the benchmark's output checks.

A result is a list of column names plus rows of Python values, as Spark's
`collect()` and DuckDB's `fetchall()` return them. Every value is mapped
to one canonical string (numbers through float64, as the engine's oracle
parity test compares them; timestamps as naive UTC ISO text), columns are
ordered by name and rows are sorted, so two results with the same multiset
of rows get the same digest whatever engine produced them.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from typing import Any, Iterable, Sequence

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_NULL = "\\N"


def canon(v: Any) -> str:
    if v is None:
        return _NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return _NULL if math.isnan(f) else repr(f)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep="T", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def digest(self, sql: str) -> str:
        cur = self.con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()
