"""Order-insensitive result digests and the DuckDB oracle side.

A result is reduced to one SHA-256 over its sorted canonical rows:
columns sorted by name, floats by their exact bit pattern
(``float.hex``), nested values recursively. Spark rows and DuckDB rows
of the same relation give the same digest, so a step's collected output
hash-matches its ``ORACLES`` SQL exactly or not at all.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import duckdb


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else v.hex()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        return str(int(v)) if v == v.to_integral_value() else format(v.normalize(), "f")
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """``(row count, sha256)`` of ``rows`` (tuples in ``columns`` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return len(canon), h.hexdigest()


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, table_dir: str, tables: list[str], threads: int = 1):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in tables:
            path = os.path.join(table_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()
