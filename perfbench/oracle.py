"""Order-insensitive comparison of an op's rows against its DuckDB oracle.

The oracle is the query's ``oracle_sql()`` text run by DuckDB over the
same generated directory.  Rows compare as a multiset of canonical
values keyed by sorted column name, with the rendering rules the
catalog's oracle parity relies on (exact Decimal text, ``repr`` floats,
ISO timestamps), the same as ``tools/oracle_check.py``.  The benchmark
keeps its own copy so that it measures parent and child commits with the
same check when a change edits the tools.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb


def canon_value(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(rows, columns) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(canon_value(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB views over one generated directory."""

    def __init__(self, data_dir: str, tmp_dir: str):
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory = '{tmp_dir}'")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f).replace("'", "''")
                self._con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self._con.close()

    def mismatch(self, sql: str, columns, rows) -> str | None:
        """None when ``rows`` equal the oracle's result, else a one-line
        description of the first difference found."""
        cur = self._con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(columns) != sorted(ocols):
            return f"columns {sorted(columns)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        got, want = canon_rows(rows, list(columns)), canon_rows(orows, ocols)
        if got != want:
            extra = next(iter(got - want), None)
            missing = next(iter(want - got), None)
            return f"values differ: got {extra} where oracle has {missing}"
        return None
