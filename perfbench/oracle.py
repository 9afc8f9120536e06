"""Exact result comparison against DuckDB, in the canonical form of
``tools/selfcheck.py`` (that module parses ``sys.argv`` when imported, so
its rules are restated here rather than imported):

* floats compare by ``repr`` with no rounding; NaN reads ``NaN``;
* ``Decimal`` keeps its scale and never equals a float;
* ``bool`` reads as ``0``/``1``;
* tz-aware datetimes carry their UTC offset;
* columns are matched by lower-cased name, rows compared as a sorted set.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if v.tzinfo is not None:
            s += f" tz:{v.utcoffset()}"
        return s
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    return str(v)


def canon(rows, cols) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def compare(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when both sides hold the same result, else the first reason."""
    a_cols = [c.lower() for c in spark_cols]
    b_cols = [c.lower() for c in duck_cols]
    if sorted(a_cols) != sorted(b_cols):
        return f"columns {sorted(a_cols)} vs {sorted(b_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rowcount {len(spark_rows)} vs {len(duck_rows)}"
    a = canon(spark_rows, a_cols)
    b = canon(duck_rows, b_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ; first diffs: {diff}"
    return None


def duck_connect(data_dir: str, tables) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def run_duck(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def tables_in(sql: str, tables) -> set[str]:
    """Catalog tables an oracle query names (word match on the SQL text)."""
    words = set(re.findall(r"[a-z_]+", sql.lower()))
    return {t for t in tables if t in words}
