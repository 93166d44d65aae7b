"""Order-insensitive result digests and the DuckDB oracle answers.

Spark and DuckDB rows are reduced to one canonical form before hashing:
every number becomes a float rounded to 9 decimals (both engines round
their float aggregates identically, and an int in one engine may be a
double in the other), dates and timestamps become ISO strings, and the
rows are sorted.  Two results match when their row counts and digests
are equal.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import duckdb


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else round(f, 9) + 0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def digest(rows) -> dict:
    """``{"rows": n, "digest": sha256}`` of rows in any order."""
    canon = sorted(
        (tuple(_canon(v) for v in row) for row in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )
    h = hashlib.sha256(repr(canon).encode()).hexdigest()
    return {"rows": len(canon), "digest": h}


def oracle_digests(data_dir: str, sql_by_name: dict[str, str], tables) -> dict:
    """Run each oracle SQL in DuckDB over the parquet tables in ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: digest(con.execute(sql).fetchall()) for name, sql in sql_by_name.items()}
    finally:
        con.close()
