"""DuckDB oracles and the per-row result check.

Every registry row has an ``oracle_sql()``/``extra_oracle_sql()`` twin that
DuckDB runs over the same parquet files; a row passes when its row count,
column names and order-insensitive value hash all match. The value
normalization and hash are the ones ``tools/check_oracles.py`` uses.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tools.check_oracles import normalize, value_hash  # noqa: E402

TABLES = ("events", "documents")


def fingerprint(pdf) -> dict:
    """Row count, sorted column names and value hash of a pandas frame."""
    return {
        "rows": len(pdf),
        "cols": sorted(pdf.columns),
        "hash": value_hash(normalize(pdf)),
    }


def expected(rows: list[str], data_dir: str, threads: int) -> dict[str, dict]:
    """Oracle fingerprint of every row over the tables in ``data_dir``."""
    import duckdb

    import __spark_entry__ as entry

    sql = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    by_sql: dict[str, dict] = {}
    out = {}
    for row in rows:
        q = sql[row]
        if q not in by_sql:
            by_sql[q] = fingerprint(con.execute(q).df())
        out[row] = by_sql[q]
    con.close()
    return out
