"""Output checks: the registry's DuckDB oracles over the generated inputs.

Same comparison as the repository's oracle sweep: row count, sorted
column names and an order-insensitive digest of the stringified cells
(floats to 9 significant digits). A workload query without an oracle
fails its check.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def digest(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def compare(rows, cols, orows, ocols) -> str | None:
    """None when the two results agree, else what differs."""
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    if digest(rows, cols) != digest(orows, ocols):
        return "value digest differs from oracle"
    return None


class Oracle:
    """DuckDB views over one directory of generated tables."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def run(self, sql: str):
        rel = self.con.sql(sql)
        return rel.fetchall(), [d[0] for d in rel.description]

    def check(self, name: str, oracle_sql: str | None, rows, cols) -> str | None:
        if oracle_sql is None:
            return "no oracle"
        orows, ocols = self.run(oracle_sql)
        return compare(rows, cols, orows, ocols)

    def close(self) -> None:
        self.con.close()
