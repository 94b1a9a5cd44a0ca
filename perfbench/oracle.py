"""Result fingerprints, and DuckDB over the benchmark's tables to make them.

A fingerprint is (row count, sorted column names, digest of the sorted
normalized rows): the comparison `tools/check.py` makes, minus the need to
keep both result sets around. `workloads.etl_expected` fingerprints its row
model the same way. Checks run outside the timed window.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return str(v)


def fingerprint(columns: list[str], rows: list[tuple]) -> list:
    """[row count, sorted column names, digest]: a JSON-ready value."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(
        (tuple(norm_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )
    digest = hashlib.sha256(repr(normed).encode()).hexdigest()
    return [len(normed), sorted(columns), digest]


def arrow_fingerprint(table) -> list:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return fingerprint(cols, list(zip(*data)) if cols else [])


class DuckOracle:
    """DuckDB over the parquet files of a directory, one view per table."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def fingerprint(self, sql: str) -> list:
        res = self.con.execute(sql)
        return fingerprint([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()
