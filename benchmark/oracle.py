"""Order-insensitive result fingerprints and their DuckDB side.

A fingerprint is (row count, sorted column names, hash of the rows) where
the hash sorts columns by name, renders every cell type-faithfully (full
float precision, decimals tagged, bytes as hex) and sorts the rendered
rows, so two engines agree only on the same bag of rows.  This is the
rendering of the repository's oracle gate (``tools/check_oracle.py``),
kept here so the benchmark's output check does not move when the
program's tools do.
"""

from __future__ import annotations

import decimal
import hashlib


def _cell(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"Decimal:{v}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def fingerprint(rows, cols: list[str]) -> tuple[int, tuple[str, ...], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), tuple(sorted(cols)), h.hexdigest()[:16]


def duckdb_fingerprints(table_dir: str, tables, oracles: dict[str, str]) -> dict[str, tuple]:
    """Run each oracle SQL on DuckDB over ``table_dir``'s Parquet tables.
    Rows come through Arrow so DuckDB's wide integers keep their type."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for name, sql in oracles.items():
            tbl = con.execute(sql).fetch_arrow_table()
            rows = zip(*(col.to_pylist() for col in tbl.columns)) if tbl.num_columns else []
            out[name] = fingerprint(list(rows), tbl.column_names)
        return out
    finally:
        con.close()
