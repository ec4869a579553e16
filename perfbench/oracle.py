"""Oracle check of one query's output on the generated inputs.

The rule is the repository's DuckDB self-check (``tests/oracle_util``),
whose ``rows_to_multiset`` is used as is: the oracle SQL runs over views
of the same parquet files; row count, column names and values must
match, order-insensitively, with columns sorted by name. A query without
an oracle must return at least one row.
"""

from __future__ import annotations

import os

import duckdb

from tests.oracle_util import rows_to_multiset


def connect(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """One view per generated table, named after the file (the generated
    directory holds only the workload's tables, so ``oracle_util``'s
    ``duckdb_conn``, which expects every fixture table, does not fit)."""
    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    return con


def _pandas_unsafe(dtype) -> bool:
    """DuckDB column types that ``compare_query`` rejects: a pandas
    round trip of the oracle's result turns them into float64/object,
    which no longer match Spark's int64."""
    t = str(dtype).upper()
    return t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")


def check(con, oracle_sql: str | None, cols: list[str], rows: list[tuple]) -> str:
    """Empty string when the output passes, else what differs."""
    if oracle_sql is None:
        return "" if rows else "rows-only query returned 0 rows"
    rel = con.sql(oracle_sql)
    d_cols, d_types, d_rows = rel.columns, rel.types, rel.fetchall()
    unsafe = [c for c, t in zip(d_cols, d_types) if _pandas_unsafe(t)]
    if unsafe:
        return f"oracle columns of a pandas-unsafe DuckDB type: {unsafe}"
    if sorted(cols) != sorted(d_cols):
        return f"columns: spark={sorted(cols)} duckdb={sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count: spark={len(rows)} duckdb={len(d_rows)}"
    if rows_to_multiset(cols, rows) != rows_to_multiset(d_cols, d_rows):
        return "values differ"
    return ""
