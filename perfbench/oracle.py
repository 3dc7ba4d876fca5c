"""DuckDB oracle for the benchmark's correctness checks.

``Oracle`` is the DuckDB connection that ``tests.oracle_harness.compare``
(rows, schema and value multiset, the check the engine's own parity tests
use) queries, with the time its queries take kept apart so that callers
can leave it out of the program's timings.
"""

from __future__ import annotations

import os
import time

import duckdb


def connect(table_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet file in ``table_dir``."""
    con = duckdb.connect()
    for fname in sorted(os.listdir(table_dir)):
        if fname.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {fname[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(table_dir, fname)}')"
            )
    return con


class Oracle:
    """A DuckDB connection over ``table_dir``; ``duck_s`` is the time spent
    in it (DuckDB materializes a result inside ``execute``)."""

    def __init__(self, table_dir: str):
        t0 = time.perf_counter()
        self._con = connect(table_dir)
        self.duck_s = time.perf_counter() - t0

    def execute(self, sql: str) -> duckdb.DuckDBPyConnection:
        t0 = time.perf_counter()
        try:
            return self._con.execute(sql)
        finally:
            self.duck_s += time.perf_counter() - t0

    def close(self) -> None:
        self._con.close()
