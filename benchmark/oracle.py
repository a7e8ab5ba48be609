"""Spark-vs-DuckDB result comparison for the correctness gate.

The comparison rule (column-name-sorted, row-sorted value matrices; exact
ints and strings, floats within a tight tolerance) is the repository's own
differential check in ``tests/oracle.py``; this module only adds a
non-asserting wrapper and a connection that also reads directory-layout
tables.
"""

from __future__ import annotations

import importlib.util
import math
import os

import duckdb

from thisishappening_spark.sources.tables import TABLES

_ORACLE_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle.py")
_spec = importlib.util.spec_from_file_location("_repo_tests_oracle", _ORACLE_PATH)
_tests_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_tests_oracle)
_normalize = _tests_oracle._normalize


def connect(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """An in-process DuckDB with one view per table found in ``data_dir``
    (a table may be one parquet file or a directory of them)."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    # Spill files, if any, go where the run keeps its other temp files.
    con.execute(f"SET temp_directory TO '{os.environ.get('TMPDIR', '.')}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    cur = con.sql(sql)
    cols = [c.lower() for c in cur.columns]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def mismatch(spark_rows: list[dict], duck: list[dict], rel_tol: float = 1e-9) -> str | None:
    """None when the two result sets agree under ``tests/oracle.compare``'s
    rule, else a one-line reason."""
    spark_rows = [{k.lower(): v for k, v in r.items()} for r in spark_rows]
    if spark_rows and duck and sorted(spark_rows[0]) != sorted(duck[0]):
        return f"columns {sorted(spark_rows[0])} vs {sorted(duck[0])}"
    if len(spark_rows) != len(duck):
        return f"row count {len(spark_rows)} vs {len(duck)}"
    for i, (a, b) in enumerate(zip(_normalize(spark_rows), _normalize(duck))):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9):
                    return f"row {i}: {x!r} != {y!r}"
            elif x != y:
                return f"row {i}: {x!r} != {y!r}"
    return None
