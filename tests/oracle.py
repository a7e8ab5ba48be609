"""Local mirror of the driver's Spark-vs-DuckDB differential check.

Runs a registry query on Spark and its SQL oracle on DuckDB over the same
parquet tables, then compares as (column-name-sorted, row-sorted) value
matrices with exact equality for ints/strings and tight tolerance for
floats (the registry's decimal-sum discipline should make most floats
bit-equal; tolerance only covers round()-boundary noise).
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb

from thisishappening_spark.sources.tables import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _normalize(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    out = [tuple(_norm_cell(r[c]) for c in cols) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def compare(spark, sf_dir: str, name: str, rel_tol: float = 1e-9) -> None:
    from thisishappening_spark.queries import REGISTRY

    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]

    con = duckdb_conn(sf_dir)
    cur = con.sql(spec.oracle)
    cols = [c.lower() for c in cur.columns]
    duck_rows = [dict(zip(cols, row)) for row in cur.fetchall()]

    s_keys = sorted({k.lower() for k in spark_rows[0]}) if spark_rows else []
    d_keys = sorted(cols)
    if spark_rows and duck_rows:
        assert s_keys == d_keys, f"{name}: column mismatch {s_keys} vs {d_keys}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    sn = _normalize([{k.lower(): v for k, v in r.items()} for r in spark_rows])
    dn = _normalize(duck_rows)
    for i, (a, b) in enumerate(zip(sn, dn)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9), (
                    f"{name} row {i}: {x} != {y}\nspark={a}\nduck={b}"
                )
            else:
                assert x == y, f"{name} row {i}: {x!r} != {y!r}\nspark={a}\nduck={b}"
