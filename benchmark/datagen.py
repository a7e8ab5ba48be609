"""Seeded generators for the benchmark's input tables.

Every table has the schema of the engine's parquet test data (the
TPC-H-like star schema, the ``events`` stream, ``documents`` and
``embeddings``), so the registry queries and their DuckDB oracles run on
them unchanged. The same seed writes byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window".split()
)
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 24 * 3600

# Row counts per table: the sizes of the engine's sf0.1 test data
# (a 600k-row ``lineitem``, 5k documents, 2k embeddings, a 100k-row
# ``events`` table). ``tweets`` is the stream's base ``events`` table.
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "tweets": 100_000,
}
EVENT_USERS = 1_500

RELATIONAL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
LLM_TABLES = ["documents", "embeddings"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform cents in [lo, hi] as doubles with two decimals."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    span = (end - start).days
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, n_users: int, first_id: int = 0,
                 start: dt.datetime = EVENTS_START, span_s: float = EVENTS_SPAN_S) -> pa.Table:
    """``n`` events with ids from ``first_id`` and timestamps increasing
    with the id, spread over ``span_s`` seconds after ``start``."""
    offsets_us = np.sort(rng.integers(0, int(span_s * 1e6), n))
    ts = np.datetime64(start, "us") + offsets_us.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(_money(rng, 0.01, 490.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    nc, ns, npart, no, nl = (SIZES[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), nc)]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    adj = PART_ADJ[rng.integers(0, len(PART_ADJ), npart)]
    noun = PART_NOUN[rng.integers(0, len(PART_NOUN), npart)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": pa.array(PART_TYPES[rng.integers(0, len(PART_TYPES), npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, len(PRIORITIES), no)]),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    out["events"] = events_table(rng, SIZES["events"], n_users=EVENT_USERS)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, with planted exact
    (up to case and whitespace) and near duplicates for the dedup queries."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.03:  # exact duplicate after normalization
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "   ", 1))
        elif i > 0 and r < 0.10:  # near duplicate: one word swapped, tag appended
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ten labelled centres."""
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + 1.5 * rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, tables: list[str]) -> None:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    generated: dict[str, pa.Table] = {}
    if set(tables) & set(RELATIONAL_TABLES):
        generated.update(_relational(rng))
    if "documents" in tables:
        generated["documents"] = _documents(rng, SIZES["documents"])
    if "embeddings" in tables:
        generated["embeddings"] = _embeddings(rng, SIZES["embeddings"])
    for name in tables:
        # One row group per file, like the test data.
        table = generated[name]
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))


def write_tweet_base(events_dir: str, seed: int) -> pa.Table:
    """The stream's base ``events`` table as the first file of a
    directory-layout table, so later batches append as new files."""
    os.makedirs(events_dir, exist_ok=True)
    table = events_table(np.random.default_rng(seed), SIZES["tweets"], n_users=EVENT_USERS)
    pq.write_table(table, os.path.join(events_dir, "part-000000.parquet"))
    return table
