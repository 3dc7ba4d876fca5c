"""Seeded input generator for the benchmark.

Every table is synthesized from ``--seed`` alone, with the column types,
Arrow schema and single-row-group layout of the engine's synthetic
TPC-H-style tables (``data_lakehouse_hygiene_spark.schemas.TABLES``), so
``schemas.load_table`` and ``streaming.load_stream_table`` read the files
through their usual paths. Value distributions follow the engine's test
tables: uniform keys and categories, cent-rounded money, exponential event
values, 30-word documents with appended near-duplicates, unit-norm 64-d
embeddings.

The seed fixes the row order of every table, the hour each event lands in
for the medallion workload, and the customer drift between hours. The
same seed always writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

# Rows per table at scale factor 1, as in the engine's synthetic tables
# (documents and embeddings never drop below 500 rows).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["big", "blue", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
_TS = pa.timestamp("us")


def table_rows(sf: float) -> dict[str, int]:
    rows = {"region": 5, "nation": 25}
    for name, n in ROWS_PER_SF.items():
        rows[name] = max(int(round(n * sf)), MIN_ROWS.get(name, 1))
    return rows


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per (seed, table), so adding a table never
    shifts another table's values."""
    key = [seed] + [ord(c) for c in table]
    return np.random.default_rng(np.random.SeedSequence(key))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _customer(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n)) + EVENT_START
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=_TS),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # 5% near-duplicates (another document plus a trailing token) and a few
    # exact copies, as the dedup operators expect.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(n // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one seed, rows in seeded order."""
    rows = table_rows(sf)
    n_users = max(rows["customer"] // 10, 1)
    r = {name: _rng(seed, name) for name in TABLE_NAMES}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = _customer(r["customer"], rows["customer"])
    n = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(r["supplier"].integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_cents(r["supplier"], -999.99, 9999.99, n)),
        }
    )
    n, g = rows["part"], r["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(g.integers(0, 8, n), g.integers(0, 8, n))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, n)]),
            "p_type": pa.array(np.array(PART_TYPES)[g.integers(0, 6, n)]),
            "p_size": pa.array(g.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        }
    )
    n, g = rows["orders"], r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(g.integers(0, rows["customer"], n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[g.integers(0, 3, n)]),
            "o_totalprice": pa.array(_cents(g, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(_days(g, "1995-01-01", "2001-08-01", n), type=_TS),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[g.integers(0, 5, n)]),
        }
    )
    n, g = rows["lineitem"], r["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, rows["orders"], n, dtype=np.int64)),
            "l_partkey": pa.array(g.integers(0, rows["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(g.integers(0, rows["supplier"], n, dtype=np.int64)),
            "l_linenumber": pa.array(g.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(g, 900.0, 105000.0, n)),
            "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, n)]),
            "l_shipdate": pa.array(_days(g, "1995-01-02", "2001-11-04", n), type=_TS),
        }
    )
    t["events"] = _events(r["events"], rows["events"], n_users)
    t["documents"] = _documents(r["documents"], rows["documents"])
    t["embeddings"] = _embeddings(r["embeddings"], rows["embeddings"])
    order = _rng(seed, "row-order")
    return {name: _shuffled(t[name], order) for name in TABLE_NAMES}


def write_table(table: pa.Table, path: str) -> None:
    # One row group per file, like the engine's synthetic tables.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _write_dir(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def medallion_hours(
    events: pa.Table, customer: pa.Table, seed: int, hours: int, drift: float
) -> list[dict[str, pa.Table]]:
    """Per-hour inputs of the medallion workload.

    Each event is assigned to one hour by the seed; hour ``h`` holds every
    event assigned to an hour <= h (the growing whole-sheet snapshot) and
    the full customer table, of which a seeded ``drift`` share of rows
    changes balance and segment since the previous hour."""
    g = _rng(seed, "medallion")
    hour_of = g.integers(0, hours, events.num_rows)
    bal = customer.column("c_acctbal").to_numpy().copy()
    seg = np.array(customer.column("c_mktsegment").to_pylist())
    out = []
    for h in range(hours):
        if h:
            moved = g.choice(len(bal), max(int(len(bal) * drift), 1), replace=False)
            bal[moved] = _cents(g, -999.99, 9999.99, len(moved))
            seg[moved] = np.array(SEGMENTS)[g.integers(0, 5, len(moved))]
        cust = customer.set_column(
            customer.schema.get_field_index("c_acctbal"), "c_acctbal", pa.array(bal.copy())
        ).set_column(
            customer.schema.get_field_index("c_mktsegment"),
            "c_mktsegment",
            pa.array(seg.copy()),
        )
        out.append(
            {
                "events": events.filter(pa.array(hour_of <= h)),
                "customer": cust,
            }
        )
    return out


def layout(root: str, hours: int) -> dict:
    """Where ``generate`` puts the shared tables and each medallion hour."""
    return {
        "tables": os.path.join(root, "tables"),
        "hours": [os.path.join(root, f"hour_{h:02d}") for h in range(hours)],
    }


def generate(root: str, seed: int, sf: float, hours: int, drift: float) -> dict:
    """Write the shared table set and the medallion hours under ``root``;
    returns the directory layout."""
    tables = build_tables(seed, sf)
    dirs = layout(root, hours)
    _write_dir(dirs["tables"], tables)
    hourly = medallion_hours(tables["events"], tables["customer"], seed, hours, drift)
    for d, hour in zip(dirs["hours"], hourly):
        _write_dir(d, hour)
    return dirs
