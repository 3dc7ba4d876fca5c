"""The input generator is a pure function of the seed."""

from __future__ import annotations

import filecmp
import os

import pyarrow.parquet as pq

from data_lakehouse_hygiene_spark.schemas import TABLES
from perfbench import gen


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, 0.002, 2, 0.01)
    b = gen.generate(str(tmp_path / "b"), 5, 0.002, 2, 0.01)
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b"))
    assert len(names) == len(gen.TABLE_NAMES) + 2 * 2
    for rel in names:
        assert filecmp.cmp(tmp_path / "a" / rel, tmp_path / "b" / rel, shallow=False), rel
    assert a["hours"][1].endswith("hour_01") and b["tables"].endswith("tables")


def test_different_seed_gives_different_inputs(tmp_path):
    gen.generate(str(tmp_path / "a"), 5, 0.002, 2, 0.01)
    gen.generate(str(tmp_path / "b"), 6, 0.002, 2, 0.01)
    for rel in ("tables/events.parquet", "tables/documents.parquet", "hour_01/customer.parquet"):
        assert not filecmp.cmp(tmp_path / "a" / rel, tmp_path / "b" / rel, shallow=False), rel


def test_tables_match_declared_schemas_and_layout(tmp_path):
    out = gen.generate(str(tmp_path), 3, 0.002, 2, 0.01)
    for name, schema in TABLES.items():
        f = pq.ParquetFile(os.path.join(out["tables"], f"{name}.parquet"))
        assert f.schema_arrow.names == [fld.name for fld in schema.fields], name
        assert f.metadata.num_row_groups == 1, name


def test_medallion_hours_grow_and_customers_drift(tmp_path):
    out = gen.generate(str(tmp_path), 3, 0.002, 3, 0.05)
    ev = [pq.read_table(os.path.join(h, "events.parquet")) for h in out["hours"]]
    ids = [set(t.column("event_id").to_pylist()) for t in ev]
    assert ids[0] < ids[1] < ids[2]
    all_ids = pq.read_table(os.path.join(out["tables"], "events.parquet")).column("event_id")
    assert ids[2] == set(all_ids.to_pylist())
    cust = [pq.read_table(os.path.join(h, "customer.parquet")).to_pandas() for h in out["hours"]]
    changed = (cust[0].c_acctbal != cust[1].c_acctbal).sum()
    assert 0 < changed <= len(cust[0]) * 0.05
    assert len(cust[0]) == len(cust[2])
