"""Every declared query must hash-match its DuckDB oracle at sf=0.01 —
the same gate the verification driver applies."""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE
from .oracle_harness import compare, duck_connection

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", NAMES)
def test_parity(spark, duck, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    ok, msg = compare(fn(spark, SF_ORACLE), duck, sql)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns == [
        "waktu_mandi_terakhir",
        "jam_sejak_mandi",
        "skor_kekotoran",
        "skor_bau",
        "skor_aqi",
        "skor_final",
        "rekomendasi",
        "jumlah_aktivitas",
    ]


def test_every_query_function_registered_once():
    # A repeated key in the hand-written registry literal silently drops an
    # entry, so pin the registry against the module's q_* functions.
    defined = {
        fn
        for name, fn in vars(entrymod).items()
        if name.startswith("q_")
        and callable(fn)
        and fn.__module__ == entrymod.__name__
    }
    registered = list(entrymod.queries().values())
    assert len(registered) == len(set(registered))
    assert set(registered) == defined
    assert len(entrymod.queries()) == len(entrymod.oracle_sql()) == 162


def test_queries_have_oracles():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
