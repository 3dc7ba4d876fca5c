"""Near-dup dedup operators: gates of the shared MIH pair miner."""

from __future__ import annotations

import pytest


def test_simhash_32bit_band_mih_refuses_mass_duplicate_concentration(
    spark, monkeypatch
):
    """At h ≤ 3 the 64-bit family mines 2×32-bit bands, whose 2^32
    histogram cannot be collected densely; the miner's band-width rule
    gives it the within-bucket triangle probe, so 100 identical
    documents (2 bands × C(100, 2) = 9,900 planned compares) refuse
    over a 1,000 budget and run unchanged under the default one."""
    from data_lakehouse_hygiene_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "one boilerplate body shared by every document") for i in range(100)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dedup, "SIMHASH_MIH_BYTES", 0)
    monkeypatch.setattr(dedup, "MIH_PROBE_MIN_DOCS", 0)
    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 1_000)
    with pytest.raises(ValueError) as exc:
        dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    assert "max_compares" in str(exc.value)
    assert "9.90e+03" in str(exc.value)

    monkeypatch.setattr(dedup, "MIH_MAX_COMPARES", 1e12)
    got = dedup.simhash_near_dup_pairs(docs, max_hamming=3)
    assert got.count() == 100 * 99 // 2
