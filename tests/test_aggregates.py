"""Aggregate operators: the heavy-hitter recount's InSet gate."""

from __future__ import annotations


def test_heavy_hitters_long_candidates_take_broadcast_path(
    spark, monkeypatch
):
    """~30 candidates of ~5 KB each are far under HH_ISIN_MAX by count
    but ~150 KB of IN-list by bytes: the recount must take the broadcast
    semi-join (no InSet literal in the plan) and return exactly what the
    InSet arm returns."""
    from data_lakehouse_hygiene_spark.operators import aggregates

    vals = [f"{i:02d}" + "x" * 5_000 for i in range(30)]
    rows = [(v,) for i, v in enumerate(vals) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, "token string").repartition(4)

    out = aggregates.heavy_hitters(df, "token", phi=0.01)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "INSET" not in plan.upper()
    got = [tuple(r) for r in out.collect()]

    # raising the count cap raises the derived byte ceiling with it
    monkeypatch.setattr(aggregates, "HH_ISIN_MAX", 1_000_000)
    inset = aggregates.heavy_hitters(df, "token", phi=0.01)
    plan = inset._jdf.queryExecution().executedPlan().toString()
    assert "INSET" in plan.upper()
    assert [tuple(r) for r in inset.collect()] == got
    n = len(rows)
    want = sorted(
        ((v, i + 1) for i, v in enumerate(vals) if i + 1 > 0.01 * n),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want
