"""End-to-end medallion pipeline: raw → clean → curated → serving."""

from __future__ import annotations

import tempfile

import __spark_entry__ as entrymod
from data_lakehouse_hygiene_spark import pipeline, sinks

from .conftest import SF_SMOKE


def test_full_medallion_run(spark):
    with tempfile.TemporaryDirectory() as lake:
        result = pipeline.run_pipeline(
            spark, SF_SMOKE, lake, ingest_ts="2026-01-01T00:00:00"
        )
        row = result.collect()[0]
        # The curated score must equal the flagship query on the same input.
        flagship = entrymod.entry(spark).collect()[0]
        assert tuple(row)[:-1] == tuple(flagship)

        # Serving table exists with the projected schema.
        serving = sinks.read_table(spark, f"{lake}/serving/riwayat_aktivitas")
        assert serving.columns == [
            "event_id",
            "ts",
            "event_type",
            "value",
            "c_mktsegment",
        ]
        assert serving.count() > 0

        # Second run: raw log grows, curated history appends, clean zone
        # still reflects only the latest snapshot (idempotent overwrite).
        pipeline.run_pipeline(
            spark, SF_SMOKE, lake, ingest_ts="2026-01-02T00:00:00"
        )
        raw = sinks.read_table(spark, f"{lake}/raw/events")
        assert raw.select("ingest_ts").distinct().count() == 2
        from data_lakehouse_hygiene_spark.schemas import load_table

        clean_ev = sinks.read_table(spark, f"{lake}/clean/events")
        assert clean_ev.count() == load_table(spark, SF_SMOKE, "events").count()
        history = spark.read.parquet(f"{lake}/curated/rekomendasi")
        assert history.count() == 2


def test_curate_rerun_is_bit_identical(spark):
    """SURVEY §4.2 rule 1: with a fixed as_of stamp, rerunning curate on
    the same inputs yields bit-identical rows (no wall-clock leakage)."""
    with tempfile.TemporaryDirectory() as lake:
        pipeline.ingest(spark, SF_SMOKE, lake, "2026-01-01T00:00:00")
        pipeline.clean(spark, lake)
        r1 = pipeline.curate(spark, lake, as_of="2026-01-01T00:00:00").collect()
        r2 = pipeline.curate(spark, lake, as_of="2026-01-01T00:00:00").collect()
        assert r1 == r2


def test_run_stage_retry_then_success():
    """Flaky stage succeeds on the retry; delay honored via injected
    sleep (the reference policy: 1 retry, fixed delay)."""
    from data_lakehouse_hygiene_spark.pipeline import run_stage

    calls, delays = [], []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("transient")
        return "ok"

    got = run_stage("clean", flaky, retries=1, retry_delay_s=300,
                    sleep=delays.append)
    assert got == "ok"
    assert len(calls) == 2
    assert delays == [300]


def test_run_stage_exhausted_fails_fast():
    """Retries exhausted -> the stage error propagates (fail-fast), named."""
    import pytest
    from data_lakehouse_hygiene_spark.pipeline import run_stage

    def dead():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError) as ei:
        run_stage("ingest", dead, retries=1, retry_delay_s=0,
                  sleep=lambda _: None)
    assert "permanent" in str(ei.value)
    notes = getattr(ei.value, "__notes__", [])
    assert any("ingest" in n for n in notes)


def test_run_pipeline_with_policy_end_to_end(spark, tmp_path):
    """Policy wrapper produces the same curated result as the plain run."""
    from data_lakehouse_hygiene_spark.pipeline import run_pipeline_with_policy

    lake = str(tmp_path / "lake")
    out = run_pipeline_with_policy(
        spark, "/root/testdata/sf0.001", lake, "2026-01-02T03:04:05",
        retries=0,
    )
    rows = out.collect()
    assert len(rows) == 1


# ------------------------------------------------ one query per zone gate
def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _gate_failures(df, rules, unique_key, require_rows=True):
    try:
        pipeline.enforce_zone(
            df, "z", rules=rules, unique_key=unique_key,
            require_rows=require_rows,
        )
    except pipeline.DataQualityError as e:
        return e.failures
    return []


def _separate_query_failures(df, rules, unique_key):
    """The gate as separate queries: ``dq_check``'s long-form report,
    ``dq_unique``, and a ``limit(1)`` probe when no rule counted rows."""
    from data_lakehouse_hygiene_spark import maintenance

    failures, rows_seen = [], None
    if rules:
        report = maintenance.dq_check(df, rules).collect()
        rows_seen = report[0]["n_rows"]
        failures += [r["rule"] for r in report if not r["pass"]]
    if unique_key:
        dup = maintenance.dq_unique(df, unique_key).collect()[0]
        if dup["n_duplicate_keys"] > 0:
            failures.append(f"unique({','.join(unique_key)})")
    if rows_seen is None:
        rows_seen = df.limit(1).count()
    if rows_seen == 0:
        failures.append("non_empty")
    return failures


def test_fused_gate_matches_separate_queries(spark):
    """``enforce_zone``'s one-query report names the same failures, in
    the same order, as separate queries for the rules, the key and the
    row count: NULL rule inputs are not violations, NULL keys form one
    group, an empty frame fails only ``non_empty``."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, 1.0, "x"),
            (1, -2.0, None),
            (None, None, "y"),
            (None, 3.0, "y"),
            (2, None, None),
            (3, 5.0, "z"),
        ],
        "k long, a double, b string",
    )
    one_null_key = df.where(F.col("k").isNotNull() | F.col("a").isNull())
    unique_keys = df.where(F.col("a") > 0)
    empty = df.where(F.lit(False))
    rules = [
        ("negative_a", F.col("a") < 0),
        ("null_b", F.col("b").isNull()),
        ("a_over_4", F.col("a") > 4),  # NULL for NULL a
        ("never", F.col("a") > 100),
    ]
    gates = [
        (rules, ["k"]),
        (rules[2:], ["k", "b"]),
        (rules, None),
        (None, ["k"]),
        (None, None),
    ]
    for name, frame in [
        ("mixed", df),
        ("one_null_key", one_null_key),
        ("unique", unique_keys),
        ("empty", empty),
    ]:
        for gate_rules, key in gates:
            want = _separate_query_failures(frame, gate_rules, key)
            got = _gate_failures(frame, gate_rules, key)
            assert got == want, (name, gate_rules, key)
    # the frames exercise every outcome
    assert _gate_failures(df, rules, ["k"]) == [
        "negative_a", "null_b", "a_over_4", "unique(k)",
    ]
    assert _gate_failures(one_null_key, None, ["k"]) == ["unique(k)"]
    assert _gate_failures(df, None, ["a"]) == ["unique(a)"]  # two NULLs
    assert _gate_failures(unique_keys, rules, ["k"]) == ["a_over_4"]
    assert _gate_failures(empty, rules, ["k"]) == ["non_empty"]
    # without require_rows an empty frame passes every gate
    assert _gate_failures(empty, rules, ["k"], require_rows=False) == []
    assert _gate_failures(empty, None, None, require_rows=False) == []


def test_gate_with_rules_and_key_is_one_query(spark):
    """Rules plus a key cost one grouped aggregate: at most 3 jobs (scan,
    per-key, global), where a rule pass, a uniqueness pass and their
    collects took 5."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1.0), (2, -1.0), (2, 3.0)], "k long, v double"
    )
    n = _jobs_of(
        spark,
        "gate_jobs",
        lambda: _gate_failures(df, [("neg", F.col("v") < 0)], ["k"]),
    )
    assert n <= 3


def test_medallion_hour_job_budget(spark):
    """An hourly run after the first launches at most 17 Spark jobs: the
    four zone writes plus the history append, one query per zone gate,
    and no schema-inference read of a lake zone (27 jobs when each gate
    ran a query per expectation and every zone read inferred its
    schema)."""
    with tempfile.TemporaryDirectory() as lake:
        pipeline.run_pipeline(spark, SF_SMOKE, lake, "2026-01-01T00:00:00")
        n = _jobs_of(
            spark,
            "medallion_hour",
            lambda: pipeline.run_pipeline(
                spark, SF_SMOKE, lake, "2026-01-01T01:00:00"
            ),
        )
    assert n <= 17


def test_declared_zone_schemas_match_written_files(spark):
    """The schemas the pipeline declares for its lake-zone reads equal
    what the written files infer to — a change to ``clean`` or
    ``TABLES`` that drifts them fails here, not as mismatched columns."""
    from data_lakehouse_hygiene_spark.schemas import TABLES

    with tempfile.TemporaryDirectory() as lake:
        pipeline.run_pipeline(spark, SF_SMOKE, lake, "2026-01-01T00:00:00")
        declared = {
            "raw/events": pipeline.raw_schema("events"),
            "raw/customer": pipeline.raw_schema("customer"),
            "clean/events": TABLES["events"],
            "clean/customer": TABLES["customer"],
        }
        for zone, schema in declared.items():
            inferred = spark.read.parquet(f"{lake}/{zone}").schema
            assert inferred == schema, (zone, inferred, schema)
    # building the raw schema leaves the shared declaration untouched
    assert "ingest_ts" not in TABLES["events"].fieldNames()
