"""The medallion pipeline driver — the engine's equivalent of the
reference's ``run_pipeline.py`` (sequential ingest → clean → curate →
serve, ``/root/reference/run_pipeline.py:25-91``) and of both Airflow DAGs
(``dags/hygiene_dag.py``), collapsed into one Spark job graph.

Zones map to directories of Parquet (Delta when available — ``sinks``):
    raw      append log partitioned by ingest_ts   (was: timestamped objects)
    clean    typed, coerced, null-filtered tables  (was: Delta overwrite)
    curated  the 1-row prescriptive result         (was: Delta + CSV log)
    serving  projected dashboard tables            (was: Postgres replace)

Each stage boundary is a materialized table — the reference's
"IR = zones" checkpoint pattern — so stages are independently rerunnable
and testable. Orchestration (cron/Airflow) stays external, exactly as in
the reference; ``run_pipeline`` is one idempotent run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from . import sinks
from .operators import cleaning, scoring
from .schemas import TABLES, load_table
from .sources import latest_partition_scan


class DataQualityError(Exception):
    """A zone gate failed and the zone write was ABORTED. Carries the
    zone path and the names of every violated expectation so the run
    log states exactly which contract broke (the reference surfaces the
    same conditions as ad-hoc prints/raises scattered through its ELT
    scripts — SURVEY §5.1; here they are declarative and enforced)."""

    def __init__(self, zone: str, failures: list[str]):
        self.zone = zone
        self.failures = failures
        super().__init__(
            f"zone '{zone}' expectations violated: {', '.join(failures)}"
        )


def enforce_zone(
    df: DataFrame,
    zone: str,
    rules: list[tuple[str, "F.Column"]] | None = None,
    unique_key: list[str] | None = None,
    require_rows: bool = True,
) -> DataFrame:
    """Declarative data-quality gate between medallion zones: evaluate
    every (name, violation_predicate) rule, the ``unique_key`` check and
    the row count in ONE query (``maintenance.dq_report``) and raise
    :class:`DataQualityError` naming each violated expectation — BEFORE
    the zone write runs, so a violating batch never lands half-written
    state downstream.

    This formalizes the reference's ad-hoc runtime checking (empty-input
    guards ``sql_to_raw.py:39-41``, value clamps
    ``prescriptive_logic.py:84-85,117``, column prints — SURVEY §5.1) as
    enforced expectations. Cost model: one driver round-trip per gate —
    a conditional-SUM aggregate for all rules together (adding rules
    adds columns, not passes), grouped by ``unique_key`` when one is
    given so the uniqueness count rides the same shuffle; ``non_empty``
    reads that query's ``n_rows``. Only a gate with neither rules nor a
    key probes with ``limit(1).count()``. The collect is one row, never
    the data.

    Failures are reported as the rules in declared order, then
    ``unique(<key>)``, then ``non_empty``."""
    from . import maintenance

    rules = list(rules or [])
    failures: list[str] = []
    if rules or unique_key:
        report = maintenance.dq_report(df, rules, unique_key).collect()[0]
        failures += [
            name for i, (name, _) in enumerate(rules) if report[f"v{i}"]
        ]
        if unique_key and report["n_duplicate_keys"]:
            failures.append(f"unique({','.join(unique_key)})")
        rows_seen = report["n_rows"]
    elif require_rows:
        # bounded probe: LIMIT 1, no full count
        rows_seen = df.limit(1).count()
    if require_rows and rows_seen == 0:
        failures.append("non_empty")
    if failures:
        raise DataQualityError(zone, failures)
    return df


def raw_schema(name: str) -> StructType:
    """The declared schema of a raw-zone table: the input table's columns
    plus the ``ingest_ts`` STRING partition column ``append_snapshot``
    adds. A new ``StructType`` — ``StructType.add`` would mutate the
    shared declaration in ``TABLES``."""
    return StructType(
        TABLES[name].fields + [StructField("ingest_ts", StringType())]
    )


def clean_events_expectations() -> list[tuple[str, "F.Column"]]:
    """Expectations the clean events zone must satisfy (violation
    predicates): no NULL timestamps survive the cleaner, and event
    values are non-negative (the reference clamps negatives ad hoc,
    ``prescriptive_logic.py:117``; the gate REJECTS them instead —
    clamping belongs to scoring, a corrupt batch belongs to the
    source)."""
    return [
        ("null_ts", F.col("ts").isNull()),
        ("negative_value", F.col("value") < 0),
    ]


def ingest(spark: SparkSession, sf_dir: str, lake: str, ingest_ts: str) -> None:
    """Raw zone: land events + dims as an append log stamped with the run's
    ingest_ts (replaces filename-timestamp versioning, SURVEY.md S4)."""
    for name in ("events", "customer"):
        sinks.append_snapshot(
            load_table(spark, sf_dir, name), f"{lake}/raw/{name}", ingest_ts
        )


def clean(spark: SparkSession, lake: str) -> None:
    """Clean zone: latest snapshot of each raw log, normalized + coerced +
    null-filtered, GATED by declarative expectations (``enforce_zone``),
    then overwritten (the reference's full-refresh semantics). A batch
    that violates an expectation aborts BEFORE the overwrite, so the
    previous clean state stays intact and serving never reads a corrupt
    refresh."""
    # latest_partition_scan resolves the max ingest_ts from the file
    # index (driver metadata, no job) and injects it as a LITERAL
    # partition predicate — the planned scan touches only the newest
    # partition's files (SURVEY §4.2 item 4, the "inject ingest_ts=max"
    # stretch). latest_ingest's runtime-max form remains for inputs that
    # arrive as DataFrames without a path. The declared raw schema skips
    # the footer-inference job an undeclared read would start.
    ev = latest_partition_scan(
        spark, f"{lake}/raw/events", fmt=sinks._FORMAT,
        schema=raw_schema("events"),
    ).drop("ingest_ts")
    ev = cleaning.normalize_columns(cleaning.drop_null_rows(ev, ["ts"]))
    enforce_zone(
        ev,
        f"{lake}/clean/events",
        rules=clean_events_expectations(),
        unique_key=["event_id"],
    )
    sinks.overwrite_table(ev, f"{lake}/clean/events")

    cust = cleaning.normalize_columns(
        latest_partition_scan(
            spark, f"{lake}/raw/customer", fmt=sinks._FORMAT,
            schema=raw_schema("customer"),
        ).drop("ingest_ts")
    )
    enforce_zone(cust, f"{lake}/clean/customer", unique_key=["c_custkey"])
    sinks.overwrite_table(cust, f"{lake}/clean/customer")


def curate(spark: SparkSession, lake: str, as_of: str | None = None) -> DataFrame:
    """Curated zone: the 1-row prescriptive hygiene result appended to the
    run history (the reference appends hourly,
    ``load_prescriptive_to_sql.py:51-56``).

    ``as_of`` stamps ``generated_at`` deterministically (SURVEY §4.2 rule
    1: everything time-dependent takes ``as_of``) — reruns with the same
    inputs and stamp are bit-identical. ``None`` falls back to wall-clock
    for interactive use."""
    ev = sinks.read_table(spark, f"{lake}/clean/events", TABLES["events"])
    cust = sinks.read_table(
        spark, f"{lake}/clean/customer", TABLES["customer"]
    )
    stamp = (
        F.lit(as_of).cast("timestamp")
        if as_of is not None
        else F.current_timestamp()
    )
    result = scoring.hygiene_result_single_source(
        activities=ev,
        dims=cust,
        marker_pred=F.col("event_type") == "signup",
        act_ts="ts",
        act_value="value",
        act_key="user_id",
        dim_key="c_custkey",
        dim_met="c_acctbal",
        dim_category="c_mktsegment",
    ).withColumn("generated_at", stamp)
    result.write.mode("append").parquet(f"{lake}/curated/rekomendasi")
    return result


def serve(spark: SparkSession, lake: str) -> None:
    """Serving zone: projected dashboard tables, full refresh (the
    reference's Postgres ``if_exists='replace'`` loads)."""
    ev = sinks.read_table(spark, f"{lake}/clean/events", TABLES["events"])
    cust = sinks.read_table(
        spark, f"{lake}/clean/customer", TABLES["customer"]
    )
    dashboard = cleaning.project(
        ev.join(
            F.broadcast(cust),
            on=ev["user_id"] == cust["c_custkey"],
            how="left",
        ),
        ["event_id", "ts", "event_type", "value", "c_mktsegment"],
    )
    sinks.overwrite_table(dashboard, f"{lake}/serving/riwayat_aktivitas")


def run_pipeline(
    spark: SparkSession, sf_dir: str, lake: str, ingest_ts: str
) -> DataFrame:
    """One full medallion run; returns the curated 1-row result. The run's
    ``ingest_ts`` doubles as the deterministic ``as_of`` stamp."""
    ingest(spark, sf_dir, lake, ingest_ts)
    clean(spark, lake)
    result = curate(spark, lake, as_of=ingest_ts)
    serve(spark, lake)
    return result


def run_stage(
    name: str,
    fn,
    retries: int = 1,
    retry_delay_s: float = 300.0,
    sleep=None,
):
    """Run one pipeline stage under the reference's task policy: ``retries``
    re-attempts with a fixed delay (``dags/hygiene_dag.py:6-8`` — 1 retry,
    5-minute delay), then fail fast (``run_pipeline.py:9-19`` exits on the
    first stage whose subprocess fails).

    Returns the stage result; re-raises the LAST error once attempts are
    exhausted, with the stage name attached via exception notes so the
    caller's log shows which stage died. ``sleep`` is injectable for tests
    (defaults to ``time.sleep``).
    """
    import time as _time

    sleep = _time.sleep if sleep is None else sleep
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — stage boundary, policy layer
            last = e
            if attempt < retries:
                sleep(retry_delay_s)
    assert last is not None
    last.add_note(f"pipeline stage '{name}' failed after {retries + 1} attempts")
    raise last


def run_pipeline_with_policy(
    spark: SparkSession,
    sf_dir: str,
    lake: str,
    ingest_ts: str,
    retries: int = 1,
    retry_delay_s: float = 300.0,
    sleep=None,
) -> DataFrame:
    """``run_pipeline`` under the reference's orchestration contract: each
    stage is an independently-retried task; a stage that exhausts its
    retries aborts the run (downstream stages never see half-written
    state — every stage boundary is a materialized zone, so a re-run
    resumes cleanly from raw).

    The reference's dual-cadence layout (hourly main DAG + 6-hourly API
    DAG with an eventual-consistency handoff) stays EXTERNAL here exactly
    as it is there: cron fires this entry point per cadence; ``curate``
    reads whatever clean state is latest, which is the same cross-DAG
    contract as ``hygiene_dag.py:106-107``.
    """
    kw = {"retries": retries, "retry_delay_s": retry_delay_s, "sleep": sleep}
    run_stage("ingest", lambda: ingest(spark, sf_dir, lake, ingest_ts), **kw)
    run_stage("clean", lambda: clean(spark, lake), **kw)
    result = run_stage(
        "curate", lambda: curate(spark, lake, as_of=ingest_ts), **kw
    )
    run_stage("serve", lambda: serve(spark, lake), **kw)
    return result
