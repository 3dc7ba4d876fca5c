"""Sinks S4/S7/S9-S11 (SURVEY.md §2.1).

The reference writes Delta with ``mode="overwrite", schema_mode="overwrite"``
(``/root/reference/elt/clean_sheets.py:70-82``) and Postgres serving tables
with pandas ``to_sql`` append/replace
(``elt/load/load_prescriptive_to_sql.py:51-56``,
``load_aktivitas_to_neon.py:81-86``).

Spark-first: Delta when the ``delta-spark`` package is importable, Parquet
otherwise (same layout semantics for tests); JDBC writers map append/replace
to save modes. This container ships neither the delta-spark package nor its
JVM jars and package installation is not permitted, so ``_HAS_DELTA`` is
False here and every run takes the Parquet path; the Delta branches are
exercised by ``tests/test_io_streaming.py::test_merge_upsert_delta_branch``
on any environment that has Delta (the test self-skips otherwise). Overwrites are atomic per-directory via Spark's commit
protocol; at scale prefer ``replaceWhere``/MERGE over whole-table overwrite
(single-writer assumption flagged in SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .sources import _reader

try:  # Delta is optional in this environment
    from delta import DeltaTable  # type: ignore  # noqa: F401

    _HAS_DELTA = True
except Exception:  # pragma: no cover
    _HAS_DELTA = False

_FORMAT = "delta" if _HAS_DELTA else "parquet"


def overwrite_table(df: DataFrame, path: str) -> None:
    """S7: full-refresh table write (clean-zone semantics)."""
    df.write.format(_FORMAT).mode("overwrite").save(path)


def append_snapshot(df: DataFrame, path: str, ingest_ts: str) -> None:
    """S4: append-log write, partitioned by ingest timestamp — replaces the
    reference's one-object-per-run filename convention; ``latest_ingest``
    prunes to the newest partition on read.

    The stamp must be ISO-8601 (fixed-width, so lexicographic order ==
    chronological order — ``latest_ingest``'s max over the partition
    STRING stays correct); rejected up front rather than silently
    mis-sorting later."""
    import datetime

    try:
        parsed = datetime.datetime.fromisoformat(ingest_ts)
    except ValueError as e:
        raise ValueError(
            f"ingest_ts must be ISO-8601 (got {ingest_ts!r}): {e}"
        ) from e
    if len(ingest_ts) < 19:  # zero-padded date AND time, e.g. 2026-01-02T03:04:05
        raise ValueError(
            f"ingest_ts must be a full zero-padded ISO stamp, got {ingest_ts!r}"
        )
    if parsed.tzinfo is not None:
        # Mixed UTC offsets break the lexicographic==chronological ordering
        # that latest_ingest's string max depends on; require naive (UTC).
        raise ValueError(
            f"ingest_ts must be offset-naive UTC (got {ingest_ts!r}); "
            "normalize to UTC and drop the offset before writing"
        )
    (
        df.withColumn("ingest_ts", F.lit(ingest_ts))
        .write.format(_FORMAT)
        .mode("append")
        .partitionBy("ingest_ts")
        .save(path)
    )


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read a zone table. A declared ``schema`` skips the Parquet
    footer-inference job an undeclared read starts (``sources._reader``)."""
    return _reader(spark, _FORMAT, schema).load(path)


def jdbc_write(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """S9/S10: serving-layer JDBC sink; ``mode='overwrite'`` = the
    reference's ``if_exists='replace'`` full refresh."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).mode(mode).save()


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, sort: bool = True
) -> None:
    """Bucketed catalog table: data is hash-partitioned into ``n_buckets``
    files by ``key`` AT WRITE TIME, so joins/aggregations on ``key``
    between tables bucketed the same way need NO exchange — the shuffle is
    paid once at write, amortized over every subsequent join.

    This is the co-located-join strategy for the 100 TB fact⋈fact case
    where neither side broadcasts (cf. PLANS.md: broadcast covers all
    dim joins; bucketing covers big-big)."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def merge_upsert(
    spark: SparkSession, updates: DataFrame, path: str, key: str
) -> None:
    """Keyed upsert (the Delta ``MERGE INTO`` shape): rows in ``updates``
    replace same-key rows in the stored table; new keys append.

    With delta-spark present this is ``DeltaTable.merge`` (atomic,
    file-level). The Parquet fallback rewrites via anti-join + union —
    correct single-writer semantics, full rewrite cost; documented as the
    test-environment path only. Either way the scale advice stands:
    partition the table so the merge's rewrite scope is the touched
    partitions, not the table.
    """
    if _HAS_DELTA:
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(updates.alias("u"), f"t.{key} = u.{key}")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    current = spark.read.format(_FORMAT).load(path)
    keys = updates.select(key)
    kept = current.join(F.broadcast(keys), key, "left_anti")
    merged = kept.unionByName(updates)
    # Parquet overwrite reads lazily from the same path it writes: stage to
    # a temp dir first, then rewrite. The final overwrite is Spark's
    # per-directory commit protocol — a crash INSIDE it can lose the table
    # (single-writer window, no transaction log); that atomicity is exactly
    # what the Delta branch above buys. The temp dir is removed either way.
    tmp = path + "__merge_tmp"
    try:
        merged.write.format(_FORMAT).mode("overwrite").save(tmp)
        read_table(spark, tmp, merged.schema).write.format(_FORMAT).mode(
            "overwrite"
        ).save(path)
    finally:
        _delete_dir(spark, tmp)


def apply_cdc(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key: str,
    op_col: str = "op",
) -> None:
    """CDC MERGE: apply a change batch carrying an operation column —
    ``op == 'D'`` deletes the matching stored row, anything else upserts
    (matched keys replaced, new keys appended); a delete for an absent key
    is a no-op. This is the full Delta ``MERGE INTO`` clause matrix
    (whenMatchedDelete / whenMatchedUpdate / whenNotMatchedInsert) that the
    reference's Delta-first writes imply (``clean_sheets.py:70-82``).

    Precondition (same as Delta MERGE, which errors on multiple matches):
    at most one change row per key per batch — dedupe upstream (e.g.
    ``latest_snapshot`` on a change-sequence column).

    Parquet fallback: one broadcast anti-join removes every touched key,
    then non-delete change rows union back in — single shuffle-free rewrite,
    same semantics. At scale, partition the table so the rewrite scope is
    the touched partitions only.
    """
    if _HAS_DELTA:
        target_cols = spark.read.format(_FORMAT).load(path).columns
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(changes.alias("u"), f"t.{key} = u.{key}")
            .whenMatchedDelete(condition=f"u.{op_col} = 'D'")
            .whenMatchedUpdate(set={c: f"u.{c}" for c in target_cols})
            .whenNotMatchedInsert(
                condition=f"u.{op_col} <> 'D'",
                values={c: f"u.{c}" for c in target_cols},
            )
            .execute()
        )
        return
    current = spark.read.format(_FORMAT).load(path)
    touched = changes.select(key).distinct()
    kept = current.join(F.broadcast(touched), key, "left_anti")
    upserts = changes.where(F.col(op_col) != "D").select(*current.columns)
    merged = kept.unionByName(upserts)
    tmp = path + "__merge_tmp"
    try:
        merged.write.format(_FORMAT).mode("overwrite").save(tmp)
        read_table(spark, tmp, merged.schema).write.format(_FORMAT).mode(
            "overwrite"
        ).save(path)
    finally:
        _delete_dir(spark, tmp)


def _delete_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete a directory through the Hadoop FileSystem API —
    works for any scheme Spark can write to (local, HDFS, s3a, ...)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(p, True)


def csv_log(df: DataFrame, path: str) -> None:
    """S11: single-file CSV result log (``prescriptive_logic.py:190-197``).
    ``coalesce(1)`` is only sane for tiny curated outputs — documented
    deliberately; never use on large data."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
