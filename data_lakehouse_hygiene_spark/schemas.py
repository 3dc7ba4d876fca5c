"""Explicit schemas for every input table.

The reference infers schemas dynamically (``pd.read_csv`` at
``/root/reference/ingestion/sheets/sheets_to_raw.py:46-52``; Delta
``schema_mode="overwrite"`` at ``/root/reference/elt/clean_sheets.py:75-81``).
At 100 TB schema inference is an anti-pattern — it triggers an extra full or
sampled scan and can silently flip types between runs — so the engine
declares every table schema up front and applies it at read time, which also
lets Parquet readers prune columns and push filters against a stable schema.

The medallion pipeline reads its own lake zones the same way: the raw zone
with ``TABLES[name]`` plus the ``ingest_ts`` partition column
(``pipeline.raw_schema``), the clean zone with ``TABLES[name]``. Each
declared read skips the footer-inference job an undeclared Parquet read
starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

TABLES: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampNTZType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampNTZType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}


# Columns physically stored as Parquet TIMESTAMP(NANOS) — a type Spark's
# Parquet reader rejects outright. We read them as raw INT64 nanos
# (spark.sql.legacy.parquet.nanosAsLong) and convert to TIMESTAMP_NTZ with
# tz-independent arithmetic (timestampadd over an NTZ literal — no session-tz
# dependency). The synthetic data is µs-precision stored as ns, so `div 1000`
# is lossless and matches DuckDB's ns→µs handling exactly.
#
# MILLIS/MICROS timestamp columns need no workaround — Spark's Parquet reader
# handles them natively — so the nanos set is detected per file from the
# Parquet footer (a metadata-only read, no data scan) rather than hardcoded:
# misclassifying a MILLIS column as nanos would silently corrupt every value.
_NS_COLS_CACHE: dict[str, list[str]] = {}


def _nanos_cols(path: str, schema: StructType) -> list[str]:
    if path not in _NS_COLS_CACHE:
        import pyarrow.parquet as pq

        arrow_schema = pq.ParquetFile(path).schema_arrow
        wanted = {f.name for f in schema.fields}
        _NS_COLS_CACHE[path] = [
            f.name
            for f in arrow_schema
            if f.name in wanted and str(f.type).startswith("timestamp[ns")
        ]
    return _NS_COLS_CACHE[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table with its declared schema.

    Declared schema (not ``inferSchema``) keeps the scan single-pass and the
    plan's ReadSchema minimal once Catalyst prunes columns.

    Scale note: converting ns→timestamp post-scan means timestamp predicates
    don't push down to Parquet for these columns; at 100 TB, push the
    predicate on the raw INT64 nanos instead (convert the cutoff, not the
    column) — ``ns_cutoff`` below supports that pattern.
    """
    from pyspark.sql import functions as F

    schema = TABLES[name]
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_cols(path, schema)
    if not ns_cols:
        return spark.read.schema(schema).parquet(path)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    phys = StructType(
        [
            StructField(f.name, LongType() if f.name in ns_cols else f.dataType)
            for f in schema.fields
        ]
    )
    df = spark.read.schema(phys).parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND, {c} div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df.select(*[f.name for f in schema.fields])
