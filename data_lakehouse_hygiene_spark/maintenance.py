"""Lakehouse-maintenance ("hygiene") utilities: table profiling, small-file
compaction, schema-drift detection, partition-skew stats.

The reference's hygiene is per-run ad-hoc checks (column prints at
``/root/reference/ingestion/sheets/sheets_to_raw.py:81``, empty-input guards
at ``elt/load/load_prescriptive_to_sql.py:42-59``); these are the
engine-level equivalents a lakehouse at scale actually runs on a schedule.

Scale design:
- ``profile_table`` is ONE aggregate pass over the table (every per-column
  stat is a conditional aggregate in the same hash-agg); the unpivot to
  long form happens on the 1-row result.
- ``compact_small_files`` rewrites with ``repartition(target)`` — a full
  shuffle, which is what compaction *is*; run it per-partition-predicate at
  scale, not whole-table.
- ``partition_skew`` is a groupBy count + max/avg ratio — the planning
  input for salting/AQE skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def profile_table(df: DataFrame, approx_distinct: bool = False) -> DataFrame:
    """Column-level profile in long form: one row per column with row/null/
    distinct counts and min/max rendered as strings.

    ``approx_distinct=True`` switches to HyperLogLog
    (``approx_count_distinct``) — the 100 TB setting for high-cardinality
    columns; exact is the default so the result is oracle-checkable.

    Exact path: distinct is counted over a 128-bit md5 DIGEST of string
    columns inside one ``collect_set`` aggregate — the digest (16 B), not
    the value (documents can be MBs), is what partial-aggregate buffers
    carry, and the single fused ObjectHashAggregate avoids the Expand
    (row-count × n_columns) plan that ``countDistinct`` over many columns
    compiles to (measured 2× at sf0.1). The digest changes no results:
    distinct-of-digest == distinct-of-value absent md5 collisions. Memory
    bound: n_distinct × ~16 B per column in the merge buffer — exactly the
    regime where you flip ``approx_distinct=True`` instead."""
    n = F.count(F.lit(1))
    aggs = [n.alias("__n")]
    for f in df.schema.fields:
        c = F.col(f.name)
        if approx_distinct:
            distinct = F.approx_count_distinct(c)
        else:
            digest = (
                F.md5(c)
                if isinstance(f.dataType, StringType)
                else c.cast("string")
            )
            distinct = F.size(F.collect_set(digest)).cast("bigint")
        aggs += [
            F.count(c).alias(f"__nn_{f.name}"),
            distinct.alias(f"__nd_{f.name}"),
            F.min(c).cast("string").alias(f"__mn_{f.name}"),
            F.max(c).cast("string").alias(f"__mx_{f.name}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(f.name).alias("column"),
                F.lit(f.dataType.simpleString()).alias("dtype"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{f.name}")).alias("n_nulls"),
                F.col(f"__nd_{f.name}").alias("n_distinct"),
                F.col(f"__mn_{f.name}").alias("min_str"),
                F.col(f"__mx_{f.name}").alias("max_str"),
            )
            for f in df.schema.fields
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def compact_small_files(
    spark: SparkSession, path: str, target_files: int, fmt: str = "parquet"
) -> int:
    """Rewrite a table directory to ``target_files`` files (small-file
    compaction). Returns the data-file count actually written (verified by
    listing, not assumed). The final overwrite is Spark's per-directory
    commit protocol — same single-writer crash window as
    ``sinks.merge_upsert``'s Parquet fallback, and same temp-dir cleanup.
    The staged copy is read back with the schema just written, which
    skips a second footer-inference job."""
    from .sinks import _delete_dir
    from .sources import _reader

    tmp = path + "__compact"
    try:
        df = spark.read.format(fmt).load(path)
        df.repartition(target_files).write.format(fmt).mode("overwrite").save(tmp)
        out = _reader(spark, fmt, df.schema).load(tmp)
        out.write.format(fmt).mode("overwrite").save(path)
    finally:
        _delete_dir(spark, tmp)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    suffix = ".parquet" if fmt == "parquet" else f".{fmt}"
    return sum(
        1
        for s in fs.listStatus(p)
        if s.isFile() and s.getPath().getName().endswith(suffix)
    )


ZORDER_BITS = 16  # per-dimension resolution of the interleave


def zorder_key(a: "F.Column", b: "F.Column", bits: int = ZORDER_BITS) -> "F.Column":
    """Morton (Z-order) key of two non-negative integer bucket columns:
    bit j of ``a`` lands at position 2j, bit j of ``b`` at 2j+1.

    This is the multi-column clustering key behind Delta ``OPTIMIZE
    ZORDER BY`` — sorting/range-partitioning a table by this key gives
    every data file a tight min/max envelope on BOTH columns at once, so
    predicates on either column (not just the leading sort column) skip
    files. Callers bucket raw values to ``bits``-bit ranks first
    (``F.width_bucket`` / ntile / epoch-scaling); the interleave itself is
    ``2*bits`` unrolled shift-AND terms — pure codegen, engine-portable,
    and exactly reproducible in the DuckDB oracle.
    """
    terms = []
    for j in range(bits):
        terms.append(
            F.shiftleft(
                F.shiftrightunsigned(a.cast("bigint"), j).bitwiseAND(F.lit(1)),
                2 * j,
            )
        )
        terms.append(
            F.shiftleft(
                F.shiftrightunsigned(b.cast("bigint"), j).bitwiseAND(F.lit(1)),
                2 * j + 1,
            )
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("bigint")


def zorder_layout(
    df: DataFrame, a: str, b: str, n_files: int, bits: int = ZORDER_BITS
) -> DataFrame:
    """Cluster a table for two-column file skipping: range-partition by the
    Morton key of the two (pre-bucketed) columns and sort within
    partitions — each output file then covers a compact rectangle of the
    (a, b) space. One range exchange (sampled bounds) + local sorts; at
    100 TB this is the layout pass you run once per table rewrite, not per
    query."""
    keyed = df.withColumn("__z", zorder_key(F.col(a), F.col(b), bits))
    return keyed.repartitionByRange(n_files, "__z").sortWithinPartitions("__z")


def schema_drift(expected: DataFrame, actual: DataFrame) -> list[dict[str, str]]:
    """Diff two schemas: columns added, removed, or retyped. Returns a list
    of {column, kind, detail} dicts (empty = no drift)."""
    exp = {f.name: f.dataType.simpleString() for f in expected.schema.fields}
    act = {f.name: f.dataType.simpleString() for f in actual.schema.fields}
    drift: list[dict[str, str]] = []
    for name in sorted(set(exp) | set(act)):
        if name not in act:
            drift.append({"column": name, "kind": "removed", "detail": exp[name]})
        elif name not in exp:
            drift.append({"column": name, "kind": "added", "detail": act[name]})
        elif exp[name] != act[name]:
            drift.append(
                {
                    "column": name,
                    "kind": "retyped",
                    "detail": f"{exp[name]} -> {act[name]}",
                }
            )
    return drift


def dq_report(
    df: DataFrame,
    rules: list[tuple[str, "F.Column"]],
    unique_key: list[str] | None = None,
) -> DataFrame:
    """One-row data-quality report computed by ONE query: ``n_rows``, the
    violation count of each (name, violation_predicate) rule as
    ``v0``, ``v1``, … in rule order, and — with ``unique_key`` —
    ``n_duplicate_keys``, the number of key values held by more than one
    row. ``dq_check`` renders it in long form; ``pipeline.enforce_zone``
    reads it directly, so a zone gate is one driver round-trip.

    Semantics: a rule whose predicate is NULL is not a violation (the
    ``when`` falls through to 0); NULL keys form one group, as
    ``groupBy`` treats them; every count is coalesced to 0, so an EMPTY
    input reports ``n_rows = 0`` and no violation (round-13 ADVICE: a
    NULL SUM would otherwise read as every rule violated).

    Scale: without a key, one conditional-SUM aggregate — adding rules
    adds columns, not passes. With a key, one groupBy carrying the
    per-key row count and per-key rule sums, then a global aggregate
    of that key-grained table: the rules ride the uniqueness shuffle
    instead of paying a second scan."""
    viol = [F.when(pred, 1).otherwise(0) for _, pred in rules]

    def total(c: "F.Column") -> "F.Column":
        return F.coalesce(F.sum(c), F.lit(0)).cast("bigint")

    if not unique_key:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[total(v).alias(f"v{i}") for i, v in enumerate(viol)],
        )
    per_key = df.groupBy(*unique_key).agg(
        F.count(F.lit(1)).alias("__c"),
        *[F.sum(v).alias(f"__v{i}") for i, v in enumerate(viol)],
    )
    return per_key.agg(
        total(F.col("__c")).alias("n_rows"),
        *[total(F.col(f"__v{i}")).alias(f"v{i}") for i in range(len(viol))],
        F.count(F.when(F.col("__c") > 1, 1)).alias("n_duplicate_keys"),
    )


def dq_check(df: DataFrame, rules: list[tuple[str, "F.Column"]]) -> DataFrame:
    """Declarative data-quality expectations, evaluated in ONE aggregate
    pass: each rule is (name, violation_predicate); output is long-form
    (rule, n_rows, n_violations, pass) — the engine-level version of the
    reference's ad-hoc guards (empty-input checks, value clamps,
    SURVEY.md §5.1). The counts are ``dq_report``'s one row, unpivoted.

    Scale: every rule is a conditional SUM in the same hash aggregate —
    adding rules adds columns, not passes. Uniqueness/referential rules
    need their own grouped/join form (see ``dq_unique``)."""
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col("n_rows"),
                F.col(f"v{i}").alias("n_violations"),
                (F.col(f"v{i}") == 0).alias("pass"),
            )
            for i, (name, _) in enumerate(rules)
        ]
    )
    one = dq_report(df, rules)
    return one.select(F.explode(rows).alias("r")).select("r.*")


def dq_unique(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Uniqueness expectation: rows whose key occurs more than once.
    One groupBy; returns (n_duplicate_keys, n_duplicate_rows)."""
    dups = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
    )
    return dups.agg(
        F.count(F.lit(1)).alias("n_duplicate_keys"),
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias(
            "n_duplicate_rows"
        ),
    )


def partition_skew(df: DataFrame, key: str) -> DataFrame:
    """Rows per key value plus the skew ratio (count / mean count) — the
    inputs for deciding salting or AQE skew-join thresholds."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(F.avg("n").alias("__avg"))
    return (
        counts.join(F.broadcast(stats))
        .select(
            key,
            "n",
            (F.col("n") / F.col("__avg")).alias("skew_ratio"),
        )
    )


# Integer-unit scale for the drift statistic's per-bin terms: exact BIGINT
# summation (order-independent) with chi2 values up to ~9.2e12 before
# overflow — far above any statistic a real drift check produces.
DRIFT_UNITS = 1_000_000


def dist_drift(
    df: DataFrame,
    group_col: str,
    val_col: str,
    bin_width: float,
    threshold: float = 11.07,
) -> DataFrame:
    """Per-group distribution drift against the pooled corpus baseline —
    the data-quality primitive behind "did this source's / this batch's
    value distribution shift?": a fixed-width histogram Pearson
    chi-square statistic per group, flagged against ``threshold``.

    For group g and bin b with observed count o_gb, bin total N_b, group
    total n_g and corpus total N, the expected count under the pooled
    distribution is e_gb = N_b·n_g/N and
    chi2_g = Σ_b (o_gb − e_gb)²/e_gb. (Bins the GROUP has no rows in
    contribute n_g·N_b/N each; those missing-bin terms telescope into
    n_g·(1 − Σ_{b∈g}N_b/N), computed from the same joined row set — no
    dense bin×group materialization is ever built.)

    Chi-square instead of PSI/KL BY DESIGN: the information-theoretic
    forms need libm ``log``, which is not bit-stable across engines (the
    bigram-LM/Simpson precedent); Pearson's statistic is pure rational
    arithmetic on exact integer counts. Each per-bin term is one fixed
    expression over BIGINTs evaluated in IEEE doubles (identical
    everywhere), floor-quantized to ``DRIFT_UNITS`` integer units, and
    summed as exact BIGINTs — order-independent, so the result is
    bit-identical in any engine and under any partitioning.

    Scale shape: ONE corpus-sized map-side-combined hash aggregate to
    the (group, bin) grain; everything after runs on that value-bounded
    table (≤ groups×bins rows) — the bin marginal and corpus total are
    tiny rollups of it that BROADCAST back on. Returns
    (``group_col``, n, chi2, drifted) ordered by group.
    """
    # NULL contract: rows with NULL ``val_col`` are EXCLUDED from the
    # statistic entirely (they carry no bin). Pre-round-9 they formed a
    # NULL __bin that the equi-join silently dropped while still
    # inflating n_g/n_tot — miscounted as missing-bin mass, and a group
    # of all-NULLs vanished from the output despite a nonzero n. The
    # oracle SQL applies the same filter.
    df = df.where(F.col(val_col).isNotNull())
    b = (F.floor(F.col(val_col) / F.lit(float(bin_width)))
         * F.lit(float(bin_width))).alias("__bin")
    # The (group, bin) table is TINY (value-bounded) but has FOUR
    # consumers whose diverging prunings defeat ReuseExchange — without
    # the checkpoint each one re-runs the corpus-sized count aggregate
    # (4 corpus scans; the mixture_weights case from TUNING.md, where a
    # tiny materialization guards a corpus re-aggregate: measured
    # 0.94 → 0.77 s at sf0.1, and at 100 TB it is 3 saved corpus reads).
    hist = (
        df.groupBy(F.col(group_col).alias("__g"), b)
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    nb = hist.groupBy("__bin").agg(F.sum("o").alias("n_b"))
    ng = hist.groupBy("__g").agg(F.sum("o").alias("n_g"))
    tot = hist.agg(F.sum("o").alias("n_tot"))
    j = (
        hist.join(F.broadcast(nb), "__bin")
        .join(F.broadcast(ng), "__g")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("n_b").cast("double")
        * F.col("n_g").cast("double")
        / F.col("n_tot").cast("double")
    )
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    units = F.floor(term * F.lit(float(DRIFT_UNITS)) + F.lit(0.5)).cast(
        "bigint"
    )
    # share of the corpus mass sitting in bins THIS group occupies — the
    # complement feeds the missing-bin telescoped term below
    per_g = j.groupBy("__g", "n_g", "n_tot").agg(
        F.sum(units).alias("__su"),
        F.sum("n_b").alias("__nb_seen"),
    )
    miss = (
        F.col("n_g").cast("double")
        * (
            F.lit(1.0)
            - F.col("__nb_seen").cast("double") / F.col("n_tot").cast("double")
        )
    )
    miss_units = F.floor(
        miss * F.lit(float(DRIFT_UNITS)) + F.lit(0.5)
    ).cast("bigint")
    chi2 = (
        (F.col("__su") + miss_units).cast("double")
        / F.lit(float(DRIFT_UNITS))
    )
    from .operators.aggregates import quantize

    return (
        per_g.select(
            F.col("__g").alias(group_col),
            F.col("n_g").cast("bigint").alias("n"),
            quantize(chi2, 6).alias("chi2"),
            (quantize(chi2, 6) > F.lit(float(threshold))).alias("drifted"),
        )
        .orderBy(group_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots of the same table — the
    lakehouse-hygiene primitive behind incremental re-ingest, CDC
    backfills, and "what changed since the last good load" audits
    (complement of ``cdc_apply``: that APPLIES a change stream, this
    RECOVERS one from two materialized states). Output: one row per
    key present in exactly one snapshot or differing between them,
    with ``status`` ∈ added / removed / changed; unchanged keys emit
    nothing, so output size tracks the CHANGE volume, not the corpus.

    100 TB shape: both sides project to (key, md5(compare_cols))
    BEFORE the full-outer join, so the shuffle carries ~50 bytes/row
    of digest instead of document payloads — diffing two 100 TB
    snapshots moves only key+digest. One shuffle per side on the
    join key; co-partitioned/bucketed snapshot layouts make it
    exchange-free. NULL-safe AND injection-safe: rows digest as
    ``md5(to_json(struct(compare_cols)))`` with explicit nulls — JSON
    quotes/escapes every field, so no data value can forge a field
    boundary (a separator-concat digest collides ('a\\x1fb','c') with
    ('a','b\\x1fc'), and a literal sentinel string with NULL), and
    NULL vs '' vs absent stay three distinct encodings. Digest
    equality ⇔ column-tuple equality (md5 collisions aside).
    """
    def dig(df: DataFrame, alias: str) -> DataFrame:
        return df.select(
            *key_cols,
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c) for c in compare_cols]),
                    {"ignoreNullFields": "false"},
                )
            ).alias(alias),
        )

    # full outer can't broadcast; hint SHUFFLE_HASH so the plan is a
    # ShuffledHashJoin on the digest projections (supported for full
    # outer since Spark 3.1) instead of a SortMergeJoin — both sides
    # are ~50-byte digest rows, so the hash build fits per-partition
    # memory at any corpus size and we skip two corpus sorts
    j = dig(old, "__d_old").join(
        dig(new, "__d_new").hint("shuffle_hash"),
        on=list(key_cols),
        how="full_outer",
    )
    return j.select(
        *key_cols,
        F.when(F.col("__d_old").isNull(), F.lit("added"))
        .when(F.col("__d_new").isNull(), F.lit("removed"))
        .when(F.col("__d_old") != F.col("__d_new"), F.lit("changed"))
        .alias("status"),
    ).where(F.col("status").isNotNull())
