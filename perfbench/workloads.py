"""The benchmark's workloads.

Each workload is a list of operations run in order as one pass by one
closed-loop client: the next operation starts when the previous one ends.

- ``registry``: declared registry rows, each built through its
  ``__spark_entry__`` callable. The batch rows (from the historical
  headline list) are forced through the ``noop`` sink; the streaming rows
  run to completion inside their own ``streaming.run_to_memory`` call. An
  operation is one row.
- ``medallion``: a fresh lake per pass, then one ``pipeline.run_pipeline``
  per generated hour; the pass ends by compacting the curated history. An
  operation is one hourly run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field

from tests.oracle_harness import compare

from .oracle import Oracle

# Pinned copies of the registry rows the benchmark runs; edits to bench.py
# or the registry order do not change them. Every benchmark run starts a
# fresh JVM and pays a cold warm-up pass, so the lists are subsets sized to
# keep one run near a minute on four cores: headline rows covering every
# operator module, with the multi-job heavy_hitters row for aggregates,
# two rows from outside the headline list (nested_flatten, the only row
# that calls json_ops, and media_phash, which runs the multimodal
# fingerprint kernels at a third of media_near_dup's cost), and the
# streaming rows that share the dedup and aggregate code with them
# (streaming_heavy_hitters also runs a Python state function) plus the
# stream-static join.
HEADLINE_ROWS = [
    "hygiene_score",
    "fact_dim_join",
    "sessionize",
    "hash_sample",
    "cdc_apply",
    "pii_scrub",
    "simhash_near_dup",
    "cosine_topk",
    "heavy_hitters",
    "full_sort",
    "media_phash",
    "nested_flatten",
]

STREAMING_ROWS = [
    "streaming_time_bucket",
    "streaming_dedup",
    "streaming_enrich",
    "streaming_heavy_hitters",
]

HISTORY = "curated/rekomendasi"


@dataclass
class Run:
    """State of one benchmark invocation, shared by the workload code."""

    spark: object
    entry: object  # the __spark_entry__ module
    inputs: dict  # layout from gen.generate
    work_dir: str  # scratch space for lakes, inside the checkout
    pids: tuple = ()  # the benchmark's and the JVM's process ids
    tracer: object = None  # spans.Tracer while tracing, else None
    op_seq: int = 0
    failed_checks: dict = field(default_factory=dict)  # op name -> message
    oracle_s: float = 0.0  # time spent in DuckDB (kept out of set-up time)


def _stamp(hour: int) -> str:
    return f"2026-01-01T{hour:02d}:00:00"


def _span(run: Run, name: str, layer: str):
    if run.tracer is None:
        return contextlib.nullcontext()
    return run.tracer.span(name, layer)


class Workload:
    name = ""

    def open_inputs(self, run: Run) -> None:
        """Open every generated input table (part of set-up)."""
        from data_lakehouse_hygiene_spark.schemas import load_table

        for d in self.input_dirs(run):
            for fname in sorted(os.listdir(d)):
                load_table(run.spark, d, fname[: -len(".parquet")]).schema

    def input_dirs(self, run: Run) -> list[str]:
        return [run.inputs["tables"]]

    def input_bytes(self, run: Run) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d in self.input_dirs(run)
            for f in os.listdir(d)
        )

    def warmup(self, run: Run) -> None:
        raise NotImplementedError

    def run_pass(self, run: Run, record) -> None:
        """One timed pass; calls ``record(op_name, seconds, ok)`` per
        operation and ``record(None, seconds, ok)`` for pass-level work
        that is not an operation."""
        raise NotImplementedError

    def check_pass(self, run: Run) -> set:
        """Check the outputs of the pass just run (outside its timing);
        returns the names of the operations whose output was wrong, with
        None for pass-level work."""
        return set()

    def _op(self, run: Run, name: str, fn):
        """Run ``fn`` as one operation under its root span."""
        run.op_seq += 1
        if run.tracer is not None:
            run.tracer.op_id = run.op_seq
        with _span(run, f"op.{name}", "bench"):
            t0 = time.perf_counter()
            try:
                out = fn()
                ok = True
            except Exception as exc:  # noqa: BLE001 - one failed operation
                out, ok = exc, False
            dt = time.perf_counter() - t0
        return out, ok, dt


class Registry(Workload):
    """Registry rows, checked against their oracle SQL during warm-up."""

    name = "registry"
    rows = HEADLINE_ROWS + STREAMING_ROWS

    def build(self, run: Run, row: str):
        return run.entry.queries()[row](run.spark, run.inputs["tables"])

    def execute(self, row: str, df) -> None:
        """The final action of one row: the noop sink for a batch row. A
        streaming row's trigger already ran inside its ``run_to_memory``."""
        if row not in STREAMING_ROWS:
            df.write.format("noop").mode("overwrite").save()

    def _run_row(self, run: Run, row: str, final: bool = True):
        def go():
            with _span(run, f"entry.{row}", "entry"):
                df = self.build(run, row)
            if final:
                self.execute(row, df)
            return df

        return self._op(run, row, go)

    def warmup(self, run: Run) -> None:
        sqls = run.entry.oracle_sql()
        ora = Oracle(run.inputs["tables"])
        try:
            for row in self.rows:
                df, ok, _ = self._run_row(run, row, final=False)
                if ok:
                    ok, msg = compare(df, ora, sqls[row])
                    # Also run the timed pass's final action, so that the
                    # timed pass finds it warm; a failure there shows in
                    # the timed pass.
                    with contextlib.suppress(Exception):
                        self.execute(row, df)
                else:
                    msg = f"raised {df!r}"
                if not ok:
                    run.failed_checks[row] = msg
        finally:
            run.oracle_s += ora.duck_s
            ora.close()

    def run_pass(self, run: Run, record) -> None:
        for row in self.rows:
            _, ok, dt = self._run_row(run, row)
            record(row, dt, ok and row not in run.failed_checks)


class Medallion(Workload):
    name = "medallion"

    def __init__(self):
        self.passes = 0
        self.lake = ""  # the last pass's lake, until it is checked
        self.stored_ratios: list[float] = []
        self.raw_files_present = 0  # summed over hours, for the trace

    def input_dirs(self, run: Run) -> list[str]:
        return run.inputs["hours"]

    def _lake(self, run: Run) -> str:
        self.passes += 1
        lake = os.path.join(run.work_dir, f"lake_{self.passes}")
        shutil.rmtree(lake, ignore_errors=True)
        return lake

    def _pass(self, run: Run, record, hours: list[str]) -> str:
        from data_lakehouse_hygiene_spark import maintenance, pipeline

        lake = self._lake(run)
        for h, hour_dir in enumerate(hours):
            _, ok, dt = self._op(
                run,
                f"hour_{h:02d}",
                lambda: pipeline.run_pipeline(run.spark, hour_dir, lake, _stamp(h)),
            )
            record(f"hour_{h:02d}", dt, ok)
            self.raw_files_present += _count_files(os.path.join(lake, "raw"))
        hist = os.path.join(lake, HISTORY)
        _, ok, dt = self._op(
            run,
            "compact",
            lambda: maintenance.compact_small_files(run.spark, hist, 1),
        )
        record(None, dt, ok)
        return lake

    def check(self, run: Run, lake: str, hours: list[str]) -> dict[str, str]:
        """Every hour's curated row must equal the hygiene-score oracle on
        that hour's input, and the compacted history must hold one row per
        hour."""
        from pyspark.sql import functions as F

        failed = {}
        hist = run.spark.read.parquet(os.path.join(lake, HISTORY))
        n_rows = hist.count()
        if n_rows != len(hours):
            failed["compact"] = f"history holds {n_rows} rows, want {len(hours)}"
        for h, hour_dir in enumerate(hours):
            ora = Oracle(hour_dir)
            try:
                row = hist.where(
                    F.col("generated_at") == F.lit(_stamp(h)).cast("timestamp")
                ).drop("generated_at")
                ok, msg = compare(row, ora, run.entry.SQL_HYGIENE_SCORE)
            finally:
                run.oracle_s += ora.duck_s
                ora.close()
            if not ok:
                failed[f"hour_{h:02d}"] = msg
        return failed

    def warmup(self, run: Run) -> None:
        self.run_pass(run, lambda *a: None)
        self.check_pass(run)
        self.stored_ratios.clear()

    def run_pass(self, run: Run, record) -> None:
        self.lake = self._pass(run, record, run.inputs["hours"])

    def check_pass(self, run: Run) -> set:
        failed = self.check(run, self.lake, run.inputs["hours"])
        self.stored_ratios.append(_tree_bytes(self.lake) / self.input_bytes(run))
        shutil.rmtree(self.lake, ignore_errors=True)
        run.failed_checks.update(failed)
        return {None if name == "compact" else name for name in failed}


def _count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(
        f.endswith(suffix) for _, _, files in os.walk(path) for f in files
    )


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


WORKLOADS = {w.name: w for w in (Registry, Medallion)}
