"""Job attribution and failure accounting against a live Spark session."""

from __future__ import annotations

from types import SimpleNamespace

import __spark_entry__ as entry
from pyspark.sql import functions as F

from perfbench import layers, run, spans, workloads
from perfbench.sparkstat import SparkStatus


def _run(spark, inputs, tmp_path, entry_mod=entry):
    return workloads.Run(
        spark=spark,
        entry=entry_mod,
        inputs=inputs,
        work_dir=str(tmp_path / "work"),
    )


def test_heavy_hitters_sketch_collect_is_operator_work(spark, inputs, tmp_path):
    """The Misra-Gries sketch collect runs inside operators.aggregates before
    the final write; the write's jobs are execute.jobs."""
    status = SparkStatus(spark)
    r = _run(spark, inputs, tmp_path)
    tracer = spans.Tracer(status.next_job_id)
    patcher = spans.Patcher()
    layers.install(tracer, patcher)
    r.tracer = tracer
    ex0 = status.execution_count()
    try:
        _, ok, _ = workloads.Registry()._run_row(r, "heavy_hitters")
    finally:
        patcher.undo()
    assert ok
    status.drain()
    root = tracer.roots()[-1]
    tree = [root] + tracer.descendants(root)
    m = layers.op_metrics(tracer, root, status, status.sql_executions(ex0))

    def layer_jobs(layer, jobs_of):
        return set().union(*(jobs_of(i) for i in tree if tracer.spans[i].layer == layer))

    agg_jobs = layer_jobs("operators.aggregates", tracer.self_jobs)
    exec_jobs = layer_jobs("execute", tracer.jobs)
    assert agg_jobs and exec_jobs
    assert max(agg_jobs) < min(exec_jobs)
    assert m["operators.aggregates.jobs"] == len(agg_jobs)
    assert m["execute.jobs"] == len(exec_jobs)
    assert m["entry.jobs"] >= len(agg_jobs)
    assert m["execute.stages"] >= 1 and m["execute.tasks"] >= 1
    assert m["execute.task_cpu_s"] > 0
    assert m["_wall_s"] > 0 and abs(m["_self_sum_s"] - m["_wall_s"]) < 1e-6


def test_sink_write_counts_match_the_disk(spark, inputs, tmp_path):
    """Once the listener bus has drained, the status stores hold every task
    of a sink write: its CPU time counts, and its written-file count matches
    the files on disk."""
    from data_lakehouse_hygiene_spark import schemas, sinks

    status = SparkStatus(spark)
    tracer = spans.Tracer(status.next_job_id)
    patcher = spans.Patcher()
    layers.install(tracer, patcher)
    out = str(tmp_path / "written")
    ex0 = status.execution_count()
    try:
        with tracer.span("op.write", "bench"):
            df = schemas.load_table(spark, inputs["tables"], "lineitem")
            sinks.overwrite_table(df.repartition(3), out)
    finally:
        patcher.undo()
    status.drain()
    root = tracer.roots()[-1]
    m = layers.op_metrics(tracer, root, status, status.sql_executions(ex0))
    on_disk = workloads._count_files(out)
    assert on_disk == 3
    assert m["sinks.files_written"] == on_disk
    assert m["sinks.bytes_written"] > 0
    assert m["execute.task_cpu_s"] > 0


def test_wrong_result_raises_fail_ratio(spark, inputs, tmp_path):
    row = "group_count_ordered"
    real = entry.queries()[row]

    def wrong(s, d):
        df = real(s, d)
        last = df.columns[-1]
        return df.withColumn(last, F.col(last) + 1)

    class One(workloads.Registry):
        rows = [row]

    ratios = []
    for fn in (real, wrong):
        fake = SimpleNamespace(queries=lambda fn=fn: {row: fn}, oracle_sql=entry.oracle_sql)
        r = _run(spark, inputs, tmp_path, fake)
        wl = One()
        wl.warmup(r)
        ops = []
        wl.run_pass(r, lambda *a: ops.append(a))
        ratios.append(sum(not ok for _, _, ok in ops) / len(ops))
    assert ratios == [0.0, 1.0]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(30) == 66
    assert run.tail_percentile(12) == 100
    vals = [float(i) for i in range(1, 101)]
    assert run.percentile(vals, 90) == 90.0
    assert sum(v > run.percentile(vals, 90) for v in vals) == 10
    assert run.percentile(vals, 100) == 100.0
