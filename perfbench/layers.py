"""Per-layer metrics of the traced run.

The layers are the engine's modules. Spans come from ``spans.install`` over
each module's public functions, from the benchmark's own spans around each
operation (``bench``) and registry callable (``entry``), and from the Spark
actions the benchmark or the pipeline calls last (``execute``: the
DataFrame writer and the streaming query's wait). Counts come from Spark's
status stores and, for streams, from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import time
from collections import Counter

from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.query import StreamingQuery

from . import spans

OPERATOR_MODULES = (
    "aggregates cdc cleaning dedup joins json_ops multimodal ordering"
    " sampling scoring similarity temporal text"
).split()

# Every per-layer metric, in BENCHMARK.json's order; RECORD.md maps each to
# the end-to-end metric it should move and on which workload.
PER_LAYER = (
    ["entry.build_s", "entry.jobs"]
    + [f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("self_s", "jobs")]
    + ["schemas.load_table.self_s"]
    + [
        f"execute.{k}"
        for k in (
            "action_s jobs stages tasks task_run_s task_cpu_s busy_ratio"
            " shuffle_read_bytes shuffle_write_bytes spill_bytes useful_job_ratio"
        ).split()
    ]
    + [f"pipeline.{k}_s" for k in ("ingest", "clean", "curate", "serve")]
    + ["pipeline.enforce_zone_s", "pipeline.enforce_zone_jobs"]
    + [f"maintenance.{k}_s" for k in ("dq_check", "dq_unique", "compact_small_files")]
    + [
        "sinks.append_snapshot_s",
        "sinks.overwrite_table_s",
        "sinks.bytes_written",
        "sinks.files_written",
        "sources.latest_partition_scan_s",
        "sources.files_read",
        "sources.files_read_ratio",
        "streaming.run_to_memory_s",
        "streaming.load_stream_table_s",
    ]
    + [
        f"streaming.{k}_s"
        for k in ("trigger", "add_batch", "query_planning", "wal_commit", "copy_out")
    ]
    + [
        "streaming.batches",
        "streaming.input_rows",
        "streaming.state_rows",
        "streaming.state_mem_bytes",
        "session.start_s",
        "session.warmup_s",
        "pass_s",
        "op_p50_s",
        "op_tail_s",
        "peak_rss_mb",
        "stored_bytes_ratio",
        "fail_ratio",
        "trace.overhead_ratio",
        "trace.self_sum_gap_s",
    ]
)

def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes") or last == "bytes_written":
        return "bytes"
    if last.endswith("_ratio"):
        return "ratio"
    return "count"


def layer_modules() -> dict[str, object]:
    import importlib

    from data_lakehouse_hygiene_spark import (
        maintenance,
        pipeline,
        schemas,
        sinks,
        sources,
        streaming,
    )

    mods = {
        "schemas": schemas,
        "sources": sources,
        "sinks": sinks,
        "pipeline": pipeline,
        "maintenance": maintenance,
        "streaming": streaming,
    }
    for m in OPERATOR_MODULES:
        mods[f"operators.{m}"] = importlib.import_module(
            f"data_lakehouse_hygiene_spark.operators.{m}"
        )
    return mods


def install(tracer: spans.Tracer, patcher: spans.Patcher) -> int:
    """Wrap the engine's public functions and the final Spark actions."""
    n = spans.install(tracer, patcher, layer_modules())
    for owner, attr in (
        (DataFrameWriter, "save"),
        (DataFrameWriter, "parquet"),
        (StreamingQuery, "awaitTermination"),
    ):
        fn = getattr(owner, attr)
        patcher.replace_attr(owner, attr, tracer.wrap(fn, f"execute.{attr}", "execute"))
        n += 1
    return n


class ProgressListener(StreamingQueryListener):
    """Collects every query's progress reports through the listener bus."""

    def __init__(self):
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list = []

    def onQueryStarted(self, event):
        self.started.add(str(event.id))

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.id))

    def drain(self, timeout_s: float = 30.0) -> list:
        """Wait until every started query has reported its termination, then
        hand over (and forget) the progress collected so far."""
        deadline = time.monotonic() + timeout_s
        while not self.started <= self.terminated and time.monotonic() < deadline:
            time.sleep(0.01)
        out, self.progress = self.progress, []
        self.started.clear()
        self.terminated.clear()
        return out


def stream_counts(progress: list) -> Counter:
    out: Counter = Counter()
    last_state: dict[str, tuple[int, int]] = {}
    for p in progress:
        d = p.durationMs
        out["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.numInputRows
        ops = p.stateOperators or []
        last_state[str(p.id)] = (
            sum(s.numRowsTotal for s in ops),
            sum(s.memoryUsedBytes for s in ops),
        )
    for rows, mem in last_state.values():
        out["streaming.state_rows"] += rows
        out["streaming.state_mem_bytes"] += mem
    return out


def _outermost(tr: spans.Tracer, idxs: list[int], layer: str) -> list[int]:
    """Spans of ``layer`` among ``idxs`` with no ancestor of the same layer."""
    out = []
    for i in idxs:
        p = tr.spans[i].parent
        while p is not None and tr.spans[p].layer != layer:
            p = tr.spans[p].parent
        if p is None:
            out.append(i)
    return out


def op_metrics(tr: spans.Tracer, root: int, status, executions: list) -> Counter:
    """Per-layer values of one operation, from its span tree rooted at
    ``root`` and the SQL executions it ran."""
    m: Counter = Counter()
    idxs = [root] + tr.descendants(root)
    sp = tr.spans
    by_layer: dict[str, list[int]] = {}
    for i in idxs:
        by_layer.setdefault(sp[i].layer, []).append(i)

    for i in idxs:
        s = sp[i]
        if s.layer.startswith("operators."):
            m[f"{s.layer}.self_s"] += tr.self_time(i)
            m[f"{s.layer}.jobs"] += len(tr.self_jobs(i))
        if s.name == "schemas.load_table":
            m["schemas.load_table.self_s"] += tr.self_time(i)
        if s.layer in ("pipeline", "maintenance", "sinks", "sources", "streaming"):
            m[f"{s.name}_s"] += s.end - s.start
        if s.name == "pipeline.enforce_zone":
            m["pipeline.enforce_zone_jobs"] += len(tr.jobs(i))
        if s.name == "streaming.run_to_memory":
            m["streaming.copy_out_s"] += tr.self_time(i)

    execs = _outermost(tr, by_layer.get("execute", []), "execute")
    exec_jobs: set[int] = set()
    for i in execs:
        exec_jobs |= tr.jobs(i)
        m["execute.action_s"] += sp[i].end - sp[i].start
    for i in by_layer.get("entry", []):
        inner = [
            e for e in execs if sp[e].start >= sp[i].start
            and sp[e].end <= sp[i].end
        ]
        m["entry.build_s"] += (sp[i].end - sp[i].start) - spans._covered(
            [(sp[e].start, sp[e].end) for e in inner], sp[i].start, sp[i].end
        )
        m["entry.jobs"] += len(tr.jobs(i) - exec_jobs)
    m["execute.jobs"] += len(exec_jobs)
    stages = status.stage_metrics(exec_jobs)
    for k in (
        "stages tasks task_run_s task_cpu_s shuffle_read_bytes"
        " shuffle_write_bytes spill_bytes"
    ).split():
        m[f"execute.{k}"] += stages[k]
    m["_all_jobs"] += len(tr.jobs(root))

    sink_jobs: set[int] = set()
    for i in by_layer.get("sinks", []):
        sink_jobs |= tr.jobs(i)
    m["sinks.bytes_written"] += status.stage_metrics(sink_jobs)["output_bytes"]
    clean_jobs: set[int] = set()
    for i in idxs:
        if sp[i].name == "pipeline.clean":
            clean_jobs |= tr.jobs(i)
    for jobs, counts in executions:
        if jobs & sink_jobs:
            m["sinks.files_written"] += counts["number of written files"]
        if jobs & clean_jobs:
            m["sources.files_read"] += counts["number of files read"]

    m["_wall_s"] += sp[root].end - sp[root].start
    m["_self_sum_s"] += sum(tr.self_time(i) for i in idxs)
    return m


def finish(total: Counter, passes: int, cores: int) -> dict[str, float]:
    """Per-pass values of every per-layer metric from the summed counts."""
    per = {k: v / passes for k, v in total.items() if not k.startswith("_")}
    action = per.get("execute.action_s", 0.0)
    per["execute.busy_ratio"] = (
        per.get("execute.task_run_s", 0.0) / (action * cores) if action else 0.0
    )
    all_jobs = total["_all_jobs"]
    per["execute.useful_job_ratio"] = (
        total["execute.jobs"] / all_jobs if all_jobs else 0.0
    )
    present = total["_raw_files_present"]
    per["sources.files_read_ratio"] = (
        total["sources.files_read"] / present if present else 0.0
    )
    return per
