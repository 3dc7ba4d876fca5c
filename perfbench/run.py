"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates its inputs from the seed
(not timed), starts one Spark session at ``local[<cores>]``, opens the
inputs and makes one warm-up pass that also checks every operation against
its DuckDB oracle (together: set-up), then runs timed passes until
``--seconds`` have passed (at least one). ``--trace 1`` adds one traced
pass and one more untraced pass, and reports per-layer metrics instead of
end-to-end ones.

Every metric is printed by name, with its unit and sample count, on
standard error. The last line of standard output is one JSON object,
``{"correct", "attempted", "failed", "metrics"}``, whose metrics are the
end-to-end ones (``--trace 0``) or the per-layer ones (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input size (a scale factor of the engine's synthetic tables), medallion
# hours per pass and the share of customer rows that change per hour.
SCALE = 0.002
HOURS = 2
DRIFT = 0.01

# End-to-end metrics: the ones that repeat from run to run on a shared
# four-core box. Wall-clock pass and operation times and the memory peak
# are measured in every run too, but swing with the box's ambient load and
# the JVM's heap sizing, so they are reported with the per-layer metrics.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it;
    100 (the slowest operation) when the run has fewer than 20 samples."""
    if n < 20:
        return 100
    return int(100 * (n - 10) / n)


def percentile(values: list[float], q: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(-(-q * len(s) // 100) - 1, 0)
    return s[min(k, len(s) - 1)]


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_cpu_s(pids) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    ``pids`` and every live descendant of them, read from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    wanted = {int(p) for p in pids}
    while True:
        kids = {p for p, (ppid, _) in stats.items() if ppid in wanted} - wanted
        if not kids:
            break
        wanted |= kids
    return sum(stats[p][1] for p in wanted if p in stats) / tick


def _prepare_env(work: str) -> int:
    """Environment for the Spark session, set before it starts: all cores,
    and every scratch file of Spark, the JVM and Python inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # JVM temporary files in ``tmp``, and no performance-data file in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # No console progress bar: it interleaves with the benchmark's report.
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    return cores


def _inputs(work: str, seed: int) -> dict:
    """The seed's generated inputs, written on first use."""
    from perfbench import gen

    root = os.path.join(work, "data", f"seed{seed}-sf{SCALE}-h{HOURS}")
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        gen.generate(root, seed, SCALE, HOURS, DRIFT)
        open(done, "w").close()
    return gen.layout(root, HOURS)


def main(argv=None) -> int:
    args = _args(argv)
    # Import the benchmark as a package from the repository root, not its
    # files as top-level modules from the script's directory.
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    cores = _prepare_env(scratch)
    g0 = time.perf_counter()
    inputs = _inputs(scratch, args.seed)
    print(f"# inputs ready in {time.perf_counter() - g0:.2f} s", file=sys.stderr)

    import __spark_entry__ as entry
    from data_lakehouse_hygiene_spark.session import get_spark

    from perfbench.sparkstat import SparkStatus

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        status = SparkStatus(spark)
        run = workloads.Run(
            spark=spark,
            entry=entry,
            inputs=inputs,
            work_dir=work,
            pids=(os.getpid(), status.jvm_pid()),
        )
        wl = workloads.WORKLOADS[args.workload]()
        return _measure(args, wl, run, status, cores, start_s, t0)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (it exits
    when its standard input closes; its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(args, wl, run, status, cores, start_s, t0) -> int:
    wl.open_inputs(run)
    w0 = time.perf_counter()
    wl.warmup(run)
    warmup_s = time.perf_counter() - w0 - run.oracle_s
    setup_s = time.perf_counter() - t0 - run.oracle_s

    ops: list[tuple[str, float, bool]] = []
    passes = _timed(run, wl, ops, args.seconds)
    named = [(dt, ok) for name, dt, ok in ops if name is not None]
    attempted, failed = len(named), sum(1 for _, ok in named if not ok)
    op_times = [dt for dt, _ in named]
    q = tail_percentile(len(op_times))
    n_pass = len(passes)
    stored = getattr(wl, "stored_ratios", [])
    # name -> (value, unit, samples behind the value)
    seen = {
        "setup_s": (setup_s, "s", 1),
        "pass_cpu_s": (statistics.median(c for _, c in passes), "s", n_pass),
        "pass_s": (statistics.median(w for w, _ in passes), "s", n_pass),
        "op_p50_s": (percentile(op_times, 50), "s", len(op_times)),
        "op_tail_s": (percentile(op_times, q), "s", len(op_times)),
        "peak_rss_mb": (
            (_hwm_kb(run.pids[1]) + _hwm_kb("self")) / 1024.0, "MB", 1,
        ),
        "fail_ratio": (failed / max(attempted, 1), "ratio", attempted),
        "session.start_s": (start_s, "s", 1),
        "session.warmup_s": (warmup_s, "s", 1),
    }
    if stored:
        seen["stored_bytes_ratio"] = (statistics.median(stored), "ratio", len(stored))
    print(
        f"# {wl.name}: session {start_s:.2f} s, warm-up {warmup_s:.2f} s"
        f" (+ {run.oracle_s:.2f} s in DuckDB, not counted);"
        f" op_tail_s is p{q} of {len(op_times)} operations",
        file=sys.stderr,
    )
    for k, (v, unit, n) in seen.items():
        print(f"{wl.name} {k} = {v:.6g} {unit} (n={n})", file=sys.stderr)
    for name, msg in sorted(run.failed_checks.items()):
        print(f"# oracle mismatch in {name}: {msg}", file=sys.stderr)

    if args.trace:
        from perfbench import layers

        per = _traced(run, wl, status, cores, args.seconds, passes)
        per.update({k: v for k, (v, _, _) in seen.items() if k in layers.PER_LAYER})
        metrics = {k: (per.get(k, 0.0), layers.unit_of(k)) for k in layers.PER_LAYER}
        for k, (v, unit) in metrics.items():
            print(f"{wl.name} {k} = {v:.6g} {unit}", file=sys.stderr)
    else:
        metrics = {k: seen[k][:2] for k in END_TO_END}
    out = {
        "correct": failed == 0 and not run.failed_checks,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def _timed(run, wl, ops: list, seconds: float, record=None) -> list[tuple[float, float]]:
    """Timed passes until ``seconds`` have passed (at least one), each
    checked after its timing ends. Returns per pass (wall, cpu): the sum of
    its operations' and pass-level work's wall times, and the CPU seconds
    the benchmark process, the JVM and its Python workers used during it."""
    passes: list[tuple[float, float]] = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        mine: list[tuple[str, float, bool]] = []

        def rec(name, dt, ok):
            mine.append((name, dt, ok))
            if record is not None:
                record(name, dt, ok)

        c0 = tree_cpu_s(run.pids)
        wl.run_pass(run, rec)
        passes.append((sum(dt for _, dt, _ in mine), tree_cpu_s(run.pids) - c0))
        wrong = wl.check_pass(run)
        ops.extend((name, dt, ok and name not in wrong) for name, dt, ok in mine)
    return passes


def _traced(run, wl, status, cores, seconds, untraced) -> dict:
    """Traced passes: per-layer metrics per pass, plus the tracing overhead,
    the traced pass time over the median of the untraced passes before and
    after it in the same process."""
    from perfbench import layers, spans

    tracer = spans.Tracer(status.next_job_id)
    patcher = spans.Patcher()
    listener = layers.ProgressListener()
    run.spark.streams.addListener(listener)
    layers.install(tracer, patcher)
    run.tracer = tracer
    total: Counter = Counter()
    gap = 0.0
    mark = {"span": 0, "execution": status.execution_count()}

    def record(name, dt, ok):
        # Summarize every operation whose root span closed since last time.
        nonlocal gap
        status.drain()
        executions = status.sql_executions(mark["execution"])
        for root in tracer.roots():
            if root >= mark["span"]:
                m = layers.op_metrics(tracer, root, status, executions)
                gap = max(gap, abs(m["_self_sum_s"] - m["_wall_s"]))
                total.update(m)
        total.update(layers.stream_counts(listener.drain()))
        mark["span"] = len(tracer.spans)
        mark["execution"] = status.execution_count()

    raw0 = getattr(wl, "raw_files_present", 0)
    try:
        traced = _timed(run, wl, [], seconds, record)
    finally:
        patcher.undo()
        run.tracer = None
        run.spark.streams.removeListener(listener)
    total["_raw_files_present"] += getattr(wl, "raw_files_present", 0) - raw0
    after = _timed(run, wl, [], 0)
    per = layers.finish(total, len(traced), cores)
    base = statistics.median([statistics.median(w for w, _ in untraced), after[0][0]])
    per["trace.overhead_ratio"] = statistics.median(w for w, _ in traced) / base
    per["trace.self_sum_gap_s"] = gap
    return per


if __name__ == "__main__":
    sys.exit(main())
