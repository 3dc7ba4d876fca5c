"""Measure the streaming family: per declared streaming row,
availableNow end-to-end wall (median of reps) plus state-store totals
(rows, memory) from the final StreamingQueryProgress of every query the
row starts. The progress comes from a ``StreamingQueryListener``, so the
rows run the engine's own ``streaming.run_to_memory``.

Usage: python tools/measure_streaming.py [sf_dir] [reps]
Writes one line per row; paste into SCALING.md's STREAMING section.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from data_lakehouse_hygiene_spark.session import get_spark  # noqa: E402
from perfbench.layers import ProgressListener  # noqa: E402

ROWS = [
    "streaming_time_bucket",
    "streaming_sliding_window",
    "streaming_session_window",
    "streaming_dedup",
    "streaming_debounce",
    "streaming_join",
    "streaming_enrich",
    "streaming_near_dup",
    "streaming_line_dedup",
    "streaming_heavy_hitters",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="measure_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    listener = ProgressListener()
    spark.streams.addListener(listener)
    qs = entrymod.queries()
    results = {}
    for name in ROWS:
        if name not in qs:
            continue
        listener.drain()  # forget the previous row's timed runs
        # warmup (also captures state metrics)
        df = qs[name](spark, sf_dir)
        n_out = df.count()
        # drain() waits for every started query to terminate: the listener
        # bus is asynchronous. Keep each query's final progress.
        last = {str(p.runId): p for p in listener.drain()}
        ops = [so for p in last.values() for so in p.stateOperators or []]
        state_rows = sum(so.numRowsTotal for so in ops)
        state_mem = sum(so.memoryUsedBytes for so in ops)
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.perf_counter() - t0)
        results[name] = {
            "median_sec": round(statistics.median(ts), 3),
            "runs": [round(t, 2) for t in ts],
            "out_rows": n_out,
            "state_rows_total": state_rows,
            "state_memory_bytes": state_mem,
            "queries_started": len(last),
        }
        print(name, json.dumps(results[name]))
    spark.streams.removeListener(listener)
    print(json.dumps({"sf_dir": sf_dir, "results": results}))


if __name__ == "__main__":
    main()
