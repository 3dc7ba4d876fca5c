"""Reads Spark's status stores through the py4j gateway.

Job ids come from the DAG scheduler's counter; stage metrics from the
application status store's key-value store; SQL plan metrics (files read,
files written) from the SQL status store. All of these are populated with
the UI disabled. The stores are written by listeners on Spark's
asynchronous listener bus, so ``drain`` must run before they are read.
"""

from __future__ import annotations

from collections import Counter

STAGE_WRAPPER = "org.apache.spark.status.StageDataWrapper"


def _as_int(text: str) -> int:
    return int(str(text).replace(",", "").split()[0])


class SparkStatus:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self._gw = self._sc._gateway
        self._dag = jsc.dagScheduler()
        self._kv = jsc.statusStore().store()
        self._stage_cls = self._jvm.java.lang.Class.forName(STAGE_WRAPPER)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._tracker = self._sc.statusTracker()
        self._bus = jsc.listenerBus()

    def drain(self) -> None:
        """Wait until every event posted so far (task, stage, job and SQL
        execution ends) has reached the status stores."""
        self._bus.waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def stage_metrics(self, job_ids) -> Counter:
        """Sum of the metrics of every stage the jobs ran (skipped stages,
        whose output was reused, are not counted)."""
        out: Counter = Counter()
        seen: set[int] = set()
        for j in sorted(job_ids):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                key = self._gw.new_array(self._jvm.int, 2)
                key[0], key[1] = sid, 0
                sd = self._kv.read(self._stage_cls, key).info()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
        return out

    def execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def sql_executions(self, start: int) -> list[tuple[set[int], Counter]]:
        """(job ids, summed count metrics) of every SQL execution from index
        ``start`` on. Only metrics whose value is a plain count are kept."""
        n = self.execution_count()
        out = []
        if n <= start:
            return out
        for ex in self._conv.asJava(self._sql.executionsList(start, n - start)):
            jobs = {int(j) for j in self._conv.asJava(ex.jobs()).keySet()}
            names = {
                m.accumulatorId(): m.name()
                for m in self._conv.asJava(ex.metrics())
                if m.metricType() == "sum"
            }
            values = self._conv.asJava(self._sql.executionMetrics(ex.executionId()))
            counts: Counter = Counter()
            for acc, text in values.items():
                if acc in names:
                    counts[names[acc]] += _as_int(text)
            out.append((jobs, counts))
        return out
