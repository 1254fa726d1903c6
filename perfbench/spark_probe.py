"""Read Spark's own bookkeeping from outside the library.

* Jobs and stages come from the core status store
  (`SparkContext.statusStore`), read by id right after each operation:
  the store keeps only `spark.ui.retainedJobs`/`retainedStages` (1000)
  entries, so before/after totals over its lists go negative once it
  starts evicting.
* Python-worker and scan metrics come from the SQL status store, one
  execution at a time by id.
* Streaming trigger phases come from a `StreamingQueryListener`.
Micro-batch jobs run on the stream's own thread without the caller's
job group, so everything is attributed to operations by time.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from measure import parse_sql_metric

#: SQL metric name → the record field it adds to.
SQL_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "to_py_mb",
    "data returned from Python workers": "from_py_mb",
    "size of files read": "files_read_mb",
}

#: Stage fields summed into each job record (name → scale to s / MiB).
STAGE_FIELDS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
}


def _ms(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Incremental reader of jobs and SQL executions by id."""

    def __init__(self, spark):
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def skip_to_now(self) -> None:
        """Forget everything submitted so far."""
        self.drain()
        self.new_jobs()
        self.new_executions()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, with summed stage metrics."""
        out = []
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                return out
            self._next_job += 1
            rec = defaultdict(float)
            rec["job_id"] = job.jobId()
            rec["submitted"] = _ms(job.submissionTime())
            rec["completed"] = _ms(job.completionTime())
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    sd = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue  # stage already evicted
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numTasks()
                for field, (name, scale) in STAGE_FIELDS.items():
                    rec[name] += getattr(sd, field)() * scale
            if rec["submitted"] is not None:
                out.append(dict(rec))

    def new_executions(self) -> list[dict]:
        """SQL executions submitted since the last call, with the
        Python-worker and scan metrics summed per field."""
        out = []
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                return out
            self._next_exec += 1
            ex = opt.get()
            rec = defaultdict(float)
            rec["submitted"] = ex.submissionTime() / 1000.0
            values = self._sql.executionMetrics(ex.executionId())
            seen = set()
            metrics = ex.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                field = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if field is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    rec[field] += parse_sql_metric(v.get())
            out.append(dict(rec))


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs and cached frames."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class TriggerLog(StreamingQueryListener):
    """Collects one record per streaming trigger (micro-batch)."""

    def __init__(self):
        self.triggers: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        start = _epoch(p.timestamp)
        self.triggers.append({
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "input_rows": p.numInputRows,
            "trigger_s": d.get("triggerExecution", 0) / 1000.0,
            "add_batch_s": d.get("addBatch", 0) / 1000.0,
            "planning_s": d.get("queryPlanning", 0) / 1000.0,
            "offsets_s": (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
            "state_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / 2**20,
            "query": p.name or str(p.id),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
