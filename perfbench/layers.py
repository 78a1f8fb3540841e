"""Per-layer tracing from outside the engine.

Everything here reads what Spark already records: the core status store
(jobs and stages), the SQL status store (the Python-worker SQL metrics of
each execution) and a ``StreamingQueryListener``. Nothing is added inside
the engine's package. ``Tracer.collect`` is called after every op, so the
status stores' retention (1000 jobs) never drops a job before it is read.
"""

from __future__ import annotations

import re
import threading
from datetime import datetime

# Spark's Python SQL metric names (PythonSQLMetrics) → per-layer metric
PYTHON_SQL_METRICS = {
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_TOTAL = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

SPARK_STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("total (min, med, max ...)\\n1.2 KiB
    (...)" or a bare "12 ms"); 0.0 when the metric never fired."""
    if not text:
        return 0.0
    lines = text.strip().splitlines()
    head = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _TOTAL.search(head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


STREAM_DURATIONS = {
    "streaming.trigger_s": ("triggerExecution",),
    "streaming.add_batch_s": ("addBatch",),
    "streaming.wal_commit_s": ("walCommit", "commitOffsets"),
}


def add_progress(m: dict, progress: list[dict]) -> None:
    """Add streaming progress events (their durationMs maps) to metrics m."""
    m["streaming.batches"] = m.get("streaming.batches", 0) + len(progress)
    for key, parts in STREAM_DURATIONS.items():
        m[key] = m.get(key, 0.0) + sum(p.get(k, 0) for p in progress for k in parts) / 1e3


def _opt_epoch_s(opt) -> float | None:
    """scala Option[java.util.Date] → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StreamEvents:
    """Collects ``onQueryProgress`` events of every streaming query as
    (batch start epoch seconds, durationMs map)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[tuple[float, dict]] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                with events.lock:
                    events.progress.append((start.timestamp(), dict(p.durationMs or {})))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def take(self) -> list[tuple[float, dict]]:
        with self.lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    """Reads the status stores after each op and attributes what it finds
    to the op's build or exec phase by job submission time."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.skip()
        self.stream = StreamEvents()
        self._listener = self.stream.listener()
        spark.streams.addListener(self._listener)

    def close(self):
        self.spark.streams.removeListener(self._listener)

    def skip(self) -> None:
        """Forget the jobs and executions recorded so far (work of untraced
        passes)."""
        self.last_job = self._max_job_id()
        self.last_exec = self._max_execution_id()
        self.last_task_ms = self._task_ms()

    def assign_streaming(self, records: list[dict]) -> None:
        """Add every progress event received to the traced op whose interval
        holds its batch start. Called once at the end, after events in
        flight have landed; events of untraced ops are dropped."""
        events = self.stream.take()
        for rec in records:
            add_progress(rec["layers"], [d for t, d in events if rec["t0"] <= t < rec["t_end"]])

    def _task_ms(self) -> int:
        """Summed duration of every task so far, launch to finish: run time
        plus deserialisation, result serialisation and scheduling gaps."""
        executors = self.store.executorList(False)
        return sum(executors.apply(i).totalDuration() for i in range(executors.size()))

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_execution_id(self) -> int:
        n = self.sql.executionsCount()
        return self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def _new_jobs(self) -> list[dict]:
        top = self._max_job_id()
        out = []
        for jid in range(self.last_job + 1, top + 1):
            j = self.store.job(jid)
            out.append({
                "id": jid,
                "submitted": _opt_epoch_s(j.submissionTime()),
                "completed": _opt_epoch_s(j.completionTime()),
                "stages": [j.stageIds().apply(i) for i in range(j.stageIds().size())],
                "failed_tasks": j.numFailedTasks(),
            })
        self.last_job = max(self.last_job, top)
        return out

    def _stage_metrics(self, stage_ids) -> dict:
        acc = {k: 0.0 for k in SPARK_STAGE_FIELDS}
        acc.update({"spark.stages": 0, "spark.tasks": 0, "spark.spill_bytes": 0})
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            acc["spark.stages"] += 1
            acc["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            acc["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            for key, (field, scale) in SPARK_STAGE_FIELDS.items():
                acc[key] += getattr(s, field)() * scale
        return acc

    def _python_metrics(self) -> dict:
        acc = {k: 0.0 for k in PYTHON_SQL_METRICS.values()}
        top = self._max_execution_id()
        for eid in range(self.last_exec + 1, top + 1):
            data = self.sql.execution(eid)
            if not data.isDefined():
                continue
            values = self.sql.executionMetrics(eid)
            seen = set()  # a plan graph may list one accumulator more than once
            it = data.get().metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = PYTHON_SQL_METRICS.get(m.name())
                acc_id = m.accumulatorId()
                if key is not None and acc_id not in seen and values.contains(acc_id):
                    seen.add(acc_id)
                    acc[key] += parse_sql_metric(values.apply(acc_id))
        self.last_exec = max(self.last_exec, top)
        return acc

    def collect(self, t0: float, t_build: float, t_end: float) -> tuple[dict, list[dict]]:
        """Per-layer metrics of one op whose build ran [t0, t_build) and
        whose action ran [t_build, t_end), all epoch seconds."""
        jobs = self._new_jobs()
        build = [j for j in jobs if j["submitted"] is not None and j["submitted"] < t_build]
        run = [j for j in jobs if j not in build]
        first_exec_job = min((j["submitted"] for j in run if j["submitted"]), default=t_end)
        m = self._stage_metrics([s for j in jobs for s in j["stages"]])
        # executor run time of the action's jobs only: the numerator of
        # spark.slot_util, whose denominator is the action's wall time
        m["spark.exec_run_s"] = self._stage_metrics(
            [s for j in run for s in j["stages"]]
        )["spark.executor_run_s"]
        m.update(self._python_metrics())
        task_ms = self._task_ms()
        m["spark.task_s"] = (task_ms - self.last_task_ms) / 1e3
        self.last_task_ms = task_ms
        m["spark.jobs"] = len(jobs)
        m["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs)
        m["queries.build_s"] = t_build - t0
        m["queries.build_jobs"] = len(build)
        m["spark.plan_s"] = max(first_exec_job - t_build, 0.0)
        m["spark.exec_s"] = max(t_end - max(first_exec_job, t_build), 0.0)
        add_progress(m, [])
        for j in jobs:
            j["phase"] = "build" if j in build else "exec"
        return m, jobs
