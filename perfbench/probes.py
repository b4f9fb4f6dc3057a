"""Readers of what Spark already reports, from outside the program.

* :class:`ProgressLog` — a ``StreamingQueryListener`` the benchmark
  registers; it keeps every ``StreamingQueryProgress``.
* :class:`StatusReader` — the app status store (jobs, stages, tasks) and
  the SQL status store (Python-crossing node metrics), read incrementally
  so each call returns only what finished since the previous one.
* :class:`RssSampler` — peak resident memory of this process and all its
  descendants (the driver JVM and the Python workers).

Nothing here patches or wraps program code.
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def flush_listener_bus(spark) -> None:
    """Block until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class ProgressLog(StreamingQueryListener):
    """Collects streaming progress events; :meth:`take` drains them."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, spark) -> list:
        flush_listener_bus(spark)
        with self._lock:
            out, self._events = self._events, []
        return out


# ---------------------------------------------------------------------------
# status stores
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int
    stage_ids: list[int]
    run_id: str | None  # streaming run that submitted it, if any
    batch_id: int | None


@dataclass
class Stage:
    stage_id: int
    tasks: int
    executor_run_ms: int
    executor_cpu_ms: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    output_bytes: int
    task_ms: list[int] = field(default_factory=list)


_DESC_RE = re.compile(r"runId = (\S+)\nbatch = (\d+)")
# bytes for size metrics, milliseconds for timing metrics
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
# Python-crossing node metrics, by the display name Spark gives them. Spark
# attributes them to the SQL execution whose plan holds the Python node; a
# foreachBatch sink runs the micro-batch's jobs under nested executions, so
# those queries report none.
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
    "number of output rows": "python.rows_received",
    "time to run Python workers": "python.run_ms",
}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: ``"12.3 MiB"``, ``"42"``, ``"1.2 s"``,
    or the ``"total (min, med, max ...)\n12.3 MiB (...)"`` form."""
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", text.strip().split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def _opt(option):
    return option.get() if option.isDefined() else None


class StatusReader:
    """Incremental reads of the app and SQL status stores of one context."""

    def __init__(self, spark) -> None:
        self._spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = spark._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    # jobsList is newest first and executionsList oldest first, so both
    # incremental reads stop at the first entry already seen

    def _max_job_id(self) -> int:
        jobs = self._jobs()
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec_id(self) -> int:
        ex = self._sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def new_jobs(self) -> list[Job]:
        """Jobs that completed since the last call."""
        flush_listener_bus(self._spark)
        seq = self._jobs()
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self._last_job:
                break
            start, end = _opt(j.submissionTime()), _opt(j.completionTime())
            if start is None or end is None:
                continue
            m = _DESC_RE.search(_opt(j.description()) or "")
            ids = j.stageIds()
            jobs.append(
                Job(
                    job_id=j.jobId(),
                    start_ms=start.getTime(),
                    end_ms=end.getTime(),
                    stage_ids=[ids.apply(k) for k in range(ids.size())],
                    run_id=m.group(1) if m else None,
                    batch_id=int(m.group(2)) if m else None,
                )
            )
        if jobs:
            self._last_job = max(j.job_id for j in jobs)
        return jobs

    def stages(self, jobs: list[Job]) -> list[Stage]:
        """Every executed stage attempt of ``jobs``, with task durations."""
        return [
            s
            for sid in sorted({s for j in jobs for s in j.stage_ids})
            for s in self._stage(sid)
        ]

    def _stage(self, stage_id: int) -> list[Stage]:
        try:
            attempts = self._store.stageData(
                stage_id, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
        except Py4JJavaError:  # skipped stages (reused shuffle output) have no data
            return []
        out = []
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.numCompleteTasks() == 0:
                continue
            st = Stage(
                stage_id=stage_id,
                tasks=s.numCompleteTasks(),
                executor_run_ms=s.executorRunTime(),
                executor_cpu_ms=s.executorCpuTime() / 1e6,
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                output_bytes=s.outputBytes(),
            )
            tasks = self._store.taskList(stage_id, s.attemptId(), 100_000)
            for k in range(tasks.size()):
                d = _opt(tasks.apply(k).duration())
                if d is not None:
                    st.task_ms.append(int(d))
            out.append(st)
        return out

    def skip_python(self) -> None:
        """Mark every SQL execution so far as read."""
        self._last_exec = self._max_exec_id()

    def new_python_metrics(self) -> dict[str, float]:
        """Python-crossing node metrics summed over the SQL executions that
        finished since the last call."""
        totals = {name: 0.0 for name in PYTHON_METRICS.values()}
        ex = self._sql.executionsList()
        newest = self._last_exec
        for i in reversed(range(ex.size())):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                break
            if not e.completionTime().isDefined():
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Python" not in node.name() and "Pandas" not in node.name():
                    continue
                # a node can hold two metrics of one display name (the
                # operator's output rows and the rows Python returned)
                node_values: dict[str, float] = {}
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = PYTHON_METRICS.get(metric.name())
                    text = _opt(values.get(metric.accumulatorId()))
                    if key and text:
                        node_values[key] = max(node_values.get(key, 0.0), _metric_total(text))
                for key, value in node_values.items():
                    totals[key] += value
        self._last_exec = newest
        return totals


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        parent.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pids() -> list[int]:
    """This process and every process it started, transitively."""
    return _descendants(os.getpid())


class RssSampler:
    """Samples the summed RSS of the process tree on a background thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in tree_pids())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
