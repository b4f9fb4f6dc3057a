"""Per-layer metrics and spans, derived from what a traced pass recorded.

Every number comes from outside the program: the benchmark's own clock
around the registry call and the result write, the streaming progress
reports, and the app and SQL status stores. Additive metrics are given per
pass (summed over one pass's queries, averaged over the traced passes), so
they compare directly with a pass's wall time.
"""

from __future__ import annotations

import datetime
import statistics
from dataclasses import dataclass, field

from workloads import USER_KEYED

# layer metric -> (end-to-end metric it should move, workload where it shows)
LAYER_MAP = {
    "session.build_s": ("setup_s", "all"),
    "sources.split_s": ("setup_s", "all"),
    "op.call_ms": ("events_per_s, queries_per_s", "all"),
    "op.materialize_ms": ("events_per_s, queries_per_s", "all"),
    "stream.add_batch_ms": ("events_per_s", "stateful_fold"),
    "stream.batches": ("batch_p50_ms", "stateful_fold"),
    "stream.trigger_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.overhead_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.wal_commit_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.commit_offsets_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.latest_offset_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.query_planning_ms": ("batch_p50_ms", "stateful_fold"),
    "stream.start_ms": ("batch_p50_ms", "stateful_fold"),
    "state.updates_per_key": ("events_per_s", "stateful_fold"),
    "state.update_ms": ("events_per_s", "stateful_fold"),
    "state.rows_total": ("mem.peak_rss_mb", "stateful_fold"),
    "state.rows_updated": ("events_per_s", "stateful_fold"),
    "state.rows_removed": ("events_per_s", "stateful_fold"),
    "state.removal_ms": ("events_per_s", "stateful_fold"),
    "state.commit_ms": ("batch_p50_ms", "stateful_fold"),
    "state.memory_bytes": ("mem.peak_rss_mb", "stateful_fold"),
    "rocksdb.*": ("batch_p50_ms, mem.peak_rss_mb", "stateful_fold"),
    "python.*": ("events_per_s", "stateful_fold (zero on batch_mix)"),
    "spark.jobs": ("query_p50_ms", "batch_mix"),
    "spark.tasks": ("query_p50_ms", "batch_mix"),
    "spark.task_p50_ms": ("query_p50_ms", "batch_mix"),
    "spark.stages": ("query_p50_ms", "batch_mix"),
    "spark.shuffle_read_bytes": ("queries_per_s", "batch_mix"),
    "spark.shuffle_write_bytes": ("queries_per_s", "batch_mix"),
    "spark.busy_frac": ("queries_per_s", "batch_mix"),
    "spark.executor_run_ms": ("queries_per_s", "batch_mix"),
    "spark.executor_cpu_ms": ("queries_per_s", "batch_mix"),
    "spark.output_bytes": ("events_per_s", "stateful_fold"),
    "driver.self_ms": ("query_p50_ms, batch_p50_ms", "batch_mix"),
    "operators.*": ("queries_per_s", "batch_mix"),
    "scale.speedup_4v1": ("events_per_s, queries_per_s", "stateful_fold, batch_mix"),
    "trace.*": ("tracing overhead: traced minus untraced", "all"),
    # Peak RSS follows the JVM's heap growth (G1 under an 8 GB cap) more
    # than the program's live data: 2.2 to 4.8 GB over four seeds of one
    # workload, too wide to bound, so it is a per-layer reading.
    "mem.peak_rss_mb": ("memory, the reference's motivation", "all"),
}

_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
}
_STATE = {
    "state.rows_updated": "numRowsUpdated",
    "state.rows_removed": "numRowsRemoved",
    "state.update_ms": "allUpdatesTimeMs",
    "state.removal_ms": "allRemovalsTimeMs",
    "state.commit_ms": "commitTimeMs",
}
_ROCKSDB_SUMS = {
    "rocksdb.put_count": "rocksdbPutCount",
    "rocksdb.get_count": "rocksdbGetCount",
    "rocksdb.commit_checkpoint_ms": "rocksdbCommitCheckpointLatency",
    "rocksdb.commit_flush_ms": "rocksdbCommitFlushLatency",
    "rocksdb.changelog_commit_ms": "rocksdbChangeLogWriterCommitLatencyMs",
    "rocksdb.file_sync_ms": "rocksdbCommitFileSyncLatencyMs",
    "rocksdb.load_ms": "rocksdbLoadLatencyMs",
    "rocksdb.bytes_written": "rocksdbTotalBytesWritten",
}
_PYTHON = (
    "python.rows_received",
    "python.data_sent_bytes",
    "python.data_received_bytes",
    "python.run_ms",
)
OPERATOR_MODULES = ("relational", "tpch_suite", "stateful_batch", "streaming_queries")

UNITS = {
    "session.build_s": "s",
    "sources.split_s": "s",
    "stream.batches": "count",
    "state.rows_total": "rows",
    "state.rows_updated": "rows",
    "state.rows_removed": "rows",
    "state.memory_bytes": "bytes",
    "state.updates_per_key": "ratio",
    "rocksdb.put_count": "count",
    "rocksdb.get_count": "count",
    "rocksdb.bytes_written": "bytes",
    "rocksdb.sst_bytes": "bytes",
    "python.rows_received": "rows",
    "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.busy_frac": "ratio",
    "scale.speedup_4v1": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.events_per_s_delta": "events/s",
    "trace.queries_per_s_delta": "queries/s",
}


def unit(name: str) -> str:
    return UNITS.get(name, "ms")


def progress_start_ms(progress) -> float:
    """Trigger start of a progress report, as epoch milliseconds."""
    ts = datetime.datetime.strptime(progress.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000


@dataclass
class Op:
    """One registry call and the write of its result, with what it caused."""

    name: str
    module: str
    pass_no: int
    traced: bool
    start_ms: float = 0.0  # epoch
    call_s: float = 0.0
    materialize_s: float = 0.0
    stolen: float = 0.0  # share of the CPU time wanted meanwhile that other guests got
    error: str | None = None
    batches: list = field(default_factory=list)  # StreamingQueryProgress
    jobs: list = field(default_factory=list)  # probes.Job
    stages: list = field(default_factory=list)  # probes.Stage
    python: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.call_s + self.materialize_s

    @property
    def own(self) -> float:
        """Share of the op's wall time the host gave its CPUs to the run."""
        return 1.0 - self.stolen

    @property
    def own_s(self) -> float:
        return self.wall_s * self.own

    @property
    def end_ms(self) -> float:
        return self.start_ms + self.wall_s * 1000


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _state_ops(progress):
    return progress.stateOperators or []


def layer_metrics(ops: list[Op], events, cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced ops (see the module docstring)."""
    passes = len({op.pass_no for op in ops}) or 1
    batches = [b for op in ops for b in op.batches]
    stages = [s for op in ops for s in op.stages]
    out: dict[str, float] = {}

    def per_pass(value: float) -> float:
        return value / passes

    out["op.call_ms"] = per_pass(sum(op.call_s for op in ops) * 1000)
    out["op.materialize_ms"] = per_pass(sum(op.materialize_s for op in ops) * 1000)

    # checkpoint protocol, from each micro-batch's durationMs
    trig = sum(b.durationMs.get("triggerExecution", 0) for b in batches)
    out["stream.batches"] = per_pass(len(batches))
    out["stream.trigger_ms"] = per_pass(trig)
    for name, phase in _PHASES.items():
        out[name] = per_pass(sum(b.durationMs.get(phase, 0) for b in batches))
    out["stream.overhead_ms"] = out["stream.trigger_ms"] - out["stream.add_batch_ms"]
    out["stream.start_ms"] = per_pass(
        sum(progress_start_ms(op.batches[0]) - op.start_ms for op in ops if op.batches)
    )

    # state store
    out["state.rows_total"] = per_pass(
        sum(
            sum(s.numRowsTotal for s in _state_ops(op.batches[-1]))
            for op in ops
            if op.batches
        )
    )
    for name, attr in _STATE.items():
        out[name] = per_pass(
            sum(getattr(s, attr) for b in batches for s in _state_ops(b))
        )
    out["state.memory_bytes"] = max(
        (sum(s.memoryUsedBytes for s in _state_ops(b)) for b in batches), default=0
    )
    ratios = [
        sum(s.numRowsUpdated for s in _state_ops(b)) / events.slice_keys[n][b.batchId]
        for op in ops
        if (n := USER_KEYED.get(op.name))
        for b in op.batches
        if b.batchId >= 1 and b.numInputRows > 0
    ]
    out["state.updates_per_key"] = statistics.median(ratios) if ratios else 0.0

    # RocksDB, from the state operators' custom metrics
    def custom(key: str):
        return [
            s.customMetrics.get(key, 0) for b in batches for s in _state_ops(b)
        ]

    for name, key in _ROCKSDB_SUMS.items():
        out[name] = per_pass(sum(custom(key)))
    out["rocksdb.sst_bytes"] = max(custom("rocksdbSstFileSize"), default=0)

    # Python crossings, from the SQL status store
    for name in _PYTHON:
        out[name] = per_pass(sum(op.python.get(name, 0.0) for op in ops))

    # scheduler, from the app status store
    tasks = [t for s in stages for t in s.task_ms]
    run_ms = sum(s.executor_run_ms for s in stages)
    wall_ms = sum(op.wall_s for op in ops) * 1000
    out["spark.jobs"] = per_pass(sum(len(op.jobs) for op in ops))
    out["spark.stages"] = per_pass(len(stages))
    out["spark.tasks"] = per_pass(len(tasks))
    out["spark.task_p50_ms"] = statistics.median(tasks) if tasks else 0.0
    out["spark.executor_run_ms"] = per_pass(run_ms)
    out["spark.executor_cpu_ms"] = per_pass(sum(s.executor_cpu_ms for s in stages))
    out["spark.shuffle_read_bytes"] = per_pass(sum(s.shuffle_read_bytes for s in stages))
    out["spark.shuffle_write_bytes"] = per_pass(
        sum(s.shuffle_write_bytes for s in stages)
    )
    out["spark.output_bytes"] = per_pass(sum(s.output_bytes for s in stages))
    out["spark.busy_frac"] = run_ms / (cores * wall_ms) if wall_ms else 0.0

    # driver: op time no Spark job covers
    out["driver.self_ms"] = per_pass(
        sum(
            op.wall_s * 1000
            - _union_ms(
                [(j.start_ms, j.end_ms) for j in op.jobs], op.start_ms, op.end_ms
            )
            for op in ops
        )
    )
    for module in OPERATOR_MODULES:
        out[f"operators.{module}_ms"] = per_pass(
            sum(op.wall_s for op in ops if op.module == module) * 1000
        )
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def spans(ops: list[Op], run_id: str) -> list[dict]:
    """Spans (name, start, end, parent, run) in epoch ms, per traced op:
    pass -> query -> call / materialize -> micro-batch -> Spark job."""
    out: list[dict] = []

    def add(name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        out.append(
            dict(name=name, start=start, end=end, parent=parent, run=run_id, **attrs)
        )
        return len(out) - 1

    by_pass: dict[int, list[Op]] = {}
    for op in ops:
        by_pass.setdefault(op.pass_no, []).append(op)
    for pass_no, pass_ops in sorted(by_pass.items()):
        p = add(
            "pass",
            min(op.start_ms for op in pass_ops),
            max(op.end_ms for op in pass_ops),
            None,
            pass_no=pass_no,
        )
        for op in pass_ops:
            q = add("query", op.start_ms, op.end_ms, p, query=op.name)
            split = op.start_ms + op.call_s * 1000
            call = add("call", op.start_ms, split, q)
            mat = add("materialize", split, op.end_ms, q)
            batch_span = {}
            for b in op.batches:
                start = progress_start_ms(b)
                batch_span[(b.runId, b.batchId)] = add(
                    "batch",
                    start,
                    start + b.durationMs.get("triggerExecution", 0),
                    call,
                    batch=b.batchId,
                    durationMs=dict(b.durationMs),
                )
            for j in op.jobs:
                parent = batch_span.get((j.run_id, j.batch_id))
                if parent is None:
                    parent = call if j.start_ms < split else mat
                add("job", j.start_ms, j.end_ms, parent, job=j.job_id)
    return out


def self_times(span_list: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus what its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in span_list:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(span_list):
        own = (s["end"] - s["start"]) - _union_ms(
            children.get(i, []), s["start"], s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out

