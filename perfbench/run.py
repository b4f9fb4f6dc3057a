"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload stateful_fold --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its input from ``--seed``
(``corpus.py``), sets the engine up several times and reports the median
set-up time, checks every workload query once against its DuckDB oracle,
then runs closed-loop passes over the workload's queries for ``--seconds``
seconds: one client, one query at a time, each called through the
program's registry (``registry.get(name).fn(spark, sf_dir)``) and its
result written to Spark's ``noop`` sink.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics (``layers.py``),
and also times the workload on one core. Each run leaves a record with the
environment, the set-up phases, the gate verdicts, the metrics and (traced)
the spans in ``.perfbench_out/``. Everything the run writes stays under the
working directory; the engine's own scratch is pointed there too.

Exits 2, printing no result, when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import corpus  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, tiny  # noqa: E402

CORES = 4  # the load: local[4], one process, one client
SETUP_REPS = 3
# Tail latency is a fixed percentile per metric, so that runs compare. The
# run record gives each run's sample counts; README.md says where they are
# too few to leave ten samples beyond the percentile.
TAIL_Q = {"query": 0.75, "batch": 0.75}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="tiny inputs (the self-test size)"
    )
    return ap.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every file the engine, the JVM and the Python workers write
    under ``work``; return the session confs that do so for Spark."""
    dirs = {k: os.path.join(work, k) for k in ("scratch", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    for k in [k for k in os.environ if k.startswith("SSPS_")]:
        del os.environ[k]
    os.environ["SSPS_SCRATCH_BASE"] = dirs["scratch"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]  # wins over spark.local.dir
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Python workers import the program's modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the spark-submit launcher JVM
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    return float(np.quantile(values, q))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time wanted in between (busy plus steal) that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


class Bench:
    def __init__(self, args, work: str, conf: dict[str, str]) -> None:
        from spark_state_provider_spark import operators
        from spark_state_provider_spark.operators import registry
        from spark_state_provider_spark.session import get_spark
        from spark_state_provider_spark.streaming.sources import split_events_dir

        operators.load_all()
        self.args = args
        self.work = work
        self.conf = conf
        self.registry = registry
        self.get_spark = get_spark
        self.split_events_dir = split_events_dir
        w = WORKLOADS[args.workload]
        self.w = tiny(w) if args.tiny else w
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up ---------------------------------------------------------

    def start_session(self, master: str):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.get_spark(
            app_name="perfbench", master=master, extra_conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_up(self) -> list[dict]:
        """Build the session, warm the JVM, generate the corpus and prebuild
        the replay slices, ``SETUP_REPS`` times; the last one is kept."""
        phases = []
        for rep in range(SETUP_REPS):
            cpu0, t0 = cpu_jiffies(), time.perf_counter()
            spark = self.start_session(f"local[{CORES}]")
            spark.range(1_000_000).selectExpr("sum(id)").collect()
            t1 = time.perf_counter()
            sf_dir = os.path.join(self.work, f"corpus{rep}")
            os.makedirs(sf_dir)
            rng = np.random.default_rng(self.args.seed)
            events = corpus.write_events(sf_dir, rng, self.w.events, self.w.slicings)
            rows = events.rows
            if self.w.tpch_sf:
                rows += corpus.write_tpch(sf_dir, rng, self.w.tpch_sf)
            t2 = time.perf_counter()
            for n in self.w.slicings:
                self.split_events_dir(spark, sf_dir, n)
            t3 = time.perf_counter()
            own = 1.0 - stolen_share(cpu0, cpu_jiffies())
            phases.append(
                dict(
                    session_s=t1 - t0,
                    corpus_s=t2 - t1,
                    split_s=t3 - t2,
                    total_s=t3 - t0,
                    own_s=(t3 - t0) * own,
                )
            )
        self.sf_dir, self.events, self.input_rows = sf_dir, events, rows
        return phases

    # -- correctness gate -------------------------------------------------

    def gate(self) -> dict[str, str | None]:
        """Every workload query once against its DuckDB oracle (this is also
        the warm-up pass)."""
        import oracle

        verdicts = {}
        for name in self.w.queries:
            self.attempted += 1
            try:
                verdicts[name] = oracle.mismatch(
                    self.spark, self.sf_dir, self.registry.get(name)
                )
            except Exception as e:  # recorded and counted, the run goes on
                traceback.print_exc()
                verdicts[name] = f"{type(e).__name__}: {e}"
            if verdicts[name]:
                self.fail(f"gate {name}: {verdicts[name]}")
        return verdicts

    def fail(self, reason: str) -> None:
        self.failed += 1
        self.failures.append(reason)
        print(f"perfbench: FAIL {reason}", file=sys.stderr)

    # -- timed passes -----------------------------------------------------

    def run_op(self, name: str, pass_no: int, traced: bool, log, reader) -> layers.Op:
        spec = self.registry.get(name)
        op = layers.Op(
            name=name,
            module=spec.fn.__module__.rsplit(".", 1)[-1],
            pass_no=pass_no,
            traced=traced,
        )
        self.attempted += 1
        cpu0 = cpu_jiffies()
        op.start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            df = spec.fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            op.call_s, op.materialize_s = t1 - t0, t2 - t1
        except Exception as e:  # recorded and counted, the run goes on
            traceback.print_exc()
            op.error = f"{type(e).__name__}: {e}"
        op.stolen = stolen_share(cpu0, cpu_jiffies())
        # outside the timed region: what the op caused
        op.batches = log.take(self.spark)
        if reader is not None:
            op.jobs = reader.new_jobs()
            if traced:
                op.stages = reader.stages(op.jobs)
                op.python = reader.new_python_metrics()
            else:
                reader.skip_python()
        problem = op.error or self.check_ingest(op)
        if problem:
            self.fail(f"{name} (pass {pass_no}): {problem}")
        return op

    def check_ingest(self, op: layers.Op) -> str | None:
        """A streaming op must read every input event once per source."""
        if not self.w.slicings:
            return None
        if not op.batches:
            return "no micro-batch reported"
        totals = [0] * len(op.batches[0].sources)
        for b in op.batches:
            for i, src in enumerate(b.sources):
                totals[i] += src.numInputRows
        if any(t != self.events.rows for t in totals):
            return f"ingested {totals} rows per source, expected {self.events.rows}"
        return None

    def passes(self, seconds: float, trace: bool, log, reader) -> list[layers.Op]:
        """Complete closed-loop passes until ``seconds`` have elapsed, and at
        least the workload's ``passes`` (two when tracing: one untraced, one
        traced)."""
        order = list(self.w.queries)
        rng = random.Random(self.args.seed)
        ops: list[layers.Op] = []
        deadline = time.perf_counter() + seconds
        least = max(self.w.passes, 1 + trace)
        pass_no = 0
        while pass_no < least or time.perf_counter() < deadline:
            rng.shuffle(order)
            traced = trace and pass_no % 2 == 1
            ops += [self.run_op(n, pass_no, traced, log, reader) for n in order]
            pass_no += 1
        return ops

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, ops: list[layers.Op], setup: list[dict]):
        # The host is a virtual machine shared with other guests; the CPU
        # time they take (steal) stretches an op's wall time. Each op counts
        # with its wall time less the share stolen while it ran, and each
        # query with its fastest op of the run.
        best: dict[str, layers.Op] = {}
        for op in ops:
            if op.error is None and (
                op.name not in best or op.own_s < best[op.name].own_s
            ):
                best[op.name] = op
        chosen = list(best.values())
        wall = sum(op.own_s for op in chosen)
        query_ms = [op.own_s * 1000 for op in chosen]
        if self.w.slicings:  # micro-batches
            batch_ms = [
                b.durationMs.get("triggerExecution", 0) * op.own
                for op in chosen
                for b in op.batches
            ]
        else:  # Spark jobs
            batch_ms = [
                (j.end_ms - j.start_ms) * op.own for op in chosen for j in op.jobs
            ]
        per_pass = len(self.w.queries)
        metrics = {
            "setup_s": (statistics.median(p["own_s"] for p in setup), "s"),
            "events_per_s": (
                self.input_rows * len(chosen) / per_pass / wall, "events/s"
            ),
            "queries_per_s": (len(chosen) / wall, "queries/s"),
            "query_p50_ms": (statistics.median(query_ms), "ms"),
            "query_tail_ms": (quantile(query_ms, TAIL_Q["query"]), "ms"),
            "batch_p50_ms": (statistics.median(batch_ms), "ms"),
            "batch_tail_ms": (quantile(batch_ms, TAIL_Q["batch"]), "ms"),
        }
        samples = {"query": len(query_ms), "batch": len(batch_ms)}
        return metrics, samples

    def per_layer(
        self, ops: list[layers.Op], setup: list[dict], speedup: float, peak_rss: int
    ):
        traced = [op for op in ops if op.traced and op.error is None]
        plain = [op for op in ops if not op.traced and op.error is None]
        out = layers.layer_metrics(traced, self.events, CORES)
        out["session.build_s"] = statistics.median(p["session_s"] for p in setup)
        out["sources.split_s"] = statistics.median(p["split_s"] for p in setup)
        out["scale.speedup_4v1"] = speedup
        out["mem.peak_rss_mb"] = peak_rss / 2**20

        def rates(group):
            wall = sum(op.wall_s for op in group)
            n = len(group)
            return self.input_rows * n / len(self.w.queries) / wall, n / wall

        (ev_t, q_t), (ev_u, q_u) = rates(traced), rates(plain)
        out["trace.events_per_s_delta"] = ev_t - ev_u
        out["trace.queries_per_s_delta"] = q_t - q_u
        return {k: (v, layers.unit(k)) for k, v in sorted(out.items())}

    def one_core_speedup(self, four_core_ops: list[layers.Op], log) -> float:
        """One-core over four-core wall time of the same queries: the
        workload's single-thread baseline. Run last, on a new local[1]
        context in the same warm JVM (so it also pays the new context's
        Python worker start), over the workload's queries in listed order
        until ``--seconds`` have elapsed, one query at least."""
        spark = self.start_session("local[1]")
        spark.streams.addListener(log)
        four = {op.name: op.wall_s for op in four_core_ops if not op.traced and op.error is None}
        t1 = t4 = 0.0
        deadline = time.perf_counter() + self.args.seconds
        for name in self.w.queries:
            op = self.run_op(name, -1, False, log, None)
            if op.error is None and name in four:
                t1, t4 = t1 + op.wall_s, t4 + four[name]
            if time.perf_counter() >= deadline:
                break
        return t1 / t4


def shut_down(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process this run
    started to end."""
    from probes import tree_pids

    children = tree_pids()[1:]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in children:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(os.getcwd(), ".perfbench_work", run_id)
    conf = isolate(work)
    try:
        bench = Bench(args, work, conf)
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
        return 2

    from probes import ProgressLog, RssSampler, StatusReader
    from spark_state_provider_spark.scratch import scratch_base

    env = {
        "cores": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "scratch_base": scratch_base(),
        "loadavg_start": loadavg(),
    }
    record: dict = {"args": vars(args), "run_id": run_id, "env": env}
    try:
        setup = bench.set_up()
        record["setup"] = setup
        t0 = time.perf_counter()
        record["gate"] = bench.gate()
        record["gate_s"] = time.perf_counter() - t0
        spark = bench.spark
        log = ProgressLog()
        spark.streams.addListener(log)
        log.take(spark)
        reader = StatusReader(spark)
        t0, cpu0 = time.perf_counter(), cpu_jiffies()
        if args.trace:
            with RssSampler() as rss:
                ops = bench.passes(args.seconds, True, log, reader)
        else:
            ops = bench.passes(args.seconds, False, log, reader)
        record["passes_s"] = time.perf_counter() - t0
        env["stolen_share"] = stolen_share(cpu0, cpu_jiffies())
        if args.trace:
            span_list = layers.spans([op for op in ops if op.traced], run_id)
            record["spans"] = span_list
            record["layer_map"] = layers.LAYER_MAP
            record["self_ms"] = layers.self_times(span_list)
            speedup = bench.one_core_speedup(ops, log)
            metrics = bench.per_layer(ops, setup, speedup, rss.peak_bytes)
        else:
            metrics, record["samples"] = bench.end_to_end(ops, setup)
            record["tail_quantiles"] = TAIL_Q
        record["passes"] = max(op.pass_no for op in ops) + 1
        record["ops"] = [
            dict(name=op.name, pass_no=op.pass_no, traced=op.traced,
                 call_s=op.call_s, materialize_s=op.materialize_s,
                 stolen=op.stolen, error=op.error)
            for op in ops
        ]
    finally:
        if bench.spark is not None:
            shut_down(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = loadavg()
    record["failures"] = bench.failures
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
