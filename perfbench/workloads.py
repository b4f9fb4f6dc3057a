"""The benchmark's workloads: which registered queries run, on what input.

Every query is called through the program's public surface,
``registry.get(name).fn(spark, sf_dir)``, on a directory the benchmark
generated from its seed (``corpus.py``). Why each workload exists is in
``BENCHMARK.json`` and ``README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from corpus import EventsSpec


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    events: EventsSpec
    tpch_sf: float | None = None
    # the time-ordered replay slicings prebuilt during set-up; empty for a
    # workload that does not stream
    slicings: tuple[int, ...] = ()
    # timed passes a run makes at least; each query's best of them counts
    passes: int = 1


# Streaming queries whose state is one row per ``user_id``, which by design
# is updated once per input key per micro-batch, with the number of replay
# slices they stream: the generator knows each slice's distinct users, the
# denominator of ``state.updates_per_key``. (q181 keys state by user too, but
# a session timing out also updates its key, so its ratio is not 1 by design.)
USER_KEYED = {"q24s_stream_user_stats": 2}

# A fifth of the sf0.1 test data's events and a third of its users: a
# run of either workload, with its set-up and its oracle gate, must fit in
# about a minute on a 4-core host, and micro-batch cost here is mostly fixed,
# not per row.
_EVENTS = EventsSpec(rows=20_000, users=500, skew=0.8, days=30)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="stateful_fold",
            queries=("q24s_stream_user_stats", "q181_session_timeout_state"),
            events=_EVENTS,
            slicings=(2,),
        ),
        Workload(
            name="batch_mix",
            queries=(
                "q01_pruned_scan",
                "q04_filter",
                "q05_broadcast_join",
                "q06_shuffle_join",
                "q09_hash_agg",
                "q10_count_distinct",
                "q12_window_rank",
                "q14_topk",
                "q22_session_window",
                "q24_user_statistics",
                "q33_tpch_q3",
                "q33c_tpch_q18",
                "q34_tpch_q5",
                "q63_tpch_q1",
                "q63c_tpch_q9",
                "q73_tpch_q2",
            ),
            events=_EVENTS,
            tpch_sf=0.02,
            # its ops are short, so one slow spell on the host skews a
            # single pass; a second pass costs ~12 s, within the budget
            passes=2,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """``w`` on inputs small enough for the benchmark's self-test."""
    return replace(
        w,
        events=EventsSpec(rows=2_000, users=100, skew=w.events.skew, days=w.events.days),
        tpch_sf=w.tpch_sf and 0.002,
    )
