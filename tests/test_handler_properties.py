"""Property tests for the pandas state handlers' pure fold logic —
BATCH-SPLIT INDEPENDENCE: however a key's event sequence is sliced into
micro-batches, the final state (and for monotone handlers, the emitted
set) must equal the one-shot computation. This is the invariant that
makes the streaming operators' DuckDB oracles valid at ANY batch count,
and it runs without a SparkSession (pure handler + fake GroupState).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_state_provider_spark.streaming.state_timeout import NO_TTL
from spark_state_provider_spark.streaming.stateful import (
    ewma_handler,
    make_quota_handler,
    make_session_timeout_handler,
    make_ttl_handler,
)


class FakeGroupState:
    """The slice of the GroupState API the handlers touch; a test sets
    ``hasTimedOut`` to make the next call a timer firing."""

    def __init__(self):
        self._val = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        assert self._val is not None
        return self._val

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _run_batches(handler, batches):
    state = FakeGroupState()
    emitted = []
    for pdfs in batches:
        emitted.extend(handler((1,), iter(pdfs), state))
    return state, emitted


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=4),
)
@settings(max_examples=60, deadline=None)
def test_ewma_fold_batch_split_independent(vals, cuts):
    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(range(len(vals)), unit="s"),
            "event_id": range(len(vals)),
            "value": vals,
        }
    )
    # one-shot fold
    one_state, _ = _run_batches(ewma_handler, [[rows]])
    # arbitrary prefix splits (sorted unique cut points)
    points = sorted({c for c in cuts if 0 < c < len(vals)})
    chunks, prev = [], 0
    for c in points + [len(vals)]:
        chunks.append([rows.iloc[prev:c]])
        prev = c
    split_state, _ = _run_batches(ewma_handler, chunks)
    assert split_state.get == one_state.get  # bit-exact, not approx


@given(
    n_rows=st.integers(min_value=0, max_value=60),
    cap=st.integers(min_value=1, max_value=20),
    cut=st.integers(min_value=0, max_value=60),
)
@settings(max_examples=60, deadline=None)
def test_quota_admits_first_n_regardless_of_split(n_rows, cap, cut):
    rows = pd.DataFrame(
        {
            "source": ["s"] * n_rows,
            "doc_id": range(n_rows),
            "n_chars": [10] * n_rows,
        }
    )
    handler = make_quota_handler(cap)
    cut = min(cut, n_rows)
    _, emitted = _run_batches(
        handler, [[rows.iloc[:cut]], [rows.iloc[cut:]]]
    )
    out = (
        pd.concat(emitted)
        if emitted
        else pd.DataFrame(columns=["source", "doc_id", "quota_pos"])
    )
    assert list(out["doc_id"]) == list(range(min(cap, n_rows)))
    assert list(out["quota_pos"]) == list(
        range(1, min(cap, n_rows) + 1)
    )


@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=500, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=39), max_size=4),
)
@settings(max_examples=60, deadline=None)
def test_cusum_state_batch_split_independent(vals, cuts):
    from spark_state_provider_spark.streaming.stateful import (
        make_cusum_handler,
    )

    handler = make_cusum_handler(6000, 100000)
    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(range(len(vals)), unit="s"),
            "event_id": range(len(vals)),
            "value": vals,
        }
    )
    one_state, _ = _run_batches(handler, [[rows]])
    points = sorted({c for c in cuts if 0 < c < len(vals)})
    chunks, prev = [], 0
    for c in points + [len(vals)]:
        chunks.append([rows.iloc[prev:c]])
        prev = c
    split_state, _ = _run_batches(handler, chunks)
    assert split_state.get == one_state.get


@given(
    keys=st.lists(
        st.tuples(
            st.lists(
                st.integers(min_value=0, max_value=12), min_size=1, max_size=30
            ),
            st.lists(st.integers(min_value=0, max_value=29), max_size=4),
        ),
        min_size=1,
        max_size=3,
    ),
    gap=st.integers(min_value=1, max_value=10),
    shuffle_seed=st.integers(min_value=0, max_value=2**16),
)
@settings(max_examples=60, deadline=None)
def test_session_timeout_matches_gaps_and_islands(keys, gap, shuffle_seed):
    """Per key, an event-time-ordered ``ts`` sequence cut into micro-batches
    (rows shuffled within each batch) and closed by one timer firing emits
    exactly the one-shot gaps-and-islands sessions, one frame per call at
    most."""
    handler = make_session_timeout_handler(gap)
    gap_us = gap * 1_000_000
    for user_id, (deltas, cuts) in enumerate(keys):
        ts_s = pd.Series(deltas).cumsum()
        expected = []
        for t_us in ts_s * 1_000_000:
            if expected and t_us - expected[-1][1] < gap_us:
                start, _, n = expected[-1]
                expected[-1] = (start, t_us, n + 1)
            else:
                expected.append((t_us, t_us, 1))

        rows = pd.DataFrame({"ts": pd.to_datetime(ts_s, unit="s")})
        points = sorted({c for c in cuts if 0 < c < len(rows)})
        bounds = [0] + points + [len(rows)]
        state, frames = FakeGroupState(), []
        for lo, hi in zip(bounds, bounds[1:]):
            batch = rows.iloc[lo:hi].sample(frac=1, random_state=shuffle_seed)
            out = list(handler((user_id,), iter([batch]), state))
            assert len(out) <= 1
            frames.extend(out)
            assert state.timeout_ms == (state.get[1] + gap_us) // 1000
        state.hasTimedOut = True
        out = list(handler((user_id,), iter([]), state))
        assert len(out) == 1 and not state.exists
        frames.extend(out)

        got = pd.concat(frames)
        assert set(got["user_id"]) == {user_id}
        cols = ["session_start_us", "last_event_us", "n_events"]
        assert list(got[cols].itertuples(index=False, name=None)) == expected


def _cut(df: pd.DataFrame, cuts: list[int]) -> list[pd.DataFrame]:
    """``df`` cut at the row positions ``cuts`` (taken modulo its length)."""
    points = sorted({c % len(df) for c in cuts} - {0})
    bounds = [0] + points + [len(df)]
    return [df.iloc[lo:hi] for lo, hi in zip(bounds, bounds[1:])]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user_id
            st.integers(min_value=0, max_value=10**9),  # event_id
            st.integers(min_value=0, max_value=10**6),  # ts, seconds
            st.sampled_from(["view", "click", "cart", "purchase"]),
        ),
        min_size=1,
        max_size=60,
    ),
    batch_cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=4),
    chunk_cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=3),
)
@settings(max_examples=60, deadline=None)
def test_user_statistics_fold_matches_one_shot_groupby(rows, batch_cuts, chunk_cuts):
    """The NoTimeout user-statistics fold, fed micro-batches cut at random
    points and each key's rows cut again into random Arrow chunks (plus an
    empty one), ends at the one-shot pandas groupby per user."""
    events = pd.DataFrame(rows, columns=["user_id", "event_id", "ts_s", "event_type"])
    events["ts"] = pd.to_datetime(events["ts_s"], unit="s")
    handler = make_ttl_handler(NO_TTL)
    states, last = {}, {}
    for batch in _cut(events, batch_cuts):
        for user_id, group in batch.groupby("user_id"):
            chunks = [*_cut(group, chunk_cuts), group.iloc[:0]]
            state = states.setdefault(user_id, FakeGroupState())
            [last[user_id]] = handler((user_id,), iter(chunks), state)

    got = pd.concat(last.values()).sort_values("user_id")
    want = (
        events.groupby("user_id")
        .agg(
            total_visits=("event_id", "size"),
            first_event_id=("event_id", "min"),
            last_event_id=("event_id", "max"),
            n_event_types=("event_type", "nunique"),
            first_ts_us=("ts_s", "min"),
            last_ts_us=("ts_s", "max"),
        )
        .reset_index()
    )
    want[["first_ts_us", "last_ts_us"]] *= 1_000_000
    assert got.to_dict("records") == want.to_dict("records")
