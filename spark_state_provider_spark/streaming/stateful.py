"""Arbitrary stateful streaming operators (``applyInPandasWithState``).

The centerpiece is the reference's end-to-end scenario: a per-user fold of
page-visit events into ``UserStatistics`` via
``groupByKey(_.id).mapGroupsWithState(NoTimeout)(updateUserStatistics)``
(RedistateTest.scala:29-31, redis/package.scala:33-45). Here the same fold
runs as an Arrow-batched pandas handler over Spark's native RocksDB state
store, plus a TTL-aware variant applying the strict-expiry deadline rules
from ``ttl.py``.

State crosses micro-batches through the state store; each shuffle partition
owns its slice of keys (the reference's one-store-per-partition model,
RocksDbStateStoreProvider.scala:39-40) — nothing here ever collects to the
driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from spark_state_provider_spark.streaming.state_timeout import (
    NO_TTL,
    STATELESS,
    get_expiration_by_query,
)

# State tuple layout (timestamps as epoch-micros longs keep the state row
# arrow-friendly): (total, first_id, last_id, types, first_ts_us, last_ts_us)
STATE_SCHEMA = (
    "total bigint, first_id bigint, last_id bigint, types array<string>, "
    "first_ts_us bigint, last_ts_us bigint"
)
OUTPUT_SCHEMA = (
    "user_id bigint, total_visits bigint, first_event_id bigint, "
    "last_event_id bigint, n_event_types bigint, first_ts_us bigint, "
    "last_ts_us bigint"
)

_ZERO = (0, None, None, [], None, None)


def _fold(state_tuple, pdf: pd.DataFrame):
    """Fold one micro-batch of a user's events into the state tuple.

    Pure function — the python twin of the reference's
    ``updateUserStatistics`` (visits accumulate, totalVisits increments).
    """
    total, first_id, last_id, types, first_us, last_us = state_tuple
    ids = pdf["event_id"]
    ts_us = pdf["ts"].astype("int64") // 1000  # pandas ns → µs
    total += len(pdf)
    first_id = ids.min() if first_id is None else min(first_id, ids.min())
    last_id = ids.max() if last_id is None else max(last_id, ids.max())
    types = sorted(set(types) | set(pdf["event_type"].tolist()))
    first_us = ts_us.min() if first_us is None else min(first_us, ts_us.min())
    last_us = ts_us.max() if last_us is None else max(last_us, ts_us.max())
    return (int(total), int(first_id), int(last_id), types, int(first_us), int(last_us))


def _emit(user_id, st) -> pd.DataFrame:
    total, first_id, last_id, types, first_us, last_us = st
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "total_visits": [total],
            "first_event_id": [first_id],
            "last_event_id": [last_id],
            "n_event_types": [len(types)],
            "first_ts_us": [first_us],
            "last_ts_us": [last_us],
        }
    )


def user_statistics_from_state(state: DataFrame) -> DataFrame:
    """The Spark twin of :func:`_emit`: UserStatistics rows projected from
    the fold's committed state (``harness.run_to_state``), one per live
    user, in :func:`user_statistics_stream`'s columns."""
    st = "value.groupState."
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col(st + "total").alias("total_visits"),
        F.col(st + "first_id").alias("first_event_id"),
        F.col(st + "last_id").alias("last_event_id"),
        F.size(st + "types").cast("long").alias("n_event_types"),
        F.timestamp_micros(F.col(st + "first_ts_us")).alias("first_ts"),
        F.timestamp_micros(F.col(st + "last_ts_us")).alias("last_ts"),
    )


def _whole_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """A group's micro-batch as one frame, or None when it has no rows:
    Arrow cuts a group into chunks at arbitrary ~10k-row boundaries in
    post-shuffle order, so a fold that must not depend on the split reads
    the whole batch at once."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks)


def make_ttl_handler(ttl_secs: int):
    """User-statistics fold with strict event-time expiry at the deadline
    rules of ``ttl.py`` — state whose ``last_access + ttl <= now`` is
    discarded before folding (now = the batch's max event time for the key,
    so the semantics are deterministic and replayable; wall-clock-independent
    firing would use processing-time timers, a documented deviation —
    SURVEY.md §7 Stage 3). ``NO_TTL`` gives the NoTimeout parity fold."""

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # one expiry check per batch, never per Arrow chunk
        pdf = _whole_batch(pdfs)
        if ttl_secs == STATELESS:
            # stateless mode: fold only this batch, keep nothing
            state.remove()
            yield _emit(key[0], _ZERO if pdf is None else _fold(_ZERO, pdf))
            return
        st = state.get if state.exists else _ZERO
        if pdf is not None:
            if ttl_secs != NO_TTL and st[5] is not None:
                now_us = int(pdf["ts"].astype("int64").max() // 1000)
                if now_us - st[5] >= ttl_secs * 1_000_000:
                    st = _ZERO  # deadline passed → expired before this batch
            st = _fold(st, pdf)
        state.update(st)
        yield _emit(key[0], st)

    return handler


def user_statistics_stream_for_query(
    events: DataFrame, query_name: str | None
) -> DataFrame:
    """EP3 closed loop: resolve the TTL the user configured for this query
    through ``stateTimeout``/RuntimeConfig (reference per-query conf,
    RocksDbStateStoreProvider.scala:725-729) and build the fold with it.
    ``-1`` (or unset) → NoTimeout parity fold."""
    return user_statistics_stream(
        events, get_expiration_by_query(events.sparkSession.conf, query_name)
    )


def user_statistics_stream(
    events: DataFrame,
    ttl_secs: int = NO_TTL,
) -> DataFrame:
    """Per-user UserStatistics over a (streaming) events DataFrame.

    ``ttl_secs=NO_TTL`` → NoTimeout parity fold; otherwise the TTL fold.
    Output timestamps are surfaced as real timestamps for oracle parity.
    """
    # Project to the columns the fold reads BEFORE the stateful shuffle:
    # the grouped frame is shuffled by key and crosses the JVM→Python
    # Arrow boundary in full, and Spark cannot prune columns through the
    # opaque handler (guide: pass only what the function needs). Dropping
    # the unused value/props columns shrinks both the exchange and every
    # per-group Arrow slice.
    events = events.select("user_id", "event_id", "ts", "event_type")
    out = events.groupBy("user_id").applyInPandasWithState(
        make_ttl_handler(ttl_secs),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out.select(
        "user_id",
        "total_visits",
        "first_event_id",
        "last_event_id",
        "n_event_types",
        F.timestamp_micros(F.col("first_ts_us")).alias("first_ts"),
        F.timestamp_micros(F.col("last_ts_us")).alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Event-time-TIMEOUT sessionization — the timeout half of the
# mapGroupsWithState surface (reference ``RocksDbStateTimeoutSuite``'s
# live-firing semantics; the NoTimeout parity handlers above never arm a
# timer). A session closes either when a later event of the SAME key
# arrives past the gap (emitted immediately) or when the GLOBAL watermark
# passes last_event + gap (``state.hasTimedOut`` → emitted by the timer).
# On an event-time-ordered replay the two rules produce the SAME session
# set as batch gaps-and-islands sessionization: a key's next event always
# carries ts ≥ the global max seen, so a fired timer (watermark ≥
# last+gap) implies the next event is ≥ gap away too.
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, last_event_us bigint, "
    "n_events bigint"
)
SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def make_session_timeout_handler(gap_secs: int):
    gap_us = gap_secs * 1_000_000

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # one frame per call, holding every session this call closed
        def emit(sessions) -> pd.DataFrame:
            start, last, n = zip(*sessions)
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start_us": start,
                    "last_event_us": last,
                    "n_events": n,
                }
            )

        if state.hasTimedOut:
            sess = state.get
            state.remove()
            yield emit([sess])
            return
        cur = list(state.get) if state.exists else None
        pdf = _whole_batch(pdfs)
        closed = []
        if pdf is not None:
            for ts_us in sorted(pdf["ts"].astype("int64") // 1000):
                ts_us = int(ts_us)
                if cur is None:
                    cur = [ts_us, ts_us, 1]
                elif ts_us - cur[1] >= gap_us:
                    closed.append(cur)
                    cur = [ts_us, ts_us, 1]
                else:
                    cur[1] = ts_us
                    cur[2] += 1
        state.update(tuple(cur))
        # arm the event-time timer: fire when the watermark passes the gap
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield emit(closed)

    return handler


def session_timeout_stream(events: DataFrame, gap_secs: int) -> DataFrame:
    """Per-user timeout-closed sessions over a watermarked event stream."""
    out = (
        # the session fold reads ONLY ts — don't shuffle or ship the other
        # five event columns through the stateful exchange + Python boundary
        events.select("user_id", "ts")
        .withWatermark("ts", f"{gap_secs} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_session_timeout_handler(gap_secs),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.timestamp_micros(F.col("last_event_us")).alias("last_event_ts"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Per-key admission quota — the streaming form of a domain cap: each key
# (source/domain) admits its first N rows IN ARRIVAL ORDER across all
# micro-batches and drops the rest, with the running count held in the
# state store. The continuous-crawl counterpart of the batch top-K cap
# (operators/pipeline.py q191): a crawler can't rank what it hasn't seen
# yet, so production quotas admit by arrival — which on the
# doc_id-ordered replay makes the admitted set exactly the first-N per
# key, SQL-checkable.
# ---------------------------------------------------------------------------

QUOTA_OUT_SCHEMA = (
    "source string, doc_id bigint, n_chars bigint, quota_pos bigint"
)
QUOTA_STATE_SCHEMA = "admitted long"


def make_quota_handler(cap: int):
    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        admitted = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if not len(pdf) or admitted >= cap:
                continue
            pdf = pdf.sort_values("doc_id")  # deterministic within batch
            take = pdf.iloc[: cap - admitted]
            n = len(take)
            yield pd.DataFrame(
                {
                    "source": take["source"].astype(str),
                    "doc_id": take["doc_id"].astype("int64"),
                    "n_chars": take["n_chars"].astype("int64"),
                    "quota_pos": range(admitted + 1, admitted + n + 1),
                }
            )
            admitted += n
        state.update((admitted,))

    return handler


def domain_quota_stream(docs: DataFrame, cap: int) -> DataFrame:
    """Admit the first ``cap`` docs per source across micro-batches."""
    # the admission decision reads (source, doc_id, n_chars) — never the
    # document text; pruning it here keeps the body bytes out of the
    # stateful shuffle and the Arrow boundary entirely
    return docs.select("source", "doc_id", "n_chars").groupBy(
        "source"
    ).applyInPandasWithState(
        make_quota_handler(cap),
        outputStructType=QUOTA_OUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming EWMA — the order-dependent float fold (operators/timeseries.py
# q197) maintained ACROSS micro-batches with the smoothed value itself as
# RocksDB state. EWMA's recurrence needs only (previous value, count), so
# the state is two scalars per key however long the history — the textbook
# case for stateful streaming over re-aggregation. α = 1/2 keeps every
# step an exact IEEE halving, so state round-tripping through the store
# (Arrow float64 both ways) reproduces the batch fold bit-for-bit.
# ---------------------------------------------------------------------------

EWMA_OUT_SCHEMA = "user_id bigint, n_events bigint, ewma double"
EWMA_STATE_SCHEMA = "ewma double, n long"


def ewma_handler(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    acc, n = state.get if state.exists else (None, 0)
    pdf = _whole_batch(pdfs)
    if pdf is not None:
        pdf = pdf.sort_values(["ts", "event_id"])
        # Deliberately a sequential loop: the EWMA recurrence has a true
        # step dependence, and re-associating it as the Σ x_i·0.5^(n−i)
        # weighted form changes rounding — the batch twin (q197) and the
        # restart proof both demand the exact per-step acc·0.5 + x·0.5
        # fold, so bit-exactness wins over vectorization here.
        for x in pdf["value"].astype("float64"):
            x = float(x)
            acc = x if acc is None else acc * 0.5 + x * 0.5
        n += len(pdf)
    state.update((acc, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma": [acc]}
    )


def ewma_stream(events: DataFrame) -> DataFrame:
    """Per-user running EWMA over a streaming events DataFrame."""
    # the fold reads (ts, event_id) for ordering and value for the
    # recurrence — prune the rest before the stateful shuffle
    return events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        ewma_handler,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM — the drift detector (operators/timeseries.py q212)
# maintained across micro-batches. The batch form's closed-form identity
# (S_i = P_i − min prefix) is exactly what makes the STREAMING state two
# integers per key: the running prefix sum and its running minimum; the
# running max-CUSUM rides as a third. Integer cents — no float state.
# ---------------------------------------------------------------------------

CUSUM_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, max_cusum_cents bigint, "
    "drift_alarm boolean"
)
CUSUM_STATE_SCHEMA = "pref long, low long, peak long, n long"


def make_cusum_handler(k_cents: int, alarm_cents: int):
    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pref, low, peak, n = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        pdf = _whole_batch(pdfs)
        if pdf is not None:
            import numpy as np

            pdf = pdf.sort_values(["ts", "event_id"])
            cents = (
                (pdf["value"].astype("float64") * 100).round().astype("int64")
            ).to_numpy()
            # CUSUM's closed form (same identity as batch q212) vectorizes
            # the whole per-key slice: S_i = P_i − min prefix, so
            #   prefs_i = pref0 + cumsum(cents − k)
            #   lows_i  = min(low0, running_min(prefs))   [low updates
            #             BEFORE peak at each step, exactly as the scalar
            #             fold did]
            #   peak    = max(peak0, max(prefs − lows))
            # Integer cents throughout — no float reassociation to worry
            # about; int64 headroom is ~9.2e18 cent-steps per key.
            prefs = pref + np.cumsum(cents - k_cents)
            lows = np.minimum(low, np.minimum.accumulate(prefs))
            peak = max(peak, int(np.max(prefs - lows)))
            pref = int(prefs[-1])
            low = int(lows[-1])
            n += len(pdf)
        state.update((pref, low, peak, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_cusum_cents": [peak],
                "drift_alarm": [peak >= alarm_cents],
            }
        )

    return handler


def cusum_stream(
    events: DataFrame, k_cents: int, alarm_cents: int
) -> DataFrame:
    """Per-user running max-CUSUM over a streaming events DataFrame."""
    # same pruning rationale as ewma_stream: (ts, event_id) order the
    # slice, value feeds the cents fold — nothing else is read
    return events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        make_cusum_handler(k_cents, alarm_cents),
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
