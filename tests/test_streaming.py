"""Streaming operator tests: real micro-batch runs over the RocksDB state
store, asserted against batch twins (stronger than the reference's visual
``show()`` assertion — SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry

operators.load_all()
from spark_state_provider_spark.streaming import harness
from spark_state_provider_spark.streaming.sources import stream_events
from spark_state_provider_spark.streaming.state_timeout import state_timeout
from spark_state_provider_spark.tables import load_table


def test_watermark_emits_only_closed_windows(spark, sf_dir):
    out = registry.get("q23_watermark").fn(spark, sf_dir)
    emitted = {r["window_start"]: r["n_events"] for r in out.collect()}
    batch = {
        r["w"]["start"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every emitted window matches the batch count exactly...
    for ws, n in emitted.items():
        assert batch[ws] == n, (ws, n, batch[ws])
    # ...and append mode withheld the windows the watermark never passed
    assert 0 < len(emitted) < len(batch)


def test_stream_session_windows_subset_of_batch(spark, sf_dir):
    """Every emitted (closed) streaming session must exist with identical
    bounds/counts in the batch session computation; open sessions withheld."""
    out = registry.get("q22s_stream_session_window").fn(spark, sf_dir)
    emitted = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in registry.get("q22_session_window").fn(spark, sf_dir).collect()
    }
    assert emitted, "expected at least one closed session"
    for key, n in emitted.items():
        assert batch[key] == n, (key, n, batch.get(key))
    assert len(emitted) < len(batch)  # trailing sessions stay open


def test_stream_ttl_resets_long_idle_users(spark, sf_dir):
    """With a 3-day TTL, a user idle >3 days between batches restarts their
    fold — total_visits must be <= the batch count, and < for some user iff
    an idle gap that long exists in the data."""
    out = {r["user_id"]: r for r in registry.get("q25s_stream_ttl").fn(spark, sf_dir).collect()}
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(out) == set(batch)
    for uid, row in out.items():
        assert row["total_visits"] <= batch[uid]


def test_state_timeout_writer_helper(spark, sf_dir, tmp_path):
    """EP3 parity: stateTimeout forces queryName + checkpoint and records the
    per-query TTL conf; the streaming query then runs under those settings."""
    ev = stream_events(spark, sf_dir, 2)
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    writer = counts.writeStream.format("memory").outputMode("complete")
    ckpt = str(tmp_path / "ckpt")
    writer = state_timeout(
        writer, spark.conf, query_name="tmo_query", expiry_secs=60,
        checkpoint_location=ckpt,
    )
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.stateExpirySecs.tmo_query"
    ) == "60"
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert q.name == "tmo_query"
    got = {r["user_id"]: r["n"] for r in spark.table("tmo_query").collect()}
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_state_timeout_requires_checkpoint(spark, sf_dir):
    ev = stream_events(spark, sf_dir, 2)
    writer = ev.writeStream.format("memory")
    spark.conf.unset("spark.sql.streaming.checkpointLocation")
    with pytest.raises(ValueError, match="checkpointLocation"):
        state_timeout(writer, spark.conf, query_name="x", expiry_secs=5)


def test_left_outer_stream_join_contains_inner(spark, sf_dir):
    """Matched rows of the streaming left join == the batch inner join;
    null-padded rows only for clicks with no purchase in-window."""
    inner = {
        (r["click_id"], r["purchase_id"])
        for r in registry.get("q26_stream_stream_join").fn(spark, sf_dir).collect()
    }
    left = registry.get("q26b_stream_stream_left_join").fn(spark, sf_dir).collect()
    matched = {
        (r["click_id"], r["purchase_id"]) for r in left if r["purchase_id"] is not None
    }
    assert matched == inner
    inner_clicks = {c for c, _ in inner}
    for r in left:
        if r["purchase_id"] is None:
            assert r["click_id"] not in inner_clicks, r


def test_state_parts_env_overrides_call_site_pin(monkeypatch):
    """SSPS_STREAM_STATE_PARTS must WIN over explicit call-site pins
    (round-9 verdict #7): the pins are local-bench store-commit tunings,
    and a cluster deployment sizes state partitioning to its volume via
    the env without editing call sites."""
    monkeypatch.setenv("SSPS_STREAM_STATE_PARTS", "12")
    assert harness.state_partitions("local[4]", 4, pin=4) == 12
    monkeypatch.delenv("SSPS_STREAM_STATE_PARTS")
    assert harness.state_partitions("local[4]", 4, pin=4) == 4


@pytest.mark.parametrize(
    "master,cores,cpus,want",
    [
        ("local[16]", 16, 4, 4),  # oversubscribed local: real CPUs
        ("local[4]", 4, 4, 4),  # one wave, not two
        ("local[32]", 32, 32, 16),  # max(8, cores // 2) stays the ceiling
        ("spark://m:7077", 200, 4, 100),  # driver CPUs do not cap a cluster
        ("yarn", 6, 2, 6),
    ],
)
def test_state_parts_default_is_one_task_wave(monkeypatch, master, cores, cpus, want):
    """Unpinned, a streaming run gets min(cores, local CPUs, max(8,
    cores // 2)) state partitions, so a small micro-batch runs one wave of
    Python-worker tasks."""
    import os

    monkeypatch.delenv("SSPS_STREAM_STATE_PARTS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: cpus)
    assert harness.state_partitions(master, cores) == want


def _user_counts(spark, sf_dir):
    """A small stateful stream: per-user counts over two micro-batches."""
    return stream_events(spark, sf_dir, 2).groupBy("user_id").count()


def test_drain_sizes_state_and_leaves_caller_conf(spark, sf_dir, monkeypatch):
    """An unpinned run starts with the rule's state partitions while the
    caller's own shuffle partitions stay in place during and after it."""
    monkeypatch.delenv("SSPS_STREAM_STATE_PARTS", raising=False)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    sc = spark.sparkContext
    want = harness.state_partitions(sc.master, sc.defaultParallelism)
    assert str(want) != prev  # otherwise the test cannot tell them apart
    seen = []

    def record(batch_df, batch_id):
        seen.append(spark.conf.get(key))
        batch_df.write.format("noop").mode("overwrite").save()

    q = harness.drain(
        _user_counts(spark, sf_dir)
        .writeStream.queryName("drain_sizing")
        .outputMode("update")
        .foreachBatch(record)
    )
    assert q.lastProgress.stateOperators[0].numShufflePartitions == want
    assert seen and set(seen) == {prev}
    assert spark.conf.get(key) == prev


def test_drain_runs_rocksdb_and_restores_caller_provider(spark, sf_dir):
    """A run keeps state in RocksDB even when the caller's session names
    another provider, and hands the caller's provider back."""
    from spark_state_provider_spark.session import (
        HDFS_PROVIDER,
        STATE_STORE_PROVIDER_CONF,
    )

    prev = spark.conf.get(STATE_STORE_PROVIDER_CONF)
    spark.conf.set(STATE_STORE_PROVIDER_CONF, HDFS_PROVIDER)
    try:
        q = harness.drain(
            _user_counts(spark, sf_dir)
            .writeStream.format("memory")
            .queryName("drain_provider")
            .outputMode("update")
        )
        metrics = q.lastProgress.stateOperators[0].customMetrics
        assert any(k.startswith("rocksdb") for k in metrics), sorted(metrics)
        assert spark.conf.get(STATE_STORE_PROVIDER_CONF) == HDFS_PROVIDER
    finally:
        spark.conf.set(STATE_STORE_PROVIDER_CONF, prev)


def test_concurrent_drains_keep_their_pins_and_caller_conf(spark, sf_dir, monkeypatch):
    """Drains started together from more threads than cores each start with
    their own pin, and the caller's shuffle partitions survive them all."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.delenv("SSPS_STREAM_STATE_PARTS", raising=False)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    pins = list(range(1, 7))

    def run(pin):
        q = harness.drain(
            _user_counts(spark, sf_dir)
            .writeStream.format("memory")
            .queryName(f"drain_pin_{pin}")
            .outputMode("update"),
            state_parts=pin,
        )
        return q.lastProgress.stateOperators[0].numShufflePartitions

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(pins)) as pool:
            got = list(pool.map(run, pins, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == pins
    assert spark.conf.get(key) == prev


def _events_writer(spark, sf_dir, name, fn):
    return stream_events(spark, sf_dir, 2).writeStream.queryName(name).foreachBatch(fn)


def test_drain_raises_timeout_and_stops(spark, sf_dir, monkeypatch):
    """A run that outlives the drain budget raises TimeoutError naming the
    query, never a silently truncated result, and leaves nothing running."""
    import time

    monkeypatch.setattr(harness, "DRAIN_SECS", 1)

    def slow(batch_df, batch_id):
        time.sleep(3)

    with pytest.raises(TimeoutError, match="drain_slow"):
        harness.drain(_events_writer(spark, sf_dir, "drain_slow", slow))
    assert spark.streams.active == []


def test_drain_surfaces_stream_failure(spark, sf_dir):
    """A failing batch re-raises the stream's own exception, not a timeout."""
    from pyspark.errors import StreamingQueryException

    def boom(batch_df, batch_id):
        raise ValueError("boom in foreachBatch")

    with pytest.raises(StreamingQueryException, match="boom in foreachBatch"):
        harness.drain(_events_writer(spark, sf_dir, "drain_boom", boom))
    assert spark.streams.active == []


def test_run_to_state_returns_live_state_and_keeps_checkpoint(spark, tmp_path):
    """The result is the committed state after the last batch: running
    totals of the live keys, none for a key whose handler removed its
    state, and a lazy frame that still reads after the next run."""
    import os

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    batches = [{"a": 1, "b": 2, "c": 3}, {"a": 10, "b": -1}]
    for i, rows in enumerate(batches):
        path = src / f"b{i}.parquet"
        pd.DataFrame({"k": list(rows), "v": list(rows.values())}).to_parquet(path)
        os.utime(path, (1000 + i, 1000 + i))  # replay order = batch order

    def fold(key, pdfs, state):
        v = pd.concat(pdfs)["v"]
        if (v < 0).any():
            state.remove()
        else:
            state.update(((state.get[0] if state.exists else 0) + int(v.sum()),))
        yield pd.DataFrame({"k": [key[0]], "total": [int(v.sum())]})

    def run():
        sdf = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .groupBy("k")
            .applyInPandasWithState(
                fold,
                outputStructType="k string, total long",
                stateStructType="total long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return harness.run_to_state(
            sdf,
            lambda st: st.select(
                F.col("key.k").alias("k"), F.col("value.groupState.total")
            ),
            state_parts=2,
        )

    first = run()
    run()
    assert sorted(map(tuple, first.collect())) == [("a", 11), ("c", 3)]


def test_run_to_parquet_unions_batches_and_orders_post_emit_work(
    spark, sf_dir, tmp_path
):
    """The result is every batch's emitted frame, read back once each; work
    after ``emit`` finishes before the next batch starts; a source with no
    batch gives an empty frame with the schema's columns."""
    import os

    import pyarrow.parquet as pq

    side = str(tmp_path / "side")
    os.mkdir(side)
    written, on_entry = [], []

    def step(batch_df, emit):
        on_entry.append(set(pq.read_table(side).to_pydict().get("event_id", [])))
        emit(batch_df.groupBy("user_id").count())
        ids = batch_df.select("event_id")
        ids.write.mode("append").parquet(side)
        written.append({r[0] for r in ids.collect()})

    schema = "user_id bigint, count bigint"
    got = harness.run_to_parquet(stream_events(spark, sf_dir, 2), "rtp_two", schema, step)
    want = load_table(spark, sf_dir, "events").groupBy("user_id").count()
    summed = got.groupBy("user_id").agg(F.sum("count").alias("count"))
    assert sorted(map(tuple, summed.collect())) == sorted(map(tuple, want.collect()))
    assert len(written) == 2 and written[0] and written[1]
    assert on_entry == [set(), written[0]]

    empty_src = str(tmp_path / "empty")
    os.mkdir(empty_src)
    empty = harness.run_to_parquet(
        spark.readStream.schema("user_id bigint").parquet(empty_src),
        "rtp_empty",
        schema,
        lambda batch_df, emit: emit(batch_df.groupBy("user_id").count()),
    )
    assert empty.columns == ["user_id", "count"]
    assert empty.collect() == []


def test_drain_is_the_only_streaming_run_path():
    """Every AvailableNow run goes through ``harness.drain``: no other module
    of the package waits on a streaming query itself, none but the session
    builder sets a run's state store or state partitions, and none but the
    source module reads a directory tree back (a per-batch parquet sink is
    ``harness.run_to_parquet``)."""
    import pathlib

    own = pathlib.Path(harness.__file__)
    pkg = own.parents[1]
    sources = {
        str(p.relative_to(pkg)): p.read_text()
        for p in sorted(pkg.rglob("*.py"))
        if p != own
    }
    waits = [name for name, text in sources.items() if "awaitTermination(" in text]
    assert waits == []
    settings = [
        name
        for name, text in sources.items()
        if name != "session.py"
        and ("STATE_STORE_PROVIDER_CONF" in text or "SSPS_STREAM_STATE_PARTS" in text)
    ]
    assert settings == []
    sinks = [
        name
        for name, text in sources.items()
        if name != "streaming/sources.py"
        and ("batch_subdir" in text or "recursiveFileLookup" in text)
    ]
    assert sinks == []
