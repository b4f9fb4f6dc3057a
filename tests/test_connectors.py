"""Connector builders: rate source produces rows; conf-driven TTL wiring
resolves through state_timeout (the EP3 loop end to end)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_state_provider_spark.sources.connectors import stream_rate
from spark_state_provider_spark.streaming.harness import run_to_state
from spark_state_provider_spark.streaming.sources import stream_events
from spark_state_provider_spark.streaming.state_timeout import state_timeout
from spark_state_provider_spark.streaming.stateful import (
    user_statistics_from_state,
    user_statistics_stream_for_query,
)
from spark_state_provider_spark.tables import load_table


def test_rate_source_produces_rows(spark, tmp_path):
    df = stream_rate(spark, rows_per_second=500, num_partitions=2)
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("mem_rate")
        .outputMode("append")
        # explicit fresh checkpoint: with a default checkpoint ROOT set,
        # name-derived dirs persist across runs and memory sinks can't recover
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline and spark.table("mem_rate").count() == 0:
            time.sleep(0.5)
        assert spark.table("mem_rate").count() > 0
        assert set(spark.table("mem_rate").columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_conf_driven_ttl_resolves_through_state_timeout(spark, sf_dir, tmp_path):
    """EP3 closed loop: stateTimeout writes the per-query conf; the fold
    builder reads it back and applies the TTL fold for that query name."""
    ev = stream_events(spark, sf_dir, 4)
    out = user_statistics_stream_for_query(ev, None)  # placeholder writer
    writer = out.writeStream
    state_timeout(
        writer,
        spark.conf,
        query_name="ep3_query",
        expiry_secs=3 * 24 * 3600,
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    # now that the conf is set, build the real fold for that query name
    out = user_statistics_stream_for_query(ev, "ep3_query")
    rows = run_to_state(out, user_statistics_from_state).collect()
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    finals = {r["user_id"]: r["total_visits"] for r in rows}
    assert set(finals) == set(batch)
    # TTL fold: totals never exceed the batch count (resets only shrink)
    assert all(finals[u] <= batch[u] for u in finals)
    # and with no conf set, the same builder produces the NoTimeout fold
    spark.conf.unset(
        "spark.sql.streaming.stateStore.stateExpirySecs.ep3_query"
    )
    out2 = user_statistics_stream_for_query(
        stream_events(spark, sf_dir, 2), "ep3_query"
    )
    rows2 = run_to_state(out2, user_statistics_from_state).collect()
    assert {r["user_id"]: r["total_visits"] for r in rows2} == batch


def test_binaryfile_source_glob_pruning(spark, sf_dir):
    """q82's directory reads correctly under pathGlobFilter (planning-time
    file pruning — the object-store partition-pruning analog), and every
    decoded row carries a recognized format."""
    import os
    from spark_state_provider_spark.operators.multimodal import (
        _binsrc_files,
        q82_binaryfile_source,
    )

    rows = q82_binaryfile_source(spark, sf_dir).collect()
    assert len(rows) == len(_binsrc_files())
    by_name = {r.file_name: r for r in rows}
    assert all(r.fmt in ("png", "wav") for r in rows)
    assert by_name["img_00.png"].width == 32
    assert by_name["aud_01.wav"].sample_rate == 8250

    from spark_state_provider_spark.scratch import scratch_base

    out = os.path.join(scratch_base(), f"ssps_binsrc_{os.getpid()}")
    pngs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(out)
    )
    assert pngs.count() == 12


def test_linefile_sink_manifest_excludes_orphans(spark, sf_dir, tmp_path):
    """Exactly-once property of the Python-SPI sink: only manifested files
    are read back — an uncommitted attempt's orphan file is invisible."""
    import json
    import os

    from spark_state_provider_spark import operators
    from spark_state_provider_spark.operators import registry

    operators.load_all()
    fn = registry.get("q139_python_datasource_write").fn
    df = fn(spark, sf_dir)
    n = df.count()
    # locate the sink dir from the manifest the query just wrote
    from spark_state_provider_spark.operators.sources_sinks import _out

    out = _out(sf_dir, "linefile_sink")
    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["rows"] == n
    # plant an orphan (a failed/straggler attempt that never committed)
    orphan = os.path.join(out, "part-deadbeef.txt")
    with open(orphan, "w") as f:
        f.write("ghost\t1\t1\n")
    df2 = fn(spark, sf_dir)  # re-runs the sink; fresh manifest
    assert df2.count() == n  # ghost rows never surface
    rows = {r.source for r in df2.collect()}
    assert "ghost" not in rows


def test_linefile_sink_abort_removes_attempt_files(tmp_path):
    from spark_state_provider_spark.sources.python_source import (
        LineFileWriter,
        _LineCommit,
    )

    w = LineFileWriter(str(tmp_path))
    msg = w.write(iter([("a", 1), ("b", 2)]))
    assert msg.rows == 2
    import os

    assert os.path.exists(msg.path)
    w.abort([msg])
    assert not os.path.exists(msg.path)
