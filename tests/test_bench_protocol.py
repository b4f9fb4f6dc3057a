"""bench.py owns the measurement protocol: its noop-sink timing loop
returns one wall-clock sample per run, and no script keeps its own copy of
that loop or of the memo builder list."""

from __future__ import annotations

import pathlib
import re

import bench
from spark_state_provider_spark import operators

SCRIPTS = pathlib.Path(__file__).resolve().parents[1] / "scripts"
MEMO_LABEL = re.compile(r"""["']memo:\w+["']""")
NOOP_SINK = re.compile(r"""format\(\s*["']noop["']\s*\)""")


def test_noop_times_returns_one_positive_sample_per_run(spark, sf_dir):
    operators.load_all()
    runs = bench.noop_times(spark, "q01_pruned_scan", sf_dir)
    assert len(runs) == 3
    assert all(isinstance(r, float) and r > 0 for r in runs)


def test_no_script_copies_the_timing_loop_or_the_memo_list():
    noop = [p.name for p in SCRIPTS.glob("*.py") if NOOP_SINK.search(p.read_text())]
    # plan_capture.py keeps its own builders on purpose: they are the
    # UNPERSISTED build frames, whose plan it captures, not bench's cached
    # reads
    memo = [
        p.name
        for p in SCRIPTS.glob("*.py")
        if p.name != "plan_capture.py" and len(MEMO_LABEL.findall(p.read_text())) > 1
    ]
    assert noop == [] and memo == [], (noop, memo)
