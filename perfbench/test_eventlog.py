"""Tests of the event-log parser and its job attribution, on tiny traced
runs of the ``verdict`` and ``resume`` workloads.

    python3 -m pytest perfbench/test_eventlog.py

Run from the repository root.  Each test generates a small table and
starts a local Spark session with an event log.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import worker  # noqa: E402

TINY = {"verdict": dict(inputs.SPECS["verdict"], rows=3000, files=2),
        "resume": dict(inputs.SPECS["resume"], rows=3000, files=1)}


@pytest.fixture(scope="module")
def state(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("perfbench"))


def traced(name: str, state: str) -> dict:
    """Per-layer metrics of MIN_EXECS traced executions of ``name``."""
    event_dir = os.path.join(state, f"events-{name}")
    spark = worker.session("local[2]", state, event_dir)
    try:
        entry = inputs.ensure(os.path.join(state, "inputs"), name, 1, spark,
                              TINY[name])
        r = worker.Runner(name, entry, state)
        recs = r.loop(r.open(spark), 0)
    finally:
        spark.stop()
    assert r.attempted == worker.MIN_EXECS and r.failed == 0
    log = eventlog.parse(eventlog.find(event_dir))
    return worker.per_layer(name, r.meta["rows"], recs, log, recs, [])


def test_verdict_jobs_reach_each_query(state):
    m = traced("verdict", state)
    # the three concurrent collect_report queries each get their own jobs
    assert m["sequences.agg1.cpu_s"] > 0
    assert m["sequences.agg2.cpu_s"] > 0
    assert m["uniqueness.dup.cpu_s"] > 0
    assert m["shuffle.write_bytes"] > 0
    assert m["spark.jobs"] >= 3
    assert m["scan.rows_per_input_row"] >= 1


def test_resume_projection_and_sink(state):
    m = traced("resume", state)
    assert m["projection.cpu_s"] > 0
    assert m["sink.rows_written"] > 0 and m["sink.files_written"] > 0
    assert m["manifest.validate_write_s"] > 0
    assert m["manifest.noop_resume_s"] > 0
    # resume runs none of the verdict queries
    assert m["sequences.agg1.cpu_s"] == m["uniqueness.dup.cpu_s"] == 0
