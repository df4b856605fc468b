"""Guard for the benchmark's traced run (``perfbench/``): the engine
names it wraps must exist and must be the ones the engine calls.
``Recorder.wrap`` replaces a module or class attribute, so a renamed
function breaks the traced run, and a call through a local alias
leaves its layer metric (``quakes.sink.publish_s``, ...) reading 0
without failing anything."""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(ROOT, "perfbench"))

import workloads  # noqa: E402
from spans import Recorder  # noqa: E402

from etl_geonet_quakes_spark.quakes.transform import QuakeJobConfig  # noqa: E402
from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402
from etl_geonet_quakes_spark.streaming.quake_stream import run_quake_stream  # noqa: E402

FIXTURE = os.path.join(ROOT, "tests", "fixtures", "geonet_quakes.json")
NOW_MS = 1768478400000


def test_benchmark_queries_are_registered():
    for q in workloads.QUERIES:
        assert q in SPECS, q
        # the build layer is named after the query function's module
        assert SPECS[q].fn.__module__.startswith(workloads.PACKAGE), q


def test_quake_trace_hooks_fire(spark, tmp_path):
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    shutil.copy(FIXTURE, snaps / "t0.json")
    rec = Recorder()
    # trace_hooks uses no workload state; skip __init__'s feed write
    undo = object.__new__(workloads.QuakeWorkload).trace_hooks(rec)
    try:
        run_quake_stream(
            spark,
            str(snaps),
            str(tmp_path / "state"),
            QuakeJobConfig(min_mmi=-1, max_age_minutes=1e12, now_utc_ms=NOW_MS),
            publish_handler=lambda fc, expired, epoch: None,
        )
    finally:
        for restore in undo:
            restore()
    names = {s.name for s in rec.spans}
    assert {"quakes.transform", "quakes.sink.publish", "quakes.sink.envelope"} <= names
