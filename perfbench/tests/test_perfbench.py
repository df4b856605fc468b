"""Tests for the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import filecmp
import json
import os

import pytest
from pyspark.sql import Row

import feedgen
from check import mismatch, summarize
from spans import EventLog, Recorder, covered, exec_metrics


# --- feed generator ---------------------------------------------------------


def test_same_seed_gives_byte_identical_snapshots(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ticks_a = feedgen.write_feed(str(a), seed=11, n_ticks=4, n_features=300)
    ticks_b = feedgen.write_feed(str(b), seed=11, n_ticks=4, n_features=300)
    feedgen.write_feed(str(c), seed=12, n_ticks=4, n_features=300)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 4
    match, mism, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mism and not errors
    assert [t.published for t in ticks_a] == [t.published for t in ticks_b]
    assert [t.expired for t in ticks_a] == [t.expired for t in ticks_b]
    assert not filecmp.cmp(a / names[0], c / names[0], shallow=False)
    # file times follow tick order, so a file stream reads them in order
    mtimes = [os.stat(a / n).st_mtime_ns for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_every_snapshot_carries_the_edge_rows():
    gen = feedgen.FeedGenerator(seed=5, n_features=2000)
    dst_ms = feedgen.DST_END_UTC.timestamp() * 1000
    for features, _ in gen.snapshots(3):
        props = [f["properties"] for f in features]
        ms = [
            datetime.datetime.fromisoformat(p["time"].replace("Z", "+00:00")).timestamp() * 1000
            for p in props
        ]
        assert any(p["quality"] == "deleted" for p in props)
        assert any(0 <= p["mmi"] < feedgen.MIN_MMI for p in props)
        assert {-1, 12} <= {p["mmi"] for p in props}
        assert any((feedgen.NOW_MS - t) / 60_000 > feedgen.MAX_AGE_MINUTES for t in ms)
        assert any(dst_ms - 6 * 3600e3 <= t < dst_ms for t in ms)
        assert any(dst_ms <= t <= dst_ms + 6 * 3600e3 for t in ms)


def test_oracle_follows_the_filters_and_expiry_by_omission():
    gen = feedgen.FeedGenerator(seed=3, n_features=500)
    previous: set[str] = set()
    churned = 0
    for features, tick in gen.snapshots(4):
        kept = {
            "earthquake-" + f["properties"]["publicID"]
            for f in features
            if f["properties"]["quality"] != "deleted"
            and f["properties"]["mmi"] >= feedgen.MIN_MMI
            and f["properties"]["time"] >= feedgen.iso_ms(
                feedgen.NOW_MS - int(feedgen.MAX_AGE_MINUTES) * 60_000
            )
        }
        assert set(tick.published) == kept
        assert tick.expired == previous - kept
        churned += len(tick.expired)
        previous = kept
    assert churned > 0


def test_oracle_formats_like_the_reference():
    assert feedgen.js_to_fixed(12.35, 1) == "12.3"  # exact binary value rounds down
    assert feedgen.js_to_fixed(5.25, 1) == "5.3"  # a true tie goes away from zero
    assert feedgen.js_to_fixed(-0.25, 1) == "-0.3"
    assert feedgen.iso_ms(feedgen.NOW_MS + 7) == "2026-04-07T12:00:00.007Z"
    dst = int(feedgen.DST_END_UTC.timestamp() * 1000)
    assert feedgen.nz_zone(dst - 1) == "NZDT" and feedgen.nz_zone(dst) == "NZST"


# --- span tree ----------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_is_duration_minus_children():
    clock = FakeClock()
    rec = Recorder(clock=clock)
    with rec.span("pass"):  # [0, 10]
        clock.now = 1.0
        with rec.span("build"):  # [1, 4]
            clock.now = 2.0
            with rec.span("job"):  # [2, 3]
                clock.now = 3.0
            clock.now = 4.0
        clock.now = 5.0
        with rec.span("action"):  # [5, 9]
            clock.now = 9.0
        clock.now = 10.0
    assert [s.name for s in rec.spans] == ["pass", "build", "job", "action"]
    assert rec.spans[1].parent == 0 and rec.spans[2].parent == 1
    assert rec.self_time(0) == pytest.approx(3.0)
    assert rec.self_time(1) == pytest.approx(2.0)
    assert rec.self_time(2) == pytest.approx(1.0)
    assert rec.self_time(3) == pytest.approx(4.0)
    ids = [0] + rec.descendants(0)
    assert sum(rec.self_time(i) for i in ids) == pytest.approx(rec.spans[0].duration)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == pytest.approx(3.0)
    assert covered([(4, 2)], 0, 10) == 0.0
    assert covered([], 0, 10) == 0.0


def test_wrap_spans_each_call_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    rec = Recorder()
    undo = rec.wrap(Owner, "f", "layer.f")
    assert Owner.f(1) == 2 and [s.name for s in rec.spans] == ["layer.f"]
    undo()
    Owner.f(1)
    assert len(rec.spans) == 1


# --- output check ---------------------------------------------------------------


def _rows():
    return [
        (1, "a", 0.5, decimal.Decimal("1.50"), datetime.date(2026, 1, 2)),
        (2, "b", -0.0, decimal.Decimal("2.00"), None),
        (3, None, float("nan"), decimal.Decimal("0.10"), datetime.date(2026, 1, 3)),
    ]


COLS = ["k", "s", "x", "d", "day"]


def test_check_accepts_the_same_result_in_any_order_and_representation():
    want = summarize(COLS, _rows())
    reordered = list(reversed(_rows()))
    # the other engine's column order, and equal values in another form
    other = [
        (r[4], r[3].normalize(), r[2] + 0.0 if r[2] == r[2] else r[2], r[1], r[0])
        for r in reordered
    ]
    assert mismatch(summarize(list(reversed(COLS)), other), want) is None


def test_check_rejects_a_perturbed_result():
    want = summarize(COLS, _rows())
    value = [list(r) for r in _rows()]
    value[0][2] = 0.5000000001
    assert "hash" in mismatch(summarize(COLS, [tuple(r) for r in value]), want)
    assert "rows" in mismatch(summarize(COLS, _rows()[:2]), want)
    assert "rows" in mismatch(summarize(COLS, _rows() + _rows()[:1]), want)
    assert "columns" in mismatch(summarize(["k", "s", "x", "d", "when"], _rows()), want)


def test_check_treats_spark_structs_like_duckdb_structs():
    spark_side = summarize(["v"], [(Row(a=1, b=[1.0, 2.0]),)])
    duck_side = summarize(["v"], [({"b": [1.0, 2.0], "a": 1},)])
    assert mismatch(spark_side, duck_side) is None
    assert mismatch(summarize(["v"], [(Row(a=2, b=[1.0, 2.0]),)]), duck_side)


# --- event log ----------------------------------------------------------------------


def _task(stage, run_ms, cpu_ns, python_ms=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {
            "Failed": failed,
            "Accumulables": [{"Name": "time to run Python workers", "Update": python_ms}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
            "Shuffle Read Metrics": {"Fetch Wait Time": 5, "Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "p|q1|build"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "run",
                                           "streaming.sql.batchId": "3"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
        _task(0, 1000, 5e8),
        _task(1, 300, 1e8, python_ms=200),
        _task(1, 100, 1e8),
        _task(2, 50, 0, failed=True),
    ]
    path = tmp_path / "events_1_local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog.read(str(tmp_path))
    jobs, tasks = log.select(lambda j: j.group == "p|q1|build")
    assert [j.job_id for j in jobs] == [0] and len(tasks) == 1
    assert (jobs[0].start, jobs[0].end) == (1.0, 3.0)
    jobs, tasks = log.select(lambda j: j.batch_id == 3)
    m = exec_metrics(jobs, tasks, cores=2)
    assert m["exec.run_s"] == pytest.approx(0.45)
    assert m["exec.python_s"] == pytest.approx(0.2)
    assert m["exec.failed_tasks"] == 1
    assert m["exec.core_util"] == pytest.approx(0.45 / 2.0)
    assert m["exec.task_skew"] == pytest.approx(1.5)  # stage 1: 300 / mean 200
    assert m["shuffle.read_bytes"] == 21 and m["io.read_rows"] == 30
