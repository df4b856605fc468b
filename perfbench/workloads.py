"""The benchmark's workloads.

Each workload holds its inputs (``quake_feed`` generates them from the
seed; ``queries`` reads the fixed tables in ``data/``), runs one
pass over them in a live session (``run_pass``), checks the outputs
(``check``) and, in a traced run, turns spans and the event log into
per-layer metrics (``layer_metrics``). Calls into the engine go
through its public functions only.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from spans import Recorder, covered, exec_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
ORACLE_PATH = os.path.join(HERE, "oracle.json")

# The ``queries`` workload, one query per build layer, run in this
# order. The first query of a pass pays the fresh JVM's class loading
# and JIT compilation, so a seeded order would make cpu_s depend on
# which query came first. Module names come from each query function's
# owning module and name the build layer (``llm.dedup.build_s``).
QUERIES = [
    "q45_dedup_clusters",
    "q243_duplicate_ngram_rate",
    "q211_sparse_cosine_topk",
    "q01_pricing_summary",
    "q381_media_jpeg_decode",
]
PACKAGE = "etl_geonet_quakes_spark."

# quake_feed: snapshots per pass and features per snapshot.
QUAKE_TICKS = 4
QUAKE_FEATURES = 2000


def _groups(label: str, name: str) -> tuple[str, str]:
    return f"{label}|{name}|build", f"{label}|{name}|action"


class QueryWorkload:
    """Registry queries over the fixed tables in ``data/``; each is
    built by calling ``SPECS[name].fn`` and fully materialized by a
    ``noop`` write of the returned DataFrame."""

    def __init__(self) -> None:
        from etl_geonet_quakes_spark.queries import SPECS

        self.specs = SPECS
        self.order = QUERIES
        self.frames: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.times: dict[str, float] = {}

    def module(self, query: str) -> str:
        return self.specs[query].fn.__module__.removeprefix(PACKAGE)

    def run_pass(self, spark, label: str, rec: Recorder | None) -> None:
        sc = spark.sparkContext
        self.frames = {}
        for q in self.order:
            build_group, action_group = _groups(label, q)
            t0 = time.perf_counter()
            try:
                if rec is None:
                    df = self.specs[q].fn(spark, DATA_DIR)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with rec.span("query", query=q):
                        sc.setJobGroup(build_group, q)
                        with rec.span(self.module(q) + ".build", query=q):
                            df = self.specs[q].fn(spark, DATA_DIR)
                        sc.setJobGroup(action_group, q)
                        with rec.span("action", query=q):
                            df.write.format("noop").mode("overwrite").save()
                self.frames[q] = df
            except Exception as exc:  # counted as a failed query
                self.errors[q] = f"{type(exc).__name__}: {str(exc)[:200]}"
            self.times[q] = time.perf_counter() - t0

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, reasons) for the last pass's outputs,
        against the stored DuckDB oracle."""
        from check import mismatch, spark_summary

        with open(ORACLE_PATH, encoding="utf-8") as fh:
            oracle = json.load(fh)
        failures = dict(self.errors)
        for q, df in self.frames.items():
            try:
                why = mismatch(spark_summary(df), oracle[q])
            except Exception as exc:
                why = f"{type(exc).__name__}: {str(exc)[:200]}"
            if why:
                failures[q] = why
        return len(self.order), len(failures), [f"{q}: {w}" for q, w in failures.items()]

    def trace_hooks(self, rec: Recorder) -> list:
        return []  # spans come from run_pass itself

    def layer_metrics(self, rec: Recorder, log, label: str, cores: int) -> dict:
        root = next(i for i, s in enumerate(rec.spans) if s.name == "pass")
        spans = [rec.spans[i] for i in rec.descendants(root)]
        builds = [s for s in spans if s.name.endswith(".build")]
        actions = [s for s in spans if s.name == "action"]
        pass_jobs, pass_tasks = log.select(
            lambda j: (j.group or "").startswith(label + "|")
        )
        build_jobs = [j for j in pass_jobs if j.group.endswith("|build")]
        action_jobs, action_tasks = log.select(
            lambda j: (j.group or "").startswith(label + "|")
            and j.group.endswith("|action")
        )
        intervals = [(j.start, j.end) for j in pass_jobs]

        def job_time(span) -> float:
            group = _groups(label, span.attrs["query"])[0]
            mine = [(j.start, j.end) for j in build_jobs if j.group == group]
            return covered(mine, span.start, span.end)

        build_wall = sum(s.duration for s in builds)
        build_job = sum(job_time(s) for s in builds)
        m = {
            "build.wall_s": build_wall,
            "build.driver_s": build_wall - build_job,
            "build.jobs": len(build_jobs),
            "build.job_s": build_job,
            "build.py4j_calls": sum(s.py4j_end - s.py4j_start for s in builds),
            "sched.gap_s": sum(
                s.duration - covered(intervals, s.start, s.end)
                for s in builds + actions
            ),
            "action.wall_s": sum(s.duration for s in actions),
            "action.jobs": len(action_jobs),
            "action.stages": len({t.stage_id for t in action_tasks}),
            "action.tasks": len(action_tasks),
        }
        for s in builds:  # per owning module: llm.dedup.build_s, ...
            m[s.name + "_s"] = m.get(s.name + "_s", 0.0) + s.duration
        m.update(exec_metrics(pass_jobs, pass_tasks, cores))
        return m


class QuakeWorkload:
    """The reference's own job: GeoNet snapshots with churn, consumed
    by ``run_quake_stream`` one snapshot per micro-batch
    (``availableNow``), closed loop."""

    def __init__(self, seed: int, work: str) -> None:
        from feedgen import write_feed

        self.work = work
        self.snaps = os.path.join(work, "snapshots")
        self.ticks = write_feed(self.snaps, seed, QUAKE_TICKS, QUAKE_FEATURES)
        self.published: dict[str, list[tuple]] = {}
        self.times: list[float] = []

    def run_pass(self, spark, label: str, rec: Recorder | None) -> None:
        from feedgen import MAX_AGE_MINUTES, MIN_MMI, NOW_MS

        from etl_geonet_quakes_spark.quakes.transform import QuakeJobConfig
        from etl_geonet_quakes_spark.streaming.quake_stream import run_quake_stream

        state = os.path.join(self.work, f"state-{label}")
        shutil.rmtree(state, ignore_errors=True)
        cfg = QuakeJobConfig(min_mmi=MIN_MMI, max_age_minutes=MAX_AGE_MINUTES, now_utc_ms=NOW_MS)
        published = self.published[label] = []
        stamps = [time.perf_counter()]

        def record(fc: dict, expired: list, epoch: int) -> None:
            stamps.append(time.perf_counter())
            feats = {
                f["id"]: (f["properties"]["callsign"], f["properties"]["metadata"]["timeLocal"])
                for f in fc["features"]
            }
            published.append((epoch, feats, set(expired)))

        try:
            if rec is None:
                run_quake_stream(spark, self.snaps, state, cfg, publish_handler=record)
            else:
                with rec.span("streaming.run_quake_stream"):
                    run_quake_stream(spark, self.snaps, state, cfg, publish_handler=record)
        except Exception as exc:  # the pass's missing ticks count as failed
            published.append((-1, {}, {f"{type(exc).__name__}: {str(exc)[:200]}"}))
        self.times = [round(b - a, 3) for a, b in zip(stamps, stamps[1:])]

    def check(self) -> tuple[int, int, list[str]]:
        """Every pass's publishes against the generator's oracle: the
        published id set, each callsign and NZ zone abbreviation, and
        the expired id set, tick by tick."""
        reasons = []
        for label, published in self.published.items():
            got = {epoch: (feats, expired) for epoch, feats, expired in published}
            for i, tick in enumerate(self.ticks):
                feats, expired = got.get(i, ({}, None))
                bad = feats.keys() != tick.published.keys() or expired != tick.expired
                for fid, (callsign, zone) in tick.published.items():
                    if bad:
                        break
                    got_callsign, local = feats[fid]
                    bad = got_callsign != callsign or f" {zone} (" not in local
                if bad:
                    reasons.append(f"{label}: tick {i} differs from the generator's oracle")
        attempted = len(self.published) * len(self.ticks)
        return attempted, len(reasons), reasons

    def layer_metrics(self, rec: Recorder, log, label: str, cores: int) -> dict:
        spans = rec.spans
        stream_jobs, stream_tasks = log.select(lambda j: j.batch_id is not None)
        ticks = [p["durationMs"]["triggerExecution"] / 1000.0 for p in log.progress]
        add_batch = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in log.progress]
        wall = next(s.duration for s in spans if s.name == "streaming.run_quake_stream")
        m = {
            "quakes.transform_s": sum(s.duration for s in spans if s.name == "quakes.transform"),
            "quakes.sink.publish_s": sum(s.duration for s in spans if s.name == "quakes.sink.publish"),
            "quakes.sink.envelope_s": sum(s.duration for s in spans if s.name == "quakes.sink.envelope"),
            "quakes.sink.jobs_per_tick": len(stream_jobs) / len(ticks) if ticks else 0.0,
            "quakes.sink.bytes_written": sum(t.output_bytes for t in stream_tasks),
            "streaming.tick_p50_s": statistics.median(ticks) if ticks else 0.0,
            "streaming.tick_overhead_s": sum(ticks) - sum(add_batch),
            "quakes.features_per_s": sum(t.n_features for t in self.ticks) / wall,
        }
        m.update(exec_metrics(stream_jobs, stream_tasks, cores))
        return m

    def trace_hooks(self, rec: Recorder):
        """Span the stream's per-batch calls into the quake layers."""
        from etl_geonet_quakes_spark.quakes import sink
        from etl_geonet_quakes_spark.streaming import quake_stream

        return [
            rec.wrap(quake_stream, "transform_quakes", "quakes.transform"),
            rec.wrap(sink.SnapshotDiffSink, "publish", "quakes.sink.publish"),
            rec.wrap(sink, "to_feature_collection", "quakes.sink.envelope"),
        ]


def make(name: str, seed: int, work: str):
    if name == "quake_feed":
        return QuakeWorkload(seed, work)
    if name == "queries":
        return QueryWorkload()
    raise SystemExit(f"unknown workload {name!r}")
