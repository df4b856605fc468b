"""The one epoch-versioned state rule (``io.next_version`` and its
helpers) and the writers on it: numbering, predecessors, commit
markers, pruning, the scratch root, and replays of each streaming
writer giving the output of one clean run."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark import io
from etl_geonet_quakes_spark.streaming import feed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _commit(state_dir: str, prefix: str, version: int, success: bool = True) -> str:
    path = io.version_path(state_dir, prefix, version)
    os.makedirs(path)
    open(os.path.join(path, "part-00000.parquet"), "w").close()
    if success:
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


# --- the rule, without Spark ------------------------------------------


def test_next_version_numbers_by_epoch_or_after_newest(tmp_path):
    d = str(tmp_path)
    assert io.next_version(d, "v_") == (1, [])
    assert io.next_version(d, "v_", epoch=0) == (1, [])
    _commit(d, "v_", 1)
    _commit(d, "v_", 2)
    assert io.next_version(d, "v_") == (3, [1, 2])
    assert io.next_version(d, "v_", epoch=6) == (7, [1, 2])
    # a replayed epoch takes its own number and the same predecessor
    assert io.next_version(d, "v_", epoch=1) == (2, [1])
    assert io.next_version(d, "v_", epoch=0) == (1, [])


def test_predecessor_is_newest_committed_below_across_gaps(tmp_path):
    d = str(tmp_path)
    for v in (2, 5, 9):
        _commit(d, "v_", v)
    _commit(d, "w_", 7)  # another series in the same dir
    assert io.next_version(d, "v_", epoch=6) == (7, [2, 5])
    assert io.next_version(d, "v_", epoch=4) == (5, [2])
    assert io.next_version(d, "v_", epoch=1) == (2, [])
    assert io.next_version(d, "v_") == (10, [2, 5, 9])


def test_uncommitted_version_is_ignored_and_its_number_rewritten(tmp_path):
    d = str(tmp_path)
    _commit(d, "v_", 1)
    crashed = _commit(d, "v_", 2, success=False)
    assert io.committed_versions(d, "v_") == [1]
    v, below = io.next_version(d, "v_")
    assert (v, below) == (2, [1])
    assert io.version_path(d, "v_", v) == crashed


def test_prune_keeps_newest_n_below(tmp_path):
    d = str(tmp_path)
    for v in (1, 2, 3, 4):
        _commit(d, "v_", v)
    _commit(d, "v_", 6)
    _, below = io.next_version(d, "v_", epoch=4)  # writes 5
    io.prune_versions(d, "v_", below, keep=2)
    assert io.committed_versions(d, "v_") == [3, 4, 6]
    io.prune_versions(d, "v_", [3, 4], keep=0)
    assert io.committed_versions(d, "v_") == [6]
    io.prune_versions(d, "v_", [6], keep=5)
    assert io.committed_versions(d, "v_") == [6]


def test_scratch_root_is_removed_at_exit():
    code = (
        "from etl_geonet_quakes_spark.io import scratch_dir\n"
        "a = scratch_dir('probe_a_'); b = scratch_dir('probe_b_')\n"
        "open(a + '/f', 'w').close()\n"
        "import os; assert os.path.dirname(a) == os.path.dirname(b)\n"
        "print(os.path.dirname(a))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
    )
    root = out.stdout.strip()
    assert root and not os.path.exists(root)


# --- the writers, replayed --------------------------------------------

_BASE = " ".join(f"w{i}" for i in range(40))
_DOCS = [
    (1, _BASE),
    (2, _BASE.replace("w39", "x39")),
    (3, _BASE.replace("w0 ", "x0 ")),
    (4, " ".join(f"u{i}" for i in range(40))),
]


def _key(rows):
    return sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows)


def test_dedup_epoch_replay_matches_one_clean_run(spark, tmp_path):
    from etl_geonet_quakes_spark.streaming.dedup_stream import StreamingMinHashIndex

    batch = spark.createDataFrame(_DOCS, "doc_id long, text string")
    clean = StreamingMinHashIndex(str(tmp_path / "clean"))
    clean.foreach_batch()(batch, 0)
    want = _key(clean.pairs(spark).collect())
    assert len(want) == 3

    seen = []
    idx = StreamingMinHashIndex(str(tmp_path / "replayed"))
    run = idx.foreach_batch(lambda rows, epoch: seen.append((epoch, _key(rows))))
    run(batch, 0)
    run(batch, 0)  # Spark's replay after a crash before its commit log
    assert _key(idx.pairs(spark).collect()) == want
    assert seen == [(0, want), (0, want)]


def test_dedup_crash_between_delta_writes_is_invisible(spark, tmp_path, monkeypatch):
    from etl_geonet_quakes_spark.streaming import dedup_stream

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    batches = [docs.filter("doc_id IN (1, 2, 4)"), docs.filter("doc_id = 3")]
    clean = dedup_stream.StreamingMinHashIndex(str(tmp_path / "clean"))
    clean_out = [_key(clean.process_batch(b, e).collect()) for e, b in enumerate(batches)]
    assert clean_out[0] and clean_out[1]

    real_write = dedup_stream.write_version

    def crash_in_pairs(df, state_dir, prefix, version):
        real_write(df, state_dir, prefix, version)
        if prefix == "pairs_" and version == 2:
            # the data files landed, the commit marker did not
            os.remove(os.path.join(io.version_path(state_dir, prefix, version), "_SUCCESS"))
            raise RuntimeError("executor lost")

    state = str(tmp_path / "crashed")
    idx = dedup_stream.StreamingMinHashIndex(state)
    idx.process_batch(batches[0], 0)
    monkeypatch.setattr(dedup_stream, "write_version", crash_in_pairs)
    with pytest.raises(RuntimeError, match="executor lost"):
        idx.process_batch(batches[1], 1)
    monkeypatch.undo()
    assert io.committed_versions(state, "buckets_") == [1, 2]
    assert _key(idx.pairs(spark).collect()) == clean_out[0]

    assert _key(idx.process_batch(batches[1], 1).collect()) == clean_out[1]
    assert _key(idx.pairs(spark).collect()) == _key(clean.pairs(spark).collect())


def test_versioned_merge_stream_keeps_two_versions(spark, tmp_path):
    from etl_geonet_quakes_spark.streaming import incremental as sti

    src = spark.createDataFrame(
        [(i, f"t{i % 3} all") for i in range(9)], "doc_id long, text string"
    )
    base = str(tmp_path)
    fd = feed.write_micro_batch_feed(src, base, 3, "doc_id")
    out = sti.run_versioned_merge_stream(
        spark, fd, "doc_id long, text string", "tok string, n long", base,
        lambda b: b.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n")),
        lambda p, c: p.unionByName(c).groupBy("tok").agg(F.sum("n").alias("n")),
    )
    assert sorted(map(tuple, out.collect())) == [
        ("all", 9), ("t0", 3), ("t1", 3), ("t2", 3)
    ]
    assert io.committed_versions(os.path.join(base, "state"), "e") == [2, 3]


def _replay_every_epoch(monkeypatch, module):
    """Run each micro-batch twice under its epoch, on its collected rows
    (so the stateful plan runs once), as Spark does after a crash
    between the batch's write and its commit log."""
    run_once = feed.run_foreach_batch

    def twice(stream, per_batch, checkpoint):
        def run(batch_df, epoch_id):
            spark = batch_df.sparkSession
            rows = spark.createDataFrame(batch_df.collect(), batch_df.schema)
            per_batch(rows, epoch_id)
            per_batch(rows, epoch_id)

        return run_once(stream, run, checkpoint)

    monkeypatch.setattr(module, "run_foreach_batch", twice)


def test_late_data_writer_replayed_keeps_one_copy(spark, tmp_path, monkeypatch):
    import datetime

    from etl_geonet_quakes_spark.streaming import windows

    D = datetime.datetime
    rows = [
        (0, D(2024, 1, 1, 6)), (2, D(2024, 1, 2, 6)), (4, D(2024, 1, 5, 12)),
        (1, D(2024, 1, 2, 7)), (3, D(2024, 1, 5, 1)), (5, D(2024, 1, 9, 12)),
    ]
    path = str(tmp_path / "late")
    spark.createDataFrame(rows, "event_id long, ts timestamp").selectExpr(
        "event_id", "ts", "CAST(event_id AS LONG) AS user_id",
        "'click' AS event_type", "1.0 AS value", "'{}' AS props",
    ).coalesce(1).write.parquet(f"{path}/events.parquet")
    _replay_every_epoch(monkeypatch, windows)
    out = {str(r["day"]): r["n"] for r in
           windows.stream_late_data_accounting(spark, path).collect()}
    assert out == {"2024-01-01": 1, "2024-01-02": 1, "2024-01-05": 2}, out


def test_warc_crawl_replayed_still_reports_expiries(spark, sf_dir, monkeypatch):
    from etl_geonet_quakes_spark.llm import multimodal

    want = sorted(map(tuple, multimodal.media_warc_stream_upsert_expiry(spark, sf_dir).collect()))
    assert want
    _replay_every_epoch(monkeypatch, feed)
    got = sorted(map(tuple, multimodal.media_warc_stream_upsert_expiry(spark, sf_dir).collect()))
    assert got == want


def test_source_stream_timeout_raises(spark):
    from etl_geonet_quakes_spark.quakes.transform import QuakeJobConfig
    from etl_geonet_quakes_spark.streaming.quake_stream import stream_quakes_via_source

    with pytest.raises(RuntimeError, match="of 3 snapshots"):
        stream_quakes_via_source(spark, QuakeJobConfig(now_utc_ms=1768478400000), timeout_s=0)
