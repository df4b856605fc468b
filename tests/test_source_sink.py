"""Tests for the GeoNet Python Data Source (O2/O9) and the
upsert/expiry sink contract (O26)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import read_geojson
from etl_geonet_quakes_spark.quakes import source as geonet_source
from etl_geonet_quakes_spark.quakes.schema import GEONET_FEATURE_SCHEMA, GEONET_RESPONSE_SCHEMA
from etl_geonet_quakes_spark.quakes.sink import SnapshotDiffSink, to_feature_collection
from etl_geonet_quakes_spark.quakes.transform import QuakeJobConfig, run_pipeline

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "geonet_quakes.json")


@pytest.fixture(scope="module")
def geonet(spark):
    geonet_source.register(spark)
    return spark


def test_fixture_read_schema_and_rows(geonet):
    df = geonet.read.format("geonet").option("path", FIXTURE).load()
    assert df.schema.simpleString() == GEONET_FEATURE_SCHEMA.simpleString()
    assert df.count() == 9


def test_mmi_filter_pushdown_rows_identical(geonet):
    df = geonet.read.format("geonet").option("path", FIXTURE).load()
    pushed = df.filter(F.col("properties.mmi") >= 5)
    ids = sorted(r["properties"]["publicID"] for r in pushed.collect())
    # mmi >= 5 rows in the fixture: 5, 12, 6, 7, 8 → five features
    assert ids == [
        "2025p000006",
        "2026p000001",
        "2026p000004",
        "2026p000007",
        "2026p000009",
    ]


def test_reader_folds_bound_into_url():
    # unit-level: the pushdown handshake (O9) folds a supported bound
    # and re-yields every filter for Spark's defensive re-check
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = geonet_source.GeoNetReader({})
    back = list(r.pushFilters([GreaterThanOrEqual(("properties", "mmi"), 5)]))
    assert r.min_mmi == 5
    assert len(back) == 1


def test_out_of_range_bound_not_pushed():
    from pyspark.sql.datasource import GreaterThanOrEqual

    r = geonet_source.GeoNetReader({})
    list(r.pushFilters([GreaterThanOrEqual(("properties", "mmi"), 11)]))
    assert r.min_mmi is None  # API accepts −1..8 only (task.ts:165)


def test_snapshot_diff_sink(spark, tmp_path):
    sink = SnapshotDiffSink(str(tmp_path / "state"))
    snap1 = spark.createDataFrame(
        [("earthquake-a",), ("earthquake-b",), ("earthquake-c",)], "id string"
    )
    n, expired = sink.publish(snap1)
    assert n == 3 and expired.count() == 0

    # second run: 'b' omitted → expired; 'd' new → upserted
    snap2 = spark.createDataFrame([("earthquake-a",), ("earthquake-d",)], "id string")
    n, expired = sink.publish(snap2)
    assert n == 2
    assert sorted(r["id"] for r in expired.collect()) == [
        "earthquake-b",
        "earthquake-c",
    ]


def _snap(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_snapshot_diff_sink_restart_diffs_last_committed(spark, tmp_path):
    state = str(tmp_path / "state")
    SnapshotDiffSink(state).publish(_snap(spark, "a", "b"))
    # a new sink on the same dir (a restarted job) diffs against the
    # snapshot the previous one committed
    n, expired = SnapshotDiffSink(state).publish(_snap(spark, "b", "c"))
    assert n == 2 and _ids(expired) == ["a"]


def test_snapshot_diff_sink_ignores_uncommitted_version(spark, tmp_path):
    state = tmp_path / "state"
    sink = SnapshotDiffSink(str(state))
    sink.publish(_snap(spark, "a", "b"))
    # a publish that crashed mid-write: the next version holds data
    # files but no _SUCCESS marker
    crashed = state / "ids_000002"
    _snap(spark, "zombie").write.parquet(str(crashed))
    os.remove(crashed / "_SUCCESS")
    n, expired = sink.publish(_snap(spark, "b"))
    assert n == 1 and _ids(expired) == ["a"]
    assert _ids(spark.read.parquet(str(crashed))) == ["b"]  # overwritten
    _, expired = sink.publish(_snap(spark, "c"))
    assert _ids(expired) == ["b"]


def test_snapshot_diff_sink_expired_outlives_one_publish(spark, tmp_path):
    state = tmp_path / "state"
    sink = SnapshotDiffSink(str(state))
    sink.publish(_snap(spark, "a", "b", "c"))
    _, expired = sink.publish(_snap(spark, "a"))
    sink.publish(_snap(spark, "d"))
    assert _ids(expired) == ["b", "c"]
    # older versions are pruned: state stays three id sets
    sink.publish(_snap(spark, "e"))
    sink.publish(_snap(spark, "f"))
    assert sorted(os.listdir(state)) == ["ids_000003", "ids_000004", "ids_000005"]


def test_snapshot_diff_sink_mixes_frame_and_driver_ids(spark, tmp_path):
    # DataFrame and driver-id publishes share one layout: each diffs
    # against the version the other wrote, empty versions included
    sink = SnapshotDiffSink(str(tmp_path / "state"))
    n, expired = sink.publish(_snap(spark, "a", "b", "c"))
    assert n == 3 and _ids(expired) == []
    assert sink.publish(["b", "c", "d", "d"]) == (3, ["a"])
    n, expired = sink.publish(_snap(spark, "e", "d"))
    assert n == 2 and _ids(expired) == ["b", "c"]
    assert sink.publish([]) == (0, ["d", "e"])
    n, expired = sink.publish(_snap(spark))
    assert n == 0 and _ids(expired) == []
    assert sink.publish(["f"]) == (1, [])
    n, expired = sink.publish(_snap(spark, "g"))
    assert n == 1 and _ids(expired) == ["f"]


def test_snapshot_diff_sink_ignores_uncommitted_driver_version(spark, tmp_path):
    state = tmp_path / "state"
    sink = SnapshotDiffSink(str(state))
    sink.publish(["a", "b"])
    # a driver publish that crashed before writing its _SUCCESS marker
    sink.publish(["zombie"])
    crashed = state / "ids_000002"
    os.remove(crashed / "_SUCCESS")
    assert sink.publish(["b"]) == (1, ["a"])
    assert sorted(os.listdir(crashed)) == ["_SUCCESS", "part-00000.parquet"]
    assert _ids(spark.read.parquet(str(crashed))) == ["b"]  # overwritten
    _, expired = sink.publish(_snap(spark, "c"))
    assert _ids(expired) == ["b"]


def _jobs_in_group(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_foreach_batch_handler_tick_is_one_spark_job(spark, tmp_path):
    cfg = QuakeJobConfig(min_mmi=-1, max_age_minutes=1e12, now_utc_ms=1768478400000)
    out = run_pipeline(read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA), cfg)
    all_ids = sorted(r["id"] for r in out.select("id").collect())
    published = []
    tick = SnapshotDiffSink(str(tmp_path / "state")).foreach_batch(
        lambda fc, expired, epoch: published.append((len(fc["features"]), expired))
    )
    sc = spark.sparkContext
    try:
        for epoch, batch in enumerate([out, out.filter(F.col("id") != all_ids[0])]):
            group = f"sink-tick-{tmp_path.name}-{epoch}"
            sc.setJobGroup(group, "one sink tick")
            tick(batch, epoch)
            assert _jobs_in_group(spark, group) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert published == [(len(all_ids), []), (len(all_ids) - 1, all_ids[:1])]


def test_feature_collection_envelope_sorted(spark):
    df = spark.createDataFrame([("b", 2), ("a", 1)], "id string, v int")
    fc = to_feature_collection(df)
    assert fc["type"] == "FeatureCollection"
    assert [f["id"] for f in fc["features"]] == ["a", "b"]


def test_feature_collection_order_matches_spark_order(spark):
    # the driver-side sort must equal Spark's binary string order,
    # including ids outside ASCII and outside the BMP
    ids = ["b", "a", "Z", "é", "\uffff", "\U0001F600", "ａ", "earthquake-2"]
    df = _snap(spark, *ids)
    fc = to_feature_collection(df)
    assert [f["id"] for f in fc["features"]] == [
        r["id"] for r in df.orderBy("id").collect()
    ]


def test_stream_reader_polls_snapshots_in_order(geonet, tmp_path):
    """The streaming side of the source (O28 schedule-tick): each
    micro-batch consumes the next snapshot file; the union of batch
    outputs equals the union of batch-mode reads of the same files;
    the offset stops advancing when snapshots are drained."""
    import json

    with open(FIXTURE, "r", encoding="utf-8") as fh:
        full = json.load(fh)
    snapdir = tmp_path / "snaps"
    snapdir.mkdir()
    snaps = [full["features"][:3], full["features"][3:6], full["features"][6:]]
    for i, feats in enumerate(snaps):
        (snapdir / f"t{i:02d}.json").write_text(
            json.dumps({"type": full.get("type"), "features": feats})
        )
    stream = (
        geonet.readStream.format("geonet").option("path", str(snapdir)).load()
    )
    batches: dict[int, list] = {}

    def sink(df, epoch_id):
        rows = df.select("properties.publicID").collect()
        if rows:
            batches[epoch_id] = sorted(r["publicID"] for r in rows)

    # a Simple stream reader yields ONE poll per micro-batch, so
    # availableNow would stop after the first tick — run on a fast
    # processing-time trigger and stop once the offsets drain
    import time

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and len(batches) < 3:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    # every snapshot arrived as its own micro-batch, in order
    got_ids = [ids for _, ids in sorted(batches.items())]
    expect_ids = [
        sorted(f["properties"]["publicID"] for f in feats) for feats in snaps
    ]
    assert got_ids == expect_ids
    # and the streamed rows equal batch-mode reads of the same files
    total_stream = sorted(i for ids in got_ids for i in ids)
    total_batch = []
    for i in range(3):
        df = geonet.read.format("geonet").option(
            "path", str(snapdir / f"t{i:02d}.json")
        ).load()
        total_batch += [r["publicID"] for r in df.select("properties.publicID").collect()]
    assert total_stream == sorted(total_batch)


def test_stream_reader_replay_between_offsets(geonet, tmp_path):
    """Checkpoint-recovery determinism: readBetweenOffsets re-reads
    exactly the ticks in [start, end) from the snapshot files."""
    import json

    from etl_geonet_quakes_spark.quakes.source import GeoNetStreamReader

    with open(FIXTURE, "r", encoding="utf-8") as fh:
        full = json.load(fh)
    snapdir = tmp_path / "snaps2"
    snapdir.mkdir()
    for i, feats in enumerate(
        [full["features"][:2], full["features"][2:5], full["features"][5:]]
    ):
        (snapdir / f"s{i}.json").write_text(
            json.dumps({"type": "FeatureCollection", "features": feats})
        )
    r = GeoNetStreamReader({"path": str(snapdir)})
    assert r.initialOffset() == {"tick": 0}
    rows0, off1 = r.read({"tick": 0})
    rows0 = list(rows0)
    assert off1 == {"tick": 1} and len(rows0) == 2
    replay = list(r.readBetweenOffsets({"tick": 0}, {"tick": 2}))
    rows1, off2 = r.read(off1)
    assert off2 == {"tick": 2}
    assert replay == rows0 + list(rows1)
    # drained: offset freezes, read returns nothing
    _, off3 = r.read({"tick": 3})
    assert off3 == {"tick": 3}
    assert list(r.read({"tick": 3})[0]) == []


@pytest.fixture()
def geonet_http():
    """A loopback GeoNet stand-in: ``/ok`` serves the fixture, anything
    else answers 503."""
    import http.server
    import threading

    body = open(FIXTURE, "rb").read()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path.startswith("/ok"):
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(503)

        def log_message(self, *args):
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()
    server.server_close()


def test_readers_fetch_over_http(geonet_http):
    from pyspark.sql.datasource import InputPartition

    def batch_rows(url):
        return list(geonet_source.GeoNetReader({"url": url}).read(InputPartition(0)))

    def stream_rows(url):
        rows, end = geonet_source.GeoNetStreamReader({"url": url}).read({"tick": 0})
        assert end == {"tick": 1}
        return list(rows)

    n_features = len(json.load(open(FIXTURE))["features"])
    for rows in (batch_rows, stream_rows):
        assert len(rows(f"{geonet_http}/ok")) == n_features
        with pytest.raises(RuntimeError, match="Failed to fetch data: 503 Service Unavailable"):
            rows(f"{geonet_http}/down")
