"""End-to-end streaming quake pipeline: two snapshot files → two
micro-batches → upsert + expiry-by-omission across batches."""

from __future__ import annotations

import json
import os

import pytest

from etl_geonet_quakes_spark.quakes.transform import QuakeJobConfig
from etl_geonet_quakes_spark.streaming.quake_stream import run_quake_stream

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "geonet_quakes.json")
NOW_MS = 1768478400000


def test_two_snapshot_stream_with_expiry(spark, tmp_path):
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    body = json.load(open(FIXTURE))
    # snapshot 1: full feed
    json.dump(body, open(snaps / "t0.json", "w"))
    # snapshot 2: first quake gone from the feed
    dropped = "earthquake-" + body["features"][0]["properties"]["publicID"]
    body2 = {"features": body["features"][1:]}
    json.dump(body2, open(snaps / "t1.json", "w"))

    published = []
    cfg = QuakeJobConfig(min_mmi=-1, max_age_minutes=1e12, now_utc_ms=NOW_MS)
    epochs = run_quake_stream(
        spark,
        str(snaps),
        str(tmp_path / "state"),
        cfg,
        publish_handler=lambda fc, expired, epoch: published.append(
            (epoch, sorted(f["id"] for f in fc["features"]), sorted(expired))
        ),
    )
    assert len(epochs) == 2
    published.sort()
    (e0, ids0, exp0), (e1, ids1, exp1) = published
    assert len(ids0) == 8 and exp0 == []
    assert dropped not in ids1 and len(ids1) == 7
    assert exp1 == [dropped]
    # every published feature keeps the CoT shape
    # (spot-check one field through the envelope)
    assert all(i.startswith("earthquake-") for i in ids0)


def _cfg():
    return QuakeJobConfig(min_mmi=-1, max_age_minutes=1e12, now_utc_ms=NOW_MS)


def test_stream_batch_fails_boundary_validation(spark, tmp_path):
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    body = json.load(open(FIXTURE))
    body["features"][0]["properties"]["mmi"] = None
    json.dump(body, open(snaps / "t0.json", "w"))
    with pytest.raises(Exception, match="failed boundary validation"):
        run_quake_stream(
            spark, str(snaps), str(tmp_path / "state"), _cfg(),
            publish_handler=lambda fc, expired, epoch: None,
        )


def test_replayed_epoch_hands_handler_its_expiries(spark, tmp_path):
    # at-least-once: a handler that raises after tick 1's id set is
    # committed gets tick 1's expiries again when Spark replays it
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    body = json.load(open(FIXTURE))
    json.dump(body, open(snaps / "t0.json", "w"))
    dropped = "earthquake-" + body["features"][0]["properties"]["publicID"]
    json.dump({"features": body["features"][1:]}, open(snaps / "t1.json", "w"))
    state = str(tmp_path / "state")
    calls = []

    def handler(fc, expired, epoch):
        calls.append((epoch, sorted(expired)))
        if epoch == 1 and len(calls) == 2:
            raise RuntimeError("REST POST failed")

    with pytest.raises(Exception, match="REST POST failed"):
        run_quake_stream(spark, str(snaps), state, _cfg(), publish_handler=handler)
    assert calls == [(0, []), (1, [dropped])]
    epochs = run_quake_stream(spark, str(snaps), state, _cfg(), publish_handler=handler)
    assert epochs == [1]
    assert calls[2:] == [(1, [dropped])]


def _two_ticks(tmp_path) -> str:
    snaps = tmp_path / "snaps"
    snaps.mkdir()
    body = json.load(open(FIXTURE))
    json.dump(body, open(snaps / "t0.json", "w"))
    json.dump({"features": body["features"][1:]}, open(snaps / "t1.json", "w"))
    return str(snaps)


# no injected clock: each tick reads its micro-batch timestamp
LIVE = QuakeJobConfig(now_utc_ms=None, min_mmi=-1, max_age_minutes=1e12)


def test_live_clock_is_one_value_per_tick(spark, tmp_path):
    stale = {}

    def handler(fc, expired, epoch):
        stale[epoch] = [f["properties"]["stale"] for f in fc["features"]]

    run_quake_stream(
        spark, _two_ticks(tmp_path), str(tmp_path / "state"), LIVE, publish_handler=handler
    )
    assert sorted(stale) == [0, 1]
    assert [len(set(v)) for v in stale.values()] == [1, 1]
    assert stale[0][0] != stale[1][0]


def test_replayed_epoch_keeps_its_clock(spark, tmp_path):
    # Spark restores a replayed micro-batch's timestamp from the
    # offset log, so the replay's envelope is the first attempt's
    snaps, state = _two_ticks(tmp_path), str(tmp_path / "state")
    calls = []

    def handler(fc, expired, epoch):
        calls.append((epoch, fc, sorted(expired)))
        if epoch == 1 and len(calls) == 2:
            raise RuntimeError("REST POST failed")

    with pytest.raises(Exception, match="REST POST failed"):
        run_quake_stream(spark, snaps, state, LIVE, publish_handler=handler)
    assert run_quake_stream(spark, snaps, state, LIVE, publish_handler=handler) == [1]
    assert [c[0] for c in calls] == [0, 1, 1]
    assert calls[2] == calls[1]


def test_stream_transforms_once_with_no_python_worker(spark, tmp_path, monkeypatch):
    from etl_geonet_quakes_spark.streaming import quake_stream

    built = []
    transform = quake_stream.transform_quakes
    monkeypatch.setattr(
        quake_stream,
        "transform_quakes",
        lambda *args: built.append(1) or transform(*args),
    )
    plans = []

    def handler(fc, expired, epoch):
        # the running tick's executed plan
        plans.append("".join(q._jsq.explainInternal(True) for q in spark.streams.active))

    epochs = run_quake_stream(
        spark, _two_ticks(tmp_path), str(tmp_path / "state"), _cfg(), publish_handler=handler
    )
    assert len(epochs) == 2 and len(built) == 1
    assert len(plans) == 2
    for p in plans:
        assert "explode" in p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
