"""The quake pipeline as a Structured Streaming job (E1 re-expressed).

The reference is a scheduled Lambda: every tick, fetch a full
snapshot, transform, submit, let the platform expire omitted ids
(task.ts:142-143,195-203). Here the same contract runs as ONE
continuous Spark job: a file stream of FeatureCollection snapshots
(one JSON file per poll), ``maxFilesPerTrigger=1`` so each snapshot
is its own micro-batch (in arrival order), the batch transform
applied once to the stream (so it is built and analyzed once, and
each micro-batch reaches ``foreachBatch`` transformed), and
SnapshotDiffSink computing upserts + expiry-by-omission per batch.
With no injected clock, each tick's "now" is its micro-batch
timestamp, which Spark restores from the offset log on replay.

At production scale the file stream swaps for Kafka/Kinesis without
touching the transform or sink: foreachBatch isolates the source.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from etl_geonet_quakes_spark.io import (
    next_version,
    read_versions,
    scratch_dir,
    write_version,
)
from etl_geonet_quakes_spark.quakes import GEONET_FIXTURE_JSON
from etl_geonet_quakes_spark.quakes.schema import (
    GEONET_RESPONSE_SCHEMA,
    OUTPUT_FEATURE_SCHEMA,
)
from etl_geonet_quakes_spark.quakes.sink import SnapshotDiffSink
from etl_geonet_quakes_spark.quakes.transform import (
    QuakeJobConfig,
    explode_features,
    transform_quakes,
    validate_features,
)
from etl_geonet_quakes_spark.streaming.feed import (
    replay_partitions,
    run_foreach_batch,
)

_BATCH = "batch_"


def run_quake_stream(
    spark: SparkSession,
    snapshot_dir: str,
    state_dir: str,
    config: QuakeJobConfig,
    publish_handler=None,
) -> list[int]:
    """Process every snapshot file in ``snapshot_dir`` as its own
    micro-batch; returns the list of processed epoch ids.

    ``publish_handler(fc_dict, expired_ids, epoch)`` receives each
    publish — the REST POST adapter in production, a recorder in
    tests. Each batch passes boundary validation first, in the same
    job as the transform, so a snapshot with a missing required field
    fails the stream instead of being silently filtered.
    """
    stream = (
        spark.readStream.schema(GEONET_RESPONSE_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", 1)
        .json(snapshot_dir)
    )
    ticks = transform_quakes(validate_features(explode_features(stream)), config)
    publish = SnapshotDiffSink(state_dir).foreach_batch(publish_handler)
    return run_foreach_batch(ticks, publish, f"{state_dir}/_checkpoint")


def stream_quakes_via_source(
    spark: SparkSession,
    config: QuakeJobConfig,
    n_snapshots: int = 3,
    timeout_s: float = 120.0,
) -> DataFrame:
    """The reference's whole production loop as ONE Spark streaming
    topology: the GeoNet STREAMING data source (schedule-tick polls,
    quakes/source.py::GeoNetStreamReader) feeds micro-batches into
    the O4–O23 transform (applied once to the stream), each batch's
    features land durably as its epoch's version
    (``io.next_version``, so a replayed batch overwrites its own rows),
    and the union of the committed versions is returned.

    For the registry the fixture splits into ``n_snapshots`` DISJOINT
    snapshot files (one poll each); the transform is stateless
    row-wise, so union-over-batches ≡ one-shot batch transform and
    the query carries q02's EXACT cross-engine oracle — the streaming
    source + transform path is value-hash-certified end to end.

    A Simple stream reader yields one poll per micro-batch, so this
    drives a fast processing-time trigger and stops once every
    snapshot tick has been consumed (the availableNow trigger would
    stop after the first poll). The reader's offset advances one tick
    per poll and only while snapshots remain, so each epoch is one
    consumed tick, whether or not the filters leave rows in it.
    Raises ``RuntimeError`` if fewer than ``n_snapshots`` ticks were
    consumed within ``timeout_s``."""
    from etl_geonet_quakes_spark.quakes import source as geonet_source

    geonet_source.register(spark)
    with open(GEONET_FIXTURE_JSON, "r", encoding="utf-8") as fh:
        full = json.load(fh)
    base = scratch_dir("quake_stream_src_")
    snapdir = os.path.join(base, "snaps")
    out_dir = os.path.join(base, "out")
    os.makedirs(snapdir)
    feats = full["features"]
    for i in range(n_snapshots):  # disjoint round-robin split
        snap = {"type": full.get("type"), "features": feats[i::n_snapshots]}
        with open(os.path.join(snapdir, f"t{i:02d}.json"), "w") as fh:
            json.dump(snap, fh)

    done_epochs: list[int] = []

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        v, _ = next_version(out_dir, _BATCH, epoch_id)
        write_version(batch_df, out_dir, _BATCH, v)
        done_epochs.append(epoch_id)

    stream = spark.readStream.format("geonet").option("path", snapdir).load()
    ticks = transform_quakes(validate_features(stream), config)
    with replay_partitions(spark):
        q = (
            ticks.writeStream.foreachBatch(per_batch)
            .option("checkpointLocation", os.path.join(base, "_ckpt"))
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        deadline = time.time() + timeout_s
        while time.time() < deadline and len(done_epochs) < n_snapshots:
            time.sleep(0.2)
        q.stop()
        q.awaitTermination()
    if len(done_epochs) < n_snapshots:
        raise RuntimeError(
            f"quake stream consumed {len(done_epochs)} of {n_snapshots} "
            f"snapshots within {timeout_s} s"
        )
    return read_versions(spark, out_dir, _BATCH, OUTPUT_FEATURE_SCHEMA)
