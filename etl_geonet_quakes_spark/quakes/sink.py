"""Sink adapters: FeatureCollection envelope + upsert/expiry contract.

The reference POSTs one FeatureCollection per run and relies on
**upsert-by-id with expiry-by-omission** (task.ts:195-203,251-256):
re-sending an id updates the feature, omitting a previously-sent id
expires it. Two adapters re-express that:

- ``to_feature_collection`` — the thin driver-side envelope for the
  REST handoff. The ONLY place in the engine that collects; it sorts
  by id so the envelope is byte-stable (distributed row order is not,
  SURVEY §7.4). Payloads here are O(100) rows by contract.
- ``SnapshotDiffSink`` — each trigger/batch publishes a full
  snapshot keyed by id and diffs its id set against the previous
  publish's to emit explicit ``expired`` ids. The id sets are
  committed versions on disk (``ids_000001``, ``ids_000002``, ...),
  numbered and read by the engine's one state rule
  (``io.next_version``). A publish takes either a
  DataFrame, whose ids Spark writes and diffs as a lazy anti-join (the
  scale path: no id reaches the driver), or ids already on the driver,
  which pyarrow writes and Python diffs with no Spark job. Both write
  the same layout, so one state dir may mix them. This turns the
  reference's implicit platform-side state into engine-visible state
  that works under ``foreachBatch`` in streaming or per-run in batch.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from etl_geonet_quakes_spark.io import next_version, prune_versions, version_path

_IDS = "ids_"


def to_feature_collection(df: DataFrame) -> dict:
    """Envelope rows as {'type': 'FeatureCollection', 'features': [...]}
    (task.ts:251-254). Driver-side by design — REST handoff only. The
    sort by id runs on the collected features: Python orders ``str`` by
    code point, which is Spark's binary order on valid UTF-8 strings."""
    features = [json.loads(r) for r in df.toJSON().collect()]
    features.sort(key=lambda f: f["id"])
    return {"type": "FeatureCollection", "features": features}


class SnapshotDiffSink:
    """Upsert-by-id + expiry-by-omission over snapshot publishes.

    State is one parquet dir of deduplicated ids per publish
    (``ids_000001``, ``ids_000002``, ...) under ``state_dir``, tiny
    relative to the data, under ``io.next_version``'s rule: the
    previous snapshot is the newest committed version below the one
    being written, so a new sink on an existing ``state_dir`` diffs
    against it, a publish that crashed mid-write is ignored and
    overwritten, and a replayed epoch recomputes its own diff.
    ``publish`` returns (upserted_count, expired_ids).
    """

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir

    def publish(
        self, snapshot: DataFrame | Iterable[str], epoch: int | None = None
    ) -> tuple[int, DataFrame | list[str]]:
        """Publish a full snapshot: a DataFrame with an ``id`` column,
        or the snapshot's ids already collected on the driver.

        Returns the number of upserted (distinct) ids and the ids
        expired by omission (present previously, absent now): a lazy
        DataFrame for a DataFrame snapshot, a sorted list for driver
        ids. Either input writes the ``ids_NNNNNN`` version that
        ``io.next_version`` gives for ``epoch`` and diffs against its
        predecessor, whichever input wrote it: a replayed epoch
        overwrites its own version and diffs against the same
        predecessor as the first attempt.

        .. warning:: **A returned ``expired`` DataFrame is valid for
           ONE further ``publish()`` cycle only.** It lazily reads the
           previous and the new id-set versions; each publish prunes
           all but the new version and the two below it, so consuming
           the return after two more ``publish()`` calls raises
           FileNotFound at action time. Materialize it (``.collect()``
           or a write) before publishing again if it must outlive the
           next cycle.
        """
        v, below = next_version(self.state_dir, _IDS, epoch)
        path = version_path(self.state_dir, _IDS, v)
        prev = version_path(self.state_dir, _IDS, below[-1]) if below else None
        if isinstance(snapshot, DataFrame):
            n, expired = _publish_frame(snapshot, path, prev)
        else:
            n, expired = _publish_ids(snapshot, path, prev)
        # keep the new version and the two below it: the expired set
        # returned by the previous publish reads those two
        prune_versions(self.state_dir, _IDS, below, keep=2)
        return n, expired

    def foreach_batch(self, handler=None):
        """Adapter for streaming: ``writeStream.foreachBatch(sink.foreach_batch(fn))``
        where ``fn(feature_collection_dict, expired_ids_list, epoch)``
        performs the actual REST POST (or logging in tests).

        With a handler, a tick is one Spark job: the envelope's collect.
        Its ids are published from the driver, so the batch's plan runs
        once. Without one, the batch is published as a DataFrame.

        Each tick publishes under its epoch. If the handler raises
        after the id set is committed, Spark replays the epoch, the
        replay rewrites that version against the same predecessor, and
        the handler gets the tick's expiries again: delivery is
        at-least-once.
        """

        def run(batch_df: DataFrame, epoch_id: int) -> None:
            if handler is None:
                self.publish(batch_df, epoch_id)
                return
            fc = to_feature_collection(batch_df)
            _, expired = self.publish((f["id"] for f in fc["features"]), epoch_id)
            handler(fc, expired, epoch_id)

        return run


def _publish_frame(
    snapshot: DataFrame, path: str, prev: str | None
) -> tuple[int, DataFrame]:
    spark = snapshot.sparkSession
    # the snapshot's plan runs once, in this write; the count and
    # the diff read the durable id sets
    snapshot.select("id").dropDuplicates(["id"]).write.mode("overwrite").parquet(path)
    ids = spark.read.parquet(path)
    expired = spark.read.parquet(prev).join(ids, "id", "left_anti") if prev else ids.limit(0)
    return ids.count(), expired


def _publish_ids(
    snapshot: Iterable[str], path: str, prev: str | None
) -> tuple[int, list[str]]:
    ids = sorted(set(snapshot))
    # same commit protocol as Spark's writer: data file first, then
    # the _SUCCESS marker that committed_versions looks for
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.table({"id": pa.array(ids, pa.string())})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    if prev is None:
        return len(ids), []
    # read_table skips Spark's _SUCCESS and .crc side files
    old = pq.read_table(prev, columns=["id"]).column("id").to_pylist()
    return len(ids), sorted(set(old).difference(ids))
