"""Sink adapters: FeatureCollection envelope + upsert/expiry contract.

The reference POSTs one FeatureCollection per run and relies on
**upsert-by-id with expiry-by-omission** (task.ts:195-203,251-256):
re-sending an id updates the feature, omitting a previously-sent id
expires it. Two adapters re-express that:

- ``to_feature_collection`` — the thin driver-side envelope for the
  REST handoff. The ONLY place in the engine that collects; it sorts
  by id so the envelope is byte-stable (distributed row order is not,
  SURVEY §7.4). Payloads here are O(100) rows by contract.
- ``SnapshotDiffSink`` — the scale path: each trigger/batch publishes
  a full snapshot keyed by id and diffs its id set against the
  previous publish's to emit explicit ``expired`` ids. The id sets
  are an append-only series of committed versions on disk
  (``ids_000001``, ``ids_000002``, ...), each written once; the diff
  is a lazy anti-join of two of them. This turns the reference's
  implicit platform-side state into engine-visible state that works
  under ``foreachBatch`` in streaming or per-run in batch.
"""

from __future__ import annotations

import json
import shutil

from pyspark.sql import DataFrame

from etl_geonet_quakes_spark.io import committed_versions, version_path

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
    relative to the data. A version counts once its ``_SUCCESS``
    marker is written, and the last committed version on disk is the
    previous snapshot: a new sink on an existing ``state_dir`` diffs
    against it, and a publish that crashed mid-write is ignored and
    overwritten by the next one. ``publish`` returns
    (upserted_count, expired_ids_df).
    """

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir

    def publish(self, snapshot: DataFrame) -> tuple[int, DataFrame]:
        """Publish a full snapshot (must carry an ``id`` column).

        Returns the number of upserted features and a DataFrame of ids
        expired by omission (present previously, absent now).

        .. warning:: **The returned ``expired`` DataFrame is valid for
           ONE further ``publish()`` cycle only.** It lazily reads the
           previous and the new id-set versions; each publish prunes
           all but the last three versions, so consuming the return
           after two more ``publish()`` calls raises FileNotFound at
           action time. Materialize it (``.collect()`` or a write)
           before publishing again if it must outlive the next cycle.
        """
        spark = snapshot.sparkSession
        versions = committed_versions(self.state_dir, _IDS)
        path = version_path(self.state_dir, _IDS, versions[-1] + 1 if versions else 1)
        # the snapshot's plan runs once, in this write; the count and
        # the diff read the durable id sets
        snapshot.select("id").dropDuplicates(["id"]).write.mode("overwrite").parquet(path)
        ids = spark.read.parquet(path)
        if versions:
            prev = spark.read.parquet(version_path(self.state_dir, _IDS, versions[-1]))
            expired = prev.join(ids, "id", "left_anti")
        else:
            expired = ids.limit(0)
        # keep the new version and the two before it: the expired set
        # returned by the previous publish reads those two
        for v in versions[:-2]:
            shutil.rmtree(version_path(self.state_dir, _IDS, v), ignore_errors=True)
        return ids.count(), expired

    def foreach_batch(self, handler=None):
        """Adapter for streaming: ``writeStream.foreachBatch(sink.foreach_batch(fn))``
        where ``fn(feature_collection_dict, expired_ids_list, epoch)``
        performs the actual REST POST (or logging in tests)."""

        def run(batch_df: DataFrame, epoch_id: int) -> None:
            n, expired = self.publish(batch_df)
            if handler is not None:
                fc = to_feature_collection(batch_df)
                handler(fc, [r["id"] for r in expired.collect()], epoch_id)

        return run
