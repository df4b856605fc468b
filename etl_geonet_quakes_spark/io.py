"""Declared-schema scans over the driver fixture tables.

The reference reads exactly one source — a REST GeoJSON endpoint with
a blind ``res.json() as {...}`` cast (/root/reference/task.ts:183).
The engine replaces that with explicit, validated scans: Parquet for
the star-schema fixtures (column-pruned + predicate-pushdown for
free), JSON-with-declared-schema for GeoJSON fixtures (never
inferred), and a corrupt-record column instead of blind trust.

It also owns the one rule every stateful sink and stream follows for
its durable state (``next_version`` and the helpers below it), and the
per-process scratch root their work dirs live under (``scratch_dir``).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# region/nation are fixed-cardinality (5 / 25 rows) in TPC-H-like
# schemas regardless of SF, supplier/part/customer grow but stay tiny
# relative to the fact tables.
BROADCAST_SAFE = ("region", "nation")


def events_raw_ts_type(spark: SparkSession, sf_dir: str):
    """Physical type of events.ts straight from the parquet footer:
    LongType under nanosAsLong for timestamp[ns] fixture generations,
    TIMESTAMP_NTZ for timestamp[us] ones. Shared by the batch scan and
    the streaming source (which must DECLARE the on-disk schema)."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType


def normalize_events_ts(ts_type):
    """Column expression normalizing events.ts of physical ``ts_type``
    to a session-UTC TIMESTAMP with µs precision — exactly what
    DuckDB's scan yields, so oracle comparisons line up regardless of
    the on-disk representation. Raises on any OTHER physical type
    (e.g. a future fixture shipping ts as double epoch-seconds or
    string): a blind cast('timestamp') would silently shift values or
    null them, surfacing only as a confusing oracle diff."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(ts_type, LongType):
        # integer division — float division would lose precision
        # on ~1.7e18 nanosecond values (> 2^53)
        return F.expr("timestamp_micros(ts div 1000)")
    if isinstance(ts_type, (TimestampType, TimestampNTZType)):
        # TIMESTAMP_NTZ wall-clock == UTC instant for this fixture;
        # cast under the session's UTC zone is value-preserving
        return F.col("ts").cast("timestamp")
    raise TypeError(
        f"events.ts has unsupported physical type {ts_type}; expected "
        "int64 nanos (nanosAsLong) or timestamp — refusing to guess a "
        "conversion"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scans get column pruning and
    predicate pushdown from Catalyst automatically."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # see normalize_events_ts: ns-vs-µs fixture generations
        df = df.withColumn("ts", normalize_events_ts(df.schema["ts"].dataType))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_geojson(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a GeoJSON-shaped JSON file with an explicit schema.

    ``multiLine=True`` because a FeatureCollection is one document,
    and a corrupt-record column instead of the reference's unchecked
    cast (/root/reference/task.ts:183).
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def committed_versions(state_dir: str, prefix: str) -> list[int]:
    """Ascending numbers of the complete ``{prefix}NNNNNN`` versions
    under ``state_dir``. A version counts once its ``_SUCCESS``
    marker, written last by Spark's parquet commit or by the sink's
    driver-side writer, is in it: a dir left by a crashed write is
    ignored, and the next write of that number overwrites it. Recovery
    reads this listing, never driver memory."""
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        int(name[len(prefix):])
        for name in os.listdir(state_dir)
        if name.startswith(prefix)
        and os.path.exists(os.path.join(state_dir, name, "_SUCCESS"))
    )


def version_path(state_dir: str, prefix: str, version: int) -> str:
    return os.path.join(state_dir, f"{prefix}{version:06d}")


def next_version(
    state_dir: str, prefix: str, epoch: int | None = None
) -> tuple[int, list[int]]:
    """The version a write takes, and the committed versions below it.

    This is the one numbering rule of the engine's durable state. A
    streaming ``epoch`` writes version ``epoch + 1``; a call without
    one writes the version after the newest committed one. The
    predecessor is the newest committed version below (the returned
    list's last entry), so a replayed epoch overwrites its own version
    and reads the same state as its first attempt."""
    versions = committed_versions(state_dir, prefix)
    if epoch is None:
        v = versions[-1] + 1 if versions else 1
    else:
        v = epoch + 1
    return v, [x for x in versions if x < v]


def write_version(df: DataFrame, state_dir: str, prefix: str, version: int) -> None:
    """Write ``df`` as ``version``: the overwrite clears a crashed or
    replayed attempt, and Spark's ``_SUCCESS``, written last, commits
    it."""
    df.write.mode("overwrite").parquet(version_path(state_dir, prefix, version))


def read_versions(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    schema,
    versions: list[int] | None = None,
) -> DataFrame:
    """The union of ``versions`` (default: every committed one) read
    with the declared ``schema``; zero versions give an empty frame of
    that schema."""
    if versions is None:
        versions = committed_versions(state_dir, prefix)
    if not versions:
        # limit(0) makes it an empty LocalRelation, which the optimizer
        # prunes from unions; the bare frame scans a Python RDD
        return spark.createDataFrame([], schema).limit(0)
    paths = [version_path(state_dir, prefix, v) for v in versions]
    return spark.read.schema(schema).parquet(*paths)


def prune_versions(state_dir: str, prefix: str, below: list[int], keep: int) -> None:
    """Delete all but the newest ``keep`` of the committed versions
    ``below`` a write: a writer keeps only what its next replay, or a
    lazy frame it handed out, still reads."""
    for v in below[: max(len(below) - keep, 0)]:
        shutil.rmtree(version_path(state_dir, prefix, v), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A new work dir under this process's one scratch root. Registry
    queries return lazy frames over these dirs, so the root is removed
    at interpreter exit, not earlier."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="egqs_scratch_")
    atexit.register(_remove_scratch_root, root, os.getpid())
    return root


def _remove_scratch_root(root: str, owner: int) -> None:
    # a forked child inherits the hook but not the root
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)
