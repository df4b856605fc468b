"""Distributed micro-batch feed writer for file-stream replays.

Several registry queries certify a STREAMING operator against an exact
batch oracle by replaying a fixture table as an arrival-ordered file
stream (``maxFilesPerTrigger=1`` + ``availableNow``) and proving the
union of per-batch outputs equals the one-shot batch result (q151
incremental MinHash, q181 incremental counts). This module owns the
feed synthesis so every such query shares the no-driver-materialization
path: rows are hash-assigned to a batch id and written by ONE
distributed Spark job (``repartition(n, b)`` puts each batch in exactly
one task, so each ``b=i`` partition directory holds exactly one file),
then flattened into the feed directory with metadata-only renames —
no ``collect()``, no driver buffering, any corpus size.

It also owns the one ``availableNow`` ``foreachBatch`` driver,
``run_foreach_batch``, that every stateful stream writer runs under.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# State partition count for fixture replays: a stateful query fixes
# its state-store partitions at start and commits every store of every
# partition each micro-batch, so fixture-sized state wants few
# partitions (measurement and the sizing rule: SCALE.md, "streaming
# replay overhead").
REPLAY_SHUFFLE_PARTITIONS = 8


@contextmanager
def replay_partitions(spark, n: int = REPLAY_SHUFFLE_PARTITIONS):
    """Temporarily size spark.sql.shuffle.partitions for a replay
    stream start; always restores the session value. Result-identical
    by construction: hash partitioning and watermark advancement are
    partition-count-independent, only the state-store commit fan-out
    changes (verified: q04-q09, q10/q75, q151, q187, q197, q214,
    q273 oracle hashes unchanged at 8 vs 32)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_foreach_batch(
    stream: DataFrame,
    per_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> list[int]:
    """Drive ``stream`` to completion through
    ``foreachBatch(per_batch)`` with an ``availableNow`` trigger,
    started under :func:`replay_partitions`, and return the epochs this
    run processed. The checkpoint at ``checkpoint`` makes a restart
    resume after the last committed epoch; a replayed epoch is made
    harmless by the writer's state rule (``io.next_version``)."""
    epochs: list[int] = []

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        per_batch(batch_df, epoch_id)
        epochs.append(epoch_id)

    with replay_partitions(stream.sparkSession):
        (
            stream.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return epochs


def write_micro_batch_feed(
    df: DataFrame, base: str, n_batches: int = 3, key: str = "doc_id"
) -> str:
    """Write ``df`` as ``n_batches`` parquet files (one per ``key %
    n_batches`` bucket) under ``base/feed`` and return that path.
    Unordered-set result semantics downstream make arrival order
    irrelevant; the partition column is dropped from the files (it is
    a directory key), so the feed schema equals ``df``'s. A residue
    class with no rows (sparse/skewed keys) still gets a batch file —
    an empty parquet with ``df``'s schema — so the replay sees the
    same number of micro-batches regardless of key distribution."""
    return _write_batches(df, F.col(key) % F.lit(n_batches), base, n_batches, 1)


def _write_batches(df: DataFrame, b, base: str, n_batches: int, width: int) -> str:
    """Write ``df`` as one parquet file per batch id ``b`` in
    ``[0, n_batches)``, named ``b{i:0{width}d}.parquet`` under
    ``base/feed``: ONE distributed job (``repartition(n, b)`` puts each
    batch in one task) and metadata-only renames. A batch with no rows
    gets an empty parquet with ``df``'s schema."""
    feed = os.path.join(base, "feed")
    staging = os.path.join(base, "staging")
    os.makedirs(feed)
    (
        df.withColumn("b", b)
        .repartition(n_batches, "b")
        .write.partitionBy("b")
        .parquet(staging)
    )
    empty = None
    for i in range(n_batches):
        dst = os.path.join(feed, f"b{i:0{width}d}.parquet")
        part = glob.glob(os.path.join(staging, f"b={i}", "part-*.parquet"))
        assert len(part) <= 1, part
        if part:
            os.rename(part[0], dst)
            continue
        if empty is None:
            empty = _single_file(df.limit(0), os.path.join(base, "empty"))
        shutil.copyfile(empty, dst)
    return feed


def _single_file(df: DataFrame, path: str) -> str:
    df.coalesce(1).write.parquet(path)
    return glob.glob(os.path.join(path, "part-*.parquet"))[0]


def write_time_ordered_feed(
    df: DataFrame,
    base: str,
    n_batches: int,
    ts_col: str,
    trailing: tuple[DataFrame, ...] = (),
) -> str:
    """Write ``df`` as ``n_batches`` parquet files whose ARRIVAL ORDER
    IS EVENT-TIME ORDER, followed by the ``trailing`` single-purpose
    batches (e.g. watermark-flush sentinels) — the feed shape the
    watermark-sensitive replays need (q197 eviction contract, q214
    outer-join null emission), where :func:`write_micro_batch_feed`'s
    hash-keyed unordered batches would be wrong.

    Two hard-won invariants are encoded here rather than left to the
    callers:

    * rows are RANGE-assigned to batches on ``ts_col`` (equal-width
      time slices between the observed min/max), so batch *i* never
      contains events newer than batch *i+1* and nothing is dropped as
      late on input when the watermark advances between batches;
    * every batch file gets a strictly increasing mtime.
      FileStreamSource orders files by MODIFICATION TIME, not path:
      files renamed out of one staging write share an mtime, the
      replay order is then effectively random, a late-range batch can
      run first, and the watermark silently drops whole earlier
      batches as late (measured: 120/192 matches survived on the
      q214 probe before stamping; 192/192 after).

    The min/max probe is a single two-value aggregate (bounded driver
    state). Like the hash feed, all row data moves in distributed
    Spark jobs; the driver only renames and stamps file metadata.
    """
    # zero-padding width derived from the total file count, so feeds
    # beyond 1000 batches still sort (and therefore replay) in order
    width = max(3, len(str(max(n_batches + len(trailing) - 1, 0))))
    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).first()
    if lo is None:
        raise ValueError(
            "write_time_ordered_feed: df has no rows (or ts_col is "
            f"all-null) — cannot range-assign batches on {ts_col!r}; "
            "an empty feed would make every downstream replay "
            "vacuously pass, so this is an error, not 0 batches"
        )
    span_us = max((hi - lo).total_seconds() * 1_000_000, 1.0)
    frac = (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lit(lo))) / F.lit(span_us)
    b = F.least(F.floor(frac * n_batches), F.lit(n_batches - 1)).cast("int")
    feed = _write_batches(df, b, base, n_batches, width)
    for j, extra in enumerate(trailing):
        os.rename(
            _single_file(extra, os.path.join(base, f"trailing{j}")),
            os.path.join(feed, f"b{n_batches + j:0{width}d}.parquet"),
        )
    t0 = time.time() - 3600
    for k, fn in enumerate(sorted(os.listdir(feed))):
        os.utime(os.path.join(feed, fn), (t0 + 10 * k, t0 + 10 * k))
    return feed


def far_future_sentinel_batches(
    df: DataFrame,
    ts_col: str,
    row: dict | None = None,
    id_col: str | None = None,
    n_sentinels: int = 2,
    horizon: str = "INTERVAL 30 DAYS",
) -> tuple:
    """Build the trailing watermark-flush sentinel batches a
    watermark-sensitive replay needs (hoisted from the q214 outer-join
    recipe so every caller inherits the measured invariants instead of
    re-deriving them):

    * **TWO batches by default, not one**: results for state closed by
      the watermark of batch *N* are emitted while processing batch
      *N+1* — the first sentinel advances the watermark past every
      real row's join/window bound, the second gives Spark a batch in
      which to emit (measured on the q214 probe: one sentinel leaves
      the final eviction wave unemitted);
    * the sentinel timestamp is ``max(ts_col) + horizon`` — beyond any
      real event-time bound the query derives, so the watermark clears
      ALL state;
    * callers joining two streams must route the sentinels to BOTH
      sides (the default ``min`` multiple-watermark policy holds the
      join watermark at the laggard side — measured: single-side
      sentinels left the last 48 h of q214 state unevicted). The
      sentinel rows themselves carry ``id_col`` = −1−j so downstream
      can filter them out (q214 keeps ``click_id >= 0``).

    ``row`` maps column name → literal Column override (e.g. the
    ``event_type`` tag streams filter on); ``id_col`` gets −1−j per
    sentinel *j*; every other column is a typed NULL; ``ts_col`` gets
    the far-future stamp. Returns a tuple sized for
    ``write_time_ordered_feed(trailing=...)``. The max-ts probe is one
    scalar aggregate (bounded driver state)."""
    hi = df.agg(F.max(ts_col)).first()[0]
    if hi is None:
        raise ValueError(
            "far_future_sentinel_batches: df has no rows (or "
            f"{ts_col!r} is all-null) — no watermark to flush"
        )
    dtypes = dict(df.dtypes)
    out = []
    for j in range(n_sentinels):
        sel = []
        for c in df.columns:
            if c == ts_col:
                sel.append((F.lit(hi) + F.expr(horizon)).alias(c))
            elif row is not None and c in row:
                sel.append(row[c].alias(c))
            elif c == id_col:
                sel.append(F.lit(-1 - j).cast(dtypes[c]).alias(c))
            else:
                sel.append(F.lit(None).cast(dtypes[c]).alias(c))
        out.append(df.limit(1).select(*sel))
    return tuple(out)
