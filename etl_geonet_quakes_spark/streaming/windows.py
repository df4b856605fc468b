"""Streaming window/dedup operators over the events fixture.

The reference's "streaming" is restart-the-world on a schedule with a
sliding age cutoff (task.ts:143,193 — SURVEY §2.2). Here the same
incremental semantics run as real Structured Streaming: event-time
windows + watermarks + stateful dedup, driven to completion with
``trigger(availableNow=True)`` so batch fixtures can exercise the
streaming engine synchronously (and so results are comparable against
a batch oracle: a terminated availableNow stream over a static table
must equal the equivalent batch aggregation).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import (
    events_raw_ts_type,
    load_table,
    next_version,
    normalize_events_ts,
    read_versions,
    scratch_dir,
    write_version,
)
from etl_geonet_quakes_spark.streaming.feed import (
    far_future_sentinel_batches,
    replay_partitions,
    run_foreach_batch,
    write_micro_batch_feed,
    write_time_ordered_feed,
)

# events.parquet has carried ts as timestamp[ns] or timestamp[us]
# across fixture generations (see io.load_table); streaming reads
# probe the footer and share the same normalization to µs TIMESTAMP.


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = load_table(spark, sf_dir, "events")
    # Pre-conversion physical schema differs across fixture
    # generations (ts as int64-nanos vs timestamp[us]); probe the
    # footer so the stream declares what's on disk, then apply the
    # SAME normalization expression as io.load_table (shared helpers —
    # the two paths must not drift).
    raw_ts = events_raw_ts_type(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            f"event_id long, ts {raw_ts.simpleString()}, "
            "user_id long, event_type string, value double, props string"
        )
        # FileStreamSource requires a directory; glob-filter to the
        # single fixture file inside it
        .option("pathGlobFilter", "events.parquet")
        .parquet(f"{sf_dir}/")
        .withColumn("ts", normalize_events_ts(raw_ts))
    )
    # keep the batch df around for schema parity assertions in tests
    assert [f.name for f in stream.schema.fields] == [
        f.name for f in batch.schema.fields
    ]
    return stream


def _run_to_memory(result: DataFrame, mode: str) -> str:
    """Drive a streaming DataFrame to completion into a memory sink;
    returns the (unique) table name. Starts under replay-sized state
    partitioning (``feed.replay_partitions``; SCALE.md, "streaming
    replay overhead"); the session value is restored afterwards."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    with replay_partitions(result.sparkSession):
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return name


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows with a watermark, complete
    output mode → final result equals the batch aggregation (the
    property the oracle checks)."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    name = _run_to_memory(agg, "complete")
    return (
        spark.table(name)
        .select(F.to_date(F.col("w.start")).alias("day"), "event_type", "n", "sum_value")
        .orderBy("day", "event_type")
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-day length, 1-day slide): each event lands
    in two windows; oracle = union of two shifted tumbling aggs."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = _run_to_memory(agg, "complete")
    return (
        spark.table(name)
        .select(F.to_date(F.col("w.start")).alias("win_start"), "n")
        .orderBy("win_start")
    )


def stream_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first event per (user_id, event_type)
    survives; aggregate to per-type distinct-user counts so the
    result is deterministic (which row is 'first' is racy, the COUNT
    of survivors is not)."""
    e = _events_stream(spark, sf_dir)
    dedup = e.dropDuplicates(["user_id", "event_type"])
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("n_users"))
    name = _run_to_memory(agg, "complete")
    return spark.table(name).orderBy("event_type")


def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    'stateful ops' row of SURVEY §2.2): a per-user running event
    counter + value accumulator held in explicit GroupState.

    This is the template for state Spark's built-ins can't express
    (per-key ML feature state, complex session logic): state lives in
    the state store, groups arrive as Arrow batches, and the function
    is a self-contained closure (worker-pickling rule). Driven with
    availableNow over the static fixture, the final per-user state
    equals the batch aggregate — which is exactly what the oracle
    checks. Values are summed as integer cents so state round-trips
    are exact.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    e = _events_stream(spark, sf_dir)
    # cents: exact integer state (double accumulation in state would
    # not be order-stable)
    cents = e.withColumn("cents", F.round(F.col("value") * 100).cast("long"))

    def count_events(key, pdfs, state):
        import pandas as pd  # self-contained closure

        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["cents"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_cents": [total]}
        )

    result = (
        cents.groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long, sum_cents long",
            stateStructType="n long, total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = _run_to_memory(result, "update")
    # update mode emits one row per (user, batch); availableNow over a
    # single static fixture yields one batch, but keep the
    # last-update-wins reduction so multi-batch replays stay correct
    out = spark.table(name)
    w_latest = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_cents").alias("sum_cents"))
    )
    return w_latest.orderBy("user_id")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase joins the
    same user's clicks from the preceding 10 minutes. Both sides carry
    watermarks and the join condition bounds event-time distance, so
    the state store can evict rows once the watermark passes — the
    only shape under which a stream-stream join is sustainable at
    100 TB/day (unbounded state otherwise). Driven availableNow over
    the static fixture, the result equals the batch time-bounded
    self-join the oracle runs."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    out = joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    name = _run_to_memory(out, "append")
    return spark.table(name).orderBy("click_id", "purchase_id")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (session_window with a 30-min
    gap) per user; returns per-user session counts — comparable to
    the batch gaps-and-islands sessionization."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    name = _run_to_memory(agg, "complete")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .orderBy("user_id")
    )


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4.x arbitrary-state API, the
    successor to applyInPandasWithState in q09_stream_stateful_counts): a StatefulProcessor
    holding a typed ValueState per user, same running counter/cents
    accumulator so the terminated availableNow result equals the batch
    aggregate oracle. Requires the RocksDB state store provider —
    scoped to this query and restored after, since the provider choice
    is how state spills past executor memory at 100 TB. The processor
    class is self-contained (imports inside methods) so cloudpickle
    ships it whole to Python workers regardless of cwd.

    NOTE: Spark's TWS driver worker imports google.protobuf; in
    environments without protobuf this raises at stream start (tests
    skip when protobuf is absent), which is why this operator is not
    in the driver-checked query registry."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCents(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n long, total long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                total += int(pdf["cents"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_cents": [total]}
            )

        def close(self) -> None:
            pass

    e = _events_stream(spark, sf_dir)
    cents = e.withColumn("cents", F.round(F.col("value") * 100).cast("long"))

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        result = cents.groupBy("user_id").transformWithStateInPandas(
            RunningCents(),
            outputStructType="user_id long, n_events long, sum_cents long",
            outputMode="Update",
            timeMode="None",
        )
        name = _run_to_memory(result, "update")
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    out = spark.table(name)
    # last-update-wins across micro-batches (single batch under
    # availableNow on a static fixture, but replay-safe)
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_cents").alias("sum_cents"))
        .orderBy("user_id")
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: like stream_dedup_user_type but
    state for a key is EVICTED once the watermark passes it — the only
    dedup variant whose state is bounded on an unbounded stream (plain
    dropDuplicates state grows forever; SURVEY §2.2 'Stateful ops').
    Under availableNow on a static fixture everything lands in one
    micro-batch before any eviction, so the terminated result equals
    the batch distinct count — which is what the oracle checks."""
    e = _events_stream(spark, sf_dir)
    dedup = e.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("n_users"))
    name = _run_to_memory(agg, "complete")
    return spark.table(name).orderBy("event_type")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joins the
    STATIC customer dimension (re-read per micro-batch by contract —
    Spark re-plans the static side each batch, which is what makes
    slowly-refreshed dims pick up changes), then a watermarked 1-day
    tumbling window aggregates per market segment — the canonical
    "enrich the stream with reference data, then window" topology the
    taxonomy was missing (q10 covers stream↔stream, this covers
    stream↔static).

    Join key: user_id = c_custkey (the fixture's users ARE the
    customer keys' range); inner semantics — unmatched events carry
    no segment and drop, exactly like the batch oracle. The dim side
    is explicitly broadcast, so the stream side never shuffles for
    the join; only the windowed agg shuffles, keyed by
    (window, segment). Sums are exact decimal (dsum discipline)."""
    e = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = e.join(F.broadcast(dim), "user_id")
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    name = _run_to_memory(agg, "complete")
    return (
        spark.table(name)
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
        .orderBy("day", "c_mktsegment")
    )


def stream_late_data_accounting(
    spark: SparkSession, sf_dir: str, delay: str = "1 day"
) -> DataFrame:
    """Deterministic LATE-DATA semantics, exact-oracled: the events
    table splits into two arrival waves (event_id parity), the stream
    runs availableNow TWICE against one checkpoint — wave 0 alone,
    then wave 1 arriving after the watermark advanced — so which rows
    are "too late" is a pure function of the data, not of racing
    triggers:

    - after run 1 the watermark is max(ts in wave 0) − delay;
    - run 2 DROPS wave-1 rows whose 1-day window already closed
      (window end ≤ that watermark — their state was evicted and
      emitted);
    - append mode emits a window exactly once, when the watermark
      passes its end; windows still open at the final watermark
      (max all arrived ts − delay) never emit.

    The registered oracle replays exactly that closure arithmetic in
    SQL, so the cross-engine hash gate certifies Spark's watermark
    eviction CONTRACT itself — the semantics every production
    streaming agg silently depends on. (The reference's
    restart-the-world loop cannot lose late rows — task.ts:142-143
    refetches everything; this is the price/contract of incremental
    state, made auditable.)"""
    base = scratch_dir("late_data_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    feed_all = write_micro_batch_feed(ev, base, 2, "event_id")
    # stage the waves: run 1 sees only b0; b1 appears before run 2
    live = os.path.join(base, "live")
    os.makedirs(live)
    os.rename(os.path.join(feed_all, "b0.parquet"),
              os.path.join(live, "b0.parquet"))

    out_dir = os.path.join(base, "finalized")
    schema = "w_start timestamp, n long"

    def sink(batch_df, epoch_id):  # append mode: finalized windows only
        v, _ = next_version(out_dir, "batch_", epoch_id)
        write_version(
            batch_df.select(F.col("w.start").alias("w_start"), "n"),
            out_dir, "batch_", v,
        )

    def run_once() -> None:
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        agg = (
            stream.withWatermark("ts", delay)
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        run_foreach_batch(agg, sink, os.path.join(base, "_ckpt"))

    run_once()
    os.rename(os.path.join(feed_all, "b1.parquet"),
              os.path.join(live, "b1.parquet"))
    run_once()
    return (
        read_versions(spark, out_dir, "batch_", schema)
        .select(F.to_date(F.col("w_start")).alias("day"), "n")
        .orderBy("day")
    )


def _click_purchase_join(
    spark: SparkSession, sf_dir: str, prefix: str, click_user: str, how: str
) -> DataFrame:
    """The q214/q215 replay: clicks joined (``how``) to the same user's
    purchases in the following 48 hours, both sides read from one
    time-ordered feed that ends in two far-future sentinel batches
    routed to BOTH sides, each side watermarked 1 hour (why each
    piece is needed: ``stream_outer_join``)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    sentinels = far_future_sentinel_batches(
        ev,
        "ts",
        row={
            "user_id": F.lit(-1).cast("long"),
            "event_type": F.lit("sentinel"),
        },
        id_col="event_id",
    )
    feed = write_time_ordered_feed(ev, scratch_dir(prefix), 4, "ts", trailing=sentinels)
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def side(kinds, id_alias, user_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .filter(F.col("event_type").isin(*kinds))
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    clicks = side(["click", "sentinel"], "click_id", click_user, "click_ts")
    purchases = side(["purchase", "sentinel"], "purchase_id", "p_user", "purchase_ts")
    return clicks.join(
        purchases,
        (F.col(click_user) == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 48 HOURS")),
        how,
    )


def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join with a certified
    null-emission contract: every click joins the same user's
    purchases in the following 48 hours; clicks that never match MUST
    still emit, null-padded, once the watermark proves no match can
    arrive. q75 certified the inner-join leg; this certifies the
    outer leg — the one whose result Spark only produces through
    watermark-driven state eviction, so it exactly-oracles the
    eviction machinery itself (a plain batch LEFT JOIN in DuckDB).

    Three things make the replay faithful rather than flaky, all
    measured on this fixture (probe: 120/192 matches, 50/76 nulls →
    192/192, 76/76):

    * the feed is TIME-ORDERED (``write_time_ordered_feed``) — hash
      batches arrive out of time order, the watermark jumps ahead,
      and whole earlier batches are dropped as late;
    * TWO trailing far-future sentinel batches: eviction nulls for
      state closed by the watermark of batch *N* are emitted while
      processing batch *N+1*, so one sentinel advances the watermark
      past every real click's ``click_ts + 48h`` bound and the second
      gives Spark a batch in which to emit;
    * the sentinels feed BOTH sides: with the default ``min``
      multiple-watermark policy, a sentinel on one side leaves the
      other side's watermark at the fixture's max event time and the
      last ~48 h of unmatched clicks never evict (measured: 70/76).

    Scale: state is bounded by 48 h of clicks + purchases per the
    eviction bounds Spark derives from the join condition — the only
    sustainable outer-join shape at 100 TB/day. Reference analog:
    task.ts:142-143's restart-the-world refetch never needs eviction;
    this is the streaming-native equivalent, contract made auditable.
    """
    joined = _click_purchase_join(spark, sf_dir, "outer_join_", "user_id", "leftOuter")
    out = joined.select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    name = _run_to_memory(out, "append")
    return (
        spark.table(name)
        .filter(F.col("click_id") >= 0)
        .orderBy("click_id", "purchase_id")
    )


def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — the last
    leg of the streaming-join taxonomy (inner q10/q75, left outer
    q214): clicks with no purchase in the following 48 h emit
    null-padded on the right, AND purchases with no qualifying click
    in the preceding 48 h emit null-padded on the left. Both null
    families exist only through watermark-driven state eviction on
    their respective sides, so the batch FULL JOIN oracle certifies
    BOTH sides' eviction machinery at once.

    Replay discipline is q214's, shared through
    ``_click_purchase_join`` (time-ordered feed, two far-future
    sentinel batches routed to both sides, 1 h watermark delay); the
    only delta is the join type and the coalesced user
    key in the projection (a purchase-only row carries its user on
    the right side). State bounds are symmetric: each side holds 48 h
    + watermark delay, the only sustainable full-outer shape at
    100 TB/day."""
    joined = _click_purchase_join(
        spark, sf_dir, "full_outer_join_", "c_user", "fullOuter"
    )
    out = joined.select(
        "click_id",
        "purchase_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "gap_us"
        ),
    )
    name = _run_to_memory(out, "append")
    return (
        spark.table(name)
        .filter(
            (F.col("click_id").isNull() | (F.col("click_id") >= 0))
            & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        )
        .orderBy("click_id", "purchase_id")
    )
