"""Streaming incremental aggregate maintenance.

The reference's whole execution model is "recompute the world every
schedule tick" (task.ts:142-143 — re-fetch, re-transform, re-submit).
q158 already shows the BATCH form of doing better (merge a delta into
a persisted aggregate); this module is the STREAMING form: documents
arrive in micro-batches and a persisted aggregate is maintained by
merging each batch's partial counts — the vocabulary statistics a
corpus pipeline keeps warm while ingesting.

Exactness contract (the q151 discipline): counts/min are associative,
so the final merged state provably equals the one-shot batch
aggregation — which is exactly what the registered query's SQL oracle
computes. The cross-engine hash gate therefore certifies the
INCREMENTAL path end to end, not a weaker rows-only check.

State is the versioned-dir layout ``SnapshotDiffSink`` and
``StreamingMinHashIndex`` also use (``io.committed_versions``), plus
epoch idempotence: state versions are keyed BY EPOCH ID
(``e{epoch_id}`` durable parquet, ``_SUCCESS`` as the commit marker),
the previous version is discovered from DISK (max committed epoch <
current), and a replayed/retried micro-batch whose epoch is already
committed is skipped — so a retry cannot double-merge and a restart
resumes from the last complete version with no driver memory. Per-
batch work is one partial+final hash agg over the batch plus a merge
join keyed by the state key — the shuffle carries the vocabulary,
never the token stream; at cluster scale the state table would be
bucketed by key so the merge is co-located.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import committed_versions, load_table, version_path
from etl_geonet_quakes_spark.llm.text import tokens
from etl_geonet_quakes_spark.streaming.feed import write_micro_batch_feed

_STATE_SCHEMA = "tok string, n long"
_EPOCH = "e"


def run_versioned_merge_stream(
    spark: SparkSession,
    feed: str,
    input_schema: str,
    state_schema: str,
    base: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Run the epoch-keyed versioned-merge loop over a file-stream
    ``feed`` and return the final committed state.

    Idempotence: ``per_batch`` first checks for this epoch's
    ``_SUCCESS`` marker and skips if present (a retried micro-batch
    merges zero times); an incomplete directory from a crashed
    attempt is clobbered by ``mode("overwrite")``. The merge input is
    the max committed epoch BELOW the current one, read from disk —
    restartable by construction."""
    state_dir = os.path.join(base, "state")

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        committed = committed_versions(state_dir, _EPOCH)
        if epoch_id in committed:
            return  # replay/retry of a committed epoch: no-op
        sp = batch_df.sparkSession
        cur = partial_fn(batch_df)
        prior = [e for e in committed if e < epoch_id]
        if prior:
            prev = sp.read.schema(state_schema).parquet(
                version_path(state_dir, _EPOCH, prior[-1])
            )
            cur = merge_fn(prev, cur)
        # overwrite clears a crashed attempt's partial files; the
        # _SUCCESS marker written last IS the commit point
        cur.write.mode("overwrite").parquet(version_path(state_dir, _EPOCH, epoch_id))

    stream = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    from etl_geonet_quakes_spark.streaming.feed import replay_partitions

    with replay_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(per_batch)
            .option("checkpointLocation", os.path.join(base, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    committed = committed_versions(state_dir, _EPOCH)
    assert committed, "stream processed no batches"
    return spark.read.schema(state_schema).parquet(
        version_path(state_dir, _EPOCH, committed[-1])
    )


def stream_incremental_token_counts(
    spark: SparkSession, sf_dir: str, top_k: int = 50
) -> DataFrame:
    """Registry adapter: replay ``documents`` as a 3-file micro-batch
    stream, maintain the merged token-count state per batch, and
    return the final state's top-``top_k`` tokens (count desc, token
    asc — deterministic). Oracle = the plain batch word count: equal
    BY THEOREM (count merge is associative), so the hash gate checks
    the incremental machinery, not luck."""
    base = tempfile.mkdtemp(prefix="stream_inc_counts_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed = write_micro_batch_feed(docs, base, 3, "doc_id")

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("n"))
        )

    def merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return (
            prev.unionByName(cur).groupBy("tok").agg(F.sum("n").alias("n"))
        )

    final = run_versioned_merge_stream(
        spark, feed, "doc_id long, text string", _STATE_SCHEMA, base,
        partial, merge,
    )
    return final.orderBy(F.desc("n"), "tok").limit(top_k)


def stream_incremental_exact_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental EXACT dedup: documents arrive in
    micro-batches and each batch is deduplicated against everything
    already seen via a durable digest index (md5 → keeper doc_id) —
    the streaming form of q41, completing the pair with q151's
    incremental NEAR-dup. A batch's keeper for a digest is its min
    doc_id; the index keeps the global min per digest, so the final
    state provably equals the one-shot batch group-by (min is
    associative) — q41's exact oracle applies.

    Per-batch work: one digest hash agg over the batch + a merge agg
    against the touched digests; epoch-keyed versioned durable state
    (idempotent replay, disk-based recovery), same discipline as
    stream_incremental_token_counts."""
    base = tempfile.mkdtemp(prefix="stream_inc_dedup_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed = write_micro_batch_feed(docs, base, 3, "doc_id")
    schema = "fp string, kept_doc long, n_dups long"

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.md5("text").alias("fp"), "doc_id")
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("kept_doc"),
                F.count("*").alias("n_dups"),
            )
        )

    def merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
        return (
            prev.unionByName(cur)
            .groupBy("fp")
            .agg(
                F.min("kept_doc").alias("kept_doc"),
                F.sum("n_dups").alias("n_dups"),
            )
        )

    final = run_versioned_merge_stream(
        spark, feed, "doc_id long, text string", schema, base,
        partial, merge,
    )
    return final.orderBy("kept_doc")
