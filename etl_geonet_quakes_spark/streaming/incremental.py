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

State follows the engine's one state rule (``io.next_version``): each
micro-batch writes the merged state as version ``epoch + 1``
(``e000001``, ...; ``_SUCCESS`` as the commit marker), merged into the
newest committed version below it, read from DISK. A replayed or
retried micro-batch overwrites its own version from the same
predecessor, so a retry cannot double-merge and a restart resumes from
the last complete version with no driver memory. Per-batch work is one
partial+final hash agg over the batch plus a merge join keyed by the
state key — the shuffle carries the vocabulary, never the token
stream; at cluster scale the state table would be bucketed by key so
the merge is co-located.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import (
    committed_versions,
    load_table,
    next_version,
    prune_versions,
    read_versions,
    scratch_dir,
    write_version,
)
from etl_geonet_quakes_spark.llm.text import tokens
from etl_geonet_quakes_spark.streaming.feed import (
    run_foreach_batch,
    write_micro_batch_feed,
)

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
    """Run the versioned-merge loop over a file-stream ``feed`` and
    return the final committed state.

    Each epoch merges its partial into the predecessor
    ``io.next_version`` names (an empty frame of ``state_schema`` for
    the first) and writes the epoch's version; a replay rewrites that
    version from the same predecessor. Only the new version and its
    predecessor are kept, which is all the next epoch or a replay of
    this one reads."""
    state_dir = os.path.join(base, "state")

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        v, below = next_version(state_dir, _EPOCH, epoch_id)
        prev = read_versions(
            batch_df.sparkSession, state_dir, _EPOCH, state_schema, below[-1:]
        )
        write_version(merge_fn(prev, partial_fn(batch_df)), state_dir, _EPOCH, v)
        prune_versions(state_dir, _EPOCH, below, keep=1)

    stream = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    run_foreach_batch(stream, per_batch, os.path.join(base, "_checkpoint"))
    committed = committed_versions(state_dir, _EPOCH)
    if not committed:
        raise RuntimeError(f"stream over {feed} processed no batches")
    return read_versions(spark, state_dir, _EPOCH, state_schema, committed[-1:])


def stream_incremental_token_counts(
    spark: SparkSession, sf_dir: str, top_k: int = 50
) -> DataFrame:
    """Registry adapter: replay ``documents`` as a 3-file micro-batch
    stream, maintain the merged token-count state per batch, and
    return the final state's top-``top_k`` tokens (count desc, token
    asc — deterministic). Oracle = the plain batch word count: equal
    BY THEOREM (count merge is associative), so the hash gate checks
    the incremental machinery, not luck."""
    base = scratch_dir("stream_inc_counts_")
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
    against the touched digests; state under the one state rule
    (idempotent replay, disk-based recovery), as in
    stream_incremental_token_counts."""
    base = scratch_dir("stream_inc_dedup_")
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
