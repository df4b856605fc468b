"""Incremental (streaming) MinHash-LSH dedup.

The reference's schedule-tick contract re-fetches the world every 30 s
and upserts by key (task.ts:142-143, 195-203); ``SnapshotDiffSink``
re-expresses that as snapshot diffs. This module is the same
incremental contract applied to CORPUS dedup: documents arrive in
micro-batches, and each batch must be deduplicated against everything
already seen WITHOUT re-running the full-corpus pair join.

State is a parquet band-bucket index (doc_id, band, bucket) plus the
doc texts needed by the verify tier, kept as per-epoch deltas under
the engine's one state rule (``io.next_version``): epoch *e* writes
``buckets_NNNNNN``, then ``docs_NNNNNN``, then ``pairs_NNNNNN`` as
version *e + 1*, and the pairs write, last, is the epoch's commit
point. An epoch's state is the deltas of the committed pairs versions
below its own, so a replay, or a rerun after a crash between the
writes, rewrites its own deltas instead of adding a second copy. Per
batch the work is:

1. signature/banding for the BATCH only (``band_buckets`` — the exact
   stage batch q38 runs, so batch ≡ incremental bit-for-bit), written
   as the batch's bucket delta;
2. candidates = batch buckets ⋈ (index ∪ batch buckets) on
   (band, bucket) — new-vs-old and new-vs-new in one equi-join,
   canonicalized to doc_a < doc_b;
3. exact string-shingle Jaccard verify on candidates only (same
   verify tier as batch).

Every pair of the full corpus is emitted exactly once — at the batch
where its LATER member arrives — so the union of per-batch outputs
equals the one-shot batch pair set (pinned by
tests/test_quake_stream.py-style equivalence in test_llm_ops.py).

Scale shape: per-batch work is |batch| signatures plus an equi-join
whose left side is batch-sized, but its right side reads EVERY
committed bucket delta and the verify tier every committed doc delta:
the probe does not prune to the (band, bucket) keys the batch
populates, so per-batch reads grow with history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import (
    load_table,
    next_version,
    read_versions,
    scratch_dir,
    write_version,
)
from etl_geonet_quakes_spark.llm.dedup import band_buckets, shingles_str
from etl_geonet_quakes_spark.streaming.feed import (
    run_foreach_batch,
    write_micro_batch_feed,
)

_BUCKET_SCHEMA = "doc_id long, band int, bucket long"
_DOC_SCHEMA = "doc_id long, text string"
_PAIRS_SCHEMA = "doc_a long, doc_b long, jaccard double"
_BUCKETS, _DOCS, _PAIRS = "buckets_", "docs_", "pairs_"


class StreamingMinHashIndex:
    """Incremental LSH dedup state over micro-batches of documents.

    ``process_batch(batch_df, epoch=None)`` ingests one micro-batch of
    (doc_id, text) rows (doc_ids unique across the stream — the
    upsert-key contract) and returns the VERIFIED near-dup pairs that
    involve at least one batch document, read back from the pairs
    version it commits. ``foreach_batch`` adapts it to
    ``writeStream.foreachBatch``.
    """

    def __init__(
        self,
        state_dir: str,
        n_hashes: int = 24,
        bands: int = 12,
        threshold: float = 0.7,
    ) -> None:
        self.state_dir = state_dir
        self.n_hashes = n_hashes
        self.bands = bands
        self.threshold = threshold

    def process_batch(self, batch_df: DataFrame, epoch: int | None = None) -> DataFrame:
        spark = batch_df.sparkSession
        sd = self.state_dir
        v, below = next_version(sd, _PAIRS, epoch)
        new_docs = batch_df.select("doc_id", "text")
        # the batch's deltas go first and the pairs plan reads them
        # back, so the banding runs once per batch (SCALE.md, "q151
        # incremental-MinHash replay")
        write_version(band_buckets(new_docs, self.n_hashes, self.bands), sd, _BUCKETS, v)
        write_version(new_docs, sd, _DOCS, v)

        # one equi-join covers new-vs-old AND new-vs-new: the right
        # side is the union index. a.doc_id != b.doc_id plus
        # least/greatest canonicalization counts each unordered pair
        # once after dropDuplicates (a new-new pair matches from both
        # sides; a new-old pair from one).
        a = read_versions(spark, sd, _BUCKETS, _BUCKET_SCHEMA, [v]).alias("a")
        b = read_versions(spark, sd, _BUCKETS, _BUCKET_SCHEMA, below + [v]).alias("b")
        cand_ids = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        # verify tier — identical to batch q38: string shingles of the
        # candidate docs only, exact Jaccard, threshold filter. The
        # candidate side is batch-bounded, so broadcast it.
        all_docs = read_versions(spark, sd, _DOCS, _DOC_SCHEMA, below + [v])
        cand_doc_ids = F.broadcast(
            cand_ids.select(
                F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
            ).distinct()
        )
        toks_small = F.broadcast(
            all_docs.join(cand_doc_ids, "doc_id").select(
                "doc_id", shingles_str(F.col("text")).alias("toks")
            )
        )
        cand = cand_ids.join(
            toks_small.select(
                F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
            ),
            "doc_a",
        ).join(
            toks_small.select(
                F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
            ),
            "doc_b",
        )
        jac = (
            F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
            / F.size(F.array_union("toks_a", "toks_b"))
        )
        pairs = cand.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
            F.col("jaccard") >= self.threshold
        )
        write_version(pairs, sd, _PAIRS, v)  # the epoch's commit point
        return read_versions(spark, sd, _PAIRS, _PAIRS_SCHEMA, [v])

    def foreach_batch(self, handler=None):
        """Adapter: ``writeStream.foreachBatch(idx.foreach_batch(fn))``
        with ``fn(pairs_rows, epoch_id)`` receiving the batch's
        verified pairs as collected rows (pair volume is bounded by
        the batch's true near-dups — tiny by construction). A replayed
        epoch hands the handler the same pairs again."""

        def run(batch_df: DataFrame, epoch_id: int) -> None:
            out = self.process_batch(batch_df, epoch_id)
            if handler is not None:
                handler(out.collect(), epoch_id)

        return run

    def pairs(self, spark: SparkSession) -> DataFrame:
        """The union of every committed epoch's pairs."""
        return read_versions(spark, self.state_dir, _PAIRS, _PAIRS_SCHEMA)


def run_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    n_hashes: int = 24,
    bands: int = 12,
    threshold: float = 0.7,
    pair_handler=None,
) -> list[int]:
    """Drive the incremental index from a parquet file stream — one
    document file per micro-batch (``maxFilesPerTrigger=1``, arrival
    order), the run_quake_stream shape with the dedup index as the
    stateful sink. Returns processed epoch ids;
    ``pair_handler(pairs_rows, epoch)`` receives each batch's verified
    near-dup pairs. At production scale the file source swaps for
    Kafka without touching the index — foreachBatch isolates it."""
    stream = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    idx = StreamingMinHashIndex(state_dir, n_hashes, bands, threshold)
    return run_foreach_batch(
        stream, idx.foreach_batch(pair_handler), os.path.join(state_dir, "_checkpoint")
    )


def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry adapter: replay the documents table as three
    arrival-ordered micro-batch files through the incremental index
    (availableNow + maxFilesPerTrigger=1) and return the UNION of the
    committed per-batch verified pair emissions.

    The streaming invariant — every pair emitted exactly once, at the
    batch where its later member arrives — makes that union equal the
    one-shot batch pair set, so this STREAMING operator carries q38's
    EXACT SQL oracle (full exact-Jaccard pair set): the cross-engine
    hash gate certifies the incremental path end-to-end, not just a
    rows-only count. Scratch feed/state dirs are per-invocation
    temporaries under ``io.scratch_dir``; unordered-set semantics make
    the result independent of file arrival order.

    Nothing touches the driver: the 3-file feed is a DISTRIBUTED
    Spark write (``streaming.feed.write_micro_batch_feed`` —
    hash-repartitioned by batch id, metadata-only renames into the
    flat feed dir), and the result is the Spark-side union of the
    committed pair versions the index already durably writes
    — no ``collect()`` anywhere in the path, so the same adapter
    works when ``documents`` is corpus-sized."""
    base = scratch_dir("stream_dedup_q151_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed = write_micro_batch_feed(docs, base, 3, "doc_id")
    state = os.path.join(base, "state")
    run_dedup_stream(spark, feed, state)
    return StreamingMinHashIndex(state).pairs(spark).orderBy("doc_a", "doc_b")
