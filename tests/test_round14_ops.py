"""Round-14 operators: streaming upsert/expiry over the WARC corpus
(q392) — the reference's O26 stateful contract composed with media
ingestion."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import load_table
from etl_geonet_quakes_spark.llm.multimodal import (
    _warc_gzip_payloads,
    decode_warc_gzip_features,
    media_warc_stream_upsert_expiry,
)
from etl_geonet_quakes_spark.quakes.sink import SnapshotDiffSink

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_warc_stream_upsert_expiry_end_to_end(spark):
    n_docs = load_table(spark, SF_DIR, "documents").count()
    rows = media_warc_stream_upsert_expiry(spark, SF_DIR).collect()
    expected_expired = [d for d in range(0, 10 * n_docs) if d % 10 == 0][
        : (n_docs + 9) // 10
    ]
    got_ids = [r["doc_id"] for r in rows]
    # doc_ids are 0..n-1 in the fixture; every multiple of 10 expires
    assert got_ids == [d for d in range(n_docs) if d % 10 == 0]
    assert expected_expired[: len(got_ids)] == got_ids
    n_live = n_docs - len(got_ids)
    assert all(r["n_live"] == n_live for r in rows)


def test_warc_snapshot_resurrection_expires_nothing(spark):
    # Third publish re-crawling the FULL corpus: the previously
    # expired ids come back (upsert), and nothing expires — the
    # omission diff is against the LAST snapshot only, exactly the
    # reference's platform semantics (task.ts:195-203).
    def decoded(keep=None):
        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        if keep is not None:
            d = d.filter(keep)
        return (
            decode_warc_gzip_features(_warc_gzip_payloads(d))
            .filter(F.col("valid"))
            .select(F.col("doc_id").alias("id"))
        )

    sink = SnapshotDiffSink(tempfile.mkdtemp(prefix="warc_resurrect_"))
    n_docs = load_table(spark, SF_DIR, "documents").count()
    n1, e1 = sink.publish(decoded())
    assert n1 == n_docs and e1.count() == 0
    n2, e2 = sink.publish(decoded(F.col("doc_id") % 10 != 0))
    assert n2 == n_docs - (n_docs + 9) // 10
    assert sorted(r["id"] for r in e2.collect()) == [
        d for d in range(n_docs) if d % 10 == 0
    ]
    n3, e3 = sink.publish(decoded())
    assert n3 == n_docs and e3.count() == 0  # resurrection, no expiry


# ---- r14 optimization session 5: q216 signature fold + media synth
# parallelism ----


def test_minhash_signature_agg_equals_transform_fold(spark):
    """The r14-s5 q216 rewrite: 32 min() aggregates over exploded
    shingles must equal the interpreted array_min(transform(...))
    fold family-for-family — including a SHORT document whose
    shingle array is empty (explode_outer keeps the row; every
    family min is NULL, exactly what array_min over [] yields)."""
    from etl_geonet_quakes_spark.llm.dedup import shingles_str

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, None),  # NULL text -> [NULL] shingle -> [null×k] sig
            (3, "alpha beta gamma alpha beta gamma eta"),
            (4, "one two"),  # short doc -> single short shingle
        ],
        "doc_id long, text string",
    )
    n_hashes = 8

    def md5_long(seed, col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15),
            16,
            10,
        ).cast("long")

    sh_tbl = docs.select("doc_id", shingles_str(F.col("text"), 3).alias("sh"))

    def family(seed):
        # one-arg lambda in its own scope (a two-arg lambda would be
        # read by transform() as (element, array_index) and shadow
        # the seed — the trap the production code's comment pins)
        return F.array_min(
            F.transform(F.col("sh"), lambda x: md5_long(seed, x))
        )

    old = sh_tbl.select(
        "doc_id",
        F.array(*[family(s) for s in range(n_hashes)]).alias("sig"),
    )
    new = (
        sh_tbl.select("doc_id", "sh", F.explode_outer("sh").alias("t"))
        .groupBy("doc_id")
        .agg(
            *[F.min(md5_long(s, F.col("t"))).alias(f"m{s}")
              for s in range(n_hashes)]
        )
        .select(
            "doc_id",
            F.array(*[F.col(f"m{s}") for s in range(n_hashes)]).alias("sig"),
        )
    )
    a = {r["doc_id"]: r["sig"] for r in old.collect()}
    b = {r["doc_id"]: r["sig"] for r in new.collect()}
    assert a == b
    assert a[2] == [None] * n_hashes  # null-shingle doc keeps its row

