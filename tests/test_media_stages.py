"""The one-poisoned-row policy, checked once over every media decode
stage: a NULL payload, empty bytes and a valid payload of any other
codec each give valid=false with EVERY feature column NULL, while the
stage's own payload decodes (the positive control)."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.llm import multimodal as mm

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# codec -> (synthesis, decode stage)
CODECS = {
    "ppm": (mm.synthesize_ppm_media, mm.decode_ppm_features),
    "wav": (mm.synthesize_wav_media, mm.decode_wav_features),
    "png": (mm.synthesize_png_media, mm.decode_png_features),
    "png_adam7": (mm.synthesize_png_interlaced_media, mm.decode_png_interlaced_features),
    "jpeg_gray": (mm.synthesize_jpeg_media, mm.decode_jpeg_features),
    "jpeg_444": (mm.synthesize_jpeg_color_media, mm.decode_jpeg_color_features),
    "jpeg_420": (mm.synthesize_jpeg_420_media, mm.decode_jpeg_420_features),
    "warc_gzip": (mm.synthesize_warc_gzip_media, mm.decode_warc_gzip_features),
}


@pytest.fixture(scope="module")
def payloads(spark):
    """One real payload per codec, all synthesized in one job."""
    frames = [
        synth(spark, SF_DIR)
        .filter(F.col("doc_id") == 3)
        .select(F.lit(codec).alias("codec"), "payload")
        for codec, (synth, _decode) in CODECS.items()
    ]
    rows = reduce(lambda a, b: a.unionByName(b), frames).collect()
    return {r["codec"]: bytes(r["payload"]) for r in rows}


@pytest.mark.parametrize("codec", sorted(CODECS))
def test_decode_stage_poisoned_rows_are_invalid_with_null_features(spark, payloads, codec):
    assert sorted(payloads) == sorted(CODECS)
    foreign = [p for c, p in sorted(payloads.items()) if c != codec]
    rows = [(0, payloads[codec]), (1, None), (2, b"")]
    rows += [(3 + i, p) for i, p in enumerate(foreign)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = CODECS[codec][1](df)
    features = out.columns[2:]
    assert out.columns[:2] == ["doc_id", "valid"] and features
    got = {r["doc_id"]: r for r in out.collect()}
    assert sorted(got) == list(range(len(rows)))
    assert got[0]["valid"] is True
    assert all(got[0][c] is not None for c in features)
    for doc_id in range(1, len(rows)):
        assert got[doc_id]["valid"] is False, doc_id
        assert [got[doc_id][c] for c in features] == [None] * len(features), doc_id
