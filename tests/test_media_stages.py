"""The media codec stages, checked once over every codec.

The one-poisoned-row policy: a NULL payload, empty bytes and a valid
payload of any other codec each give valid=false with EVERY feature
column NULL, while the stage's own payload decodes (the positive
control). Order: each batch synth -> decode query runs its codecs once
per row, and its output comes back in doc_id order with no sort or
exchange above the codec stages."""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import load_table
from etl_geonet_quakes_spark.llm import multimodal as mm
from etl_geonet_quakes_spark.queries import SPECS

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


# The batch synth -> decode queries. Their doc_ids are sorted below the
# codec stages, which keep row order, so no sort runs above them.
MEDIA_QUERIES = [
    "q96_media_ppm_decode",
    "q97_media_wav_decode",
    "q98_media_png_decode",
    "q381_media_jpeg_decode",
    "q382_media_jpeg_color_decode",
    "q383_media_jpeg_420_decode",
    "q384_media_jpeg_restart_decode",
    "q385_media_jpeg_progressive_decode",
    "q386_media_jpeg_prog420_decode",
    "q387_media_jpeg_prog_restart_decode",
    "q388_media_warc_gzip_decode",
    "q389_media_png_interlaced_decode",
    "q390_media_data_uri_decode",
]


@pytest.fixture(scope="module")
def n_docs(spark):
    return load_table(spark, SF_DIR, "documents").count()


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_codec_stage_runs_once_per_row(spark, n_docs, monkeypatch, name):
    calls = spark.sparkContext.accumulator(0)
    stage = mm._encode_stage

    def counted_stage(d, encode, **kw):
        def counted(*row):
            calls.add(1)
            return encode(*row)

        return stage(d, counted, **kw)

    monkeypatch.setattr(mm, "_encode_stage", counted_stage)
    SPECS[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert calls.value == n_docs


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_output_is_doc_id_ordered_across_partitions(spark, n_docs, name):
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = SPECS[name].fn(spark, SF_DIR)
        assert df.rdd.getNumPartitions() >= 2
        ids = [r["doc_id"] for r in df.collect()]
    finally:
        spark.conf.set(key, saved)
    assert len(ids) == n_docs
    assert ids == sorted(ids)


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_no_sort_or_exchange_above_codec_stages(spark, name):
    df = SPECS[name].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    lines = plan.executedPlan().toString().splitlines()  # AQE's final plan
    top = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    above = lines[:top]
    assert not [line for line in above if "Sort" in line or "Exchange" in line], lines
