"""Registry-order guard: the external correctness harness hash-checks
the FIRST 50 registered queries only, and the composition of that
window is FINAL (any change to it invalidates cross-round comparison).
Registration is append-only: the 387 names registered so far keep
their positions, and new queries register after them. These tests
make that contract executable so a refactor of the registry cannot
silently rename or reorder an entry.
"""

from __future__ import annotations

import hashlib

from etl_geonet_quakes_spark.queries import SPECS

DRIVER_WINDOW = [
    "q01_pricing_summary", "q02_quake_pipeline", "q03_quake_parity",
    "q04_stream_tumbling", "q05_stream_sliding", "q06_stream_dedup",
    "q07_stream_dedup_watermark", "q08_stream_sessions",
    "q09_stream_stateful_counts", "q10_stream_stream_join",
    "q11_udaf_weighted_avg", "q12_udtf_bigrams", "q13_recursive_cte",
    "q14_try_functions", "q15_variant_json", "q16_window_ignore_nulls",
    "q17_explode_outer", "q18_join_nullsafe", "q19_salted_join",
    "q20_embedding_norms", "q21_similarity_ivf", "q22_token_stats",
    "q23_quality_score", "q24_language_id", "q25_fingerprint",
    "q26_token_frequency_topk", "q27_tfidf_top_terms", "q28_regex_tokens",
    "q29_fingerprint_winnow", "q30_doc_stats_by_source",
    "q31_media_byte_stats", "q32_media_features", "q33_media_frame_sample",
    "q34_media_resize", "q35_percentile_approx", "q36_array_agg_ordered",
    "q37_scalar_subquery", "q38_dedup_minhash_lsh", "q39_dedup_simhash",
    "q40_dedup_ngram_jaccard", "q41_dedup_exact",
    "q42_dedup_embedding_cosine", "q43_similarity_bruteforce",
    "q44_similarity_lsh", "q45_dedup_clusters", "q46_stratified_sample",
    "q47_corpus_dedup_pipeline", "q48_histogram_bucket", "q49_join_asof",
    "q50_sessionization",
]

# sha256 of "\n".join() over the first 387 registered names, in order.
REGISTERED_387_SHA256 = (
    "69475d82891c06b0e5f200ca83e871c986ca4e859d689d829295dd3796e4b522"
)


def test_first_fifty_registry_names_are_final():
    assert list(SPECS)[:50] == DRIVER_WINDOW


def test_registry_names_unique_and_callable():
    assert len(set(SPECS)) == len(SPECS)
    for name, spec in SPECS.items():
        assert callable(spec.fn), name
        assert spec.survey_ref, name


def test_registered_names_keep_their_positions():
    names = list(SPECS)
    assert len(names) >= 387
    digest = hashlib.sha256("\n".join(names[:387]).encode()).hexdigest()
    assert digest == REGISTERED_387_SHA256
