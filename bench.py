"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": <total_sec>, "unit": "sec",
 "queries": {name: sec, ...}, "sf": <float>}

Each query is timed over a full materialization (count of the result)
after a warm-up of the input scans, so JVM/JIT startup is not billed
to the first query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402
from etl_geonet_quakes_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Query names predating round 2 map to these through COVERAGE.md's old→new table.
HEADLINE = [
    "q01_pricing_summary",
    "q58_join_revenue_by_segment",
    "q59_join_dim_chain",
    "q66_window_topk",
    "q50_sessionization",
    "q81_time_window_tumbling",
    "q41_dedup_exact",
    "q40_dedup_ngram_jaccard",
    "q38_dedup_minhash_lsh",
    "q43_similarity_bruteforce",
    "q22_token_stats",
    "q26_token_frequency_topk",
    "q49_join_asof",
    "q86_window_range_frame",
    "q27_tfidf_top_terms",
    "q21_similarity_ivf",
    "q39_dedup_simhash",
    "q45_dedup_clusters",
    "q47_corpus_dedup_pipeline",
    # New to the bench in round 3: the corpus-prep family, so
    # regressions in the newest operators are visible round-over-round.
    "q89_decontamination",
    "q90_chunking",
    "q91_repetition_score",
    "q92_redact_pii",
    "q93_dedup_keep_canonical",
    "q94_pack_sequences",
    "q95_vocab_coverage",
    "q96_media_ppm_decode",
    "q97_media_wav_decode",
    # New in round 4: the full-wire-format PNG codec, the bloom
    # semi-join reduction, weighted sampling and BM25 retrieval.
    "q98_media_png_decode",
    "q99_bloom_semi_join",
    "q100_weighted_sample",
    "q101_bm25_topk",
    "q102_kmeans_step",
    "q103_funnel_conversion",
    "q104_retention_cohorts",
    "q105_rolling_time_window",
    "q106_event_transitions",
    "q107_embedding_quantize",
    "q108_resample_gapfill",
    "q109_table_fingerprint",
    "q110_sql_scripting",
    "q111_collated_group",
    "q112_scd2_intervals",
    "q113_robust_outliers",
    "q114_inverted_index",
    "q115_graph_triangles",
    "q116_profile_columns",
    "q117_token_cooccurrence",
    # New in round 5: iterative k-means centroid training (5 Lloyd
    # rounds, driver-state loop).
    "q118_kmeans_train",
    "q127_merge_upsert",
    "q128_session_paths",
    "q129_group_ols",
    "q130_spearman_corr",
    "q133_token_entropy",
    "q135_equidepth_histogram",
    "q144_tpch_q5",
    "q122_graph_pagerank",
    "q146_graph_bfs",
    "q145_interp_gapfill",
    "q147_perplexity_score",
    "q149_rolling_median",
    "q150_feature_scale",
    "q152_power_iteration",
    # round 6: tokenizer induction, graph completion, containment,
    # drift scoring, FIFO matching
    "q172_bpe_pair_counts",
    "q174_link_prediction",
    "q180_dedup_containment",
    "q183_psi_drift",
    "q184_fifo_allocation",
    # round 7 heavies (verdict item: the expensive new operators need
    # round-over-round wall-time visibility): inverted-index cosine
    # (17 Exchanges), O(E^1.5) triangle wedges, R-S prefix join,
    # cross-engine MinHash audit, label propagation.
    "q211_sparse_cosine_topk",
    "q212_local_clustering",
    "q215_cross_corpus_dedup",
    "q216_minhash_accuracy",
    "q222_label_propagation",
    # round 8 heavies: shingle-vocabulary dup rate, iterative k-core
    # peel, TPC-H top-k-after-join + 7-relation snowflake + integer-
    # micros profit, rank-histogram Kruskal-Wallis, product-limit
    # Kaplan-Meier, count-min build
    "q243_duplicate_ngram_rate",
    "q244_kcore_decomposition",
    "q245_shipping_priority",
    "q250_national_market_share",
    "q251_product_type_profit",
    "q256_kruskal_wallis",
    "q257_kaplan_meier",
    "q259_countmin_audit",
    "q264_bpe_merge_rounds",
    "q268_kneser_ney",
    "q269_phrase_search",
    "q272_bipartite_hits",
    "q275_bootstrap_ci",
    "q276_naive_bayes",
    "q278_apriori_triples",
    "q281_auc_score",
    "q285_link_prediction_auc",
    "q289_theil_sen",
    "q290_brand_modularity",
    "q300_ngram_diversity",
    "q303_burrows_delta",
    "q304_logistic_irls",
    "q305_cox_ph",
    "q306_ipf_raking",
    "q311_ndcg_at_k",
    "q314_mahalanobis_outliers",
    "q322_jensen_shannon",
    "q323_wasserstein_1d",
    # round-9 additions — wall-time visibility for the new families
    # round 10: the rewritten fuzzy-pair join (the round-9 `weak`) —
    # headline visibility so the dedup-then-expand plan's wall-time
    # is committed every round from now on
    "q88_string_distance",
    "q343_logrank_test",
    "q346_mase_backtest",
    "q348_poisson_irls",
    "q350_harmonic_closeness",
    "q351_silhouette_simplified",
    "q353_fuzzy_join_deletion",
    "q357_markov_power",
    "q358_stump_boosting",
    # round 12: the real baseline-JPEG codec path (synthesize+decode
    # through mapInPandas) — wall-time visibility for the newest
    # media family member from the round it lands
    "q381_media_jpeg_decode",
    "q382_media_jpeg_color_decode",
    # round 13: 4:2:0 subsampling + restart markers — the general-
    # sampling MCU loop decodes more data units per image (4Y+Cb+Cr
    # over 32x32), so its wall-time gets headline visibility too
    "q383_media_jpeg_420_decode",
    "q384_media_jpeg_restart_decode",
    "q385_media_jpeg_progressive_decode",
    "q386_media_jpeg_prog420_decode",
    "q387_media_jpeg_prog_restart_decode",
    "q388_media_warc_gzip_decode",
    "q389_media_png_interlaced_decode",
    "q390_media_data_uri_decode",
    # round 14: the O26 snapshot-diff upsert sink driven over the WARC
    # decode stream (two full streamed crawls + anti-join expiry) —
    # the heaviest streaming composition in the registry
    "q392_stream_warc_upsert_expiry",
]

# Each query is timed N_RUNS times and the MEDIAN is reported: a
# single-shot number bills one-off plan+codegen compilation to
# whichever query runs first with a given operator mix (round 2
# "regressions" of ~0.3 s on the dedup queries were partly this).
# The median of 3 warm-adjacent runs is stable to ~±5% run-over-run.
N_RUNS = 3


def _warm(spark, sf_dir: str) -> None:
    """Session warm-up shared by bench.py and tools/bench_full.py:
    JVM classloading, parquet footer caches, the Python/Arrow daemon,
    and collation codegen — so none of it is billed to the first
    timed query."""
    # warm the session (JVM classloading, parquet footer/file-listing
    # caches, codegen compilation) by scanning every input table once —
    # none of these scans is a timed query; results are not cached
    from etl_geonet_quakes_spark.io import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    # also warm the Python-worker/Arrow path: daemon startup costs
    # ~2 s and would otherwise be billed to whichever pandas-UDF
    # query runs first (q21's recorded first runs were ~3× its warm
    # median for exactly this reason — same category as the JVM
    # warm-up above, infra, not query work)
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("double")
    def _ident(v):
        return v

    # aggregate OVER the UDF output so Catalyst cannot prune it: a bare
    # select+count let the optimizer drop the unused deterministic UDF
    # column, planning no ArrowEvalPython node and starting no Python
    # daemon — the warm-up was a silent no-op and the first pandas-UDF
    # query still paid the ~2 s cold start (round-4 advisor finding)
    warm_plan = spark.range(1024).agg(_F.sum(_ident(_F.col("id").cast("double"))))
    assert "ArrowEvalPython" in warm_plan._jdf.queryExecution().executedPlan().toString(), (
        "pandas-UDF warm-up was optimized away — Python daemon not warmed"
    )
    warm_plan.collect()

    # warm collation codegen too: q111's first run measured ~6× its
    # warm median (1.34 s vs 0.20) because the first collated
    # group-by compiles the UTF8_LCASE comparator path
    spark.sql(
        "SELECT lower(CAST(c COLLATE UTF8_LCASE AS STRING)), COUNT(*) "
        "FROM VALUES ('A'),('a') AS t(c) GROUP BY c COLLATE UTF8_LCASE"
    ).collect()


def parse_sf(sf_dir: str) -> float:
    """Best-effort scale factor from a .../sfN.NN path; -1.0 when the
    path carries none. Never raises — a completed bench must not lose
    its artifact to an exotic $SPARK_GRAFT_SF_DIR spelling."""
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except (ValueError, IndexError):
        return -1.0


def main() -> None:
    sf = parse_sf(SF_DIR)
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = None
    spark = get_spark("etl-geonet-quakes-spark-bench")
    _warm(spark, SF_DIR)

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    high_variance: list[str] = []
    for name in HEADLINE:
        fn = SPECS[name].fn
        runs: list[float] = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            n = fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 3)
        all_runs[name] = [round(r, 3) for r in runs]
        # flag unstable measurements loudly: a max/min run ratio over
        # ~2x means environment noise is large enough to masquerade as
        # (or mask) a real regression — such a median is not evidence
        if max(runs) / max(min(runs), 1e-9) > 2.0:
            high_variance.append(name)
            print(f"# VARIANCE WARNING {name}: runs {all_runs[name]}", file=sys.stderr)
        print(
            f"# {name}: median {timings[name]:.3f}s of "
            f"{all_runs[name]} ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-run arrays: every perf claim must be reconcilable
        # against a recorded artifact, not a remembered number
        "runs": all_runs,
        "high_variance": high_variance,
        "sf": sf,
        # environment stamp (round-6 item): cross-round drift
        # (r4→r5 measured a uniform ~1.3× on identical code)
        # must be attributable from the artifact alone
        "env": {**_env_stamp(spark), "loadavg_start_1_5_15": load_start},
    }
    print(json.dumps(full))
    # the full artifact above is one very long line; a tail-capture of
    # stdout (how the driver records BENCH_rNN.json) can truncate it to
    # an unparseable fragment, which is exactly what happened rounds
    # 1-9 ("parsed: null" every round). The FINAL stdout line is
    # therefore a compact, always-complete summary: total, counts, sf,
    # and the top-20 queries by wall-time. Same metric/value/unit
    # contract as the full line.
    top20 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    print(
        json.dumps(
            {
                # distinct metric name from the full artifact's
                # headline_queries_total_wall: a consumer parsing the
                # last line can never mistake the top-20 truncation
                # for the full per-query map (round-11 advisor fix)
                "metric": "headline_queries_summary",
                "value": total,
                "unit": "sec",
                "queries": top20,
                "queries_truncated_to_top": 20,
                "n_queries": len(timings),
                "high_variance": high_variance,
                "sf": sf,
                "loadavg_1m": full["env"].get("loadavg_1_5_15", [None])[0]
                if full["env"].get("loadavg_1_5_15")
                else None,
            }
        )
    )


def _env_stamp(spark) -> dict:
    """Machine state that explains cross-round wall-time drift:
    JVM + Python versions, CPU count, 1/5/15-min loadavg at bench
    end (competing load is the usual drift culprit), total/available
    memory, and a coarse page-cache size (a cold cache inflates the
    first scans)."""
    stamp: dict = {
        "python": sys.version.split()[0],
        "cpu_count": os.cpu_count(),
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
    }
    try:
        stamp["java_version"] = (
            spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        )
    except Exception:
        stamp["java_version"] = None
    try:
        stamp["loadavg_1_5_15"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        stamp["loadavg_1_5_15"] = None
    try:
        mem = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemAvailable", "Cached"):
                    mem[k] = int(v.strip().split()[0])  # kB
        stamp["mem_total_kb"] = mem.get("MemTotal")
        stamp["mem_available_kb"] = mem.get("MemAvailable")
        stamp["page_cache_kb"] = mem.get("Cached")
    except OSError:
        pass
    return stamp


if __name__ == "__main__":
    main()
