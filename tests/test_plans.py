"""Physical-plan audits: not just "right answer" but "right plan" —
the properties that decide whether an operator survives a 100×
scale-up (pushdown, broadcast, partial agg, top-k instead of global
sort). Plans are inspected via explain(formatted); no execution."""

from __future__ import annotations

import pytest

from etl_geonet_quakes_spark.operators import relational as rel


import contextlib
import io


def n_exchanges(p: str) -> int:
    """Count physical Exchange NODES — formatted explain prints each
    node twice (tree line + numbered detail line)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", p, re.M))


def plan(df) -> str:
    # capture explain("formatted") — the py4j explainString overload
    # differs across Spark versions, stdout capture is stable
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_pushed_to_parquet_scan(spark, sf_dir):
    p = plan(rel.pricing_summary(spark, sf_dir))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    # partial+final hash aggregation (map-side combine before shuffle)
    assert p.count("HashAggregate") >= 2


def test_q01_column_pruning(spark, sf_dir):
    p = plan(rel.pricing_summary(spark, sf_dir))
    # ReadSchema must not include unused columns like l_comment-ish
    # ones; check a needed col is present and an unneeded one absent
    read = p.split("ReadSchema", 1)[1][:400]
    assert "l_quantity" in read
    assert "l_partkey" not in read and "l_suppkey" not in read


def test_join_broadcasts_small_dimension(spark, sf_dir):
    p = plan(rel.join_revenue_by_segment(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_dim_chain_double_broadcast(spark, sf_dir):
    p = plan(rel.join_dim_chain(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_semi_anti_join_shapes(spark, sf_dir):
    assert "LeftSemi" in plan(rel.join_semi(spark, sf_dir))
    assert "LeftAnti" in plan(rel.join_anti(spark, sf_dir))


def test_range_join_broadcast_nested_loop(spark, sf_dir):
    p = plan(rel.join_range_price_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p  # tiny band table side


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    p = plan(rel.orderby_limit_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


import re


def n_nodes(p: str, name: str) -> int:
    # formatted explain prints each node in the tree AND a detail
    # section — count unique "(id) Name" headers, not substrings
    return len(set(re.findall(rf"\((\d+)\) {name}\b", p)))


def test_sessionization_single_shuffle(spark, sf_dir):
    # both windows and the final agg share ONE hash partitioning on
    # user_id; the only other exchange is the final presentation sort
    p = plan(rel.sessionize_events(spark, sf_dir))
    assert n_nodes(p, "Exchange") <= 2, p
    assert n_nodes(p, "Window") == 2  # lag + running sum, no re-sort between


def test_asof_join_single_shuffle(spark, sf_dir):
    # union + one window: exactly one hash-partitioning on user_id,
    # never a per-user theta join
    p = plan(rel.join_asof_last_click(spark, sf_dir))
    assert n_nodes(p, "SortMergeJoin") == 0 and n_nodes(p, "BroadcastHashJoin") == 0
    assert n_nodes(p, "Exchange") <= 2


def test_tfidf_broadcasts_df_side(spark, sf_dir):
    from etl_geonet_quakes_spark.llm import text

    p = plan(text.tfidf_top_terms(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_similarity_bruteforce_broadcasts_queries(spark, sf_dir):
    from etl_geonet_quakes_spark.llm import similarity

    p = plan(similarity.topk_bruteforce(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # the big corpus side must NOT be exchanged before the join
    assert "SortMergeJoin" not in p


def test_whole_stage_codegen_on_flagship(spark, sf_dir):
    # AQE hides codegen markers until the plan is finalized — execute,
    # then inspect the final adaptive plan (simple mode, * = codegen)
    df = rel.pricing_summary(spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "isFinalPlan=true" in p and "*(" in p


def test_exists_subquery_rewritten_to_semi_anti(spark, sf_dir):
    """Catalyst must rewrite correlated EXISTS / NOT EXISTS into
    LeftSemi + LeftAnti joins — no per-row subquery execution."""
    p = plan(rel.exists_subquery(spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p


def test_range_frame_single_window_no_extra_exchange(spark, sf_dir):
    import re

    p = plan(rel.window_range_frame(spark, sf_dir))
    assert p.count("Window") >= 1
    # one partitioning shuffle for the window + the final orderBy's
    # range partitioning, nothing more (node headers: "(N) Exchange")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_minhash_lsh_join_does_not_shuffle_shingle_arrays(spark, sf_dir):
    """The LSH candidate join must move only (doc_id, band, bucket) —
    shingle arrays ride the bands-way explode ONLY if this regresses
    (shuffle bytes ×bands on both sides at scale)."""
    from etl_geonet_quakes_spark.llm import dedup

    p = plan(dedup.dedup_minhash_lsh(spark, sf_dir))
    smj = [
        seg
        for seg in p.split("(")  # formatted plan node headers
        if seg.startswith("SortMergeJoin") or seg.startswith("ShuffledHashJoin")
    ]
    # candidate join keys are band+bucket ints; 'toks' must not appear
    # in any join node's output attributes
    for seg in smj:
        assert "toks" not in seg[:400]


def test_ivf_broadcasts_probe_side(spark, sf_dir):
    from etl_geonet_quakes_spark.llm import similarity

    p = plan(similarity.topk_ivf(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_nullsafe_join_is_broadcast_hash(spark, sf_dir):
    """<=> is still an equi-join for the planner: hash-joinable on the
    null-safe key and the 25-row nation side must broadcast — a
    BroadcastNestedLoopJoin here would be a 100TB-scale regression."""
    p = plan(rel.join_nullsafe(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p


def test_variant_filter_still_prunes_columns(spark, sf_dir):
    """VARIANT extraction must not defeat column pruning: the scan
    should read only event_id + props."""
    p = plan(rel.variant_ops(spark, sf_dir))
    sched = p.split("ReadSchema", 1)[1][:200]
    assert "props" in sched and "event_type" not in sched and "value" not in sched


def test_ignore_nulls_window_single_shuffle(spark, sf_dir):
    """Both IGNORE NULLS window columns share one (user_id) window —
    one hash-partition Exchange plus the final sort, no more."""
    import re

    p = plan(rel.window_ignore_nulls(spark, sf_dir))
    # count node detail headers ("(N) Window"), not tree echoes
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2


def test_join_hints_control_physical_strategy(spark, sf_dir):
    """Join-strategy hints: the planner obeys shuffle_hash / merge
    hints even where it would otherwise broadcast — the manual
    override lever when a 'small' side is only small per-partition
    (skew) or when sort order downstream makes SMJ free."""
    from etl_geonet_quakes_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cond = o["o_custkey"] == c["c_custkey"]
    assert "ShuffledHashJoin" in plan(o.join(c.hint("shuffle_hash"), cond))
    assert "SortMergeJoin" in plan(o.join(c.hint("merge"), cond))
    assert "BroadcastHashJoin" in plan(o.join(c.hint("broadcast"), cond))


def test_stratified_sample_is_pure_filter_no_shuffle(spark, sf_dir):
    """Deterministic sampling must stay a scan+filter — any Exchange
    would mean the 'no shuffle at all' scale claim is false."""
    from etl_geonet_quakes_spark.llm import corpus

    p = plan(corpus.stratified_sample(spark, sf_dir))
    # the only allowed exchange is the final presentation orderBy
    # (formatted explain prints each node twice: tree + detail —
    # count the numbered detail lines)
    assert n_exchanges(p) <= 1
    assert "Join" not in p


def test_corpus_pipeline_single_fingerprint_shuffle(spark, sf_dir):
    """One window over md5(text) + one tiny agg: exactly the
    fingerprint hash-partitioning, the lang agg (partial+final), and
    the final sort — no joins, no extra exchanges."""
    from etl_geonet_quakes_spark.llm import corpus

    p = plan(corpus.corpus_dedup_pipeline(spark, sf_dir))
    assert "Join" not in p
    assert p.count("HashAggregate") >= 2  # map-side partial agg
    assert n_exchanges(p) <= 3  # fp window + lang agg + orderBy


def test_histogram_partial_aggregation(spark, sf_dir):
    p = plan(rel.histogram_bucket(spark, sf_dir))
    assert p.count("HashAggregate") >= 2  # partial+final on tiny key space


def test_quake_parity_is_narrow_no_shuffle(spark):
    """The parity projection inherits the pipeline's shape: explode →
    filter → project, embarrassingly parallel — only the final
    presentation sort may exchange."""
    from etl_geonet_quakes_spark.queries import _quake_parity

    p = plan(_quake_parity(spark))
    assert "Join" not in p
    assert n_exchanges(p) <= 1  # the orderBy("id") only


def test_simhash_fingerprints_partial_agg_shape(spark, sf_dir):
    """The per-bit vote must be a partial+final hash agg over the
    exploded grams (codegen'd SUMs), and the candidate join an
    equi-join — never a cartesian."""
    from etl_geonet_quakes_spark.llm import dedup

    p = plan(dedup.dedup_simhash(spark, sf_dir))
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ngram_jaccard_bucketed_equi_join(spark, sf_dir):
    """The (source, length-bucket) blocking must reach the physical
    plan as an equi-join (hash-partitioned or broadcast) — a
    BroadcastNestedLoopJoin/CartesianProduct would mean the blocking
    keys fell out of the join condition."""
    from etl_geonet_quakes_spark.llm import dedup

    p = plan(dedup.dedup_ngram_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval split must ride a broadcast — a shuffled join would
    move the full train corpus' shingles at scale."""
    from etl_geonet_quakes_spark.llm import corpus

    p = plan(corpus.decontamination_scan(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # partial+final pair counts


def test_pack_sequences_prefix_sum_is_partitioned(spark, sf_dir):
    """The corpus-sized cumsum window MUST be partitioned (by the
    prefix bucket) — an unpartitioned ordered window over the
    documents would serialize the whole corpus through one task. The
    only allowed unpartitioned window is the bucket-offsets one,
    whose input is n_docs/4096 rows; the offsets join back must ride
    a broadcast."""
    from etl_geonet_quakes_spark.llm import corpus

    p = plan(corpus.pack_sequences(spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, "no window in the packing plan?"
    partitioned = [s for s in specs if "bkt" in s.split("ASC")[0]]
    # at least one window keyed on the bucket; the doc-level cumsum
    # must never appear as an unpartitioned window over doc_id alone
    assert partitioned, specs
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_vocab_coverage_partial_agg_and_broadcast(spark, sf_dir):
    """Token counting must map-side combine before the (lang, token)
    shuffle, the per-lang window must be partitioned by lang, and the
    totals join must broadcast."""
    from etl_geonet_quakes_spark.llm import corpus

    p = plan(corpus.vocab_coverage(spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in p
    assert "windowspecdefinition(lang" in p
    assert "CartesianProduct" not in p


def test_keep_canonical_equi_join_no_cartesian(spark, sf_dir):
    """The keep-list must re-join the corpus on doc_id as an
    equi-join; clustering's iterative internals aside, no plan node
    may be a cartesian/nested-loop product."""
    from etl_geonet_quakes_spark.llm import dedup

    p = plan(dedup.dedup_keep_canonical(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_quake_pipeline_flat_is_narrow_no_shuffle(spark):
    """q02's driver-facing flattened projection must keep the
    pipeline's embarrassingly-parallel shape: explode → filter →
    project with production thresholds, no join, only the
    presentation sort may exchange."""
    from etl_geonet_quakes_spark.queries import _quake_pipeline_flat

    p = plan(_quake_pipeline_flat(spark))
    assert "Join" not in p
    assert n_exchanges(p) <= 1  # the orderBy("id") only


def test_partition_pruning_static_and_dynamic(spark, sf_dir, tmp_path):
    """100 TB posture, both pruning tiers on a disk-partitioned fact:

    1. STATIC: a dim filter ON the join key itself propagates through
       Catalyst's constraint inference into a literal
       PartitionFilters entry — no runtime subquery needed at all.
    2. DYNAMIC (DPP): when the dim filter is on a NON-derivable
       attribute (customer segment), the fact scan must carry a
       dynamicpruning subquery on the partition column so only the
       partitions matching the filtered dim keys are read at runtime.
    """
    from etl_geonet_quakes_spark.io import load_table
    from pyspark.sql import functions as F

    # --- tier 1: static propagation through the join key -----------
    fact_dir = str(tmp_path / "orders_by_status")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderstatus"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_linestatus").alias("status"))
        .distinct()
        .filter(F.col("status") == "F")
    )
    j1 = fact.join(dim, fact.o_orderstatus == dim.status).agg(
        F.count("*").alias("n")
    )
    p1 = plan(j1)
    assert "PartitionFilters" in p1
    pf = p1.split("PartitionFilters", 1)[1][:160]
    assert "o_orderstatus" in pf and "= F" in pf, pf

    # --- tier 2: dynamic pruning from a non-derivable dim filter ---
    fact2_dir = str(tmp_path / "orders_by_cust")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_custkey"
    ).parquet(fact2_dir)
    fact2 = spark.read.parquet(fact2_dir)
    dim2 = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    j2 = fact2.join(dim2, fact2.o_custkey == dim2.c_custkey).agg(
        F.count("*").alias("n")
    )
    p2 = plan(j2)
    assert "dynamicpruning" in p2.lower(), p2[:2500]
    # and the answer is right (pruning lost nothing)
    n = j2.collect()[0]["n"]
    expect = (
        load_table(spark, sf_dir, "orders")
        .join(dim2.select("c_custkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    assert n == expect


# PLANS.md rows checked against the code, so a plan change cannot leave
# the committed table stale: q01 (the ordered-output floor), q243 (whose
# row once drifted unnoticed) and the consumers of the shared dedup and
# life-table builders.
PINNED_PLAN_ROWS = [
    "q01_pricing_summary",
    "q243_duplicate_ngram_rate",
    "q45_dedup_clusters",
    "q93_dedup_keep_canonical",
    "q154_cluster_sample",
    "q257_kaplan_meier",
    "q299_nelson_aalen",
    "q350_harmonic_closeness",
    "q360_weibull_fit",
]


@pytest.fixture(scope="module")
def committed_plans():
    import re

    from tools.plan_report import PLANS_MD

    with open(PLANS_MD) as f:
        text = f.read()
    sf_dir = re.search(r"Generated by `tools/plan_report.py` at `([^`]+)`", text).group(1)
    rows = {ln.split(" | ", 1)[0][2:]: ln for ln in text.splitlines() if ln.startswith("| q")}
    return sf_dir, rows


@pytest.mark.parametrize("name", PINNED_PLAN_ROWS)
def test_plans_md_row_matches_code(spark, committed_plans, name):
    """Regenerate this query's PLANS.md line at the table's own SF and
    compare it with the committed one (`python tools/plan_report.py`
    rewrites the table)."""
    from tools.plan_report import plan_row

    sf_dir, rows = committed_plans
    assert plan_row(spark, name, sf_dir) == rows[name]
