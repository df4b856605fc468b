"""Generate PLANS.md: a physical-plan audit of every registry query.

For each entry in the registry this builds the DataFrame at
$SPARK_GRAFT_SF_DIR (default sf0.001 — plans, not timings), captures
``explain("formatted")`` and summarizes the scale-relevant properties:

- number of Exchange (shuffle) nodes,
- join strategies used (broadcast / sort-merge / shuffled-hash /
  nested-loop / cartesian),
- whether the parquet scan carries pushed filters,
- red flags: CartesianProduct; BroadcastNestedLoopJoin is reported
  and annotated where it is the INTENDED strategy (a tiny broadcast
  side with a non-equi condition).

Run:  python tools/plan_report.py          # writes PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402
from etl_geonet_quakes_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
PLANS_MD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)

# Queries whose construction executes jobs by design (iterative
# convergence loops, build-time checkpoints, stream drains) — their
# plans are still captured, the note just explains the extra cost.
EAGER = {
    "q45_dedup_clusters": "CC loop runs at build time (one checkpoint per round)",
    "q93_dedup_keep_canonical": "runs its own CC loop at build time",
    "q38_dedup_minhash_lsh": "",
    "q350_harmonic_closeness": (
        "pair graph checkpointed at build; per-pivot BFS loop is lazy "
        "(plan is the final round)"
    ),
    "q357_markov_power": (
        "bounded (from,to,first) count table checkpointed at build; "
        "n_users is its re-aggregation"
    ),
    "q257_kaplan_meier": "life table checkpointed at build",
    "q299_nelson_aalen": "life table checkpointed at build",
    "q360_weibull_fit": "life table checkpointed at build",
    "q115_graph_triangles": (
        "oriented edge list checkpointed at build. BNLJ intended: "
        "single-row aggregates crossed. DEGREE-ORIENTED wedge join "
        "(semi-join closes): wedge rows Σ out-deg² ≤ O(E^1.5), immune to "
        "giant-clique/hub skew — pinned in test_edge_corpora.py"
    ),
    "q118_kmeans_train": "Lloyd rounds 1..n-1 run at build time (driver-state loop); plan is the final round",
    "q154_cluster_sample": "runs its own CC loop at build time (the q93 path)",
    "q152_power_iteration": "matvec rounds 1..n-1 run at build time (driver-state loop, 64 doubles); plan is the final round",
    "q151_stream_dedup_minhash": (
        "availableNow micro-batch replay runs at build time "
        "(foreachBatch incremental index); the returned frame is the "
        "materialized union of per-batch emissions"
    ),
    # Multi-reference intermediates are localCheckpointed at build so
    # consumers do not re-run corpus-scale subtrees (OPTIMIZATION_r14.md);
    # the plan captured is the post-materialization consumer query.
    "q125_dedup_prefix": "candidate pairs checkpointed at build (verify tier re-shingles candidates only)",
    "q180_dedup_containment": "candidate pairs checkpointed at build (verify tier re-shingles candidates only)",
    "q215_cross_corpus_dedup": "candidate pairs checkpointed at build (verify tier re-shingles candidates only)",
    "q216_minhash_accuracy": "candidate pairs checkpointed at build; signatures computed for candidate docs only",
    "q264_bpe_merge_rounds": "per-round rewritten corpus + argmax checkpointed at build (r rounds = r scans)",
    "q272_bipartite_hits": "distinct (cust, part) edge list checkpointed at build (4 iteration joins)",
    "q278_apriori_triples": "basket array table checkpointed at build (3 consumers)",
    "q285_link_prediction_auc": "co-purchase edge list checkpointed at build (5 consumers)",
    "q289_theil_sen": "daily-count spine checkpointed at build (5 references)",
    "q290_brand_modularity": "co-purchase edge list checkpointed at build (3 aggregates)",
}

# BroadcastNestedLoopJoin is the right plan for these: the broadcast
# side is tiny by construction and the condition is non-equi (or a
# single-row cross), so a hash join cannot apply.
BNLJ_INTENDED = {
    "q37_scalar_subquery": "BNLJ intended: single-row broadcast agg cross",
    "q43_similarity_bruteforce": "BNLJ intended: broadcast query set, corpus streams",
    "q63_join_range_bands": "BNLJ intended: broadcast band table, range condition",
    "q99_bloom_semi_join": "BNLJ intended: single-row broadcast bloom bit-set cross",
    "q101_bm25_topk": "BNLJ intended: single-row broadcast corpus-stats cross",
    "q103_funnel_conversion": "BNLJ intended: single-row broadcast funnel-head cross",
    "q120_heavy_hitters": (
        "BNLJ intended: single-row broadcast total cross (×2). Shuffles "
        "carry only sketch counters / distinct keys / the tiny candidate "
        "set — never the occurrence stream"
    ),
    "q124_mixture_sample": (
        "BNLJ intended: single-row broadcast n_min cross; rate table "
        "broadcast-joined on source — the corpus never shuffles"
    ),
    "q131_benford_digits": "BNLJ intended: single-row broadcast total cross",
    "q135_equidepth_histogram": (
        "BNLJ intended: single-row broadcast n_total cross; the global "
        "rank is the two-phase range-bucketed prefix sum (offsets "
        "broadcast), never a fact-table global window"
    ),
    "q136_partition_skew_audit": "BNLJ intended: single-row broadcast total cross",
    "q137_chisq_independence": "BNLJ intended: single-row broadcast grand-total cross",
    "q147_perplexity_score": "BNLJ intended: single-row broadcast vocab-size cross",
    "q148_ab_test": "BNLJ intended: two single-row arm aggregates crossed",
    "q167_welch_t_test": "BNLJ intended: two single-row arm aggregates crossed",
    "q166_peak_concurrency": "BNLJ intended: single-row peak/first-at aggregates crossed; session count evaluated at build",
}


def _qnum(name: str) -> tuple[int, str]:
    # numeric order, not registry-dict insertion order (q219/q220
    # were registered out of sequence; the report reads in query order)
    m = re.match(r"q(\d+)", name)
    return (int(m.group(1)) if m else 10**9, name)


def plan_row(spark, name: str, sf_dir: str) -> str:
    """The PLANS.md table line for registry entry ``name``, built at
    ``sf_dir``."""
    try:
        df = SPECS[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
    except Exception as ex:  # streaming fns that need a sink etc.
        return f"| {name} | — | — | — | (unplannable here: {type(ex).__name__}) |"
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    joins = sorted(
        set(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)",
                p,
            )
        )
    )
    pushed = bool(re.search(r"PushedFilters: \[(?!\])", p))
    jtxt = ", ".join(j.replace("Join", "") for j in joins) or "—"
    flag = "CARTESIAN" if "CartesianProduct" in p else ""
    note = EAGER.get(name, "") or BNLJ_INTENDED.get(name, "")
    note_full = " ".join(x for x in (flag, note) if x)
    return f"| {name} | {n_ex} | {jtxt} | {'yes' if pushed else '—'} | {note_full} |"


def main() -> None:
    spark = get_spark("plan-report", master="local[8]", shuffle_partitions=8)
    names = sorted(SPECS, key=_qnum)
    lines = [plan_row(spark, name, SF_DIR) for name in names]
    plannable = sum(1 for ln in lines if "(unplannable here" not in ln)
    cart = [n for n, ln in zip(names, lines) if "CARTESIAN" in ln]
    out = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        f"Generated by `tools/plan_report.py` at `{SF_DIR}` "
        "(plans, not timings; regenerate after operator changes).",
        "",
        "Columns: **Ex** = Exchange (shuffle) nodes in the plan —"
        " includes the final presentation `orderBy`, so 1 is the floor"
        " for any ordered output; **joins** = physical join strategies;"
        " **pushed** = parquet scan carries pushed filters.",
        "",
        "| query | Ex | joins | pushed | notes |",
        "|---|---|---|---|---|",
        *lines,
        "",
        f"**Summary:** {len(lines)} queries planned; "
        f"{plannable} plannable; "
        f"cartesian products: {cart if cart else 'none'}.",
        "",
    ]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written: {len(lines)} queries")


if __name__ == "__main__":
    main()
