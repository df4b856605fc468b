"""Round-6 operator semantics tests: crafted-fixture checks that pin
the SEMANTIC contract of each new operator (the DuckDB parity suite
already pins cross-engine equality on the driver tables).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.llm import dedup as dd
from etl_geonet_quakes_spark.llm import similarity as sim
from etl_geonet_quakes_spark.llm import text as tx
from etl_geonet_quakes_spark.operators import relational as rel

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path_factory, rows, name):
    path = str(tmp_path_factory.mktemp(name))
    rows = [(i, t, "en", "src", len(t)) for i, t in rows]
    spark.createDataFrame(
        rows,
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")
    return path


def test_bpe_pair_counts_top_pair(spark, tmp_path_factory):
    """The most frequent adjacent pair wins; ties break
    lexicographically (the BPE merge choice must be deterministic)."""
    d = _write_docs(
        spark,
        tmp_path_factory,
        [(0, "a b a b a b"), (1, "x y"), (2, "b a")],
        "bpe",
    )
    out = tx.bpe_pair_counts(spark, d, k=3).collect()
    # pairs: doc0 -> (a b)x3? no: adjacent pairs of [a b a b a b] are
    # a b, b a, a b, b a, a b  -> "a b" x3, "b a" x2; doc2 adds "b a"
    assert (out[0]["pair"], out[0]["n"]) == ("a b", 3)
    assert (out[1]["pair"], out[1]["n"]) == ("b a", 3)
    # tie "a b" vs "b a" at 3 broke lexicographically
    assert out[0]["pair"] < out[1]["pair"] or out[0]["n"] > out[1]["n"]
    assert (out[2]["pair"], out[2]["n"]) == ("x y", 1)


def test_hard_negatives_label_constraint(spark):
    """Every mined negative has a different label from its query, and
    per query the scores are non-increasing."""
    out = sim.hard_negative_mining(spark, SF).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cos"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        scores = [c for _, c in rows]
        assert scores == sorted(scores, reverse=True)


def test_link_prediction_path_graph(spark, tmp_path_factory):
    """On a path a–b–c (a,c not near-dups of each other), the only
    predicted link is (a, c) with exactly one common neighbor and
    neighborhood Jaccard 1/(1+1-1) = 1.0."""
    # b = w1..w18; a swaps out b's last two tokens, c swaps out b's
    # first two. J(a,b) = J(b,c) = 16/20 = 0.8 (inclusive threshold);
    # J(a,c) = |w3..w16| / |w1..w18 ∪ 4 swaps| = 14/22 < 0.8.
    w = [f"w{i}" for i in range(1, 19)]
    a_txt = " ".join(w[:16] + ["aa1", "aa2"])
    b_txt = " ".join(w)
    c_txt = " ".join(w[2:] + ["cc1", "cc2"])
    d = _write_docs(spark, tmp_path_factory, [(0, a_txt), (1, b_txt), (2, c_txt)], "lp")
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.dedup_pair_graph(spark, d, 0.8).collect()}
    assert pairs == {(0, 1), (1, 2)}, pairs
    out = dd.link_prediction_common_neighbors(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["common_neighbors"]) == (0, 2, 1)
    assert r["nb_jaccard"] == 1.0


def test_dedup_normalized_variants_collapse(spark, tmp_path_factory):
    """Case, punctuation, spacing, word order, and repetition variants
    all map to one canonical; an unrelated doc does not."""
    d = _write_docs(
        spark,
        tmp_path_factory,
        [
            (10, "The quick brown fox"),
            (11, "the QUICK brown fox!!"),
            (12, "fox brown   the quick"),
            (13, "the the quick brown fox fox"),
            (14, "a completely different document"),
        ],
        "norm",
    )
    out = {(r["canonical"], r["dup_id"]) for r in dd.dedup_normalized(spark, d).collect()}
    assert out == {(10, 11), (10, 12), (10, 13)}


def test_contamination_spans_exact_boundaries(spark, tmp_path_factory):
    """Two docs share a 10-token block at different offsets: each doc
    reports exactly one span covering the block (merged from the 3
    overlapping 8-gram hits), with exact token boundaries."""
    block = " ".join(f"c{i}" for i in range(10))
    d = _write_docs(
        spark,
        tmp_path_factory,
        [
            (0, "u0a u0b u0c " + block + " u0d u0e"),  # block at tokens 4..13
            (1, block + " v0 v1 v2 v3 v4 v5"),  # block at tokens 1..10
            (2, "x0 x1 x2 x3 x4 x5 x6 x7 x8"),  # no repeats
        ],
        "contam",
    )
    out = {r["doc_id"]: r for r in tx.contamination_spans(spark, d).collect()}
    assert set(out) == {0, 1}
    assert (out[0]["span_start"], out[0]["span_end"]) == (4, 13)
    assert (out[1]["span_start"], out[1]["span_end"]) == (1, 10)
    assert out[0]["span_tokens"] == 10 and out[0]["n_rep_shingles"] == 3
    assert out[1]["span_tokens"] == 10 and out[1]["n_rep_shingles"] == 3


def test_asof_forward_tolerance_boundaries(spark, tmp_path_factory):
    """A purchase exactly at the tolerance bound matches; one µs past
    does not; a same-instant purchase matches its click with gap 0;
    a user with no purchase emits NULLs (LEFT semantics)."""
    base = 1_700_000_000_000_000
    tol = 48 * 3600 * 1_000_000
    rows = [
        # user 1: purchase exactly at +tol
        (100, 1, "click", base),
        (101, 1, "purchase", base + tol),
        # user 2: purchase at +tol+1us -> no match
        (200, 2, "click", base),
        (201, 2, "purchase", base + tol + 1),
        # user 3: same-instant purchase
        (300, 3, "click", base),
        (301, 3, "purchase", base),
        # user 4: click only
        (400, 4, "click", base),
    ]
    path = str(tmp_path_factory.mktemp("asof_fwd"))
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, us long"
    ).select(
        "event_id", "user_id", "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"),
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"),
    ).coalesce(1).write.parquet(f"{path}/events.parquet")
    out = {r["click_id"]: r for r in
           rel.join_asof_forward_tolerance(spark, path).collect()}
    assert out[100]["purchase_id"] == 101 and out[100]["gap_s"] == tol // 1_000_000
    assert out[200]["purchase_id"] is None and out[200]["gap_s"] is None
    assert out[300]["purchase_id"] == 301 and out[300]["gap_s"] == 0
    assert out[400]["purchase_id"] is None


def test_snapshot_table_diff_classes_complete(spark):
    """Diff classes partition the key universe: counts reconcile with
    the fixture's modular framing, and unchanged rows have zero net
    movement."""
    out = {r["diff_class"]: r for r in rel.snapshot_table_diff(spark, SF).collect()}
    assert set(out) <= {
        "added", "removed", "changed_price", "changed_status",
        "changed_both", "unchanged",
    }
    assert out["unchanged"]["net_price_delta"] == 0.0
    # added = keys div by 5 not by 7; removed = keys div by 7 not by 5
    from etl_geonet_quakes_spark.io import load_table
    keys = [r["o_orderkey"] for r in
            load_table(spark, SF, "orders").select("o_orderkey").collect()]
    exp_added = sum(1 for k in keys if k % 5 == 0 and k % 7 != 0)
    exp_removed = sum(1 for k in keys if k % 7 == 0 and k % 5 != 0)
    assert out["added"]["n_rows"] == exp_added
    assert out["removed"]["n_rows"] == exp_removed


def test_decayed_average_closed_forms(spark, tmp_path_factory):
    """Single order -> EMA equals the price; two orders -> exactly
    0.25*newest + 0.75*oldest (alpha = 1/4)."""
    import datetime
    rows = [
        (1, 10, "O", 100.00, datetime.datetime(2000, 1, 1), "P1"),
        (2, 20, "O", 100.00, datetime.datetime(2000, 1, 1), "P1"),
        (3, 20, "O", 200.00, datetime.datetime(2000, 2, 1), "P1"),
    ]
    path = str(tmp_path_factory.mktemp("ema"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(f"{path}/orders.parquet")
    out = {r["c_custkey"]: r for r in rel.decayed_average(spark, path).collect()}
    assert out[10]["n_orders_used"] == 1 and out[10]["decayed_avg"] == 100.0
    # e = 0.25*200 + 0.75*100 = 125
    assert out[20]["n_orders_used"] == 2 and out[20]["decayed_avg"] == 125.0


def test_containment_subset_doc(spark, tmp_path_factory):
    """A document fully contained in a larger one scores containment
    1.0 in that direction only; the reverse direction (big in small)
    does not qualify."""
    small = " ".join(f"s{i}" for i in range(12))
    big = small + " " + " ".join(f"b{i}" for i in range(30))
    d = _write_docs(spark, tmp_path_factory, [(0, small), (1, big)], "contain")
    out = {(r["doc_a"], r["doc_b"]): r for r in dd.dedup_containment(spark, d).collect()}
    assert (0, 1) in out
    assert out[(0, 1)]["containment"] == 1.0
    assert (1, 0) not in out


def test_containment_completeness_bruteforce(spark, tmp_path_factory):
    """Prefix-filter candidates lose nothing: the verified containment
    pair set equals brute force on a mixed corpus."""
    import itertools
    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "one two three four five six seven eight nine ten",
        3: "one two three four five six seven eight nine ten extra0 extra1",
        4: "totally unrelated words here nothing shared at all",
    }
    d = _write_docs(spark, tmp_path_factory, list(texts.items()), "containbf")
    got = {(r["doc_a"], r["doc_b"]) for r in dd.dedup_containment(spark, d).collect()}
    # brute force with the same shingle definition
    sh = {
        i: {
            " ".join(toks[j : j + 3])
            for j in range(max(1, len(toks) - 2))
        }
        for i, toks in ((i, t.split()) for i, t in texts.items())
    }
    expect = {
        (a, b)
        for a, b in itertools.permutations(texts, 2)
        if 10 * len(sh[a] & sh[b]) >= 9 * len(sh[a])
    }
    assert got == expect


def test_stream_incremental_counts_state_versions(spark, tmp_path):
    """The incremental state telescopes: after each micro-batch the
    merged state equals the batch aggregation over everything
    ingested so far (not just the final state — every intermediate
    version is exact)."""
    import os
    from etl_geonet_quakes_spark.streaming.feed import write_micro_batch_feed
    from etl_geonet_quakes_spark.streaming import incremental as sti
    from etl_geonet_quakes_spark.llm.text import tokens as tok_fn

    docs = [(i, f"w{i % 4} common w{i % 3}") for i in range(12)]
    src = spark.createDataFrame(docs, "doc_id long, text string")
    base = str(tmp_path / "inc")
    os.makedirs(base)
    feed = write_micro_batch_feed(src, base, 3, "doc_id")
    # drive the same machinery the registry query uses, capturing
    # versions via the module function on a fixture-shaped dir
    fixture = str(tmp_path / "fix")
    os.makedirs(fixture)
    src.selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")
    out = sti.stream_incremental_token_counts(spark, fixture, top_k=100)
    got = {(r["tok"], r["n"]) for r in out.collect()}
    expect = (
        src.select(F.explode(tok_fn(F.col("text"))).alias("t"))
        .groupBy("t").count().collect()
    )
    assert got == {(r["t"], r["count"]) for r in expect}
    assert ("common", 12) in got


def test_stream_static_enrich_matches_batch_join(spark):
    """Streaming enrich+window result equals the equivalent batch
    join+agg computed directly in Spark (engine-internal check,
    independent of the DuckDB oracle)."""
    from etl_geonet_quakes_spark.io import load_table
    from etl_geonet_quakes_spark.streaming import windows as stw

    out = stw.stream_static_enrich(spark, SF).collect()
    e = load_table(spark, SF, "events")
    c = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    batch = (
        e.join(c, "user_id")
        .groupBy(F.to_date("ts").alias("day"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            .alias("sum_value"),
        )
        .orderBy("day", "c_mktsegment")
        .collect()
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_fifo_allocation_invariants(spark):
    """FIFO telescoping: matched quantity per part equals
    min(total supply, total demand); unfilled + matched = demand;
    leftover + matched = supply; allocation count is n+m-ish bounded
    (each pair overlap is contiguous on the cum axis)."""
    out = rel.fifo_allocation(spark, SF).collect()
    assert len(out) > 0
    for r in out:
        supply_qty = r["matched_qty"] + r["leftover_qty"]
        demand_qty = r["matched_qty"] + r["unfilled_qty"]
        assert r["matched_qty"] == min(supply_qty, demand_qty)
        assert r["matched_qty"] >= 0
        assert r["unfilled_qty"] >= 0 and r["leftover_qty"] >= 0
        # FIFO contiguity: overlapping (supply, demand) pairs form a
        # staircase — count is at most n_supply + n_demand - 1
        if r["n_allocations"] > 0:
            assert r["n_allocations"] <= r["n_supply"] + r["n_demand"] - 1


def test_fifo_allocation_closed_form(spark, tmp_path_factory):
    """Hand-computed FIFO on one part: supply lots 10, 5; demand lots
    8, 4, 6 -> allocations (s1,d1)=8, (s1,d2)=2, (s2,d2)=2, (s2,d3)=3,
    demand 3 unfilled by 3... supply=15, demand=18 -> matched 15,
    unfilled 3, leftover 0, 4 allocation pairs."""
    import datetime
    t0 = datetime.datetime(1997, 1, 1)
    t1 = datetime.datetime(1999, 1, 1)
    rows = [
        # (orderkey, partkey, suppkey, linenumber, qty, shipdate)
        (1, 7, 1, 1, 10.0, t0),
        (2, 7, 1, 1, 5.0, t0 + datetime.timedelta(days=1)),
        (3, 7, 1, 1, 8.0, t1),
        (4, 7, 1, 1, 4.0, t1 + datetime.timedelta(days=1)),
        (5, 7, 1, 1, 6.0, t1 + datetime.timedelta(days=2)),
    ]
    path = str(tmp_path_factory.mktemp("fifo"))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{path}/lineitem.parquet")
    out = rel.fifo_allocation(spark, path).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_supply"], r["n_demand"]) == (2, 3)
    assert r["matched_qty"] == 15 and r["unfilled_qty"] == 3
    assert r["leftover_qty"] == 0 and r["n_allocations"] == 4


def test_quality_funnel_every_gate_fires(spark, tmp_path_factory):
    """Crafted corpus where each gate drops somebody, pinning the
    telescoping attrition exactly."""
    from etl_geonet_quakes_spark.llm import corpus as cp

    long_words = " ".join(f"w{i:03d}" for i in range(40))  # 4-char tokens
    docs = [
        (0, "too short"),                             # fails 1 (words<30)
        (1, " ".join(f"x{i % 10}y" for i in range(40))),  # hmm see below
        (2, " ".join(["abcd"] * 40)),                 # mean 4, uniq 1/40 -> fails 3
        (3, long_words),                              # passes all
        (4, long_words + " contact me9@example.com now extra filler"),
        (5, long_words),                              # dup of 3 -> fails 6
    ]
    # doc 1 must fail stage 2 (mean word length below 4): 2-char words
    docs[1] = (1, " ".join(f"z{i % 7}" for i in range(40)))
    # doc 6 passes 1-3 but fails 4 (repetition): 24 unique 5-char words
    # + 8x("abcd","efgh"): 40 words, 26 distinct (>=40%), sum_len 184
    # in [160, 200], top bigram "abcd efgh" 8 of 39 -> 8*8 > 39
    docs.append((6, " ".join([f"u{i:04d}" for i in range(24)]
                             + ["abcd", "efgh"] * 8)))
    d = _write_docs(spark, tmp_path_factory, docs, "funnel")
    out = {r["stage"]: r for r in cp.quality_funnel(spark, d).collect()}
    assert out["1_gopher_word_count"]["n_in"] == 7
    assert out["1_gopher_word_count"]["n_fail"] == 1   # doc 0
    assert out["2_word_length_band"]["n_fail"] == 1    # doc 1
    assert out["3_unique_token_ratio"]["n_fail"] == 1  # doc 2
    assert out["4_repetition_cap"]["n_fail"] == 1      # doc 6
    assert out["5_pii_free"]["n_fail"] == 1            # doc 4
    assert out["6_exact_dedup_keep"]["n_fail"] == 1    # doc 5
    assert out["6_exact_dedup_keep"]["n_pass"] == 1    # doc 3 survives


def test_leakage_safe_folds_never_split_a_cluster(spark, tmp_path_factory):
    """THE invariant: every near-dup pair shares a fold (the naive
    hash(doc_id) split provably violates this on a template family).
    Uses a corpus of two near-dup families + isolates, and checks the
    per-doc fold assignment directly."""
    from etl_geonet_quakes_spark.llm import dedup as dd
    from etl_geonet_quakes_spark.llm.dedup import cluster_labels, md5_feature_hash

    base_a = [f"a{i}" for i in range(20)]
    base_b = [f"b{i}" for i in range(20)]
    docs = []
    for j in range(4):  # family A: 4 near-identical docs
        toks = list(base_a)
        toks[j] = f"swapA{j}"
        docs.append((j, " ".join(toks)))
    for j in range(3):  # family B
        toks = list(base_b)
        toks[j] = f"swapB{j}"
        docs.append((10 + j, " ".join(toks)))
    docs += [(100, "isolated document one entirely"), (101, "another lone text body")]
    d = _write_docs(spark, tmp_path_factory, docs, "folds")
    labels = cluster_labels(spark, d, 0.8)
    folds = {
        r["doc_id"]: r["fold"]
        for r in labels.select(
            "doc_id",
            F.pmod(md5_feature_hash(F.col("lbl").cast("string")), F.lit(5)).alias("fold"),
        ).collect()
    }
    pairs = [(r["doc_a"], r["doc_b"]) for r in dd.dedup_pair_graph(spark, d, 0.8).collect()]
    assert len(pairs) >= 3 + 2  # both families connected
    for a, b in pairs:
        assert folds[a] == folds[b], (a, b, folds[a], folds[b])
    # and a naive doc_id hash split WOULD leak on this corpus
    naive = {
        doc: int(__import__("hashlib").md5(str(doc).encode()).hexdigest()[:15], 16) % 5
        for doc, _ in docs
    }
    assert any(naive[a] != naive[b] for a, b in pairs)


def test_late_data_boundary_semantics(spark, tmp_path_factory):
    """Pin Spark's watermark boundary operators on crafted data: a
    wave-1 row whose window closed strictly BEFORE the watermark is
    dropped; one in a still-open window survives; emission covers
    exactly the windows closed by the final watermark. (The oracle's
    `>` / `<=` operators encode what this test observes.)"""
    import datetime, os
    from etl_geonet_quakes_spark.streaming.windows import (
        stream_late_data_accounting,
    )

    D = datetime.datetime
    rows = [
        # wave 0 (even ids): days 1, 2 and a max at day 5 12:00 ->
        # wm1 = day 4 12:00; windows d1, d2, d3 are closed (end<=wm1)
        (0, D(2024, 1, 1, 6)),
        (2, D(2024, 1, 2, 6)),
        (4, D(2024, 1, 5, 12)),
        # wave 1 (odd ids): a late row for closed day 2 (DROPPED),
        # one for open day 5 (KEPT), and a max at day 9 12:00 ->
        # final wm = day 8 12:00: windows d1..d8 emit; d9 never does
        (1, D(2024, 1, 2, 7)),
        (3, D(2024, 1, 5, 1)),
        (5, D(2024, 1, 9, 12)),
    ]
    path = str(tmp_path_factory.mktemp("late"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp"
    ).selectExpr(
        "event_id", "ts", "CAST(event_id AS LONG) AS user_id",
        "'click' AS event_type", "1.0 AS value", "'{}' AS props",
    ).coalesce(1).write.parquet(f"{path}/events.parquet")
    out = {str(r["day"]): r["n"] for r in
           stream_late_data_accounting(spark, path).collect()}
    # day 1: wave-0 row only; day 2: late wave-1 row DROPPED -> 1;
    # day 5: wave-0 max + surviving wave-1 row -> 2; day 9 never emits
    assert out == {"2024-01-01": 1, "2024-01-02": 1, "2024-01-05": 2}, out


def test_weighted_shortest_path_chain(spark, tmp_path_factory):
    """Weighted distances on a near-dup chain a-b-c: dist(b) = the
    symmetric-difference weight of edge(a,b); dist(c) adds edge(b,c);
    weights are exact integers."""
    from etl_geonet_quakes_spark.llm.dedup import weighted_shortest_path

    # reuse the q174 path construction: seed = doc 0 (0 % 97 == 0)
    w = [f"w{i}" for i in range(1, 19)]
    a_txt = " ".join(w[:16] + ["aa1", "aa2"])     # doc 0 (seed)
    b_txt = " ".join(w)                           # doc 1
    c_txt = " ".join(w[2:] + ["cc1", "cc2"])      # doc 2
    d = _write_docs(spark, tmp_path_factory, [(0, a_txt), (1, b_txt), (2, c_txt)], "wsp")
    out = {r["doc_id"]: r["dist"] for r in weighted_shortest_path(spark, d).collect()}
    # edge(a,b): union 20, intersect 16 -> weight 4; edge(b,c) same
    assert out[0] == 0
    assert out[1] == 4
    assert out[2] == 8
