"""Semantic invariants for the round-5 operators (q127–q137) beyond
exact oracle parity (tests/test_oracle_parity.py carries the
cross-engine hash checks; these pin the PROPERTIES that make each
answer right, so a future refactor that keeps both engines wrong in
the same way still fails loudly)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import load_table
from etl_geonet_quakes_spark.llm import corpus, text
from etl_geonet_quakes_spark.operators import relational as rel


def test_merge_upsert_reconciles(spark, sf_dir):
    """The action counts must exactly reconcile against the target /
    source framings: keep+update+delete == |target|, insert == live
    source keys absent from the target, and tombstones for unknown
    keys (noops) never surface."""
    out = {r["action"]: r for r in rel.merge_upsert(spark, sf_dir).collect()}
    assert set(out) == {"delete", "insert", "keep", "update"}
    orders = load_table(spark, sf_dir, "orders")
    n_target = orders.filter(F.col("o_orderkey") % 3 != 0).count()
    assert (
        out["keep"]["n_rows"] + out["update"]["n_rows"] + out["delete"]["n_rows"]
        == n_target
    )
    n_insert = orders.filter(
        (F.col("o_orderkey") % 2 == 0)
        & (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderstatus") != "F")
    ).count()
    assert out["insert"]["n_rows"] == n_insert
    assert out["delete"]["total_price"] == 0.0


def test_session_paths_bounded_and_ranked(spark, sf_dir):
    rows = rel.session_paths(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(counts) <= n_users
    for r in rows:
        assert 1 <= len(r["path"].split(">")) <= 8


def test_string_distance_length_prune_is_lossless(spark, sf_dir):
    """q88's new |Δlen| ≤ k pre-filter must drop NO qualifying pair
    (the edit-distance theorem): compare against the unpruned
    brute-force join."""
    got = {
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in rel.string_distance_pairs(spark, sf_dir).collect()
    }
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a, b = p.alias("a"), p.alias("b")
    brute = {
        (r["ka"], r["kb"], r["d"])
        for r in a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("ka"),
            F.col("b.p_partkey").alias("kb"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("long")
            .alias("d"),
        )
        .filter(F.col("d") <= 4)
        .collect()
    }
    assert got == brute and len(got) > 0


def test_group_ols_matches_closed_form(spark, sf_dir):
    """Cross-check slope/intercept/r² against a numpy lstsq fit per
    group (tolerance 1e-5 — numpy folds doubles, ours is exact
    decimal, so tiny drift is expected and bounded)."""
    import numpy as np

    rows = rel.group_ols(spark, sf_dir).collect()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_flag: dict[str, list[tuple[float, float]]] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )
    for r in rows:
        xy = np.array(by_flag[r["l_returnflag"]])
        A = np.vstack([xy[:, 0], np.ones(len(xy))]).T
        (slope, intercept), res, *_ = np.linalg.lstsq(A, xy[:, 1], rcond=None)
        assert abs(r["slope"] - slope) < 1e-5
        assert abs(r["intercept"] - intercept) < 1e-4
        assert 0.0 <= r["r2"] <= 1.0
        assert r["n"] == len(xy)


def test_spearman_bounds_and_self_correlation(spark, sf_dir):
    row = rel.spearman_corr(spark, sf_dir).collect()[0]
    assert row["n"] == load_table(spark, sf_dir, "part").count()
    assert -1.0 <= row["spearman_rho"] <= 1.0


def test_benford_is_a_distribution(spark, sf_dir):
    rows = rel.benford_digits(spark, sf_dir).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["p_obs"] for r in rows) - 1.0) < 1e-4
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_obs"] for r in rows) == n_orders
    # Benford expectation itself sums to 1 over d=1..9
    assert abs(sum(math.log10(1 + 1 / d) for d in range(1, 10)) - 1.0) < 1e-12


def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    rows = rel.equidepth_histogram(spark, sf_dir).collect()
    assert [r["bucket"] for r in rows] == list(range(10))
    sizes = [r["n_rows"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # equi-depth ±1
    # fences are monotone and non-overlapping
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_price"] <= hi["min_price"]
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(sizes) == n_orders


def test_partition_skew_audit_totals(spark, sf_dir):
    rows = rel.partition_skew_audit(spark, sf_dir).collect()
    n_li = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == n_li
    # load factors average to ~1 over the populated reducers
    mean_lf = sum(r["load_factor"] * r["n_rows"] for r in rows) / n_li
    assert mean_lf >= 1.0  # weighted by rows, skew can only push it up
    assert all(r["load_factor"] > 0 for r in rows)


def test_chisq_marginals_reconcile(spark, sf_dir):
    rows = rel.chisq_independence(spark, sf_dir).collect()
    n = sum(r["n_obs"] for r in rows)
    assert abs(sum(r["n_exp"] for r in rows) - n) < 1e-3
    assert all(r["chi2_contrib"] >= 0.0 for r in rows)


def test_retrieval_and_is_conjunctive(spark, sf_dir):
    terms = ("query", "window", "scan")
    hit_ids = {r["doc_id"] for r in text.retrieval_and(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {
        r["doc_id"]
        for r in docs
        if all(t in r["text"].split(" ") for t in terms)
    }
    assert hit_ids == expected and len(hit_ids) > 0


def test_token_entropy_bounds(spark, sf_dir):
    """0 ≤ H ≤ ln(n_tokens) (uniform upper bound), and a doc of k
    repeats of one token would score exactly 0 — pinned via the
    lower bound being attained only when every token is identical."""
    rows = text.token_entropy(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # 6dp display rounding can exceed the exact ln(n) bound by ≤5e-7
        assert -1e-6 <= r["entropy"] <= math.log(r["n_tokens"]) + 1e-6
        assert r["low_entropy"] in (0, 1)
        assert r["low_entropy"] == (1 if r["entropy"] < 2.0 else 0)


def test_group_reservoir_exact_k_per_group(spark, sf_dir):
    rows = corpus.group_reservoir(spark, sf_dir).collect()
    by_src: dict[str, list[int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["rank_in_source"])
    d = load_table(spark, sf_dir, "documents")
    src_sizes = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, ranks in by_src.items():
        k = min(5, src_sizes[src])
        assert sorted(ranks) == list(range(1, k + 1))
    assert set(by_src) == set(src_sizes)
    # determinism: a second run returns the identical sample
    again = corpus.group_reservoir(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_quake_geo_distances_and_cells(spark, sf_dir):
    from etl_geonet_quakes_spark.operators import geo

    rows = geo.quake_geo(spark, sf_dir).collect()
    assert len(rows) > 0
    assert [r["proximity_rank"] for r in rows] == list(range(1, len(rows) + 1))
    dists = [r["dist_km"] for r in rows]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)
    # haversine column algebra ≡ python reference on the raw fixture
    from etl_geonet_quakes_spark.io import read_geojson
    from etl_geonet_quakes_spark.quakes import GEONET_FIXTURE_JSON, GEONET_RESPONSE_SCHEMA

    raw = read_geojson(spark, GEONET_FIXTURE_JSON, GEONET_RESPONSE_SCHEMA)
    feats = raw.selectExpr("explode(features) AS f").select(
        F.col("f.properties.publicID").alias("pid"),
        F.col("f.geometry.coordinates")[0].alias("lon"),
        F.col("f.geometry.coordinates")[1].alias("lat"),
    ).collect()
    ref = {
        r["pid"]: round(
            geo.haversine_km_py(r["lat"], r["lon"], geo.POI_LAT, geo.POI_LON), 4
        )
        for r in feats
    }
    cells = {
        r["pid"]: (math.floor((r["lat"] + 90.0)) * 360 + math.floor(r["lon"] + 180.0))
        for r in feats
    }
    for r in rows:
        assert abs(r["dist_km"] - ref[r["public_id"]]) < 1e-3
        assert r["cell_id"] == cells[r["public_id"]]


def test_gap_islands_partition_the_key_set(spark, sf_dir):
    rows = rel.gap_islands(spark, sf_dir).collect()
    ids = sorted(
        r["id"]
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("id"))
        .collect()
    )
    covered = []
    prev_end = None
    for r in rows:
        assert r["island_start"] <= r["island_end"]
        assert r["n_keys"] == r["island_end"] - r["island_start"] + 1  # contiguous
        if prev_end is not None:
            assert r["island_start"] > prev_end + 1  # maximal: a real gap between
        prev_end = r["island_end"]
        covered.extend(range(r["island_start"], r["island_end"] + 1))
    assert covered == ids  # islands exactly tile the key set


def test_weighted_median_matches_sequential_scan(spark, sf_dir):
    rows = {r["l_returnflag"]: r for r in rel.weighted_median(spark, sf_dir).collect()}
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    per_flag: dict[str, dict[float, Decimal]] = defaultdict(lambda: defaultdict(Decimal))
    for r in li:
        per_flag[r["l_returnflag"]][r["l_quantity"]] += Decimal(
            str(round(r["l_extendedprice"], 2))
        )
    for flag, wmap in per_flag.items():
        tot = sum(wmap.values())
        cum = Decimal(0)
        med = None
        for qty in sorted(wmap):
            cum += wmap[qty]
            if 2 * cum >= tot:
                med = qty
                break
        assert rows[flag]["weighted_median_qty"] == med
        assert abs(rows[flag]["total_weight"] - float(tot)) < 1e-6


def test_winsorize_accounting(spark, sf_dir):
    rows = rel.winsorize(spark, sf_dir).collect()
    for r in rows:
        assert r["p05"] <= r["p95"]
        assert r["n_low"] + r["n_high"] <= r["n"]
        # ~5% in each tail (interpolated percentile ⇒ within ±1 row)
        assert r["n_low"] <= r["n"] * 0.05 + 1
        assert r["n_high"] <= r["n"] * 0.05 + 1
        assert r["n"] * r["p05"] - 1e-6 <= r["sum_winsorized"] <= r["n"] * r["p95"] + 1e-6


def test_two_phase_rank_invariant_to_bucket_granularity(spark, sf_dir):
    """The two-phase distributed rank must produce IDENTICAL output
    for any range/prefix bucket granularity — including the
    degenerate single-bucket case (≡ the naive global window). If
    this breaks, the parallel plan and the oracle have diverged."""
    base = rel.equidepth_histogram(spark, sf_dir).collect()
    for step in (500.0, 1e9):  # many small buckets / one giant bucket
        alt = rel.equidepth_histogram(spark, sf_dir, range_step=step).collect()
        assert sorted(map(tuple, alt)) == sorted(map(tuple, base)), step

    base_i = rel.gap_islands(spark, sf_dir).collect()
    for b in (64, 1 << 40):
        alt_i = rel.gap_islands(spark, sf_dir, prefix_bucket=b).collect()
        assert sorted(map(tuple, alt_i)) == sorted(map(tuple, base_i)), b


def test_spatial_join_cell_probe_is_complete(spark, sf_dir):
    """The 3×3 neighbor-cell probe must find EXACTLY the brute-force
    radius pairs (completeness is a theorem of the cell geometry at
    these latitudes — this asserts it)."""
    from etl_geonet_quakes_spark.operators import geo

    got = {
        (r["suppkey"], r["custkey"]) for r in geo.spatial_join(spark, sf_dir).collect()
    }
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        geo._pseudo_coord(F.col("c_custkey"), 2654435761, -47.0, 13.0).alias("clat"),
        geo._pseudo_coord(F.col("c_custkey"), 2246822519, 166.0, 13.0).alias("clon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        geo._pseudo_coord(F.col("s_suppkey"), 2654435761, -47.0, 13.0).alias("slat"),
        geo._pseudo_coord(F.col("s_suppkey"), 2246822519, 166.0, 13.0).alias("slon"),
    )
    d = geo.haversine_km(F.col("slat"), F.col("slon"), F.col("clat"), F.col("clon"))
    brute = {
        (r["suppkey"], r["custkey"])
        for r in supp.crossJoin(cust).filter(d <= 25.0).collect()
    }
    assert got == brute and len(got) > 0


def test_window_distinct_bounds(spark, sf_dir):
    rows = rel.window_distinct(spark, sf_dir).collect()
    n_types = (
        load_table(spark, sf_dir, "events").select("event_type").distinct().count()
    )
    assert len(rows) > 0
    assert all(1 <= r["n_distinct_types"] <= n_types for r in rows)


def test_interp_gapfill_lies_between_brackets(spark, sf_dir):
    rows = rel.interp_gapfill(spark, sf_dir).collect()
    assert len(rows) > 0
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps_seen = 0
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r["day"])
        obs = [(i, r["interp_value"]) for i, r in enumerate(rs) if not r["is_gap"]]
        # span endpoints are observed days by construction
        assert not rs[0]["is_gap"] and not rs[-1]["is_gap"]
        for i, r in enumerate(rs):
            if not r["is_gap"]:
                continue
            gaps_seen += 1
            prev = max((j, v) for j, v in obs if j < i)
            nxt = min((j, v) for j, v in obs if j > i)
            lo, hi = sorted((prev[1], nxt[1]))
            assert lo - 1e-6 <= r["interp_value"] <= hi + 1e-6
    assert gaps_seen > 0


def test_graph_bfs_distances_are_consistent(spark, sf_dir):
    from etl_geonet_quakes_spark.llm import dedup

    rows = {r["doc_id"]: r["dist"] for r in dedup.graph_bfs(spark, sf_dir).collect()}
    assert len(rows) > 0
    pairs = dedup.dedup_ngram_jaccard(spark, sf_dir, 0.8).select("doc_a", "doc_b")
    adj: dict[int, set[int]] = {}
    for r in pairs.collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    seeds = {d for d, dist in rows.items() if dist == 0}
    assert seeds and all(d % 97 == 0 for d in seeds)
    for d, dist in rows.items():
        if dist == 0:
            continue
        # BFS invariant: a vertex at distance k has a neighbor at k-1
        assert any(rows.get(nb) == dist - 1 for nb in adj.get(d, ())), (d, dist)


def test_perplexity_flags_repetitive_text_as_likely(spark, sf_dir):
    """Model sanity: a document's avg NLL is bounded by ln of the
    worst-case denominator, and the per-doc bigram count reconciles
    with its token count."""
    rows = text.perplexity_score(spark, sf_dir).collect()
    assert len(rows) > 0
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    n_toks = {r["doc_id"]: len(r["text"].split(" ")) for r in docs}
    vocab = len({t for r in docs for t in r["text"].split(" ")})
    total_bigrams = sum(max(n - 1, 0) for n in n_toks.values())
    # worst case: unseen-ish bigram prob 1/(c_head + V) ≥ 1/(total + V)
    max_nll = math.log(total_bigrams + vocab)
    for r in rows:
        assert r["n_bigrams"] == n_toks[r["doc_id"]] - 1
        assert 0.0 < r["avg_nll"] <= max_nll + 1e-6


def test_ab_test_reconciles(spark, sf_dir):
    row = rel.ab_test_proportions(spark, sf_dir).collect()[0]
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert row["n_a"] + row["n_b"] == n_users
    assert 0.0 <= row["rate_a"] <= 1.0 and 0.0 <= row["rate_b"] <= 1.0
    # z's sign follows the rate difference whenever it is defined
    # (pooled rate strictly inside (0,1); at sf0.001's 15 users an
    # arm can legitimately sit at 0%)
    if row["z_score"] == row["z_score"] and row["rate_a"] != row["rate_b"]:
        assert (row["z_score"] > 0) == (row["rate_a"] > row["rate_b"])


def test_rolling_median_within_frame_bounds(spark, sf_dir):
    rows = rel.rolling_median(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(1 <= r["n_frame"] <= 7 for r in rows)
    # the first event of each user has a frame of itself → median == value
    e = load_table(spark, sf_dir, "events").collect()
    first = {}
    for r in sorted(e, key=lambda r: (r["ts"], r["event_id"])):
        first.setdefault(r["user_id"], (r["event_id"], r["value"]))
    by_id = {r["event_id"]: r for r in rows}
    for user, (eid, val) in first.items():
        assert by_id[eid]["n_frame"] == 1
        assert abs(by_id[eid]["rolling_median"] - round(val, 6)) < 1e-9


def test_feature_scale_properties(spark, sf_dir):
    """Per group: z-scores average to ~0 with unit population
    variance; min-max spans exactly [0, 1]."""
    rows = rel.feature_scale(spark, sf_dir).collect()
    by_seg: dict[str, list] = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r)
    for seg, rs in by_seg.items():
        zs = [r["zscore"] for r in rs if r["zscore"] is not None]
        mms = [r["minmax"] for r in rs if r["minmax"] is not None]
        if len(zs) > 1:
            assert abs(sum(zs) / len(zs)) < 1e-4
            assert abs(sum(z * z for z in zs) / len(zs) - 1.0) < 1e-3
        assert min(mms) == 0.0 and max(mms) == 1.0


def test_train_split_partitions_the_corpus(spark, sf_dir):
    rows = corpus.train_split(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == d.count()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = sum(by_split.values())
    # hash split: ~80/10/10 (loose bounds — it's a hash, not a quota)
    assert 0.6 * total < by_split.get("train", 0) < 0.95 * total
    assert by_split.get("val", 0) > 0 and by_split.get("test", 0) > 0
    # determinism
    again = corpus.train_split(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_cluster_sample_caps_every_cluster(spark, sf_dir):
    from etl_geonet_quakes_spark.llm.dedup import cluster_labels

    rows = corpus.cluster_sample(spark, sf_dir).collect()
    per_cluster: dict[int, list[int]] = {}
    for r in rows:
        per_cluster.setdefault(r["cluster_rep"], []).append(r["rank_in_cluster"])
    sizes = {
        r["lbl"]: r["n"]
        for r in cluster_labels(spark, sf_dir)
        .groupBy("lbl")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_cluster) == set(sizes)  # every cluster represented
    for rep, ranks in per_cluster.items():
        assert sorted(ranks) == list(range(1, min(2, sizes[rep]) + 1))


def test_quantile_normalize_aligns_marginals(spark, sf_dir):
    """After normalization every group's values are drawn from the
    global value set, rank order is preserved within each group, and
    each group's normalized distribution spans the global range."""
    rows = rel.quantile_normalize(spark, sf_dir).collect()
    all_vals = {
        r["c_acctbal"]
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    by_seg: dict[str, list] = {}
    for r in rows:
        assert r["global_value"] in all_vals
        by_seg.setdefault(r["c_mktsegment"], []).append(r)
    lo, hi = min(all_vals), max(all_vals)
    for seg, rs in by_seg.items():
        rs.sort(key=lambda r: (r["c_acctbal"], r["c_custkey"]))
        normed = [r["global_value"] for r in rs]
        assert normed == sorted(normed)  # monotone mapping
        # midpoint nearest-rank: extremes land near the global extremes
        assert normed[0] <= lo + (hi - lo) * 0.25
        assert normed[-1] >= hi - (hi - lo) * 0.25


def test_pareto_front_dominance_semantics(spark, sf_dir):
    """Brute-force replay of the dominance definition in python; and
    the front must be an antichain (no member dominates another)."""
    front = {
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in rel.pareto_front(spark, sf_dir).collect()
    }
    pts = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    dom = lambda b, a: (  # noqa: E731
        b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
    )
    expected = {a for a in pts if not any(dom(b, a) for b in pts)}
    assert front == expected and len(front) > 0
    for a in front:
        assert not any(dom(b, a) for b in front if b != a)


def test_constraint_audit_clean_fixture_is_clean(spark, sf_dir):
    rows = {r["rule"]: r["n_violations"] for r in rel.constraint_audit(spark, sf_dir).collect()}
    assert len(rows) == 7
    assert all(v == 0 for v in rows.values()), rows


def test_constraint_audit_catches_poisoned_rows(spark, tmp_path):
    """Poison every rule once and pin the exact counts."""
    import datetime as dt

    path = str(tmp_path)
    ts = dt.datetime(2024, 1, 1)
    orders = [
        # (key, custkey, status, price, date, priority)
        (1, 10, "O", 100.0, ts, "1-URGENT"),
        (1, 10, "O", 100.0, ts, "1-URGENT"),   # duplicate key (1 rule hit)
        (2, 999, "O", 50.0, ts, "1-URGENT"),   # FK orphan custkey
        (3, 10, "X", 50.0, ts, "1-URGENT"),    # bad status domain
        (4, 10, "F", -5.0, ts, "1-URGENT"),    # non-positive price
        (5, 10, "P", 50.0, None, "1-URGENT"),  # null orderdate
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{path}/orders.parquet")
    lineitem = [
        (1, 1, 1, 1, 1.0, 10.0, 0.1, 0.05, "N", "O", ts),
        (99, 1, 1, 1, 1.0, 10.0, 1.5, 0.05, "N", "O", ts),  # orphan + bad rate
    ]
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.parquet(f"{path}/lineitem.parquet")
    spark.createDataFrame([(10, "c", 1, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string").write.parquet(f"{path}/customer.parquet")

    got = {r["rule"]: r["n_violations"] for r in rel.constraint_audit(spark, path).collect()}
    assert got == {
        "not_null_orderdate": 1,
        "range_totalprice_pos": 1,
        "domain_orderstatus": 1,
        "unique_orderkey": 1,
        "fk_orders_customer": 1,
        "fk_lineitem_orders": 1,
        "rate_bounds": 1,
    }


def test_incremental_agg_merge_equals_recompute(spark, sf_dir):
    """The partial-state merge must equal a direct full-table
    aggregation bit-for-bit (the decimal algebra guarantee)."""
    merged = sorted(map(tuple, rel.incremental_agg(spark, sf_dir).collect()))
    o = load_table(spark, sf_dir, "orders")
    from etl_geonet_quakes_spark.operators.relational import D_MONEY

    full = sorted(
        map(
            tuple,
            o.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast(D_MONEY))
                .cast("double")
                .alias("revenue"),
                (
                    F.sum(F.col("o_totalprice").cast(D_MONEY)).cast("double")
                    / F.count("*")
                ).alias("avg_price"),
                F.min("o_totalprice").alias("min_price"),
                F.max("o_totalprice").alias("max_price"),
            )
            .collect(),
        )
    )
    assert merged == full


def test_temporal_lookup_is_total_and_unique(spark, sf_dir):
    """Every event resolves to EXACTLY one version (the half-open
    tiling guarantee), and a change event resolves to the version it
    opened (its own event type)."""
    rows = rel.temporal_lookup(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert len(rows) == n_events  # total AND unique (no dup event_ids)
    assert len({r["event_id"] for r in rows}) == n_events
    # spot-check: each user's first event opens its first version
    e = load_table(spark, sf_dir, "events").collect()
    first = {}
    for r in sorted(e, key=lambda r: (r["ts"], r["event_id"])):
        first.setdefault(r["user_id"], r)
    by_id = {r["event_id"]: r for r in rows}
    for u, r in first.items():
        assert by_id[r["event_id"]]["version_value"] == r["event_type"]


def test_schema_drift_union_accounting(spark, sf_dir):
    rows = {r["generation"]: r for r in rel.schema_drift_union(spark, sf_dir).collect()}
    assert set(rows) == {"v1", "v2"}
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert rows["v1"]["n_rows"] + rows["v2"]["n_rows"] == n_orders
    # missing columns are FULLY null in the generation that lacks them
    assert rows["v1"]["null_priority"] == rows["v1"]["n_rows"]
    assert rows["v1"]["null_status"] == 0
    assert rows["v2"]["null_status"] == rows["v2"]["n_rows"]
    assert rows["v2"]["null_priority"] == 0


def test_time_weighted_avg_bounds_and_span(spark, sf_dir):
    rows = rel.time_weighted_avg(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events").collect()
    by_user: dict[int, list] = {}
    for r in e:
        by_user.setdefault(r["user_id"], []).append(r)
    got = {r["user_id"]: r for r in rows}
    for u, rs in by_user.items():
        if len(rs) < 2:
            assert u not in got  # single-event users excluded
            continue
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        span = int((rs[-1]["ts"] - rs[0]["ts"]).total_seconds() * 1e6)
        assert got[u]["span_us"] == span
        assert got[u]["n_intervals"] == len(rs) - 1
        vals = [r["value"] for r in rs[:-1]]  # last value holds nothing
        assert min(vals) - 1e-6 <= got[u]["twap"] <= max(vals) + 1e-6


def test_contribution_shares_sum_to_one(spark, sf_dir):
    rows = rel.contribution_shares(spark, sf_dir).collect()
    assert abs(sum(r["share_of_total"] for r in rows) - 1.0) < 1e-3
    by_region: dict[str, float] = {}
    for r in rows:
        by_region[r["r_name"]] = by_region.get(r["r_name"], 0.0) + r["share_of_region"]
    for region, s in by_region.items():
        assert abs(s - 1.0) < 1e-3, region


def test_growth_accounting_reconciles(spark, sf_dir):
    rows = rel.growth_accounting(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    assert rows[-1]["cum_users"] == n_users  # everyone registers eventually
    assert sum(r["n_new"] for r in rows) == n_users
    cum = 0
    for r in rows:
        assert r["n_returning"] == r["n_active"] - r["n_new"] >= 0
        cum += r["n_new"]
        assert r["cum_users"] == cum  # running sum is exact


def test_token_mi_is_nonnegative_and_doc_counted(spark, sf_dir):
    """MI of a joint distribution is ≥ 0 (up to 6dp rounding), and
    n_docs counts DOCUMENT presence (a token repeated in one doc
    counts once)."""
    rows = text.token_mutual_information(spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for r in rows:
        assert r["mi"] >= -1e-6
        n_docs = sum(1 for d in docs if r["tok"] in d["text"].split(" "))
        assert r["n_docs"] == n_docs


def test_conversion_latency_reconciles_with_funnel_semantics(spark, sf_dir):
    row = rel.conversion_latency(spark, sf_dir).collect()[0]
    assert row["n_converted"] > 0
    assert 0 <= row["p50_s"] <= row["p90_s"]
    assert row["mean_s"] >= 0
    # brute-force replay
    e = load_table(spark, sf_dir, "events").collect()
    by_user: dict[int, list] = {}
    for r in e:
        by_user.setdefault(r["user_id"], []).append(r)
    lats = []
    for u, rs in by_user.items():
        clicks = [r["ts"] for r in rs if r["event_type"] == "click"]
        if not clicks:
            continue
        c0 = min(clicks)
        purch = [r["ts"] for r in rs if r["event_type"] == "purchase" and r["ts"] >= c0]
        if purch:
            lats.append(int((min(purch) - c0).total_seconds()))
    assert row["n_converted"] == len(lats)
    assert abs(row["mean_s"] - sum(lats) / len(lats)) < 1e-6


def test_peak_concurrency_brute_force(spark, sf_dir):
    """Replay the sweep in python from the session intervals."""
    row = rel.peak_concurrency(spark, sf_dir).collect()[0]
    e = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    gap = 30 * 60
    sessions = []
    cur = None
    for r in e:
        t = r["ts"].timestamp()
        if cur and r["user_id"] == cur[0] and t - cur[2] <= gap:
            cur = (cur[0], cur[1], t)
        else:
            if cur:
                sessions.append(cur)
            cur = (r["user_id"], t, t)
    if cur:
        sessions.append(cur)
    assert row["n_sessions"] == len(sessions)
    deltas = sorted(
        [(s[1], 1) for s in sessions] + [(s[2], -1) for s in sessions],
        key=lambda d: (d[0], d[1]),
    )
    peak = run = 0
    for _, d in deltas:
        run += d
        peak = max(peak, run)
    assert row["peak_concurrency"] == peak


def test_welch_t_matches_scipy_free_formula(spark, sf_dir):
    import numpy as np

    row = rel.welch_t_test(spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events").select("user_id", "value").collect()
    a = np.array([r["value"] for r in e if r["user_id"] % 2 == 0])
    b = np.array([r["value"] for r in e if r["user_id"] % 2 == 1])
    t = (a.mean() - b.mean()) / np.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["t_stat"] - t) < 1e-4
    assert abs(row["mean_a"] - a.mean()) < 1e-4


def test_trimmed_mean_is_robust_location(spark, sf_dir):
    rows = rel.trimmed_mean(spark, sf_dir).collect()
    c = load_table(spark, sf_dir, "customer").collect()
    by_seg: dict[str, list[float]] = {}
    for r in c:
        by_seg.setdefault(r["c_mktsegment"], []).append(r["c_acctbal"])
    for r in rows:
        vals = sorted(by_seg[r["c_mktsegment"]])
        assert r["n"] == len(vals)
        # trimming keeps ~80% of rows (exact fences, inclusive; ±2
        # rows of slack for interpolation at small group sizes)
        assert 0.8 * len(vals) - 2 <= r["n_kept"] <= 0.8 * len(vals) + 3
        assert vals[0] <= r["trimmed_mean"] <= vals[-1]


def test_longest_streak_brute_force(spark, sf_dir):
    rows = {r["user_id"]: r for r in rel.longest_streak(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "events").collect()
    days: dict[int, set] = {}
    for r in e:
        days.setdefault(r["user_id"], set()).add(r["ts"].date())
    for u, ds in days.items():
        sd = sorted(ds)
        best = cur = 1
        n_streaks = 1
        for a, b in zip(sd, sd[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                n_streaks += 1
                cur = 1
            best = max(best, cur)
        assert rows[u]["longest_streak"] == best, u
        assert rows[u]["n_streaks"] == n_streaks, u


def test_copresence_bucket_blocking_is_lossless(spark, sf_dir):
    """The bucket-blocked pair set must equal the unblocked
    brute-force interval join (sessions always co-bucket at their
    overlap start — attribution is both complete and single-count)."""
    got = {
        (r["user_a"], r["user_b"], r["n_overlaps"], r["overlap_s"])
        for r in rel.session_copresence(spark, sf_dir, top_n=None).collect()
    }
    # brute force from the same session build
    e = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    gap = 30 * 60
    sessions = []
    cur = None
    for r in e:
        t = r["ts"].timestamp()
        if cur and r["user_id"] == cur[0] and t - cur[2] <= gap:
            cur = (cur[0], cur[1], t)
        else:
            if cur:
                sessions.append(cur)
            cur = (r["user_id"], t, t)
    if cur:
        sessions.append(cur)
    sessions = [s for s in sessions if s[2] > s[1]]
    agg: dict[tuple, list] = {}
    for i, a in enumerate(sessions):
        for b in sessions[i + 1:]:
            ua, ub = sorted((a[0], b[0]))
            if a[0] == b[0]:
                continue
            lo = max(a[1], b[1])
            hi = min(a[2], b[2])
            if hi > lo:
                k = (ua, ub)
                cur2 = agg.setdefault(k, [0, 0])
                cur2[0] += 1
                cur2[1] += int(hi - lo)
    brute = {(k[0], k[1], v[0], v[1]) for k, v in agg.items()}
    assert got == brute and len(got) > 0


def test_group_mode_is_the_argmax_frequency(spark, sf_dir):
    rows = {r["l_returnflag"]: r for r in rel.group_mode(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem").collect()
    from collections import Counter

    by_flag: dict[str, Counter] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], Counter())[r["l_quantity"]] += 1
    for flag, cnt in by_flag.items():
        best_n = max(cnt.values())
        best_q = min(q for q, n in cnt.items() if n == best_n)
        assert rows[flag]["mode_qty"] == best_q
        assert rows[flag]["n_occurrences"] == best_n
