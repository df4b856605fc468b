"""Round-7 behavior pins: degenerate-split PSI, sparse-key feeds,
epoch-idempotent incremental state, distinct-doc copy attribution."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.operators import relational as rel
from etl_geonet_quakes_spark.streaming.feed import write_micro_batch_feed
from etl_geonet_quakes_spark.streaming import incremental as sti


def test_psi_drift_degenerate_split_emits_nulls(spark, sf_dir):
    """A split date outside the data range puts every order on one
    side: the empty side's share must be NULL (not DIVIDE_BY_ZERO —
    Spark 4 runs ANSI mode by default)."""
    out = rel.psi_drift(spark, sf_dir, split_date="1990-01-01").collect()
    assert out, "expected rows"
    for r in out:
        assert r["n_old"] == 0
        assert r["p_old"] is None  # empty side: NULL share, no raise
        assert r["p_new"] is not None
        assert r["psi_term"] is None  # needs both sides populated
    out2 = rel.psi_drift(spark, sf_dir, split_date="2090-01-01").collect()
    for r in out2:
        assert r["n_new"] == 0 and r["p_new"] is None


def test_feed_sparse_keys_writes_empty_batches(spark, tmp_path):
    """Keys occupying a single residue class still produce one file
    per batch — empty parquet with the source schema — so the replay
    sees n_batches micro-batches regardless of key skew."""
    src = spark.createDataFrame(
        [(0, "x"), (3, "y"), (6, "z")], "doc_id long, text string"
    )
    base = str(tmp_path / "sparse")
    os.makedirs(base)
    feed = write_micro_batch_feed(src, base, 3, "doc_id")
    files = sorted(os.listdir(feed))
    assert files == ["b0.parquet", "b1.parquet", "b2.parquet"]
    back = spark.read.schema("doc_id long, text string").parquet(feed)
    assert back.count() == 3  # empty batches contribute zero rows
    empty = spark.read.parquet(os.path.join(feed, "b1.parquet"))
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "text"]


def test_incremental_state_epoch_idempotent(spark, tmp_path):
    """A replayed epoch whose state version is already committed must
    rewrite that version from the same predecessor, not merge twice:
    wipe the stream checkpoint (so availableNow replays epochs 0..2
    against the surviving state dir) and verify the final counts are
    unchanged — a double-merge would double them."""
    docs = [(i, f"w{i % 4} common") for i in range(12)]
    src = spark.createDataFrame(docs, "doc_id long, text string")
    fixture = str(tmp_path / "fix")
    os.makedirs(fixture)
    src.selectExpr(
        "doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")

    base = str(tmp_path / "inc")
    os.makedirs(base)
    feed = write_micro_batch_feed(
        spark.read.parquet(f"{fixture}/documents.parquet")
        .select("doc_id", "text"),
        base, 3, "doc_id",
    )

    def partial(bdf):
        return (
            bdf.select(F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("n"))
        )

    def merge(prev, cur):
        return (
            prev.unionByName(cur).groupBy("tok").agg(F.sum("n").alias("n"))
        )

    first = sti.run_versioned_merge_stream(
        spark, feed, "doc_id long, text string", "tok string, n long",
        base, partial, merge,
    )
    got1 = {(r["tok"], r["n"]) for r in first.collect()}
    assert ("common", 12) in got1

    # lost-checkpoint restart: epochs 0..2 replay against committed state
    shutil.rmtree(os.path.join(base, "_checkpoint"))
    second = sti.run_versioned_merge_stream(
        spark, feed, "doc_id long, text string", "tok string, n long",
        base, partial, merge,
    )
    got2 = {(r["tok"], r["n"]) for r in second.collect()}
    assert got2 == got1  # idempotent: no double-merge


def test_source_copy_matrix_counts_distinct_docs(spark, tmp_path):
    """docs_a/docs_b are distinct documents sharing material, NOT
    doc-shingle incidences: two shared 8-grams carried by the same
    two docs must count 2 docs, not 4 incidences."""
    from etl_geonet_quakes_spark.llm.text import source_copy_matrix

    sh1 = "a b c d e f g h"
    sh2 = "p q r s t u v w"
    rows = [
        (1, f"{sh1} {sh2} uniq1a", "srcA"),
        (2, f"{sh1} {sh2} uniq2a", "srcA"),
        (3, f"{sh1} {sh2} uniq3b", "srcB"),
    ]
    fixture = str(tmp_path / "copyfix")
    os.makedirs(fixture)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")
    out = source_copy_matrix(spark, fixture, n=8).collect()
    row = {(r["source_a"], r["source_b"]): r for r in out}[("srcA", "srcB")]
    assert row["docs_a"] == 2  # distinct docs, not 2 docs × 2 shingles
    assert row["docs_b"] == 1
    # both 8-grams shared, plus the sliding windows that span sh1→sh2
    assert row["n_shared_shingles"] >= 2


def test_time_ordered_feed_orders_batches_and_stamps_mtimes(spark, tmp_path):
    """write_time_ordered_feed: batch files partition rows into
    non-overlapping ascending time ranges, trailing batches append
    after them, and mtimes strictly increase in that same order
    (FileStreamSource replays by mtime — the invariant q214's
    watermark correctness hangs on)."""
    from etl_geonet_quakes_spark.streaming.feed import write_time_ordered_feed

    df = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=F.col("id"))).alias("ts"),
    )
    sentinel = df.limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    base = str(tmp_path / "feed_base")
    os.makedirs(base)
    feed = write_time_ordered_feed(df, base, 4, "ts", trailing=(sentinel,))

    files = sorted(os.listdir(feed))
    assert files == ["b000.parquet", "b001.parquet", "b002.parquet",
                     "b003.parquet", "b004.parquet"]
    mtimes = [os.path.getmtime(os.path.join(feed, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)

    prev_max = None
    total = 0
    for f in files[:4]:
        part = spark.read.parquet(os.path.join(feed, f))
        lo, hi = part.agg(F.min("ts"), F.max("ts")).first()
        n = part.count()
        assert n > 0
        total += n
        if prev_max is not None:
            assert lo > prev_max  # ranges never interleave
        prev_max = hi
    assert total == 100
    trail = spark.read.parquet(os.path.join(feed, files[4]))
    assert [r.event_id for r in trail.collect()] == [-1]


def test_jl_signs_deterministic_and_inlined_in_oracle():
    """The Rademacher matrix is md5-derived (no rng state in the
    contract): regenerating it must reproduce the exact literal the
    q219 oracle carries, so the two engines can never drift."""
    from etl_geonet_quakes_spark.llm.similarity import DIM, JL_K, jl_signs
    from etl_geonet_quakes_spark.queries import SPECS

    m = jl_signs()
    assert len(m) == JL_K and all(len(r) == DIM for r in m)
    assert all(v in (-1, 1) for r in m for v in r)
    # both signs actually occur (a degenerate all-+1 matrix would
    # collapse the projection to a plain coordinate sum)
    flat = [v for r in m for v in r]
    assert -1 in flat and 1 in flat
    lit = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in m
    ) + "]"
    assert lit in SPECS["q219_jl_projection"].oracle


def test_jl_distortion_concentrates_near_one(spark, sf_dir):
    """JL lemma sanity on the fixture: the mean distortion over the
    sampled pairs sits near 1 (unbiasedness of the Rademacher
    sketch), and no pair collapses to zero."""
    from etl_geonet_quakes_spark.llm.similarity import jl_projection_audit

    rows = jl_projection_audit(spark, sf_dir).collect()
    assert rows, "sampled pair set must be non-empty"
    ds = [r["distortion"] for r in rows]
    assert all(d > 0 for d in ds)
    mean = sum(ds) / len(ds)
    assert 0.7 < mean < 1.3, mean


def test_record_linkage_blocking_is_lossless(spark, sf_dir):
    """The balance-bucket blocking with adjacent-bucket replication
    must link EXACTLY the customers an unblocked banded cross-join
    links — including across negative-balance bucket boundaries
    (floor-div, not trunc-div)."""
    from pyspark.sql import functions as F

    from etl_geonet_quakes_spark.io import load_table
    from etl_geonet_quakes_spark.operators.relational import record_linkage

    blocked = record_linkage(spark, sf_dir, band_cents=2000)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("c_cents"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("s_cents"),
    )
    unblocked = (
        c.crossJoin(s)
        .filter(F.abs(F.col("c_cents") - F.col("s_cents")) <= 2000)
        .select("c_custkey")
        .distinct()
    )
    got = sorted(r["c_custkey"] for r in blocked.select("c_custkey").collect())
    want = sorted(r["c_custkey"] for r in unblocked.collect())
    assert got and got == want


def test_ivm_refresh_exercises_delta_born_groups(spark, sf_dir):
    """The full-outer + coalesce merge must be live on both legs:
    the fixture has groups carried over untouched (n_delta_orders =
    0) AND groups with delta activity; totals reconcile."""
    from etl_geonet_quakes_spark.operators.relational import (
        ivm_incremental_refresh,
    )

    rows = ivm_incremental_refresh(spark, sf_dir).collect()
    assert any(r["n_delta_orders"] == 0 for r in rows)
    assert any(r["n_delta_orders"] > 0 for r in rows)
    # delta-born groups (all orders in delta) prove the full-outer
    # leg where base has no row
    assert any(r["n_delta_orders"] == r["n_orders"] for r in rows)
    assert all(0 <= r["n_delta_orders"] <= r["n_orders"] for r in rows)


def test_label_propagation_rounds_are_live(spark, sf_dir):
    """Guard against the vacuous-seed degeneracy: the fixture's dup
    clusters sit at id stride 20, so a seed_mod dividing 20 labels
    nothing. With the registered mod-7 seeds, BOTH propagation
    rounds must assign labels, seeds stay clamped, and unreached
    docs stay NULL."""
    from collections import Counter

    from etl_geonet_quakes_spark.llm.dedup import label_propagation

    rows = label_propagation(spark, sf_dir).collect()
    rounds = Counter(r["labeled_round"] for r in rows)
    assert rounds[0] > 0 and rounds[1] > 0 and rounds[2] > 0, rounds
    assert all(
        (r["label"] is None) == (r["labeled_round"] is None) for r in rows
    )
    # degeneracy probe: stride-divisor seeds label nobody beyond the
    # seed set (documents the WHY of mod 7)
    deg = Counter(
        r["labeled_round"]
        for r in label_propagation(spark, sf_dir, seed_mod=5).collect()
    )
    assert deg[1] == 0 and deg[2] == 0


def test_ks_statistic_bounds_and_argmax_determinism(spark, sf_dir):
    """KS numerator ≤ n_a·n_b (D ≤ 1), ks reproduces num/denominator,
    and the argmax value actually attains the max."""
    from etl_geonet_quakes_spark.operators.relational import ks_two_sample

    r = ks_two_sample(spark, sf_dir).collect()[0]
    assert 0 < r["ks_num"] <= r["n_a"] * r["n_b"]
    assert abs(r["ks"] - r["ks_num"] / (r["n_a"] * r["n_b"])) < 1e-6


def test_centroid_drift_self_half_is_identity(spark, sf_dir):
    """Sanity: cosine between the two halves' centroids is high for
    a stable corpus (same distribution both halves) and l2_drift is
    finite and positive; every label appears exactly once."""
    from etl_geonet_quakes_spark.llm.similarity import centroid_drift

    rows = centroid_drift(spark, sf_dir).collect()
    labels = [r["label"] for r in rows]
    assert len(labels) == len(set(labels))
    assert all(r["n_even"] > 0 and r["n_odd"] > 0 for r in rows)
    assert all(0.0 < r["l2_drift"] for r in rows)
    assert all(-1.0 <= r["cos_sim"] <= 1.0 for r in rows)


def test_mann_whitney_u_bounds(spark, sf_dir):
    """0 ≤ U ≤ n_a·n_b, u_stat reproduces two_u/2, z finite."""
    import math

    from etl_geonet_quakes_spark.operators.relational import mann_whitney_u

    r = mann_whitney_u(spark, sf_dir).collect()[0]
    assert 0 <= r["two_u"] <= 2 * r["n_a"] * r["n_b"]
    assert abs(r["u_stat"] - r["two_u"] / 2) < 1e-9
    assert math.isfinite(r["z_value"])


def test_waiting_suppliers_threshold_monotone(spark, sf_dir):
    """An impossible lateness threshold empties the result, and every
    reported supplier waits at least once at the default threshold."""
    from etl_geonet_quakes_spark.operators.relational import waiting_suppliers

    rows = waiting_suppliers(spark, sf_dir).collect()
    assert rows and all(r["numwait"] >= 1 for r in rows)
    assert waiting_suppliers(spark, sf_dir, late_days=100_000).count() == 0


def test_small_quantity_unknown_type_is_empty_aggregate(spark, sf_dir):
    """Unknown p_type leaves the single aggregate row with zero lines
    and NULL revenue (global agg over an empty selection)."""
    from etl_geonet_quakes_spark.operators.relational import (
        small_quantity_revenue,
    )

    r = small_quantity_revenue(spark, sf_dir, p_type="NO_SUCH").collect()[0]
    assert r["n_lines"] == 0 and r["revenue_cents"] is None
    d = small_quantity_revenue(spark, sf_dir).collect()[0]
    assert d["n_lines"] > 0 and d["revenue_cents"] > 0


def test_global_sales_candidates_nonvacuous(spark, sf_dir):
    """The anti-join leg must actually fire on this fixture (every
    customer has ordered — the urgent-order predicate keeps Q22's
    shape non-vacuous) and balances are above the positive average."""
    from etl_geonet_quakes_spark.operators.relational import (
        global_sales_opportunity,
    )

    rows = global_sales_opportunity(spark, sf_dir).collect()
    assert sum(r["numcust"] for r in rows) > 0
    assert all(r["totacctbal_cents"] > 0 for r in rows)


def test_allen_census_is_exhaustive_partition(spark, sf_dir):
    """Every user/type pair lands in exactly one of the 13 relations:
    Σ n_pairs equals the directly-counted number of proper-interval
    type pairs per user, and labels stay within the taxonomy."""
    from etl_geonet_quakes_spark.operators.relational import (
        allen_interval_census,
    )

    rows = allen_interval_census(spark, sf_dir).collect()
    labels = {
        "before", "meets", "overlaps", "finished_by", "contains",
        "starts", "equals", "started_by", "after", "met_by",
        "during", "finishes", "overlapped_by",
    }
    assert {r["relation"] for r in rows} <= labels
    from pyspark.sql import functions as F

    from etl_geonet_quakes_spark.io import load_table

    iv = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
        .filter(F.col("s") < F.col("e"))
        .groupBy("user_id")
        .agg(F.count("*").alias("t"))
        .select(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("np"))
        .collect()[0]["np"]
    )
    assert sum(r["n_pairs"] for r in rows) == int(iv)


def test_cusum_matches_sequential_fold(spark, sf_dir):
    """The window identity S_t = cum_t − min(0, running-min cum) must
    equal the literal sequential fold S_t = max(0, S_{t−1} + (x_t−k))
    — recomputed here per region with a plain Python loop over the
    daily counts (an independent derivation, unlike the oracle which
    mirrors the identity)."""
    import duckdb

    from etl_geonet_quakes_spark.operators.relational import (
        cusum_changepoint,
    )

    got = {r["r_name"]: r for r in cusum_changepoint(spark, sf_dir).collect()}
    con = duckdb.connect()
    daily = con.sql(
        f"""
        SELECT r_name, CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x
        FROM read_parquet('{sf_dir}/orders.parquet') o
        JOIN read_parquet('{sf_dir}/customer.parquet') c ON c_custkey = o_custkey
        JOIN read_parquet('{sf_dir}/nation.parquet') n ON n_nationkey = c_nationkey
        JOIN read_parquet('{sf_dir}/region.parquet') r ON r_regionkey = n_regionkey
        GROUP BY 1, 2 ORDER BY r_name, day
        """
    ).fetchall()
    from collections import defaultdict

    series = defaultdict(list)
    for r_name, day, x in daily:
        series[r_name].append((day, x))
    assert set(series) == set(got)
    for r_name, pts in series.items():
        k = sum(x for _, x in pts) // len(pts)
        s, peak, at = 0, -1, None
        for day, x in pts:
            s = max(0, s + (x - k))
            if s > peak:
                peak, at = s, day
        g = got[r_name]
        assert g["k"] == k and g["n_days"] == len(pts)
        assert g["peak_cusum"] == peak and g["at_day"] == at


def test_mixture_rebalance_apportionment_invariants(spark, sf_dir):
    """Quotas sum exactly to the budget, extras go only to the
    largest remainders, and the draw takes min(quota, n_docs)."""
    from etl_geonet_quakes_spark.llm.corpus import mixture_rebalance

    rows = mixture_rebalance(spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == 997
    assert all(r["extra"] in (0, 1) for r in rows)
    min_extra_rem = min(
        (r["remainder"] for r in rows if r["extra"] == 1), default=None
    )
    if min_extra_rem is not None:
        # no skipped source may out-remainder a seated one
        assert all(
            r["remainder"] <= min_extra_rem
            for r in rows
            if r["extra"] == 0
        )
    assert all(
        r["n_sampled"] == min(r["quota"], r["n_docs"]) for r in rows
    )


def test_dsir_scores_cover_corpus_and_separate_target(spark, sf_dir):
    """One score per document; token counts match the raw split; the
    target source's mean score exceeds the non-target mean (the
    log-ratio must actually point toward src0)."""
    from pyspark.sql import functions as F

    from etl_geonet_quakes_spark.io import load_table
    from etl_geonet_quakes_spark.llm.text import dsir_importance

    sc = dsir_importance(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    assert sc.count() == docs.count()
    j = sc.join(docs, "doc_id").select(
        "source", "dsir_score", "n_tokens",
        F.size(F.split("text", " ")).alias("raw_n"),
    )
    rows = j.collect()
    assert all(r["n_tokens"] == r["raw_n"] for r in rows)
    tgt = [r["dsir_score"] for r in rows if r["source"] == "src0"]
    rest = [r["dsir_score"] for r in rows if r["source"] != "src0"]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_time_ordered_feed_rejects_empty_df(spark, tmp_path):
    """An empty (or all-null-ts) frame has no time range to slice:
    the writer must fail loudly rather than produce an empty feed
    that would make every downstream watermark replay vacuously
    pass (round-7 advisor finding: previously a bare TypeError on
    None - None)."""
    import pytest as _pytest

    from etl_geonet_quakes_spark.streaming.feed import write_time_ordered_feed

    df = spark.range(0).select(
        F.col("id").alias("event_id"),
        F.col("id").cast("timestamp").alias("ts"),
    )
    base = str(tmp_path / "empty_feed_base")
    os.makedirs(base)
    with _pytest.raises(ValueError, match="no rows"):
        write_time_ordered_feed(df, base, 4, "ts")


def test_far_future_sentinel_batches_shape(spark):
    """The hoisted q214 sentinel recipe: n single-row batches, ts =
    max + horizon, id_col = -1-j, overrides applied, everything else
    typed NULL."""
    from etl_geonet_quakes_spark.streaming.feed import (
        far_future_sentinel_batches,
    )

    df = spark.range(5).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(days=F.col("id"))).alias("ts"),
        F.col("id").alias("user_id"),
        F.lit("click").alias("event_type"),
    )
    s0, s1 = far_future_sentinel_batches(
        df, "ts",
        row={"event_type": F.lit("sentinel")},
        id_col="event_id",
        horizon="INTERVAL 10 DAYS",
    )
    r0, r1 = s0.first(), s1.first()
    assert (r0["event_id"], r1["event_id"]) == (-1, -2)
    assert r0["event_type"] == r1["event_type"] == "sentinel"
    assert r0["user_id"] is None
    assert str(r0["ts"]) == "2024-01-15 00:00:00"  # max 2024-01-05 + 10d
    # names/types match (nullability legitimately differs: the typed
    # NULLs are nullable where the source literals were not)
    assert [(f.name, f.dataType) for f in s0.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
