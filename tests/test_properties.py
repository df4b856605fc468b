"""Property tests (SURVEY §5.3) for the pure expression kits — totality
and monotonicity of time-ago bucketing, map-default coverage for all
int inputs, toFixed parity against Python's exact-decimal model and
against node.

Spark evaluates the column expressions in ONE batch per test (one job,
not one per example) to keep the suite fast; the toFixed cases, drawn
from a seeded generator plus edge cases, share one job across three
tests.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import random
import shutil
import subprocess
import sys

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.functions.jsfmt import js_to_fixed
from etl_geonet_quakes_spark.quakes.schema import (
    DEFAULT_ICON,
    DEFAULT_INTENSITY,
    MMI_ICONS,
    MMI_INTENSITY,
    map_lookup,
)
from etl_geonet_quakes_spark.quakes import timekit

NOW_MS = 1768478400000  # 2026-01-15T12:00:00Z


def _time_ago_model(age_minutes: int) -> str:
    """Independent Python model of task.ts:111-126."""
    if age_minutes < 60:
        n, unit = age_minutes, "minute"
    elif age_minutes < 60 * 24:
        n, unit = age_minutes // 60, "hour"
    else:
        n, unit = age_minutes // (60 * 24), "day"
    return f"{n} {unit}{'' if n == 1 else 's'} ago"


def test_time_ago_matches_model_on_boundaries(spark):
    ages = [0, 1, 2, 59, 60, 61, 119, 120, 1439, 1440, 1441, 2879, 2880, 100000]
    df = spark.createDataFrame([(a,) for a in ages], "age_min long").select(
        "age_min",
        timekit.time_ago(
            F.timestamp_millis(F.lit(NOW_MS) - F.col("age_min") * 60000), NOW_MS
        ).alias("ago"),
    )
    for r in df.collect():
        assert r["ago"] == _time_ago_model(r["age_min"]), r


def test_map_lookup_total_over_int_range(spark):
    """Lookup + default is total: every mmi in [-5, 15] yields a
    non-null icon and intensity, with defaults exactly where the
    reference tables have no key (including the falsy-|| mmi=0)."""
    df = spark.createDataFrame([(i,) for i in range(-5, 16)], "mmi int").select(
        "mmi",
        map_lookup(MMI_ICONS, F.col("mmi"), DEFAULT_ICON).alias("icon"),
        map_lookup(MMI_INTENSITY, F.col("mmi"), DEFAULT_INTENSITY).alias("intensity"),
    )
    for r in df.collect():
        assert r["icon"] == MMI_ICONS.get(r["mmi"], DEFAULT_ICON)
        assert r["intensity"] == MMI_INTENSITY.get(r["mmi"], DEFAULT_INTENSITY)


# (x, digits, what node prints for x.toFixed(digits))
TO_FIXED_LITERALS = [
    (-0.04, 1, "-0.0"),
    (-0.0, 1, "0.0"),
    (5.25, 1, "5.3"),
    (12.35, 1, "12.3"),
    (0.125, 2, "0.13"),
    (-0.125, 2, "-0.13"),
    (-2.5, 0, "-3"),
    (1.005, 2, "1.00"),
]


def _to_fixed_model(x: float, digits: int) -> str:
    """ECMA-262 toFixed: round the EXACT binary value of |x| half-up
    (ties away from zero), then prefix "-" if x < 0 (so not for -0)."""
    d = decimal.Decimal(x)
    q = decimal.Decimal(1).scaleb(-digits)
    s = f"{d.copy_abs().quantize(q, rounding=decimal.ROUND_HALF_UP):.{digits}f}"
    return "-" + s if d < 0 else s


@pytest.fixture(scope="module")
def to_fixed_cases(spark):
    """[(x, digits, js_to_fixed(x, digits))] over every digit count
    0-3, from ONE Spark job."""
    rng = random.Random(20260115)
    xs = [rng.uniform(-1e6, 1e6) for _ in range(100)]
    xs += [rng.uniform(-10.0, 10.0) for _ in range(100)]
    # exact binary ties at `digits` places: odd / 2**(digits + 1)
    xs += [
        sign * rng.randrange(1, 4001, 2) / 2 ** (digits + 1)
        for digits in range(4)
        for sign in (1, -1)
        for _ in range(10)
    ]
    xs += [x for x, _, _ in TO_FIXED_LITERALS] + [0.0, 1e-7, -1e-7, 0.5, -0.5]
    rows = (
        spark.createDataFrame(list(enumerate(xs)), "i int, v double")
        .select("i", *[js_to_fixed(F.col("v"), d).alias(f"d{d}") for d in range(4)])
        .collect()
    )
    got = {r["i"]: r for r in rows}
    return [(x, d, got[i][f"d{d}"]) for i, x in enumerate(xs) for d in range(4)]


def test_js_to_fixed_matches_exact_decimal_model(to_fixed_cases):
    for x, digits, got in to_fixed_cases:
        assert got == _to_fixed_model(x, digits), (x, digits, got)


def test_js_to_fixed_node_verified_literals(to_fixed_cases):
    got = {(repr(x), d): s for x, d, s in to_fixed_cases}
    for x, digits, expect in TO_FIXED_LITERALS:
        assert got[repr(x), digits] == expect, (x, digits)


def test_tofixed_oracle_matches_node_literals():
    # the DuckDB replay of toFixed behind q02/q03's oracle
    import duckdb

    from etl_geonet_quakes_spark.queries import _TOFIX

    cases = TO_FIXED_LITERALS + [(-1.25, 1, "-1.3")]
    sql = " UNION ALL ".join(
        f"SELECT {i} AS i, {_TOFIX.format(x=f'CAST({x!r} AS DOUBLE)', f=d)} AS s"
        for i, (x, d, _) in enumerate(cases)
    )
    got = dict(duckdb.sql(sql).fetchall())
    for i, (x, digits, expect) in enumerate(cases):
        assert got[i] == expect, (x, digits, got[i])


@pytest.mark.skipif(shutil.which("node") is None, reason="node not installed")
def test_js_to_fixed_matches_node(to_fixed_cases):
    # JSON carries each double exactly (repr round-trips, -0.0 included)
    script = (
        "const c = JSON.parse(require('fs').readFileSync(0, 'utf8'));"
        "process.stdout.write(JSON.stringify(c.map(([x, d]) => x.toFixed(d))));"
    )
    node = subprocess.run(
        ["node", "-e", script],
        input=json.dumps([[x, d] for x, d, _ in to_fixed_cases]),
        capture_output=True,
        text=True,
        check=True,
    )
    for (x, digits, got), expect in zip(to_fixed_cases, json.loads(node.stdout)):
        assert got == expect, (x, digits, got, expect)


def test_js_to_fixed_matches_model_on_hard_cases(spark):
    """One job over the cases the exact method has to get right: every
    exact binary tie (odd / 2**(digits + 1)) up to 50 at digits 0-3
    and both neighbouring doubles, 2**k ± {0.5, 1} across the 2048
    split for k in 40-69, carries out of the low part, the 2**-11
    edge below which every digit count rounds to zero, and doubles
    just below 1e21."""
    xs = []
    for digits in range(4):
        for odd in range(1, 2 ** (digits + 1) * 50, 2):
            t = odd / 2 ** (digits + 1)
            xs += [t, math.nextafter(t, 0.0), math.nextafter(t, math.inf)]
    xs += [2.0**k + d for k in range(40, 70) for d in (-1.0, -0.5, 0.5, 1.0)]
    xs += [2047.9995, 2047.95, 4095.9995, 0.0005, 2.0**-11, math.nextafter(2.0**-11, 0.0)]
    x = 1e21
    for _ in range(100):
        x = math.nextafter(x, 0.0)
        xs.append(x)
    xs += [-x for x in xs]
    rows = (
        spark.createDataFrame(list(enumerate(xs + [None, math.nan])), "i int, v double")
        .select("i", *[js_to_fixed(F.col("v"), d).alias(f"d{d}") for d in range(4)])
        .collect()
    )
    assert len(rows) == len(xs) + 2
    for r in rows:
        for digits in range(4):
            want = _to_fixed_model(xs[r["i"]], digits) if r["i"] < len(xs) else None
            assert r[f"d{digits}"] == want, (r["i"], digits)


def test_js_to_fixed_outside_digit_range_raises(spark):
    # ECMA-262 prints ToString(x) there, e.g. (1e21).toFixed(1) is "1e+21"
    for x in (math.inf, -math.inf, 1e21, -(2.0**70)):
        df = spark.createDataFrame([(x,)], "v double")
        with pytest.raises(Exception, match="toFixed's digit range"):
            df.select(js_to_fixed(F.col("v"), 1)).collect()


TWO_SESSIONS = """
from pyspark.sql import functions as F
from etl_geonet_quakes_spark.functions.jsfmt import js_to_fixed
from etl_geonet_quakes_spark.session import get_spark

for _ in range(2):
    spark = get_spark("two-sessions", master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame([(12.35,)], "v double")
    print(df.select(js_to_fixed(F.col("v"), 1)).collect()[0][0], flush=True)
    spark.stop()
"""


def test_js_to_fixed_across_spark_contexts(tmp_path):
    # a UDF kept from a stopped context sends its tasks' accumulator
    # updates to that context's dead server: Spark logs an ERROR per task
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = [root] + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, path)))
    run = subprocess.run(
        [sys.executable, "-c", TWO_SESSIONS],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.split() == ["12.3", "12.3"]
    assert "Failed to update accumulator" not in run.stderr


def test_iso_roundtrip(spark):
    """ISO-8601 wire strings parse → format → identical (O15/O17)."""
    ts = [
        "2026-01-15T11:30:00.000Z",
        "2025-06-01T00:00:00.000Z",
        "2026-09-26T13:59:59.123Z",
    ]
    df = spark.createDataFrame([(t,) for t in ts], "t string").select(
        "t", timekit.iso_utc_ms(F.to_timestamp("t")).alias("back")
    )
    for r in df.collect():
        assert r["back"] == r["t"]


def test_percentile_approx_close_to_exact(spark, sf_dir):
    """q91's GK sketch at accuracy=10000 must land within rank-error
    bounds of the exact quantile — on sf0.001/sf0.01 group sizes
    (n < accuracy) GK degenerates to exact, so the tolerance is tight."""
    from etl_geonet_quakes_spark.operators.relational import (
        percentile_approx_summary,
        percentiles,
    )

    approx = {
        r["o_orderstatus"]: r for r in percentile_approx_summary(spark, sf_dir).collect()
    }
    exact = {r["o_orderstatus"]: r for r in percentiles(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    for status, a in approx.items():
        e = exact[status]
        for p in ("p25", "p50", "p75"):
            # exact is interpolated (quantile_cont), approx returns a
            # data value — allow a 1%-of-range slack
            rng = e["max_price"] - e["min_price"]
            assert abs(a[p] - e[p]) <= 0.01 * rng, (status, p, a[p], e[p])


def test_approx_count_distinct_within_rsd_bounds(spark, sf_dir):
    """q54's HLL++ sketch is the registry's only value-uncheckable
    query (sketch internals are engine-specific, so no DuckDB oracle).
    This pins its VALUES in-repo instead: per group, the approximate
    distinct count must land within a conservative multiple of the
    requested rsd (0.01) of the exact distinct count — 5 sigma plus a
    tiny absolute slack for small groups, where HLL++'s sparse mode is
    effectively exact. Exact counts themselves are hash-checked
    cross-engine via q51, so this transitively anchors q54 to the
    oracle-verified surface. Round-9: the exact count and rel_err are
    now PINNED COLUMNS of q54 itself, so the bound is asserted on the
    query's own output — and exact_parts is independently recomputed
    here so the query can't self-certify."""
    from etl_geonet_quakes_spark.operators.relational import agg_approx_distinct

    from etl_geonet_quakes_spark.io import load_table

    rows = {r["l_returnflag"]: r for r in agg_approx_distinct(spark, sf_dir).collect()}
    exact = {
        r["l_returnflag"]: r["exact_parts"]
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    assert set(rows) == set(exact)
    for flag, r in rows.items():
        a, e = r["approx_parts"], exact[flag]
        # the query's own exact column must equal the independent one
        assert r["exact_parts"] == e, (flag, r["exact_parts"], e)
        assert abs(a - e) <= max(5 * 0.01 * e, 2), (flag, a, e)
        assert r["rel_err"] == round(abs(a - e) / e, 6), (flag, r["rel_err"])


def test_bloom_filter_never_false_negative(spark, sf_dir):
    """The bloom guarantee is one-sided: a key that was INSERTED must
    always pass the probe (false positives allowed, false negatives
    never). Probe the filter with the exact build-side keys — every
    one must pass, at any fill factor."""
    from pyspark.sql import functions as FF

    from etl_geonet_quakes_spark.io import load_table
    from etl_geonet_quakes_spark.operators.relational import (
        BLOOM_M,
        _bloom_positions,
    )

    c = load_table(spark, sf_dir, "customer").filter(FF.col("c_acctbal") > 7500.0)
    pos = c.select(
        FF.explode(
            FF.array(*_bloom_positions(FF.col("c_custkey").cast("string")))
        ).alias("p")
    )
    pos_set = pos.agg(FF.collect_set("p").alias("ps"))
    n_words = BLOOM_M // 64
    words = FF.transform(
        FF.sequence(FF.lit(0), FF.lit(n_words - 1)),
        lambda w: FF.aggregate(
            FF.filter(FF.col("ps"), lambda p: FF.shiftright(p, 6) == w),
            FF.lit(0).cast("long"),
            lambda acc, p: acc.bitwiseOR(
                FF.call_function(
                    "shiftleft", FF.lit(1).cast("long"), p.bitwiseAND(FF.lit(63))
                )
            ),
        ),
    )
    bits = pos_set.select(words.alias("bits"))
    probe_pos = _bloom_positions(FF.col("c_custkey").cast("string"))
    passes = FF.lit(True)
    for p in probe_pos:
        word = FF.element_at(FF.col("bits"), FF.shiftright(p, 6) + 1)
        passes = passes & (
            FF.call_function("shiftright", word, p.bitwiseAND(FF.lit(63)))
            .bitwiseAND(FF.lit(1))
            == 1
        )
    n_keys = c.count()
    n_pass = c.crossJoin(bits).filter(passes).count()
    assert n_pass == n_keys, (n_pass, n_keys)


@given(
    st.lists(
        st.frozensets(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_prefix_filter_theorem(sets):
    """The completeness theorem q125's oracle validity rests on: for
    ANY corpus and any pair with J(A,B) ≥ τ, the prefixes (first
    |X| − ⌈τ|X|⌉ + 1 elements in global ascending-frequency order,
    ties by value) intersect. Pure-Python model over random set
    corpora — if this ever fails the candidate join has false
    negatives and the oracle comparison is invalid."""
    tau_num, tau_den = 7, 10
    freq: dict[int, int] = {}
    for s in sets:
        for t in s:
            freq[t] = freq.get(t, 0) + 1
    order = lambda t: (freq[t], t)  # noqa: E731

    def prefix(s):
        n = len(s)
        ceil_tau = (tau_num * n + tau_den - 1) // tau_den
        return set(sorted(s, key=order)[: n - ceil_tau + 1])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            union = len(a | b)
            if tau_den * inter >= tau_num * union:
                assert prefix(a) & prefix(b), (a, b)
