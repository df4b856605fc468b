"""The row-sweep's oversized-result checksum fallback (round 13).

Institutionalizes the q88 sf1.0 lesson: the row-level parity sweep
collected a 109M-row result straight into an 8 GiB driver heap and
OOMed before it could decide anything. `tools/parity_sweep.compare_one`
now fetches via ``limit(budget+1)`` — CollectLimit terminates the scan
early — and, when the budget is exceeded, proves value equality with
the collect-free checksum protocol (order-independent DECIMAL(38,0)
sum of md5-60bit row hashes + COUNT(*), computed inside each engine).

These tests drive `compare_one` directly with a synthetic spec so the
oversized path is exercised without a multi-million-row fixture: a
1,000-row result against a 100-row budget MUST take the checksum path
and still verify; the same result under the default budget MUST take
the row-level path; a float-typed oversized result MUST refuse loudly
(floats would compare formatting, not values); and a value divergence
MUST surface as checksum_mismatch, not a silent pass.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity_sweep import compare_one, shared_oracles, sweep  # noqa: E402


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _synthetic_spec(n: int = 1000):
    """1,000 rows of (bigint id, string v) — checksum-safe types."""
    return SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, n).select(
            F.col("id").cast("bigint").alias("id"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        ),
        oracle=(
            f"SELECT id::BIGINT AS id, 'v' || id::VARCHAR AS v "
            f"FROM range(0, {n}) t(id)"
        ),
    )


def test_oversized_result_takes_checksum_path(spark, con):
    entry = compare_one(spark, con, _synthetic_spec(), row_budget=100)
    assert entry["status"] == "checksum_match"
    assert entry["spark_rows"] == entry["oracle_rows"] == 1000
    assert entry["spark_checksum"] == entry["oracle_checksum"]
    assert entry["row_budget"] == 100


def test_within_budget_stays_row_level(spark, con):
    entry = compare_one(spark, con, _synthetic_spec(), row_budget=5000)
    assert entry["status"] == "match"
    assert entry["spark_rows"] == entry["oracle_rows"] == 1000
    assert "spark_checksum" not in entry


def test_shared_oracle_sql_runs_once_per_sweep(spark, con):
    """Entries whose oracle SQL differs only in whitespace (the
    q38/q151 kind) run it once per sweep and both still compare."""

    class CountingCon:
        def __init__(self):
            self.runs = 0

        def sql(self, query):
            self.runs += 1
            return con.sql(query)

    a, b = _synthetic_spec(50), _synthetic_spec(50)
    b.oracle = "\n  " + a.oracle.replace(" ", "\n    ")
    counting = CountingCon()
    memo = shared_oracles({"a": a, "b": b, "c": _synthetic_spec(60)})
    assert len(memo) == 1
    for spec in (a, b):
        entry = compare_one(spark, counting, spec, oracle_memo=memo)
        assert entry["status"] == "match"
        assert entry["oracle_rows"] == 50
    assert counting.runs == 1


def test_oversized_float_result_refuses_loudly(spark, con):
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, 1000).select(
            (F.col("id") * 0.5).alias("x")
        ),
        oracle="SELECT id * 0.5 AS x FROM range(0, 1000) t(id)",
    )
    entry = compare_one(spark, con, spec, row_budget=100)
    assert entry["status"] == "error"
    assert "ChecksumTypeError" in entry["err"]


def test_oversized_value_divergence_is_caught(spark, con):
    spec = _synthetic_spec()
    # Oracle deviates in exactly one row's value: same count, so only
    # the hash-sum can catch it.
    spec.oracle = (
        "SELECT id::BIGINT AS id, "
        "CASE WHEN id = 500 THEN 'DIVERGED' ELSE 'v' || id::VARCHAR END AS v "
        "FROM range(0, 1000) t(id)"
    )
    entry = compare_one(spark, con, spec, row_budget=100)
    assert entry["status"] == "checksum_mismatch"
    assert entry["spark_rows"] == entry["oracle_rows"] == 1000


def test_wide_rows_trip_byte_budget_into_checksum_path(spark, con):
    # Round-14 verdict item 6: a pure ROW budget assumes narrow rows.
    # 2,000 rows of ~100 KB strings (~200 MB) are far under the 5M
    # default row budget, but under a 10 MB BYTE budget the sweep
    # must shrink the effective row budget from the width sample and
    # take the collect-free checksum path instead of materializing
    # the result on the driver.
    n = 2000
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, n).select(
            F.col("id").cast("bigint").alias("id"),
            F.concat(
                F.lpad(F.col("id").cast("string"), 8, "0"),
                F.lit("x" * 100_000),
            ).alias("blob"),
        ),
        oracle=(
            f"SELECT id::BIGINT AS id, "
            f"lpad(id::VARCHAR, 8, '0') || repeat('x', 100000) AS blob "
            f"FROM range(0, {n}) t(id)"
        ),
    )
    entry = compare_one(spark, con, spec, byte_budget=10 * 1024**2)
    assert entry["status"] == "checksum_match"
    assert entry["spark_rows"] == entry["oracle_rows"] == n
    # the effective budget must have been shrunk well below the rows
    assert entry["row_budget"] < n


def test_null_vs_literal_null_string_diverges(spark, con):
    # Round-14 ADVICE: the old '<NULL>' sentinel hashed a real NULL
    # and the literal six-character string '<NULL>' identically. The
    # length-prefixed encoding must catch that divergence.
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, 200).select(
            F.col("id").cast("bigint").alias("id"),
            F.lit(None).cast("string").alias("c"),
        ),
        oracle=(
            "SELECT id::BIGINT AS id, '<NULL>' AS c "
            "FROM range(0, 200) t(id)"
        ),
    )
    entry = compare_one(spark, con, spec, row_budget=50)
    assert entry["status"] == "checksum_mismatch"


def test_separator_inside_values_does_not_alias(spark, con):
    # Values containing the separator/sentinel characters must not
    # alias across column boundaries: ('a\x1eb', 'c') vs ('a', 'b\x1ec')
    # concatenate identically without length prefixes.
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, 100).select(
            F.col("id").cast("bigint").alias("id"),
            F.lit("a\x1eb").alias("c1"),
            F.lit("c").alias("c2"),
        ),
        oracle=(
            "SELECT id::BIGINT AS id, 'a' AS c1, "
            "'b' || chr(30) || 'c' AS c2 FROM range(0, 100) t(id)"
        ),
    )
    entry = compare_one(spark, con, spec, row_budget=50)
    assert entry["status"] == "checksum_mismatch"


def test_null_placement_changes_checksum(spark, con):
    # The ADVICE NULL hazard: concat_ws skips nulls on both engines,
    # so ('a', NULL, 'b') and ('a', 'b', NULL) hash identically
    # without the per-column sentinel. With it, swapping which column
    # is NULL must be a mismatch.
    spec = SimpleNamespace(
        fn=lambda spark, sf_dir: spark.range(0, 200).select(
            F.col("id").cast("bigint").alias("id"),
            F.when(F.col("id") % 2 == 0, F.lit("a")).alias("c1"),
            F.when(F.col("id") % 2 == 1, F.lit("a")).alias("c2"),
        ),
        # Oracle swaps c1/c2 null placement relative to the Spark side.
        oracle=(
            "SELECT id::BIGINT AS id, "
            "CASE WHEN id % 2 = 1 THEN 'a' END AS c1, "
            "CASE WHEN id % 2 = 0 THEN 'a' END AS c2 "
            "FROM range(0, 200) t(id)"
        ),
    )
    entry = compare_one(spark, con, spec, row_budget=50)
    assert entry["status"] == "checksum_mismatch"


def test_sweep_writes_each_finished_entry(spark, con, tmp_path):
    """The artifact is on disk after every entry, so a sweep stopped
    mid-way keeps what it matched: the second entry reads the file
    while it is being compared and finds the first one there."""
    import json

    out = tmp_path / "PARITY.json"
    seen = []

    def read_then_build(spark, sf_dir):
        seen.append(json.loads(out.read_text()))
        return _synthetic_spec(20).fn(spark, sf_dir)

    second = SimpleNamespace(fn=read_then_build, oracle=_synthetic_spec(20).oracle)
    artifact = sweep(spark, con, {"a": _synthetic_spec(10), "b": second}, str(out))
    assert seen[0]["n_done"] == 1 and seen[0]["queries"]["a"]["status"] == "match"
    assert artifact["n_match"] == artifact["n_done"] == artifact["n_total"] == 2
    assert json.loads(out.read_text())["queries"] == artifact["queries"]
    assert not (tmp_path / "PARITY.json.tmp").exists()
