"""Full-registry Spark-vs-DuckDB oracle parity at an arbitrary scale
factor — round-10 verdict item 5: parity was proven at sf0.001 (test
suite) and sf0.01 (driver gate) only, and the q358 int64 overflow +
the round-9 Haar ulp issue show scale-dependent divergence is real.
This sweeps EVERY oracled query at the bench scale (default sf0.1)
and writes one JSON artifact; mismatching queries get their first
diverging rows recorded instead of aborting the sweep.

    python tools/parity_sweep.py                    # sf0.1 -> PARITY_sf0.1.json
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/parity_sweep.py OUT.json
    # subset sweep (e.g. the scale-sensitive class at the tiled sf0.3
    # fixture — see tools/scale_sensitive.py): comma-separated exact
    # names in SPARK_GRAFT_QUERIES, or a file of names (one per line)
    SPARK_GRAFT_QUERIES=q01_pricing_summary,q179_decayed_average \
        python tools/parity_sweep.py OUT.json
    SPARK_GRAFT_QUERIES=@/tmp/names.txt python tools/parity_sweep.py OUT.json

Comparison is the test_oracle_parity contract verbatim: sort columns
by name, canonicalize cells (NaN sentinel, ISO dates, numpy→python),
sort rows by repr, require equal column names, counts, and values.

Oversized results (round 13): rows are fetched via limit(budget+1)
(SPARK_GRAFT_ROW_BUDGET, default 5M) so a Θ(output) query can never
OOM the driver mid-sweep; past the budget the sweep switches to the
collect-free checksum protocol (tools/parity_checksum.py) and records
status "checksum_match" — the scalable parity mode, counted as green.
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from etl_geonet_quakes_spark.io import TABLES  # noqa: E402
from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402
from etl_geonet_quakes_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import _normalize  # noqa: E402
from tools.parity_checksum import ChecksumTypeError, checksum_compare  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Driver-side row budget for the row-level compare (round 13,
# institutionalizing the q88 lesson: its 109M-row sf1.0 collect OOMed
# an 8 GiB driver heap before the sweep could notice). Results are
# fetched via limit(budget+1) — CollectLimit stops early, so a huge
# result costs one early-terminated scan, not a full materialization.
# When the limit is hit the sweep falls back to the collect-free
# checksum protocol (tools/parity_checksum.py) instead of OOMing.
ROW_BUDGET = int(os.environ.get("SPARK_GRAFT_ROW_BUDGET", "5000000"))

# Driver-side BYTE budget (round 14, verdict item 6): a pure row
# budget assumes narrow rows — 5M rows of megabyte-wide text would
# blow the driver before the checksum path ever engaged. compare_one
# first collects a small width sample (limit(256), early-terminated
# like the main probe), estimates the mean driver-side row width from
# it, and shrinks the effective row budget to byte_budget / width.
BYTE_BUDGET = int(os.environ.get("SPARK_GRAFT_BYTE_BUDGET", str(2 * 1024**3)))
_WIDTH_SAMPLE_ROWS = 256


def _row_width(row) -> int:
    """Rough driver-heap bytes for one collected row: sum of per-cell
    repr lengths + a fixed per-cell object overhead. A proxy, not an
    accounting — it only needs to be the right order of magnitude to
    keep wide-row results out of the driver."""
    total = 0
    for cell in row:
        total += 48  # python object / Row-slot overhead
        if isinstance(cell, (str, bytes, bytearray)):
            total += len(cell)
        elif isinstance(cell, (list, tuple, dict)):
            total += len(repr(cell))
    return total


def _sql_key(sql: str) -> str:
    return " ".join(sql.split())


def shared_oracles(specs: dict) -> dict:
    """An empty memo slot per oracle SQL that more than one of
    ``specs`` runs (whitespace-normalized), for compare_one to fill:
    within one sweep such entries run their oracle once."""
    n = collections.Counter(
        _sql_key(spec.oracle) for spec in specs.values() if spec.oracle
    )
    return {key: None for key, c in n.items() if c > 1}


def _oracle_rows(con, sql: str, memo: dict | None) -> tuple:
    """The oracle's normalized (columns, rows), taken from ``memo``
    when it holds them and stored there when it has a slot for them."""
    key = _sql_key(sql)
    if memo and memo.get(key) is not None:
        return memo[key]
    res = con.sql(sql)
    rows = _normalize(list(res.columns), res.fetchall())
    if memo is not None and key in memo:
        memo[key] = rows
    return rows


def compare_one(spark, con, spec, row_budget: int = ROW_BUDGET,
                byte_budget: int = BYTE_BUDGET,
                oracle_memo: dict | None = None) -> dict:
    """Row-level Spark-vs-DuckDB compare for one registry spec, with
    the oversized-result checksum fallback. Returns the artifact
    entry dict (status 'match' / '*_mismatch' / 'rows_only' /
    'checksum_match' / 'checksum_mismatch'). ``oracle_memo`` (from
    shared_oracles) carries normalized oracle results between the
    entries of one sweep; the checksum path always runs its own."""
    t0 = time.perf_counter()
    sdf = spec.fn(spark, SF_DIR)
    if not spec.oracle:
        return {"status": "rows_only", "spark_rows": sdf.count()}
    sample = sdf.limit(_WIDTH_SAMPLE_ROWS).collect()
    eff_budget = row_budget
    if sample:
        mean_width = max(
            1, sum(_row_width(r) for r in sample) // len(sample)
        )
        eff_budget = max(1, min(row_budget, byte_budget // mean_width))
    capped = sdf.limit(eff_budget + 1).collect()
    if len(capped) > eff_budget:
        # Result exceeds the driver budget: prove value equality
        # in-engine instead (order-independent hash-sum + COUNT).
        del capped
        try:
            entry = checksum_compare(sdf, con, spec.oracle)
        except ChecksumTypeError as exc:
            entry = {"status": "error", "err": f"ChecksumTypeError: {exc}"[:300]}
        entry["row_budget"] = eff_budget
        entry["sec"] = round(time.perf_counter() - t0, 3)
        return entry
    s_named, s_data = _normalize(sdf.columns, [tuple(r) for r in capped])
    d_named, d_data = _oracle_rows(con, spec.oracle, oracle_memo)
    entry = {
        "spark_rows": len(s_data),
        "oracle_rows": len(d_data),
        "sec": round(time.perf_counter() - t0, 3),
    }
    if s_named != d_named:
        entry["status"] = "schema_mismatch"
        entry["spark_cols"], entry["oracle_cols"] = s_named, d_named
    elif len(s_data) != len(d_data):
        entry["status"] = "rowcount_mismatch"
    else:
        diffs = [
            {"i": i, "spark": repr(a)[:200], "oracle": repr(b)[:200]}
            for i, (a, b) in enumerate(zip(s_data, d_data))
            if a != b
        ]
        if diffs:
            entry["status"] = "value_mismatch"
            entry["n_diff_rows"] = len(diffs)
            entry["first_diffs"] = diffs[:3]
        else:
            entry["status"] = "match"
    return entry


def _selected_specs() -> dict:
    sel = os.environ.get("SPARK_GRAFT_QUERIES")
    if not sel:
        return dict(SPECS)
    if sel.startswith("@"):
        with open(sel[1:]) as f:
            names = [ln.strip() for ln in f if ln.strip()]
    else:
        names = [n.strip() for n in sel.split(",") if n.strip()]
    unknown = [n for n in names if n not in SPECS]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    return {n: SPECS[n] for n in names}


def _artifact(specs: dict, results: dict, sweep_sec: float) -> dict:
    n = collections.Counter(entry["status"] for entry in results.values())
    n_ok = n["match"] + n["checksum_match"]
    return {
        "metric": "oracle_parity_sweep",
        "sf_dir": SF_DIR,
        "n_match": n_ok,
        "n_mismatch": len(results) - n_ok - n["rows_only"] - n["error"],
        "n_error": n["error"],
        "n_rows_only": n["rows_only"],
        "n_done": len(results),
        "n_total": len(specs),
        "selection": os.environ.get("SPARK_GRAFT_QUERIES"),
        "row_budget": ROW_BUDGET,
        "sweep_sec": round(sweep_sec, 3),
        "queries": results,
    }


def sweep(spark, con, specs: dict, out_path: str) -> dict:
    """Compare every spec in order and return the artifact. The
    artifact is rewritten at ``out_path`` after each entry (temp file
    plus ``os.replace``), so a sweep that is stopped keeps every
    result it finished."""
    oracle_memo = shared_oracles(specs)
    results: dict[str, dict] = {}
    t_sweep = time.perf_counter()
    for name, spec in specs.items():
        try:
            results[name] = compare_one(spark, con, spec, oracle_memo=oracle_memo)
        except Exception as exc:  # record loudly, keep sweeping
            results[name] = {
                "status": "error",
                "err": f"{type(exc).__name__}: {exc}"[:300],
            }
        tmp = f"{out_path}.tmp"
        with open(tmp, "w") as f:
            f.write(
                json.dumps(_artifact(specs, results, time.perf_counter() - t_sweep))
                + "\n"
            )
        os.replace(tmp, out_path)
        print(
            f"# {name}: {results[name]['status']}"
            f" ({len(results)}/{len(specs)})",
            file=sys.stderr,
        )
    return _artifact(specs, results, time.perf_counter() - t_sweep)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else (
        f"PARITY_sf{SF_DIR.rstrip('/').rsplit('sf', 1)[-1]}.json"
    )
    spark = get_spark("parity-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # Optional oracle-side memory cap with disk spill (round 12):
    # q290's modularity oracle allocates ~69 GB at the sf1.0 tiling —
    # enough for the kernel OOM-killer even on a 128 GiB host when
    # anything else is running. A cap makes DuckDB spill to temp
    # instead of dying: SPARK_GRAFT_DUCKDB_MEM=32GB.
    mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
    if mem:
        con.sql(f"SET memory_limit='{mem}'")
        con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    artifact = sweep(spark, con, _selected_specs(), out_path)
    print(
        json.dumps(
            {
                k: artifact[k]
                for k in (
                    "metric", "sf_dir", "n_match", "n_mismatch",
                    "n_error", "n_rows_only", "n_total", "sweep_sec",
                )
            }
        )
    )
    bad = {
        k: v["status"] for k, v in artifact["queries"].items()
        if v["status"] not in ("match", "checksum_match", "rows_only")
    }
    if bad:
        print(f"NON-MATCHES: {json.dumps(bad)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
