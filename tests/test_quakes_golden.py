"""Golden-output tests for the reference-parity quake transform.

Fixture: tests/fixtures/geonet_quakes.json (edge rows per SURVEY.md
§5.2 / FIXTURES.md §B1); clock pinned to 2026-01-15T12:00:00Z.
Expected values hand-derived from /root/reference/task.ts:184-249.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.io import read_geojson
from etl_geonet_quakes_spark.quakes import (
    GEONET_RESPONSE_SCHEMA,
    QuakeJobConfig,
    explode_features,
    transform_quakes,
)
from etl_geonet_quakes_spark.quakes import timekit
from etl_geonet_quakes_spark.quakes.schema import (
    DEFAULT_ICON,
    OUTPUT_FEATURE_SCHEMA,
    describe_schema,
)
from etl_geonet_quakes_spark.quakes.transform import run_pipeline

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "geonet_quakes.json")
NOW_MS = int(datetime(2026, 1, 15, 12, 0, 0, tzinfo=timezone.utc).timestamp() * 1000)
KEEP_ALL = QuakeJobConfig(min_mmi=-1, max_age_minutes=1e12, now_utc_ms=NOW_MS)


@pytest.fixture(scope="module")
def features(spark):
    return explode_features(read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA))


@pytest.fixture(scope="module")
def out_by_id(features):
    rows = transform_quakes(features, KEEP_ALL).collect()
    return {r["id"]: r.asDict(recursive=True) for r in rows}


def test_output_schema_matches_declared(features):
    out = transform_quakes(features, KEEP_ALL)
    # simpleString drops nullability — literals are non-null, the
    # declared schema is the permissive wire shape
    assert out.schema.simpleString() == OUTPUT_FEATURE_SCHEMA.simpleString()


def test_deleted_quality_dropped(out_by_id):
    # task.ts:204 — quality === 'deleted' rows never emitted
    assert "earthquake-2026p000005" not in out_by_id
    assert len(out_by_id) == 8


def test_flagship_row_golden(out_by_id):
    r = out_by_id["earthquake-2026p000001"]
    p = r["properties"]
    assert r["type"] == "Feature"
    # M5.25 → toFixed(1) tie rounds up → 'M5.3' (task.ts:216)
    assert p["callsign"] == "M5.3 Wellington"
    assert p["type"] == "a-o-X-i-g-e"
    assert p["icon"].endswith("NH.26A.EarthquakeLight.png")
    assert p["time"] == "2026-01-15T11:30:00.000Z"
    assert p["start"] == p["time"]
    assert p["stale"] == "2026-01-15T12:05:00.000Z"  # now + 5 min
    m = p["metadata"]
    assert m["magnitude"] == 5.25 and m["mmi"] == 5
    assert m["intensity"] == "Moderate"
    assert m["locality"] == "Wellington" and m["quality"] == "best"
    assert m["publicID"] == "2026p000001"
    assert m["timeUTC"] == "2026-01-15T11:30:00.000Z"
    # UTC+13 in January → NZDT, next-day local date
    assert m["timeLocal"] == "16/01/2026, 00:30 NZDT (30 minutes ago)"
    assert p["remarks"] == (
        "Magnitude: 5.25\n"
        "MMI: 5\n"
        "Intensity: Moderate\n"
        "Location: Wellington\n"
        "Time (UTC): 2026-01-15T11:30:00.000Z\n"
        "Time (NZ): 16/01/2026, 00:30 NZDT (30 minutes ago)\n"
        "Depth: 12.3 km\n"
        "Information Quality: best"
    )
    # O23 — [lon, lat, −depth]
    assert r["geometry"]["type"] == "Point"
    assert r["geometry"]["coordinates"] == [174.7762, -41.2865, -12.35]


def test_map_lookup_defaults(out_by_id):
    # mmi=0: not a key in either table (falsy-|| semantics, SURVEY §7.4)
    z = out_by_id["earthquake-2026p000002"]["properties"]
    assert z["icon"] == DEFAULT_ICON
    assert z["metadata"]["intensity"] == "Unknown"
    # mmi=−1: intensity hits the '-1' key, icon has no −1 entry
    neg = out_by_id["earthquake-2026p000003"]["properties"]
    assert neg["icon"] == DEFAULT_ICON
    assert neg["metadata"]["intensity"] == "Unnoticeable"
    # mmi=12: above both tables → both defaults
    high = out_by_id["earthquake-2026p000004"]["properties"]
    assert high["icon"] == DEFAULT_ICON
    assert high["metadata"]["intensity"] == "Unknown"
    # mmi=12 callsign tie: 6.75 → 'M6.8'
    assert high["callsign"] == "M6.8 Gisborne"


def test_time_ago_unit_cutoffs(out_by_id):
    ago = lambda pid: out_by_id[f"earthquake-{pid}"]["properties"]["metadata"]["timeLocal"]
    assert "(1 minute ago)" in ago("2026p000002")  # singular, task.ts:116
    assert "(1 hour ago)" in ago("2026p000003")  # exactly 60 min → hours
    assert "(23 hours ago)" in ago("2026p000004")  # still hours
    assert "(1 day ago)" in ago("2026p000009")  # exactly 24 h → singular day
    assert "(0 minutes ago)" in ago("2026p000008")  # plural zero


def test_nzst_winter_event(out_by_id):
    # June → UTC+12 → NZST, same-day local noon
    m = out_by_id["earthquake-2025p000006"]["properties"]["metadata"]
    assert m["timeLocal"].startswith("01/06/2025, 12:00 NZST (")
    assert m["timeLocal"].endswith("days ago)")
    # independently-derived day count
    days = (NOW_MS // 1000 - int(datetime(2025, 6, 1, tzinfo=timezone.utc).timestamp())) // 86400
    assert f"({days} days ago)" in m["timeLocal"]


def test_age_and_mmi_filters(features):
    cfg = QuakeJobConfig(min_mmi=5, max_age_minutes=60, now_utc_ms=NOW_MS)
    ids = {r["id"] for r in transform_quakes(features, cfg).collect()}
    # age ≤ 60 min AND mmi ≥ 5 AND not deleted
    assert ids == {"earthquake-2026p000001", "earthquake-2026p000007"}

    cfg2 = QuakeJobConfig(min_mmi=5, max_age_minutes=1e12, now_utc_ms=NOW_MS)
    ids2 = {r["id"] for r in transform_quakes(features, cfg2).collect()}
    assert ids2 == {
        "earthquake-2026p000001",
        "earthquake-2026p000004",
        "earthquake-2025p000006",
        "earthquake-2026p000007",
        "earthquake-2026p000009",
    }


def test_config_validation():
    # task.ts:164-172 range/NaN checks
    with pytest.raises(ValueError, match="MMI"):
        QuakeJobConfig(min_mmi=9)
    with pytest.raises(ValueError, match="MMI"):
        QuakeJobConfig(min_mmi=-2)
    with pytest.raises(ValueError, match="max age"):
        QuakeJobConfig(max_age_minutes=float("nan"))


def test_dst_transition_offsets(spark):
    # NZDT ends 2026-04-05 03:00 NZDT (= 2026-04-04T14:00Z); starts
    # 2026-09-27 02:00 NZST (= 2026-09-26T14:00Z). Check both sides.
    df = spark.createDataFrame(
        [
            ("2026-04-04T13:59:00.000Z", "NZDT"),
            ("2026-04-04T14:01:00.000Z", "NZST"),
            ("2026-09-26T13:59:00.000Z", "NZST"),
            ("2026-09-26T14:01:00.000Z", "NZDT"),
        ],
        "t string, expected string",
    )
    got = df.select(
        timekit.nz_tz_name(F.to_timestamp("t")).alias("name"), "expected"
    ).collect()
    for r in got:
        assert r["name"] == r["expected"]


def test_run_pipeline_and_schema_api(spark):
    resp = read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA)
    out = run_pipeline(resp, KEEP_ALL)
    assert out.count() == 8
    js = describe_schema("output")
    assert js["type"] == "struct"
    with pytest.raises(ValueError):
        describe_schema("nope")


def test_validation_is_in_pass_no_preflight_job(spark):
    """Round-9 contract (verdict item 6): building the pipeline plans
    zero jobs — boundary validation rides the main scan via an in-pass
    assert_true, not a .limit(1).count() pre-flight."""
    resp = read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    out = run_pipeline(resp, KEEP_ALL)
    assert len(tracker.getJobIdsForGroup() or []) - before == 0
    assert out.count() == 8  # happy path unchanged


@pytest.mark.parametrize(
    "path,value",
    [
        (("properties", "mmi"), None),  # would be silently dropped by mmi>=k
        (("properties", "locality"), None),  # silently absorbed by concat_ws
        (("geometry", "coordinates"), [174.1]),  # short coords -> index error
    ],
)
def test_null_required_field_raises_in_pass(spark, tmp_path, path, value):
    """The fail-loud boundary still fails loudly — now mid-scan at
    action time (SparkRuntimeException with the boundary message and
    the offending publicID), no silent absorption by downstream
    null-rejecting predicates."""
    import json

    with open(FIXTURE) as f:
        data = json.load(f)
    node = data["features"][0]
    for k in path[:-1]:
        node = node[k]
    node[path[-1]] = value
    p = str(tmp_path / "bad.json")
    with open(p, "w") as f:
        json.dump(data, f)
    bad = read_geojson(spark, p, GEONET_RESPONSE_SCHEMA)
    with pytest.raises(Exception, match="boundary validation"):
        run_pipeline(bad, KEEP_ALL).count()


@pytest.mark.parametrize("codegen", ["true", "false"])
def test_null_mmi_raises_under_filter_reordering_stress(
    spark, tmp_path, codegen
):
    """Round-11 hardening pin (carried advisor low): the
    raise-before-null-rejecting-filter guarantee must hold
    STRUCTURALLY, not via CombineFilters conjunct order. The
    predicate fields (mmi/quality/time) are rebuilt as
    raise-on-invalid expressions in validate_features, so whatever
    order the optimizer evaluates or fuses the filters in — AQE on,
    whole-stage codegen on AND off, and a RESTRICTIVE config whose
    mmi >= 5 predicate would otherwise null-reject the row first —
    a null-mmi feature raises the boundary error instead of being
    silently dropped."""
    import json

    from etl_geonet_quakes_spark.quakes import QuakeJobConfig

    with open(FIXTURE) as f:
        data = json.load(f)
    data["features"][0]["properties"]["mmi"] = None
    p = str(tmp_path / "bad_mmi.json")
    with open(p, "w") as f:
        json.dump(data, f)

    strict = QuakeJobConfig(
        min_mmi=5, max_age_minutes=1e12, now_utc_ms=KEEP_ALL.now_utc_ms
    )
    old_cg = spark.conf.get("spark.sql.codegen.wholeStage")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        bad = read_geojson(spark, p, GEONET_RESPONSE_SCHEMA)
        with pytest.raises(Exception, match="boundary validation"):
            run_pipeline(bad, strict).count()
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", old_cg)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_infinite_magnitude_fails_tofixed_range(spark, tmp_path):
    import json

    with open(FIXTURE) as f:
        data = json.load(f)
    data["features"][0]["properties"]["magnitude"] = float("inf")
    p = str(tmp_path / "inf_magnitude.json")
    with open(p, "w") as f:
        json.dump(data, f)  # writes Infinity, which Spark's JSON reader accepts
    bad = read_geojson(spark, p, GEONET_RESPONSE_SCHEMA)
    with pytest.raises(Exception, match="toFixed's digit range"):
        run_pipeline(bad, KEEP_ALL).collect()


def test_pipeline_runs_no_python_worker(spark):
    out = run_pipeline(read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA), KEEP_ALL)
    assert len(out.collect()) == 8
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in executed
    assert "ArrowEvalPython" not in executed and "BatchEvalPython" not in executed


def test_pipeline_plan_checks_once_and_compiles(spark):
    """The boundary check is in the optimized plan once (one Generate
    input, not inlined into guards and pushed predicates), and no
    generated method reaches HotSpot's 8,000-byte huge-method limit,
    above which the JIT never compiles it."""
    out = run_pipeline(read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA), KEEP_ALL)
    qe = out._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("failed boundary validation") == 1
    seq = qe.debug().codegenToSeq()
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    assert sizes and max(sizes) < 8000, sizes


@pytest.mark.parametrize("codegen", ["true", "false"])
def test_flat_feature_frame_validates_under_threshold(spark, codegen):
    """q187's input shape: flat GEONET_FEATURE_SCHEMA rows from the
    Python data source, with no explode above them. A null mmi under
    a restrictive min_mmi raises instead of being filtered out; a
    valid frame passes validation unchanged."""
    import json

    from etl_geonet_quakes_spark.quakes.schema import GEONET_FEATURE_SCHEMA
    from etl_geonet_quakes_spark.quakes.source import _parse_features
    from etl_geonet_quakes_spark.quakes.transform import validate_features

    with open(FIXTURE) as f:
        data = json.load(f)
    good = spark.createDataFrame(list(_parse_features(data)), GEONET_FEATURE_SCHEMA)
    data["features"][0]["properties"]["mmi"] = None
    bad = spark.createDataFrame(list(_parse_features(data)), GEONET_FEATURE_SCHEMA)
    strict = QuakeJobConfig(min_mmi=5, max_age_minutes=1e12, now_utc_ms=NOW_MS)
    old_cg = spark.conf.get("spark.sql.codegen.wholeStage")
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)
        with pytest.raises(Exception, match="boundary validation"):
            transform_quakes(validate_features(bad), strict).collect()
        assert validate_features(good).collect() == good.collect()
        resp = read_geojson(spark, FIXTURE, GEONET_RESPONSE_SCHEMA)
        expected = sorted(run_pipeline(resp, strict).collect())
        got = sorted(transform_quakes(validate_features(good), strict).collect())
        assert got == expected and len(got) == 5
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", old_cg)
