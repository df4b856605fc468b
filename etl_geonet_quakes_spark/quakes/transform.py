"""The reference-parity quake transform as one declarative projection.

/root/reference/task.ts runs explode→filter→project as a row-at-a-time
JS loop (task.ts:187-249). Here the same semantics are a single Spark
projection over a DataFrame: Catalyst fuses the filters below the
projection, prunes unread struct fields, constant-folds the lookup
maps, and whole-stage-codegens the entire thing — on a cluster this
is an embarrassingly-parallel narrow pipeline with no shuffle at all,
which is exactly the shape you want at 100 TB.

Deliberate, documented divergences-by-fix (SURVEY.md §7.4):
- ONE clock. The reference reads the clock twice — a run-level
  ``now`` (task.ts:184) and a per-row ``Date.now()`` for ``stale``
  (task.ts:221). The engine reads one clock Column
  (``QuakeJobConfig.clock``) for age filtering, "time ago" and stale
  alike: the injected ``now_utc_ms`` (what makes the golden tests and
  oracle runs deterministic), or else ``current_timestamp()``, which
  Spark fixes once per batch query and binds to each micro-batch's
  timestamp in a stream (restored from the offset log on replay).
- Nulls fail loudly at the boundary (validate_features) instead of
  the reference's unchecked cast (task.ts:183).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_geonet_quakes_spark.functions.jsfmt import js_to_fixed
from etl_geonet_quakes_spark.quakes import timekit
from etl_geonet_quakes_spark.quakes.schema import (
    COT_TYPE,
    DEFAULT_ICON,
    DEFAULT_INTENSITY,
    MMI_ICONS,
    MMI_INTENSITY,
    map_lookup,
)

STALE_MS = 5 * 60 * 1000  # now + 5 min (task.ts:221)


@dataclass(frozen=True)
class QuakeJobConfig:
    """Job config (Env schema, task.ts:34-43) with the same defaults,
    plus an optional injected clock. Validation mirrors
    task.ts:164-172."""

    min_mmi: int = 5
    max_age_minutes: float = 10080.0
    now_utc_ms: int | None = None

    def __post_init__(self) -> None:
        if not (-1 <= self.min_mmi <= 8):
            raise ValueError("Invalid MMI value. Must be between -1 and 8")
        if self.max_age_minutes != self.max_age_minutes:  # NaN check (task.ts:170)
            raise ValueError("Invalid max age minutes value")

    @property
    def clock(self) -> Column:
        """The tick's "now" in epoch milliseconds, as a Column."""
        if self.now_utc_ms is None:
            return F.unix_millis(F.current_timestamp())
        return F.lit(self.now_utc_ms)


def explode_features(response_df: DataFrame) -> DataFrame:
    """FeatureCollection → one row per feature (task.ts:187 → O4)."""
    return response_df.select(F.explode("features").alias("feature")).select("feature.*")


def validate_features(features_df: DataFrame) -> DataFrame:
    """Boundary validation replacing the reference's blind cast
    (task.ts:183): a row missing a required field fails the action
    with ``SparkRuntimeException``, the boundary message and the
    offending publicID, instead of being silently mis-typed.

    The check runs once per row as the input of a Generate,
    ``inline(array(when(bad, raise_error(msg)).otherwise(struct(*cols))))``,
    in the same scan and job as the transform. Every column downstream
    is the Generate's output, and Catalyst never pushes a predicate on
    a Generate's output below it, so no filter order can drop an
    invalid row before the check raises (pinned under
    filter-reordering stress in test_quakes_golden). The null test
    appears in the plan once; the history is in
    OPTIMIZATION_quake_tick.md."""
    required = [
        "properties.publicID",
        "properties.time",
        "properties.depth",
        "properties.magnitude",
        "properties.quality",
        # locality feeds the callsign and the remarks 'Location:' line;
        # mmi feeds the threshold filter — a null in either would be
        # silently absorbed (concat_ws skips nulls, null >= k filters
        # the row), contradicting the fail-loud boundary policy.
        "properties.locality",
        "properties.mmi",
        "geometry.coordinates",
    ]
    # geometry must carry at least [lon, lat]: the projection indexes
    # coordinates[0]/[1], which under ANSI semantics would throw a
    # confusing runtime error instead of this boundary rejection.
    # `bad` is never NULL: each isNull() disjunct is two-valued, and
    # the size() term can only be NULL when coordinates is NULL — a
    # case the isNull() disjunct has already made TRUE.
    bad = F.size("geometry.coordinates") < 2
    for c in required:
        bad = bad | F.col(c).isNull()
    msg = F.concat(
        F.lit("GeoNet feature failed boundary validation: null required field (publicID="),
        F.coalesce(F.col("properties.publicID"), F.lit("<null>")),
        F.lit(")"),
    )
    row = F.when(bad, F.raise_error(msg)).otherwise(F.struct(*features_df.columns))
    return features_df.select(F.inline(F.array(row)))


def transform_quakes(features_df: DataFrame, config: QuakeJobConfig) -> DataFrame:
    """O4–O23 as one filter and a few stacked projections
    (task.ts:187-249).

    Input: exploded GeoNet features (schema.GEONET_FEATURE_SCHEMA).
    Output: CoT-ready features (schema.OUTPUT_FEATURE_SCHEMA).

    Catalyst has no let-binding: every reference to a shared Column
    copies its whole expression. Each value read more than once (the
    event timestamp, the clock, the NZ-local timestamp, ``intensity``,
    ``time_local``) is therefore bound once as a named column of a
    lower projection; ``CollapseProject`` keeps a non-cheap alias that
    is referenced more than once, so the binding survives optimization.
    """
    # Wire format is ISO-8601 with millis + 'Z' (task.ts:68); session
    # tz is UTC so to_timestamp parses the instant exactly.
    bound = features_df.select(
        "properties",
        "geometry",
        F.to_timestamp("properties.time").alias("_ts"),
        config.clock.alias("_now"),
    )
    ts, now_ms, mmi = F.col("_ts"), F.col("_now"), F.col("properties.mmi")

    # O6/O7 — age filter: ageMinutes = (now − eventTime)/60000 (task.ts:190-193)
    age_minutes = (now_ms - F.unix_millis(ts)) / F.lit(60_000.0)
    # O8 — drop 'deleted' quality; expiry-by-omission contract
    # (task.ts:195-204). JS `===` on an assumed-non-null field ≡
    # null-rejecting `!=` here; nulls were rejected at the boundary.
    # O9 — MMI threshold: pushed down at the REST source (task.ts:176);
    # re-applied here so fixture replay and live runs are identical.
    kept = bound.filter(
        (age_minutes <= F.lit(float(config.max_age_minutes)))
        & (F.col("properties.quality") != "deleted")
        & (mmi >= F.lit(config.min_mmi))
    ).withColumns(
        {
            "_local": F.from_utc_timestamp(ts, timekit.NZ_ZONE),
            # O14 (task.ts:225,236)
            "_intensity": map_lookup(MMI_INTENSITY, mmi, DEFAULT_INTENSITY),
        }
    )
    # O17-O20 (task.ts:128-138)
    rows = kept.withColumn(
        "_time_local", timekit.nz_local_time(ts, now_ms, F.col("_local"))
    )
    intensity, time_local = F.col("_intensity"), F.col("_time_local")
    stale = timekit.iso_utc_ms(F.timestamp_millis(now_ms + F.lit(STALE_MS)))  # O16

    # O22 — 8-line remarks block (task.ts:233-242). js_to_fixed, not
    # format_string: Java %-formatting diverges from JS toFixed on
    # values like 12.35 (see functions/jsfmt.py).
    remarks = F.concat_ws(
        "\n",
        F.concat(F.lit("Magnitude: "), js_to_fixed(F.col("properties.magnitude"), 2)),
        F.concat(F.lit("MMI: "), mmi.cast("string")),
        F.concat(F.lit("Intensity: "), intensity),
        F.concat(F.lit("Location: "), F.col("properties.locality")),
        F.concat(F.lit("Time (UTC): "), F.col("properties.time")),
        F.concat(F.lit("Time (NZ): "), time_local),
        F.concat(F.lit("Depth: "), js_to_fixed(F.col("properties.depth"), 1), F.lit(" km")),
        F.concat(F.lit("Information Quality: "), F.col("properties.quality")),
    )

    return rows.select(
        # O10 — stable upsert key (task.ts:213)
        F.concat(F.lit("earthquake-"), F.col("properties.publicID")).alias("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            # O11 — callsign `M${magnitude.toFixed(1)} ${locality}` (task.ts:216)
            F.concat(
                F.lit("M"),
                js_to_fixed(F.col("properties.magnitude"), 1),
                F.lit(" "),
                F.col("properties.locality"),
            ).alias("callsign"),
            F.lit(COT_TYPE).alias("type"),  # O12 (task.ts:217)
            # O13 — icon lookup with default (task.ts:218)
            map_lookup(MMI_ICONS, mmi, DEFAULT_ICON).alias("icon"),
            F.col("properties.time").alias("time"),  # O15 passthrough
            F.col("properties.time").alias("start"),
            stale.alias("stale"),
            # O21 — 9-field metadata struct, reference field order (task.ts:222-232)
            F.struct(
                F.col("properties.magnitude").alias("magnitude"),
                mmi.alias("mmi"),
                intensity.alias("intensity"),
                F.col("properties.locality").alias("locality"),
                F.col("properties.depth").alias("depth"),
                F.col("properties.quality").alias("quality"),
                F.col("properties.publicID").alias("publicID"),
                F.col("properties.time").alias("timeUTC"),
                time_local.alias("timeLocal"),
            ).alias("metadata"),
            remarks.alias("remarks"),
        ).alias("properties"),
        # O23 — geometry rewrite [lon, lat, −depth] (task.ts:206-208,244-247)
        F.struct(
            F.lit("Point").alias("type"),
            F.array(
                F.col("geometry.coordinates")[0],
                F.col("geometry.coordinates")[1],
                -F.col("properties.depth"),
            ).alias("coordinates"),
        ).alias("geometry"),
    )


def run_pipeline(
    response_df: DataFrame, config: QuakeJobConfig, observation=None
) -> DataFrame:
    """Full decode→explode→validate→transform pipeline (E1/E2 in
    SURVEY.md §3), minus source/sink adapters.

    Pass a ``pyspark.sql.Observation`` to collect the emitted-feature
    count in the same pass (O24, task.ts:255) — the engine's version
    of `fetched N earthquakes` without a second job.
    """
    out = transform_quakes(validate_features(explode_features(response_df)), config)
    if observation is not None:
        out = out.observe(observation, F.count(F.lit(1)).alias("n_features"))
    return out
