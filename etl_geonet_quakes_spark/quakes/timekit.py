"""NZ-local time formatting kit as pure column expressions.

Reproduces /root/reference/task.ts:81-138 (Intl.DateTimeFormat setup,
getNZTimeZoneName, formatTimeAgo, formatNZLocalTime) with ZERO Python
UDFs — everything stays inside whole-stage codegen.

The one genuinely hard piece is the DST-correct NZST/NZDT
abbreviation (task.ts:101-105, SURVEY.md §7.4): Spark has no
session-tz-independent `zzz` formatter for an arbitrary zone, but the
JVM's tz database is reachable through ``from_utc_timestamp`` — the
UTC-offset of Pacific/Auckland at the event instant is
``unix(from_utc_timestamp(ts, zone)) − unix(ts)``, and NZ has exactly
two offsets: +12 h (NZST) and +13 h (NZDT).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NZ_ZONE = "Pacific/Auckland"
ISO_MS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"  # JS Date.toISOString shape


def utc_offset_seconds(ts: Column, local: Column) -> Column:
    """UTC offset (seconds) at instant ``ts`` of the zone that
    ``local = from_utc_timestamp(ts, zone)`` shifted it into, via the
    JVM tzdb — DST-correct for the *event* instant, independent of the
    session timezone (task.ts:101-105)."""
    return F.unix_timestamp(local) - F.unix_timestamp(ts)


def nz_tz_name(ts: Column, local: Column | None = None) -> Column:
    """'NZST' | 'NZDT' for the event instant; 'NZT' fallback mirrors
    the reference's defensive default (task.ts:104). ``local`` is
    ``from_utc_timestamp(ts, NZ_ZONE)`` when the caller has it bound."""
    if local is None:
        local = F.from_utc_timestamp(ts, NZ_ZONE)
    off = utc_offset_seconds(ts, local)
    return (
        F.when(off == 12 * 3600, F.lit("NZST"))
        .when(off == 13 * 3600, F.lit("NZDT"))
        .otherwise(F.lit("NZT"))
    )


def time_ago(ts: Column, now_ms: Column | int) -> Column:
    """Humanized age, largest whole unit (task.ts:111-126):
    <60 min → "N minute(s) ago", <24 h → "N hour(s) ago",
    else "N day(s) ago"; singular iff the count is exactly 1.
    ``now_ms`` is the clock in epoch milliseconds, a Column or an int."""
    diff_min = F.floor((F.lit(now_ms) - F.unix_millis(ts)) / F.lit(60_000))
    diff_hr = F.floor(diff_min / 60)
    diff_day = F.floor(diff_hr / 24)

    def phrase(n: Column, unit: str) -> Column:
        return F.concat(
            n.cast("string"),
            F.lit(f" {unit}"),
            F.when(n == 1, F.lit("")).otherwise(F.lit("s")),
            F.lit(" ago"),
        )

    return (
        F.when(diff_min < 60, phrase(diff_min, "minute"))
        .when(diff_hr < 24, phrase(diff_hr, "hour"))
        .otherwise(phrase(diff_day, "day"))
    )


def nz_local_time(ts: Column, now_ms: Column | int, local: Column) -> Column:
    """"dd/MM/yyyy, HH:mm NZST (10 hours ago)" (task.ts:128-138).
    ``local`` is ``from_utc_timestamp(ts, NZ_ZONE)``; it is read three
    times, so the caller binds it once as a column."""
    return F.concat(
        F.date_format(local, "dd/MM/yyyy"),
        F.lit(", "),
        F.date_format(local, "HH:mm"),
        F.lit(" "),
        nz_tz_name(ts, local),
        F.lit(" ("),
        time_ago(ts, now_ms),
        F.lit(")"),
    )


def iso_utc_ms(ts: Column) -> Column:
    """Render a timestamp in the JS ``Date.toISOString()`` wire shape
    (millisecond precision, 'Z' suffix) — used for ``stale``
    (task.ts:221). Assumes UTC session timezone (session.py)."""
    return F.date_format(ts, ISO_MS_FMT)
