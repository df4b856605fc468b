"""JS ``Number.prototype.toFixed`` parity formatting, as exact Spark
column arithmetic.

The reference formats magnitude/depth with ``toFixed``
(task.ts:216,234,240). ECMA-262 ``toFixed`` rounds
the EXACT binary value of the double (ties away from zero), so e.g.
``(12.35).toFixed(1) === "12.3"`` because the nearest double to 12.35
is 12.34999999999999964. Java's ``format_string('%.1f')`` instead
goes through ``BigDecimal.valueOf`` (shortest decimal repr) and
yields "12.4" — a real divergence we caught in golden tests.

Plain double arithmetic reaches the exact value. With ``a = |x|``
and ``d <= 3`` digits, every step below is exact:

- ``a = hi·2048 + lo``: ``hi = floor(a / 2048)`` and ``lo = a % 2048``
  (division by a power of two and ``%`` are exact). ``hi·2048·10^d``
  is an integer, so only ``lo·10^d`` needs rounding.
- ``t = lo·2^31 = whole + f``, ``whole = floor(t) < 2^42``. Where the
  rounding can go either way (``lo >= 2^-11``, since
  ``2^-11·10^3 < 0.5``), ``lo``'s last bit is at least ``2^-63``, so
  ``f`` is a multiple of ``2^-32``. ``whole·10^d`` and ``f·10^d`` then
  fit in 53 bits (``10^d < 2^10``) and are exact.
- ``lo·10^d`` rounds half up to
  ``n = floor((whole·10^d + 2^30 + floor(f·10^d)) / 2^31)``: the
  dividend is an integer below ``2^53``, and dropping ``f·10^d``'s
  fraction cannot cross a multiple of ``2^31``. Below ``2^-11`` the
  same formula gives 0, which is the rounded value there.
- ``hi·2048 + n/10^d`` is assembled in ``DECIMAL(38, d)``, which prints
  plainly, and the sign is a string prefix, as in ECMA-262:
  ``(-0.04).toFixed(1)`` is ``"-0.0"`` and ``(-0).toFixed(1)`` is
  ``"0.0"``.

Everything stays in the JVM's whole-stage codegen: no Python worker.
NULL and NaN give NULL. ±Infinity and ``|x| >= 1e21``, where
ECMA-262 stops printing digits (``(1e21).toFixed(2)`` is ``"1e+21"``),
raise an error that names toFixed's range.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_DIGITS = 3  # 10^d < 2^10 keeps every product exact


def js_to_fixed(x: Column, digits: int) -> Column:
    """``x.toFixed(digits)`` with exact JS semantics, for a double ``x``."""
    if not 0 <= digits <= MAX_DIGITS:
        raise ValueError(f"js_to_fixed: digits must be in [0, {MAX_DIGITS}], got {digits}")
    out_of_range = F.raise_error(
        F.concat(
            F.lit("toFixed: "),
            x.cast("string"),
            F.lit(" is outside toFixed's digit range (finite, |x| < 1e21)"),
        )
    )
    # NaN first: Spark orders NaN above every double. The checks guard
    # the input, so the arithmetic sits in no conditional branch and
    # whole-stage codegen computes each shared subexpression once.
    a = (
        F.when(F.isnan(x), F.lit(None))
        .when(F.abs(x) >= F.lit(1e21), out_of_range)
        .otherwise(F.abs(x))
    )
    scale = float(10**digits)
    t = (a % F.lit(2048.0)) * F.lit(2.0**31)
    whole = F.floor(t)
    n = F.floor(
        (whole * F.lit(scale) + F.lit(2.0**30) + F.floor((t - whole) * F.lit(scale)))
        / F.lit(2.0**31)
    )
    fixed = (
        F.floor(a / F.lit(2048.0)).cast("decimal(18,0)") * F.lit(Decimal(2048))
        + n.cast("decimal(18,0)") * F.lit(Decimal(1).scaleb(-digits))
    ).cast(f"decimal(38,{digits})")
    return F.concat(F.when(x < 0, F.lit("-")).otherwise(F.lit("")), fixed.cast("string"))
