"""JS ``Number.prototype.toFixed`` parity formatting.

The reference formats magnitude/depth with ``toFixed``
(/root/reference/task.ts:216,234,240). ECMA-262 ``toFixed`` rounds
the EXACT binary value of the double (ties away from zero), so e.g.
``(12.35).toFixed(1) === "12.3"`` because the nearest double to 12.35
is 12.34999999999999964. Java's ``format_string('%.1f')`` instead
goes through ``BigDecimal.valueOf`` (shortest decimal repr) and
yields "12.4" — a real divergence we caught in golden tests.

There is no JVM-side Spark builtin that exposes the exact binary
expansion, so parity needs one Arrow-batched pandas UDF. Python's
``decimal.Decimal(float)`` IS the exact binary expansion, so
``quantize(..., ROUND_HALF_UP)`` on the absolute value reproduces
toFixed's ties-away-from-zero; the sign is a string prefix, as in
ECMA-262, so ``(-0.04).toFixed(1)`` is ``"-0.0"`` and ``(-0).toFixed(1)``
is ``"0.0"``.

This is the ONLY Python UDF in the reference-parity pipeline; it
formats two narrow columns and is Arrow-vectorized, so it is not a
scale bottleneck (the rest of the projection stays in whole-stage
codegen).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _to_fixed_udf(digits: int):
    # Built per call, not cached: a UDF object binds the SparkContext's
    # Python accumulator on first use, so a cached one breaks every
    # task's accumulator update once that context is stopped.
    # The UDF body must be fully self-contained (stdlib imports inside,
    # no references to this module's globals): cloudpickle serializes
    # closures by value but module-level helpers only by reference,
    # which breaks on executors that don't have the package on their
    # PYTHONPATH. Caught by end-to-end verification from a foreign cwd.
    @F.pandas_udf(T.StringType())
    def fixed(s: pd.Series) -> pd.Series:
        import decimal as _dec

        q = _dec.Decimal(1).scaleb(-digits)

        def one(x):
            if x is None or x != x:  # NULL / NaN passthrough
                return None
            d = _dec.Decimal(x)  # exact binary expansion
            # ECMA-262: ties pick the larger |n| → away from zero
            r = d.copy_abs().quantize(q, rounding=_dec.ROUND_HALF_UP)
            return ("-" if d < 0 else "") + f"{r:.{digits}f}"

        return s.map(one)

    return fixed


def js_to_fixed(col: Column, digits: int) -> Column:
    """``col.toFixed(digits)`` with exact JS semantics."""
    return _to_fixed_udf(digits)(col)
