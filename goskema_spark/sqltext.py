"""Quoting for plans built as Spark SQL text.

The stats and drift builders write their expressions as SQL strings
(`F.expr`, `selectExpr`, `filter(str)`): one string crosses to the JVM in
a few py4j round trips, where each PySpark `Column` method call costs a
dozen. Every name and literal spliced into those strings goes through
here, never through raw f-string interpolation.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a backtick-quoted identifier; backticks inside
    are doubled, so dots, spaces and quotes stay part of the name."""
    return "`" + str(name).replace("`", "``") + "`"


def string(value: str) -> str:
    """A string literal for Spark's parser, which unescapes `\\` and `'`."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def double(value: float) -> str:
    """A DOUBLE literal. A bare `0.1` parses as DECIMAL, and arithmetic
    on it would run in decimal, not double; the `D` suffix keeps it a
    double with exactly the Python value."""
    x = float(value)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"({x!r}D)" if math.copysign(1.0, x) < 0 else f"{x!r}D"
