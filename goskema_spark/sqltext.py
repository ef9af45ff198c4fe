"""Quoting for plans built as Spark SQL text.

The check compiler, the validate/ledger plans and the stats and drift
builders write their expressions as SQL strings (`F.expr`,
`selectExpr`, `filter(str)`): one string crosses to the JVM in a few
py4j round trips, where each PySpark `Column` method call costs a
dozen. Every name and literal spliced into those strings goes through
here, never through raw f-string interpolation.
"""

from __future__ import annotations

import datetime
import decimal
import math

from pyspark.sql.types import TimestampType


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


def literal(value) -> str:
    """A Python value as the literal `F.lit` would make of it: NULL,
    `true`/`false`, an INT (BIGINT with an `L` suffix outside int32,
    DECIMAL beyond int64), a DOUBLE through `double`, a string through
    `string`, a Decimal with a `BD` suffix, a date or timestamp as a
    DATE or TIMESTAMP."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if -2**31 <= value < 2**31:
            return str(value)
        return f"{value}L" if -2**63 <= value < 2**63 else f"{value}BD"
    if isinstance(value, float):
        return double(value)
    if isinstance(value, str):
        return string(value)
    if isinstance(value, decimal.Decimal):
        return f"{value}BD"
    if isinstance(value, datetime.datetime):
        # the instant F.lit stores (a naive value in the local zone)
        return f"timestamp_micros({TimestampType().toInternal(value)}L)"
    if isinstance(value, datetime.date):
        return f"DATE '{value.isoformat()}'"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")


def chain(op: str, conds) -> str:
    """SQL conditions joined by `op` (AND/OR), nested left-deep like
    chained Column `&`/`|`: the parser would balance a flat chain into
    a different plan tree."""
    out = conds[0]
    for c in conds[1:]:
        out = f"({out}) {op} ({c})"
    return out


def in_list(expr: str, values) -> str:
    """`expr IN (values)` with each value through `literal`; an empty
    list is `false`, as `Column.isin([])` is (`IN ()` does not parse)."""
    if not values:
        return "false"
    return f"{expr} IN ({', '.join(literal(v) for v in values)})"
