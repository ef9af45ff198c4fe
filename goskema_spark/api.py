"""Convenience API — thin wrappers mirroring the reference surface
(reference api.go:95-134: Decode / SafeParse / Is) and the driver-side
single-document path used for unit-style checks.

The heavy lifting lives in rowpass/runner; these helpers exist so a user
of the reference can map their call sites 1:1.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from goskema_spark.rowpass import validate_rows
from goskema_spark.runner import ValidationResult, validate
from goskema_spark.schema import TableSchema


def is_valid(df: DataFrame, schema: TableSchema, row_id: Optional[Column] = None,
             dims: Optional[dict] = None) -> bool:
    """`goskema.Is` analog (reference api.go:127-134): True iff the whole
    DataFrame passes every check. Short-circuits via limit(1) — fail-fast
    at the job level (reference api.go:147-156)."""
    rid = row_id if row_id is not None else F.monotonically_increasing_id().cast("string")
    res = validate(df, schema, rid, dims=dims)
    return len(res.violations.limit(1).take(1)) == 0


def safe_validate(df: DataFrame, schema: TableSchema, row_id: Column,
                  dims: Optional[dict] = None):
    """`goskema.SafeParse` analog (reference api.go:117-124):
    (clean_df, True) when everything passes, else (violations_df, False).
    Never raises on validation errors."""
    res: ValidationResult = validate(df, schema, row_id, dims=dims)
    if res.violations.limit(1).take(1):
        return res.violations, False
    return res.clean, True


def first_issue(violations: DataFrame):
    """Deterministic first issue — (row_id, path, code) order, the
    distributed analog of FailFast's single Issue (api_error_model_test.go:14-45)."""
    rows = violations.orderBy("row_id", "path", "code").limit(1).collect()
    return rows[0] if rows else None


def validate_records(spark: SparkSession, records: list, schema: TableSchema,
                     row_id_field: Optional[str] = None):
    """Driver-side convenience for small in-memory payloads (the
    `Decode`/`ValidateValue` shape, reference api.go:95-97): build a
    1..n-row DataFrame from dicts and run the full row pass. Returns
    (clean_rows: list[dict], issues: list[dict])."""
    df = spark.createDataFrame(records, schema.to_struct_type())  # type: ignore[arg-type]
    rid = (F.col(row_id_field).cast("string") if row_id_field
           else F.monotonically_increasing_id().cast("string"))
    _, viols, clean = validate_rows(df, schema, rid)
    return ([r.asDict(recursive=True) for r in clean.collect()],
            [r.asDict(recursive=True) for r in viols.collect()])
