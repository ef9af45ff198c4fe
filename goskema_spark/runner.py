"""Validator orchestration: full validation run -> violations, per-partition
verdicts, stats, drift, ledger rows.

Lifecycle (SURVEY §3.4): scan -> [the caller's explicit repartition by
(source, hash(doc_id)), e.g. the CLI's --repartition] -> ONE fused
report job whose branch stages run concurrently — vectorized row pass,
uniqueness aggregate, referential anti-join, and a column-pruned
per-partition row count — tagged by `_rec` and unioned into a single
report relation. Fail-fast vs collect follows reference
api.go:147-156.

Materialization strategy (the 100 TB design): pass `report_path` to write
the report ONCE as parquet in a single job; the violations table and the
verdicts are then cheap column-pruned reads of that file. This replaces a
`.persist()` of the report: violations are bounded by the violation rate,
not by a constant — at a 10% rate on 10^12 rows the report is 10^11
heavyweight struct rows, which no executor cache should hold (measured:
the persist caused GC stalls that erased all scaling; parquet
materialization restored it). The report is read back with the schema
it was just written with, so the read runs no schema-inference job.
Without `report_path` the result stays fully lazy (each output
recomputes its branch when actioned) — right for single-output callers
like `is_valid`.

Jobs of one `validate(report_path=...)`, each labelled with
setJobDescription (the caller's description is restored afterwards;
the job group is never touched):
  - "validate: referential domain probe" — one small collect of a
    dimension's values, once per dimension frame (memoized);
  - "validate: report write" — the report write, one job per adaptive
    query stage.
Nothing else runs until the caller reads `violations` or `verdicts`.
`ledger.run_with_ledger` passes no `report_path`: it writes the lazy
violations straight into its sink and adds its own jobs (see its
module docstring).

Resume scoping (`partitions=`): a predicate on the partition column.
Row checks, referential checks and row counts run on the filtered rows;
uniqueness runs over the whole input (a global property) and only its
violation rows are filtered, by the same predicate on the carried
partition column — no join against the partition set.

Per-partition verdicts use the *logical* partition (the `source` value by
default) rather than spark_partition_id(): physical partition ids are not
stable across cluster sizes, and the resume/ledger protocol needs a
partition identity that survives re-planning. Verdicts are ONE hash
aggregate over the report — `sum(_rows)` recovers the row count from the
's' record and `count_if(_rec = 'v')` the violation count, with no join
(NULL partition values group naturally).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.schema import TableSchema
from goskema_spark.uniqueness import uniqueness_violations

VIOLATION_COLS = ["row_id", "path", "code", "message", "rule", "params"]


@dataclass
class ValidationResult:
    annotated: DataFrame          # input + _violations array column
    violations: DataFrame         # union of row-pass + aggregate violations
    clean: DataFrame              # rows with zero violations (row-pass level)
    verdicts: DataFrame           # partition_col, rows, violations, verdict
    report: dict = dc_field(default_factory=dict)
    report_path: Optional[str] = None  # parquet materialization of the report


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the Spark jobs launched inside the block (event logs and the
    UI show it per job), then restore the caller's description. The job
    group is left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def validate(
    df: DataFrame,
    schema: TableSchema,
    row_id: Column,
    dims: Optional[dict] = None,
    partition_col: str = "source",
    report_path: Optional[str] = None,
    report_partitions: int = 0,
    partitions: Optional[Column] = None,
) -> ValidationResult:
    """Run the full check set declared on `schema` against `df`.

    report_path: parquet location for the one-job report materialization
    (see module docstring). None = fully lazy result.

    partitions: a predicate on `partition_col` selecting the partitions
    to validate (checkpoint resume); None validates all of `df`. Row
    checks and row counts run on `df.filter(partitions)`. Uniqueness is
    a GLOBAL property, so it still runs over all of `df` — duplicate
    detection and first/dup attribution stay identical to an
    uninterrupted run; the aggregate reads only (key, ordinal, partition)
    via column pruning, so the extra scan is cheap — and its violation
    rows are then filtered by the same predicate on the carried
    partition column.
    """
    dims = dims or {}

    # carry the logical partition through aggregate checks for verdicts
    carry = [partition_col] if partition_col in df.columns else []
    full = df
    if partitions is not None:
        if not carry:
            raise ValueError(f"partitions needs the partition column "
                             f"'{partition_col}' in df")
        df = df.filter(partitions)
    ann, rowpass_viols, clean = validate_rows(df, schema, row_id, carry=carry)
    agg_viols = []
    # aggregate checks read the PLAIN input, not the annotated plan — they
    # never touch _violations, and keeping the giant check expression out
    # of their subtrees cuts driver-side analysis cost ~3x per run
    for uk in schema.unique_keys:
        ordinal = uk.ordinal or uk.column
        uv = uniqueness_violations(full, uk.column, ordinal, row_id, carry=carry,
                                   broadcast=uk.broadcast)
        if partitions is not None:
            uv = uv.filter(partitions)
        agg_viols.append(uv)
    for fk in schema.foreign_keys:
        dim = dims.get(fk.dim_name)
        if dim is None:
            # dependency failure -> dependency_unavailable (errors.go:35)
            raise RuntimeError(f"dependency_unavailable: dimension '{fk.dim_name}' not provided")
        # building it may probe the dim's domain (one small collect)
        with job_description(df.sparkSession, "validate: referential domain probe"):
            agg_viols.append(
                referential_violations(df, fk.column, dim, fk.dim_column,
                                       row_id, code=fk.code, carry=carry)
            )

    # row-pass violations (carry already attached): validate_rows feeds
    # them from the filter-first dirty path — a codegen'd gate Filter
    # below the interpreted HOF body projection, NOT the guarded `ann`
    # shape, which pays interpreted per-row dispatch for every clean row
    # (rowpass.py _dirty_with_violations has the equivalence argument)
    all_viols = rowpass_viols
    for v in agg_viols:
        all_viols = all_viols.unionByName(v)

    # ---- single-job report relation -----------------------------------
    # The violation branches AND the per-partition row-count branch union
    # into ONE plan, tagged by `_rec`. Materializing it is ONE Spark job:
    # the branch stages (row pass, uniqueness aggregate, referential
    # anti-join, row count) are independent and get scheduled
    # concurrently. The row-count branch is column-pruned by Catalyst to
    # the partition column only (no check expressions) — at 100 TB that
    # reads one dictionary-encoded column, not the corpus.
    if carry:
        counts = df.groupBy(partition_col).agg(F.expr("count(1) AS _rows"))
    else:
        counts = df.agg(F.expr("count(1) AS _rows"))
    v_rec = all_viols.withColumns({"_rec": F.lit("v"),
                                   "_rows": F.expr("CAST(NULL AS BIGINT)")})
    rows_rec = counts.select(
        *[F.expr(f"CAST(NULL AS STRING) AS {c}")
          for c in ("row_id", "path", "code", "message", "rule")],
        F.expr("CAST(NULL AS MAP<STRING, STRING>) AS params"),
        *carry,
        F.expr("'s' AS _rec"),
        "_rows",
    )
    report = v_rec.unionByName(rows_rec)

    if report_path:
        # ONE job writes everything durably; downstream outputs are
        # column-pruned parquet reads, immune to executor-cache pressure.
        # report_partitions (typically = cluster cores): repartition —
        # NOT coalesce — the write to that many tasks/files. The report
        # is bounded by the violation rate, so without this the narrow
        # row-pass branch emits one (tiny) file per INPUT partition and
        # the single-threaded job-commit + footer overhead becomes a
        # non-scaling tail at high parallelism. coalesce(N) was measured
        # 40% SLOWER at 41M rows/local[8] (80-92s vs 56-62s): it folds
        # the whole upstream compute into N tasks, losing dynamic load
        # balancing across the input's finer partitioning. repartition
        # keeps the upstream stage wide and only shuffles the (small,
        # violation-rate-bounded) report rows into N write tasks.
        # r6: the repartition is unconditional again — the r5 skip gated
        # on df.rdd.getNumPartitions(), which (a) measured the INPUT
        # width while the report's width is the sum of its branch
        # widths (shuffle.partitions for the aggregate branches + input
        # width for the map branches), so skipping lost the output-file-
        # count control exactly when the report was wider than the
        # input, and (b) forced an extra physical-plan-to-RDD conversion
        # on the driver for every validate() call (ADVICE r5 #2).
        w = report
        if report_partitions:
            w = report.repartition(report_partitions)
        # zstd (guide §6): ~25% smaller report files than snappy at the
        # same write time — the violations/verdicts reads scan less
        with job_description(df.sparkSession, "validate: report write"):
            w.write.mode("overwrite").option("compression", "zstd") \
                .parquet(report_path)
        # read back with the schema just written: no inference job
        report = df.sparkSession.read.schema(report.schema).parquet(report_path)
        violations = (report.filter(F.col("_rec") == "v")
                      .select(*VIOLATION_COLS, *carry))
    else:
        violations = all_viols

    verdicts = _verdicts_from_report(report, carry, partition_col)

    return ValidationResult(
        annotated=ann,
        violations=violations,
        clean=clean,
        verdicts=verdicts,
        report_path=report_path,
    )


def _verdicts_from_report(report: DataFrame, carry, partition_col: str,
                          *extra: Column) -> DataFrame:
    """ONE aggregate, no join: the 's' records of a partition carry its
    row count in `_rows` (sum() recovers it: validate's report has one
    record per partition holding its count, the ledger one record per
    row holding 1), and its violation rows all carry the same partition
    value (NULL included — groupBy keeps a NULL group, so no null-safe
    join gymnastics). `extra` aggregates ride along in the same groupBy
    (the ledger's per-check counts)."""
    viol_cnt = F.count(F.when(F.col("_rec") == "v", F.lit(1))).alias("violations")
    rows_cnt = F.sum(F.when(F.col("_rec") == "s", F.col("_rows"))).alias("rows")
    if carry:
        verdicts = report.groupBy(partition_col).agg(rows_cnt, viol_cnt, *extra)
    else:
        verdicts = report.agg(rows_cnt, viol_cnt, *extra)
    return verdicts.withColumn(
        "verdict", F.when(F.col("violations") > 0, "fail").otherwise("pass")
    )

