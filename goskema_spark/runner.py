"""Validator orchestration: full validation run -> violations, per-partition
verdicts, stats, drift, ledger rows.

Lifecycle (SURVEY §3.4): scan -> [the caller's explicit repartition by
(source, hash(doc_id)), e.g. the CLI's --repartition] -> ONE violation
plan: the vectorized row pass, the uniqueness aggregate and the
referential anti-join, unioned. Fail-fast vs collect follows reference
api.go:147-156.

Materialization strategy (the 100 TB design): pass `report_path` to write
the violations ONCE as parquet in a single job; `violations` is then a
read of those files. This replaces a `.persist()`: violations are bounded
by the violation rate, not by a constant — at a 10% rate on 10^12 rows
they are 10^11 heavyweight struct rows, which no executor cache should
hold (measured: the persist caused GC stalls that erased all scaling;
parquet materialization restored it). Without `report_path` the result
stays fully lazy (each output recomputes its branch when actioned) —
right for single-output callers like `is_valid`.

One writer (`write_violations`), shared with `ledger.run_with_ledger`:
the same parquet columns for both, `params` stored as JSON text,
zstd-compressed, a REBALANCE shuffle before the write (not a coalesce,
which would fold the upstream compute into the write tasks;
`report_partitions` > 0 sets its count), and a read-back with the
schema just written (no inference job) that parses `params` back into
its map, so it has the lazy result's schema. validate() replaces all of
`report_path` with flat files; the ledger writes run_id=/part_key=
partitions (`part_key_sql`) and overwrites only the partitions it
writes.

Jobs of one `validate(report_path=...)`, each labelled with
setJobDescription (the caller's description is restored afterwards;
the job group is never touched):
  - "validate: referential domain probe" — one small collect of a
    dimension's values, once per dimension frame (memoized);
  - "validate: report write" — the report write, one job per adaptive
    query stage.
Nothing else runs until the caller reads `violations` or `verdicts`;
the verdicts plan itself is built on first access.

Every plan here is built from Spark SQL text (goskema_spark.sqltext
quotes names and literals): a string crosses to the JVM in a few py4j
round trips, where each Column method call costs a dozen.
`ledger.run_with_ledger` passes no `report_path`: it writes the lazy
violations into its own sink through the same writer and adds its own
jobs (see its module docstring).

Resume scoping (`partitions=`): a predicate on the partition column.
Row checks, referential checks and row counts run on the filtered rows;
uniqueness is a property of the whole input, so its violation rows come
from all of it and only they are filtered, by the same predicate on the
carried partition column — no join against the partition set. By
default validate() builds them (`uniqueness_rows`, the aggregate over
the whole input); `uniqueness=` hands it rows already computed over the
whole input instead — the ledger passes the run's stored rows, so a
resumed invocation runs no uniqueness aggregate.

Per-partition verdicts use the *logical* partition (the `source` value by
default) rather than spark_partition_id(): physical partition ids are not
stable across cluster sizes, and the resume/ledger protocol needs a
partition identity that survives re-planning. Verdicts are ONE hash
aggregate (`aggregate_verdicts`, shared with the ledger) over one record
per violation and one per input row, the latter a column-pruned read of
the input's partition column: no join (NULL partition values group
naturally). With `report_path` the violation side is the report read-back.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from goskema_spark.issues import VIOLATION_SCHEMA
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.schema import TableSchema
from goskema_spark.sqltext import ident, string
from goskema_spark.uniqueness import uniqueness_violations

# The ledger sink's violations land in part_key=<dir> partitions. Real
# values get a "v_" prefix and NULL gets its own token, so NO real
# partition value can collide with the NULL slot (a literal "__NULL__"
# source becomes "v___NULL__"). Spark URL-escapes unsafe chars in
# partition dir names.
_NULL_KEY = "__NULL__"


def part_key_sql(partition_col: str) -> str:
    c = ident(partition_col)
    return f"CASE WHEN {c} IS NULL THEN {string(_NULL_KEY)} ELSE concat('v_', {c}) END"


def _partition_of_key(key: str) -> str:
    """Inverse of part_key_sql: the partition value a part_key names."""
    return f"CASE WHEN {key} != {string(_NULL_KEY)} THEN substr({key}, 3) END"


class ValidationResult:
    """violations: union of row-pass + aggregate violations; clean: rows
    with zero violations (row-pass level); verdicts: partition_col,
    rows, violations, verdict — built on first access (the ledger never
    reads it)."""

    def __init__(self, violations: DataFrame, clean: DataFrame, verdicts):
        self.violations = violations
        self.clean = clean
        self._verdicts = verdicts   # a DataFrame, or a builder of one

    @property
    def verdicts(self) -> DataFrame:
        if callable(self._verdicts):
            self._verdicts = self._verdicts()
        return self._verdicts


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
    partitions: Union[str, Column, None] = None,
    uniqueness: Optional[DataFrame] = None,
) -> ValidationResult:
    """Run the full check set declared on `schema` against `df`.

    report_path: parquet location of the one-job violation report (see
    module docstring). None = fully lazy result.
    report_partitions: > 0 sets the report write's REBALANCE count.

    partitions: a predicate on `partition_col` (SQL text or a Column)
    selecting the partitions to validate (checkpoint resume); None
    validates all of `df`. Row checks and row counts run on
    `df.filter(partitions)`. Uniqueness is
    a GLOBAL property, so it still runs over all of `df` — duplicate
    detection and first/dup attribution stay identical to an
    uninterrupted run; the aggregate reads only (key, ordinal, partition)
    via column pruning — and its violation rows are then filtered by the
    same predicate on the carried partition column.

    uniqueness: the uniqueness violation rows of ALL of `df`, as
    `uniqueness_rows` builds them (the partition column carried), to use
    in place of building them here; they are filtered by `partitions`
    like the built ones. None builds them. The caller vouches that they
    belong to this `df` and `schema` (the ledger reads back the rows it
    stored for the run).
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
    # row-pass violations (carry already attached), exploded from
    # validate_rows' one feed: a codegen'd gate Filter below the
    # interpreted HOF body projection, so clean rows never reach the build
    _, violations, clean = validate_rows(df, schema, row_id, carry=carry)
    # aggregate checks read the PLAIN input, not the row-pass feed — they
    # never touch _violations, and keeping the giant check expression out
    # of their subtrees cuts driver-side analysis cost ~3x per run
    if uniqueness is None:
        uniqueness = uniqueness_rows(full, schema, row_id, carry)
    if uniqueness is not None:
        if partitions is not None:
            uniqueness = uniqueness.filter(partitions)
        violations = violations.unionByName(uniqueness)
    for fk in schema.foreign_keys:
        dim = dims.get(fk.dim_name)
        if dim is None:
            # dependency failure -> dependency_unavailable (errors.go:35)
            raise RuntimeError(f"dependency_unavailable: dimension '{fk.dim_name}' not provided")
        # building it may probe the dim's domain (one small collect)
        with job_description(df.sparkSession, "validate: referential domain probe"):
            violations = violations.unionByName(
                referential_violations(df, fk.column, dim, fk.dim_column,
                                       row_id, code=fk.code, carry=carry))

    if report_path:
        with job_description(df.sparkSession, "validate: report write"):
            violations = write_violations(violations, report_path, partition_col,
                                          tasks=report_partitions)
    return ValidationResult(
        violations, clean, lambda: aggregate_verdicts(violations, df, partition_col))


def uniqueness_rows(df: DataFrame, schema: TableSchema, row_id: Column,
                    carry=()) -> Optional[DataFrame]:
    """The violation rows of every unique key declared on `schema`, over
    all of `df` (`carry` columns attached), unioned; None without unique
    keys."""
    rows = None
    for uk in schema.unique_keys:
        uv = uniqueness_violations(df, uk.column, uk.ordinal or uk.column, row_id,
                                   carry=carry, broadcast=uk.broadcast)
        rows = uv if rows is None else rows.unionByName(uv)
    return rows


def uniqueness_schema(df: DataFrame, row_id: Column, carry=()) -> T.StructType:
    """The columns of `uniqueness_rows(df, ..., row_id, carry)` — the
    layout of rowpass.violation_rows: row_id with its own type, the
    other violation columns, then `carry` — from a one-column projection
    of `df`, without building the uniqueness plan (~0.1 s of driver
    analysis)."""
    return T.StructType([df.select(row_id.alias("row_id")).schema["row_id"],
                         *VIOLATION_SCHEMA.fields[1:], *(df.schema[c] for c in carry)])


def write_violations(viols: DataFrame, path: str, partition_col: str,
                     tasks: int = 0, run_id: Optional[str] = None) -> DataFrame:
    """Write `viols` (the violation columns, plus `partition_col` when
    carried) as parquet at `path` in one job, `params` as JSON text, and
    return the read-back with `viols`'s columns and types.

    With `run_id`: the ledger's sink. Rows land in run_id=/part_key=
    partitions with dynamic overwrite — a partition re-validated after a
    crash REPLACES its rows instead of appending duplicates — shuffled
    by part_key with the REBALANCE hint (about one file per partition,
    AQE splits a hot one); the read-back is pruned to the run, its
    partition value decoded from part_key.

    Without: a report replacing all of `path` — flat files with the
    sink's columns, REBALANCEd into `tasks` partitions (0: AQE's
    choice). Flat, because a file per partition costs ~15-20 ms to
    create on a 4-vCPU host's local filesystem, and AQE merges a small
    shuffle into one task that creates them in turn: with part_key
    partitions, bench.py full_validation measured 13-33% slower."""
    cols = viols.columns
    sink = viols.selectExpr(*["to_json(params) AS params" if c == "params" else ident(c)
                              for c in cols])
    if run_id is None:
        sink = sink.hint("rebalance", *([tasks] if tasks > 0 else []))
        parts = []
    else:
        sink = sink.selectExpr("*", f"{string(run_id)} AS run_id",
                               f"{part_key_sql(partition_col)} AS part_key") \
            .hint("rebalance", "part_key")
        parts = ["run_id", "part_key"]
    # dynamic overwrite of an unpartitioned write replaces all of path
    (sink.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .option("compression", "zstd")
     .partitionBy(*parts)
     .parquet(path))
    # read back with the schema just written: no inference job
    back = viols.sparkSession.read.schema(sink.schema).parquet(path)
    out = {"params": "from_json(params, 'map<string,string>') AS params"}
    if parts:
        back = back.where(f"run_id = {string(run_id)}")
        out[partition_col] = f"{_partition_of_key('part_key')} AS {ident(partition_col)}"
    return back.selectExpr(*[out.get(c, ident(c)) for c in cols])


def aggregate_verdicts(viols: DataFrame, df: DataFrame, partition_col: str,
                       counts=()) -> DataFrame:
    """Per-partition rows, violations and verdict: ONE aggregate, no
    join, over one 'v' record per violation and one 's' record per row
    of `df` (its partition column only). Every violation carries its
    partition value (NULL included — groupBy keeps a NULL group, so no
    null-safe join gymnastics). `counts`: (name, SQL condition on a
    violation row) pairs, each adding the column `name` with the number
    of the partition's violations that match it (the ledger's per-check
    counts). Without `partition_col` in `df`, one verdict for all of it."""
    keys = [partition_col] if partition_col in df.columns else []
    recs = viols.selectExpr("*", "'v' AS _kind").unionByName(
        df.selectExpr(*[ident(k) for k in keys], "'s' AS _kind"), allowMissingColumns=True)
    verdicts = recs.groupBy(*keys).agg(
        F.expr("sum(CASE WHEN _kind = 's' THEN 1 END) AS rows"),
        F.expr("count(CASE WHEN _kind = 'v' THEN 1 END) AS violations"),
        *[F.expr(f"count(CASE WHEN _kind = 'v' AND ({cond}) THEN 1 END) AS {ident(name)}")
          for name, cond in counts])
    return verdicts.selectExpr(
        "*", "CASE WHEN violations > 0 THEN 'fail' ELSE 'pass' END AS verdict")
