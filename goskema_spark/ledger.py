"""Run ledger + checkpoint/resume (north rule: "resumable from checkpoint
with per-partition lineage + metrics written to a ledger table").

The reference has no analog (it is a single-call library); the design
follows FIXTURES.md F4:

  ledger row: run_id, partition_id, source, rows, violations, verdict,
              checks map<string,string>, started_at, finished_at
  (partition_id = xxhash64 of the partition key — deterministic from the
  source VALUE, so it is identical across batches, resumes, and cluster
  sizes; ledger identity remains the source column itself)

Protocol:
  - logical partitions = distinct values of the partition column
    (`source`): stable across cluster sizes and re-planning, unlike
    spark_partition_id().
  - a partition is COMPLETE once its ledger row is durably written
    (parquet append of one file per batch, atomic enough for a
    single-writer run; Iceberg commits would make this transactional on
    a real lakehouse).
  - resume: re-running with the same run_id loads the ledger, skips
    completed partitions through a predicate on the partition column
    (pushed down to the reader), validates only the remainder, and
    appends their ledger rows. The final ledger is identical to an
    uninterrupted run (idempotence test in tests/test_ledger.py).
  - uniqueness store: uniqueness is a property of the whole input, so
    the run's uniqueness violation rows (every unique key, the partition
    column carried) are computed ONCE over all of it and stored at
    <ledger_path>/_uniqueness/run_<urllib.parse.quote(run_id, safe='')>/
    (overwrite). The `run_` prefix keeps "", "." and ".." children of
    `_uniqueness`: a bare ".." would name the ledger directory itself,
    and the overwrite would delete every run's ledger rows. Every
    invocation filters the rows to its own partitions; only the one that
    writes the store runs the uniqueness aggregate. Spark's file index
    and pyarrow's dataset readers skip `_`-prefixed names without `=`,
    so read_ledger, completed_partitions and a plain parquet read of
    ledger_path never see it.
  - invariant: a run's ledger rows are written only after its store has
    committed. So the store is read back when the run already has
    ledger rows and the store holds its `_SUCCESS` marker, with the
    schema uniqueness_rows writes (runner.uniqueness_schema: no
    inference job, and no uniqueness plan is built); otherwise it is
    computed and overwritten. That covers a first invocation, a crash
    between the store write and the first ledger row, a stale store of
    a run without ledger rows, and a ledger written before the store
    existed — ledger rows without a store, or, after a crash inside that
    first store write, with an uncommitted one (`_temporary/` only).
  - precondition: a run_id is resumed over the same input and the same
    schema. The ledger counts of an invocation are read from the sink
    partitions it rewrites; dynamic overwrite replaces only partitions
    that have violations now, so a partition whose rows changed to clean
    between a crash and its resume would still count its stale rows.
    A committed uniqueness store is never recomputed once the run has
    ledger rows, so its rows are those of the input the run started on.
  - jobs of one invocation, in order, each labelled
    "ledger <run_id>: <phase>" or "validate: <phase>" via
    setJobDescription (the caller's description is restored; the job
    group is left alone):
      1. completed partitions — one collect of this run's `source`
         values, read with LEDGER_SCHEMA (no inference job; an older
         file holding an int32 partition_id reads back widened) and
         deduped on the driver (the ledger holds one row per partition
         per run, so no distinct() shuffle);
      2. emptiness probe — take(1) of the remaining rows (with
         fail_partition_limit: a distinct collect of their partitions);
         when nothing remains the invocation stops here, writing nothing;
      3. uniqueness store — only when the run has no ledger rows yet
         (or no committed store): runner.uniqueness_rows over all of
         the input written to the store, one job per adaptive query
         stage (the dup-key aggregate, its broadcast, the first-ordinal
         aggregate, its broadcast, the write). Skipped without unique
         keys;
      4. validate's referential domain probe, once per dimension frame
         (runner module docstring). validate() itself stays lazy: no
         report is materialized, and it takes the store's read-back
         as its uniqueness rows;
      5. violations sink — runner.write_violations (the one violation
         writer; validate(report_path=) writes the same columns, flat)
         writes the lazy violation plan straight into violations_path,
         with run_id as the leading partition and dynamic overwrite, one
         job per adaptive query stage; the uniqueness branch is a scan
         of the store, so the sink runs no uniqueness aggregate, and a
         large dim's referential branch is a broadcast of its rows, with
         no distinct shuffle (referential module docstring);
      6. ledger write — runner.aggregate_verdicts, the one verdict
         aggregate, over this invocation's sink partitions (the writer's
         read-back, pruned to run_id and part_key) and the input's
         partition column (the row counts) yields rows, violations and
         every per-check count: one scan of each side, one shuffle, no
         join — two jobs. Without violations_path the same aggregate
         runs over the lazy violation plan.
    The resume predicate, the per-check conditions, the `checks` map and
    the ledger rows are written as Spark SQL text (goskema_spark.sqltext),
    and the returned ValidationResult's verdicts are never built here.
"""

from __future__ import annotations

from typing import Optional
from urllib.parse import quote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, types as T

from goskema_spark.issues import pointer
from goskema_spark.runner import (
    ValidationResult, aggregate_verdicts, job_description, part_key_sql,
    uniqueness_rows, uniqueness_schema, validate, write_violations)
from goskema_spark.sqltext import chain, ident, in_list, string

LEDGER_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_id", T.LongType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("rows", T.LongType(), True),
    T.StructField("violations", T.LongType(), True),
    T.StructField("verdict", T.StringType(), True),
    T.StructField("checks", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("started_at", T.TimestampType(), True),
    T.StructField("finished_at", T.TimestampType(), True),
])

def completed_partitions(spark: SparkSession, ledger_path: str, run_id: str):
    """Partitions already ledgered under run_id -> (values, null_done).
    NULL membership is tracked out-of-band as a boolean, never as a
    sentinel string that a real partition value could collide with.
    The existence probe goes through the Spark reader (AnalysisException
    on a missing path), not the driver's local filesystem, so s3://... /
    hdfs://... ledger paths resume correctly on a real cluster. A
    directory that holds no ledger file yet (only a run's uniqueness
    store) reads as no rows."""
    try:
        led = read_ledger(spark, ledger_path, run_id)
    except AnalysisException:
        return set(), False
    # one row per partition per run: dedupe on the driver, a distinct()
    # would only add a shuffle stage
    vals = {r["source"] for r in led.select("source").collect()}
    null_done = None in vals
    vals.discard(None)
    return vals, null_done


def _uniqueness_store(spark: SparkSession, df: DataFrame, schema, row_id, run_id: str,
                      ledger_path: str, partition_col: str,
                      stored: bool) -> Optional[DataFrame]:
    """The run's uniqueness violation rows over all of `df`, read from
    its store (module docstring). `stored`: the run has ledger rows, so
    its store has committed — unless `_SUCCESS` is missing (a ledger
    written before the store existed, or a crash inside its first store
    write); otherwise the store is (re)written first. None without
    unique keys: no store."""
    if not schema.unique_keys:
        return None
    # the fixed prefix keeps every run_id ("", ".", "..") a child of
    # _uniqueness, never _uniqueness itself or the ledger directory
    path = f"{ledger_path}/_uniqueness/run_{quote(run_id, safe='')}"
    # read back with the schema it is written with: no inference job
    cols = uniqueness_schema(df, row_id, carry=[partition_col])
    if stored:
        try:
            spark.read.text(f"{path}/_SUCCESS")  # existence probe, no job
            return spark.read.schema(cols).parquet(path)
        except AnalysisException:
            pass  # no committed store: compute it
    with job_description(spark, f"ledger {run_id}: uniqueness store"):
        uniqueness_rows(df, schema, row_id, carry=[partition_col]) \
            .write.mode("overwrite").parquet(path)
    return spark.read.schema(cols).parquet(path)


def run_with_ledger(
    spark: SparkSession,
    df: DataFrame,
    schema,
    row_id,
    run_id: str,
    ledger_path: str,
    violations_path: Optional[str] = None,
    dims: Optional[dict] = None,
    partition_col: str = "source",
    fail_partition_limit: int = 0,
) -> Optional[ValidationResult]:
    """Validate `df`, skipping partitions already completed under this
    run_id. `fail_partition_limit` > 0 stops after writing that many
    partition batches (test hook simulating a mid-run crash).

    Returns the ValidationResult for the partitions processed in THIS
    invocation (None if everything was already complete).
    """
    if not run_id:
        # a sink partition value "" reads back as NULL (Hive's default
        # partition), so the run's sink read-back would be empty
        raise ValueError("run_id must be a non-empty string")
    with job_description(spark, f"ledger {run_id}: completed partitions"):
        done, null_done = completed_partitions(spark, ledger_path, run_id)
    # the partitions this invocation validates, as a predicate on the
    # partition column (pushed down to the reader). With nothing done it
    # folds to `true`, and the optimizer drops the filters built from it
    pc = ident(partition_col)
    todo = f"NOT {in_list(pc, sorted(done))}" if done else "true"
    todo = (f"({todo}) AND ({pc} IS NOT NULL)" if null_done
            else f"({todo}) OR ({pc} IS NULL)")

    probe = job_description(spark, f"ledger {run_id}: emptiness probe")
    if fail_partition_limit:
        # test hook only: needs the explicit partition list
        with probe:
            remaining = [r[0] for r in
                         df.filter(todo).select(partition_col).distinct().collect()]
        if not remaining:
            return None
        keep = sorted((s for s in remaining if s is not None))[:fail_partition_limit]
        cond = in_list(pc, keep)
        if None in remaining and len(keep) < fail_partition_limit:
            # the NULL partition fills the remaining quota — an empty
            # IN list alone would starve it forever once it is the only
            # one left (empty batch every resume, never ledgered, never
            # done)
            cond = f"({cond}) OR ({pc} IS NULL)"
        todo = f"({todo}) AND ({cond})"
    else:
        # emptiness probe, not a distinct-collect: partition_col may be
        # higher-cardinality than the ledger protocol expects (it should
        # be a low-cardinality logical partition like `source`), and
        # take(1) stops at the first row
        with probe:
            if not df.filter(todo).select(partition_col).take(1):
                return None

    # driver-side wall clock, NOT F.current_timestamp(): the latter is
    # evaluated once per QUERY, and both timestamp columns land in the
    # same ledger-write query — started_at would always equal
    # finished_at, erasing the run duration the lineage row exists for
    import datetime as _dt
    now = _dt.datetime.now(_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    started = f"timestamp_micros({(now - epoch) // _dt.timedelta(microseconds=1)}L)"
    # uniqueness comes from all of df (a global property), computed once
    # per run; every other check, and the row counts, run over the
    # `todo` partitions only
    uniq = _uniqueness_store(spark, df, schema, row_id, run_id, ledger_path,
                             partition_col, stored=bool(done) or null_done)
    res = validate(df, schema, row_id, dims=dims, partition_col=partition_col,
                   partitions=todo, uniqueness=uniq)

    viols = res.violations
    if violations_path:
        # idempotent under crash-resume (write_violations): this
        # invocation's partitions replace their rows under run_id
        with job_description(spark, f"ledger {run_id}: violations sink"):
            viols = write_violations(viols, violations_path, partition_col,
                                     run_id=run_id).where(todo)

    # Per-check verdicts derived from each check's OWN violation class —
    # a partition failing only rowpass must report unique_*: pass, not
    # inherit the overall verdict (VERDICT r4 #2). Classes: uniqueness
    # rows carry rule='unique_by' at the key's pointer path; referential
    # rows carry rule='ref_<col>'; everything else is the row pass.
    agg_checks = (
        [(f"unique_{u.column}",
          f"rule = 'unique_by' AND path = {string(pointer(u.column))}")
         for u in schema.unique_keys]
        + [(f"ref_{k.column}", f"rule = {string(f'ref_{k.column}')}")
           for k in schema.foreign_keys])
    rowpass_cond = (f"NOT ({chain('OR', [c for _, c in agg_checks])})"
                    if agg_checks else "true")
    check_conds = [("rowpass", rowpass_cond)] + agg_checks
    verd = aggregate_verdicts(
        viols, df.filter(todo), partition_col,
        [(f"_ck_{i}", cond) for i, (_, cond) in enumerate(check_conds)])
    checks = (f"map_from_arrays(array({', '.join(string(n) for n, _ in check_conds)}), "
              "array(" + ", ".join(f"CASE WHEN _ck_{i} > 0 THEN 'fail' ELSE 'pass' END"
                                   for i in range(len(check_conds))) + "))")
    # partition_id: STABLE across batches and crash-resumes — derived
    # deterministically from the partition VALUE (xxhash64), not from a
    # dense_rank over this invocation's verdicts: a rank restarts at 0 on
    # every resume, so under one run_id the same source could get
    # different ids across batches and two sources could share an id
    # (ADVICE r3). spark_partition_id() stays rejected for the same
    # reason (physical-plan-dependent noise). NULL partitions hash the
    # out-of-band sentinel, collision-free with any real 'v_'-prefixed
    # key (see part_key_sql).
    ledger_rows = verd.selectExpr(
        f"{string(run_id)} AS run_id",
        f"xxhash64({part_key_sql(partition_col)}) AS partition_id",
        f"{pc} AS source",
        "rows",
        "violations",
        "verdict",
        f"{checks} AS checks",
        f"{started} AS started_at",
        "current_timestamp() AS finished_at",
    )
    with job_description(spark, f"ledger {run_id}: ledger write"):
        ledger_rows.write.mode("append").parquet(ledger_path)
    return res


def read_ledger(spark: SparkSession, ledger_path: str, run_id: str) -> DataFrame:
    return (spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
            .filter(f"run_id = {string(run_id)}"))
