"""Dump .explain('formatted') physical plans, for before/after plan diffs.

Usage: python tools/plans.py <outdir> <suffix> [name,...]
Writes <outdir>/<name>_<suffix>.txt for each name.

With no names, dumps the five bench.py query shapes (rowpass,
clean_scan, stats_profile, ntok_histogram, full_validation) and
ledger_rows on the bench corpus (SPARK_GRAFT_SF_DIR x GSK_REPLICATE,
built if missing). full_validation is captured as three plans in one
file: the final (adaptive) plan of the report write (the single write
job), the violations read-back, and the verdicts aggregate over the
read-back and the input's partition column. ledger_rows runs
run_with_ledger interrupted after half the sources, then resumed, and
dumps the final (adaptive) plans of the first invocation's uniqueness
store write (uniqueness over the full table), and of the resumed
invocation's violations sink write (the store read back, its rows
filtered to the resumed partitions) and ledger write.

Any other name resolves through __spark_entry__.queries() and runs at
GSK_EXTRA_SF (default: bench.py's SF_DIR).

Expression ids (`#123`), exchange plan ids (`plan_id=45`) and
lambda-variable suffixes (`x_12`) are renumbered in first-seen order in
every file written, and ledger_rows' temporary directory and ledger
timestamps read `<tmp>` and `<time>`, so a diff of two runs of the same
plan is empty.

Run the same command in a checkout of the older commit to produce the
'before' plans (copy this file there for shapes it lacks), then diff
the two directories.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# an expression id (`#123`, `#123L`), an exchange's `plan_id=45`, and a
# lambda variable with its numeric suffix (`lambda x_12`)
_COUNTERS = [(re.compile(r"#(\d+)"), "#{}"),
             (re.compile(r"plan_id=(\d+)"), "plan_id={}"),
             (re.compile(r"\b(lambda [A-Za-z_][A-Za-z0-9_]*?)_(\d+)\b"), "{}_{}")]


def renumber(text: str) -> str:
    """Expression ids, plan ids and lambda-variable suffixes renumbered
    in first-seen order: all come from JVM-wide counters, so they differ
    between runs of the same plan."""
    for pat, form in _COUNTERS:
        seen = {}

        def sub(m, seen=seen, form=form):
            n = seen.setdefault(m.group(m.lastindex), len(seen))
            return form.format(*m.groups()[:-1], n)
        text = pat.sub(sub, text)
    return text


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# the output path of a file write, from the formatted plan's node details
_WRITE_PATH = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)",
                         re.S)


def final_write_plan(spark, path: str) -> str:
    """The formatted final (adaptive) plan of the last parquet write into
    `path`, from the SQL status store: exchange reuse only shows there,
    adaptive execution applies it at run time."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        plan = execs.apply(i).physicalPlanDescription()
        out = _WRITE_PATH.search(plan)
        if out and out.group(1).rstrip("/").endswith(path):
            return plan
    raise LookupError(f"no write into {path}")


def ledger_plans(spark, load, dims) -> str:
    """Final plans of the first run_with_ledger invocation's uniqueness
    store write, and of the resumed invocation's violations sink write
    and ledger write; the temporary directory reads `<tmp>`, the ledger
    rows' timestamps `<time>`."""
    from goskema_spark.corpus import corpus_schema, row_id_col
    from goskema_spark.ledger import run_with_ledger

    tmp = tempfile.mkdtemp(prefix="gsk_plans_")
    try:
        sources = load().select("source").distinct().collect()
        half = max(1, len([r for r in sources if r[0] is not None]) // 2)
        for kw in ({"fail_partition_limit": half}, {}):
            run_with_ledger(spark, load(), corpus_schema(), row_id_col(),
                            run_id="plans", ledger_path=f"{tmp}/ledger",
                            violations_path=f"{tmp}/violations", dims=dims, **kw)
        text = "\n".join([
            "==== uniqueness store write (first invocation, final plan) ====",
            final_write_plan(spark, f"{tmp}/ledger/_uniqueness/run_plans"),
            "==== violations sink write (resumed invocation, final plan) ====",
            final_write_plan(spark, f"{tmp}/violations"),
            "==== ledger write (resumed invocation, final plan) ====",
            final_write_plan(spark, f"{tmp}/ledger"),
        ]).replace(tmp, "<tmp>")
        # the ledger rows' driver-side start and end times
        return re.sub(r"[\d-]+ [\d:.]+ AS (started_at|finished_at)", r"<time> AS \1", text)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_plans(spark):
    """Yield (name, plan text) for the five bench.py shapes."""
    from bench import CPUS, REPLICATE, SF_DIR, ensure_corpus
    from pyspark.sql import functions as F
    from goskema_spark.corpus import corpus_schema, dim_source_df, row_id_col
    from goskema_spark.drift import histogram
    from goskema_spark.rowpass import validate_rows
    from goskema_spark.runner import validate
    from goskema_spark.stats import profile

    path = ensure_corpus(spark, SF_DIR, REPLICATE)
    dim = dim_source_df(spark)
    schema = corpus_schema()

    def load():
        return spark.read.parquet(path)

    _, viols, clean = validate_rows(load(), schema, row_id_col())
    yield "rowpass", fmt(viols)
    yield "clean_scan", fmt(clean.select(F.sum("n_tok")))
    yield "stats_profile", fmt(profile(load(), ["doc_id", "n_tok", "source"]))
    yield "ntok_histogram", fmt(histogram(load(), "n_tok", 0, 64, 16))

    # full_validation: run once, so the read-back plans see the real sink
    report = "/tmp/gsk_plans_report.parquet"
    res = validate(load(), schema, row_id_col(), dims={"dim_source": dim},
                   report_path=report, report_partitions=CPUS)
    yield "full_validation", "\n".join([
        "==== report write (the single write job, final plan) ====",
        final_write_plan(spark, report),
        "==== violations (report read-back) ====",
        fmt(res.violations),
        "==== verdicts (one aggregate: report read-back + input partition column) ====",
        fmt(res.verdicts),
    ])
    yield "ledger_rows", ledger_plans(spark, load, {"dim_source": dim})


def query_plans(spark, names):
    """Yield (name, plan text) for declared __spark_entry__ queries."""
    import __spark_entry__ as entry
    from bench import SF_DIR

    qs = entry.queries()
    sf = os.environ.get("GSK_EXTRA_SF", SF_DIR)
    for name in names:
        yield name, fmt(qs[name](spark, sf))


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else []
    os.makedirs(outdir, exist_ok=True)

    from bench import CPUS, get_spark

    spark = get_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    plans = query_plans(spark, names) if names else bench_plans(spark)
    for name, text in plans:
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(renumber(text))
        print(f"wrote {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
