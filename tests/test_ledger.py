"""Checkpoint/resume protocol tests (FIXTURES.md F4): kill after k
partitions, re-run with the same run_id, assert completed partitions are
skipped and the final ledger matches an uninterrupted run."""

import glob
import os
import re
import shutil
import tempfile
from urllib.parse import quote

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T
from pyspark.sql.readwriter import DataFrameWriter

from goskema_spark.corpus import corpus_from_documents, corpus_schema, dim_source_df, row_id_col
from goskema_spark.ledger import (
    LEDGER_SCHEMA, completed_partitions, read_ledger, run_with_ledger)
from goskema_spark.runner import uniqueness_rows, uniqueness_schema, validate

SF = "/root/testdata/sf0.001"


def _ledger_key(rows):
    """One run's ledger rows, run_id and timestamps aside, comparable."""
    return sorted(
        ((r["source"], r["partition_id"], r["rows"], r["violations"], r["verdict"],
          sorted(r["checks"].items())) for r in rows),
        key=repr,
    )


def _sink_key(spark, path, run_id):
    """One run's sink violation rows (rule, path, params, row_id, source),
    comparable."""
    return sorted(repr((r["rule"], r["path"], r["params"], r["row_id"], r["source"]))
                  for r in spark.read.parquet(path).where(F.col("run_id") == run_id)
                  .select("rule", "path", "params", "row_id", "source").collect())


def _resume_vs_uninterrupted(spark, corpus, dims, tmp, limit, row_id=None):
    """An uninterrupted run ("full") and a run interrupted after `limit`
    partitions then resumed ("r1"), each with a sink, checked equal ->
    (the uninterrupted ledger's key, the interrupted run's ledger rows,
    the resumed invocation's result). `row_id` defaults to row_id_col()."""
    row_id = row_id_col() if row_id is None else row_id
    run_with_ledger(spark, corpus, corpus_schema(), row_id, run_id="full",
                    ledger_path=f"{tmp}/led_full", violations_path=f"{tmp}/v_full",
                    dims=dims)
    full = _ledger_key(read_ledger(spark, f"{tmp}/led_full", "full").collect())
    assert len(full) > 0
    # interrupted run: only `limit` partitions complete, then "crash"
    run_with_ledger(spark, corpus, corpus_schema(), row_id, run_id="r1",
                    ledger_path=f"{tmp}/led", violations_path=f"{tmp}/v", dims=dims,
                    fail_partition_limit=limit)
    partial = read_ledger(spark, f"{tmp}/led", "r1").collect()
    assert len(partial) == limit
    # resume: same run_id — completed partitions must be skipped
    res = run_with_ledger(spark, corpus, corpus_schema(), row_id, run_id="r1",
                          ledger_path=f"{tmp}/led", violations_path=f"{tmp}/v", dims=dims)
    assert _ledger_key(read_ledger(spark, f"{tmp}/led", "r1").collect()) == full
    # the sink rows too: the resumed invocation's uniqueness rows come
    # from the run's store, not from the input
    assert _sink_key(spark, f"{tmp}/v", "r1") == _sink_key(spark, f"{tmp}/v_full", "full")
    return full, partial, res


def test_resume_matches_uninterrupted(spark):
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        # 14 partitions complete before the crash: in sorted order src2,
        # which holds the DUP key's first occurrence, is the 14th, and
        # src5 and src8, which hold two of its duplicates, are not done
        full, partial, res = _resume_vs_uninterrupted(spark, corpus, dims, tmp, 14)
        done_sources = {r["source"] for r in partial}
        assert "src2" in done_sources and not {"src5", "src8"} & done_sources
        resumed_sources = {r["source"] for r in res.verdicts.collect()}
        assert not (done_sources & resumed_sources)
        firsts = {r["params"]["first"] for r in res.violations.collect()
                  if r["rule"] == "unique_by" and r["params"]["key"] == "DUP"}
        assert firsts == {"2"}, firsts
        # the ledger and validate(report_path=) share one verdict aggregate
        rp = validate(corpus, corpus_schema(), row_id_col(), dims=dims,
                      report_path=f"{tmp}/report")
        assert sorted(((s, n, v, verdict) for s, _, n, v, verdict, _ in full), key=repr) \
            == sorted(map(tuple, rp.verdicts.collect()), key=repr)

        # third run: everything complete -> no-op
        assert run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                               run_id="r1", ledger_path=f"{tmp}/led", dims=dims) is None
        assert _ledger_key(read_ledger(spark, f"{tmp}/led", "r1").collect()) == full
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_matches_uninterrupted_all_duplicates(spark):
    """Every doc_id is one key: the run's uniqueness store holds every
    row but the first, and a resume still matches an uninterrupted run."""
    corpus = corpus_from_documents(spark, SF).withColumn("doc_id", F.lit("same"))
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        _resume_vs_uninterrupted(spark, corpus, dims, tmp, 5)
        store = spark.read.parquet(f"{tmp}/led/_uniqueness/run_r1")
        assert store.count() == corpus.count() - 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_matches_uninterrupted_bigint_row_id(spark):
    """A non-string row_id keeps its type through the uniqueness store:
    the store is read back with the schema uniqueness_rows writes."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    row_id = F.expr("_ord")
    written = uniqueness_rows(corpus, corpus_schema(), row_id, carry=["source"]).schema
    assert [(f.name, f.dataType) for f in uniqueness_schema(corpus, row_id, ["source"])] \
        == [(f.name, f.dataType) for f in written]
    assert written["row_id"].dataType == T.LongType()
    tmp = tempfile.mkdtemp()
    try:
        _resume_vs_uninterrupted(spark, corpus, dims, tmp, 5, row_id=row_id)
        store = spark.read.parquet(f"{tmp}/led/_uniqueness/run_r1")
        assert store.schema["row_id"].dataType == T.LongType()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ledger_checks_map_and_null_partition(spark):
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="x", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/viols")
        led = read_ledger(spark, f"{tmp}/led", "x").collect()
        # NULL source is a logical partition with its own ledger row
        assert any(r["source"] is None for r in led)
        by_src = {r["source"]: r for r in led}
        assert set(by_src["parachute"]["checks"].keys()) == {
            "rowpass", "unique_doc_id", "ref_source"}
        assert by_src["parachute"]["verdict"] == "fail"
        viols = spark.read.parquet(f"{tmp}/viols")
        assert viols.filter(F.col("run_id") == "x").count() > 0

        # Per-check verdicts reflect each check's OWN violation class
        # (VERDICT r4 #2): derive the expectation from the violations
        # table and compare against every ledger row's checks map.
        vrows = viols.filter(F.col("run_id") == "x").collect()
        uniq_fail = {r["source"] for r in vrows
                     if r["rule"] == "unique_by" and r["path"] == "/doc_id"}
        ref_fail = {r["source"] for r in vrows if r["rule"] == "ref_source"}
        rp_fail = {r["source"] for r in vrows
                   if not (r["rule"] == "unique_by" and r["path"] == "/doc_id")
                   and r["rule"] != "ref_source"}
        for r in led:
            ck = r["checks"]
            assert ck["unique_doc_id"] == (
                "fail" if r["source"] in uniq_fail else "pass"), r
            assert ck["ref_source"] == (
                "fail" if r["source"] in ref_fail else "pass"), r
            assert ck["rowpass"] == (
                "fail" if r["source"] in rp_fail else "pass"), r
        # a partition failing rowpass only must NOT inherit the overall
        # verdict into unaffected checks
        only_rp = [r for r in led if r["verdict"] == "fail"
                   and r["source"] in rp_fail
                   and r["source"] not in uniq_fail
                   and r["source"] not in ref_fail]
        assert only_rp, "fixture should contain a rowpass-only partition"
        assert all(r["checks"]["unique_doc_id"] == "pass" for r in only_rp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_violations_not_duplicated(spark):
    """Crash between the violations write and the ledger write: the
    resume re-validates those partitions and must REPLACE their violation
    rows (dynamic partition overwrite), not append duplicates."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="ref", ledger_path=f"{tmp}/led_ref", dims=dims,
                        violations_path=f"{tmp}/v_ref")
        ref_n = spark.read.parquet(f"{tmp}/v_ref").count()
        ref_ledger = _ledger_key(read_ledger(spark, f"{tmp}/led_ref", "ref").collect())

        # partial run writes violations for 5 partitions, then "crash"
        # loses the ledger (worst-case ordering)
        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/v", fail_partition_limit=5)
        shutil.rmtree(f"{tmp}/led")

        run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                        run_id="r", ledger_path=f"{tmp}/led", dims=dims,
                        violations_path=f"{tmp}/v")
        assert spark.read.parquet(f"{tmp}/v").count() == ref_n
        # the resumed ledger counts come from the rewritten sink
        # partitions: equal to the uninterrupted run's, timestamps aside
        assert _ledger_key(read_ledger(spark, f"{tmp}/led", "r").collect()) == ref_ledger
        # the violations are written once, straight into the sink: no
        # scratch report is left next to the ledger
        assert not glob.glob(f"{tmp}/*__report*"), os.listdir(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_fail_limit_reaches_null_partition_and_timestamps(spark):
    """r5 review: with fail_partition_limit, the NULL partition must be
    able to fill the batch quota once the named partitions are done —
    isin([]) alone starved it forever, so a caller looping until None
    never terminated. Also: started_at must precede finished_at (the
    start is captured driver-side before validate; a same-query
    current_timestamp pair always rendered duration zero)."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    tmp = tempfile.mkdtemp()
    try:
        rounds = 0
        while run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                              run_id="nl", ledger_path=f"{tmp}/led",
                              dims=dims, fail_partition_limit=3) is not None:
            rounds += 1
            assert rounds < 30, "resume loop did not terminate"
        led = read_ledger(spark, f"{tmp}/led", "nl").collect()
        assert any(r["source"] is None for r in led)  # NULL got ledgered
        assert all(r["started_at"] <= r["finished_at"] for r in led)
        assert any(r["started_at"] < r["finished_at"] for r in led)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _group_jobs(sc, group):
    """(job count, set of job descriptions) of one job group."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    descs = set()
    for j in jobs:
        d = jsc.statusStore().job(j).description()
        descs.add(d.get() if d.isDefined() else None)
    return len(jobs), descs


def test_resumed_invocation_jobs_labels_and_ledger_plan(spark, monkeypatch):
    """One resumed invocation on the golden corpus runs a fixed number of
    Spark jobs, every one of them labelled by phase, and restores the
    caller's job description and group. Its violations go straight from
    the lazy plan into the sink (rebalanced by part_key, no join against
    the partition set), and its ledger rows come from ONE aggregate over
    the sink read-back and the input rows: no join, no scratch report."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    sc = spark.sparkContext
    tmp = tempfile.mkdtemp()
    writes = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        writes.append((path, self._df))
        return orig(self, path, *args, **kwargs)

    def run(group, **kw):
        sc.setJobGroup(group, "caller")
        try:
            run_with_ledger(spark, corpus, corpus_schema(), row_id_col(),
                            run_id="j", ledger_path=f"{tmp}/led", dims=dims,
                            violations_path=f"{tmp}/v", **kw)
            assert sc.getLocalProperty("spark.job.description") == "caller"
            assert sc.getLocalProperty("spark.jobGroup.id") == group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    try:
        run("gsk_first", fail_partition_limit=5)
        first_descs = _group_jobs(sc, "gsk_first")[1]
        # the dim's domain is probed once per dim (memoized), here
        assert "validate: referential domain probe" in first_descs
        # the first invocation computes the run's uniqueness rows and
        # stores them next to the ledger
        assert "ledger j: uniqueness store" in first_descs, first_descs

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        run("gsk_resume")
        n_jobs, descs = _group_jobs(sc, "gsk_resume")
        # completed partitions 1 (collect), emptiness probe 1, violations
        # sink 2 (one per adaptive stage), ledger write 2. The sink reads
        # the run's uniqueness store, written once by the first
        # invocation, instead of aggregating the whole input.
        assert n_jobs == 6, n_jobs
        assert descs == {
            "ledger j: completed partitions", "ledger j: emptiness probe",
            "ledger j: violations sink", "ledger j: ledger write"}, descs

        sink_df = next(df for p, df in writes if p == f"{tmp}/v")
        sink_plan = sink_df._jdf.queryExecution().optimizedPlan().toString()
        assert sink_plan.startswith("RebalancePartitions [part_key"), sink_plan
        assert "LeftSemi" not in sink_plan, sink_plan
        assert "Aggregate" not in sink_plan, sink_plan

        ledger_df = next(df for p, df in writes if p == f"{tmp}/led")
        qe = ledger_df._jdf.queryExecution()
        plan = qe.optimizedPlan().toString()
        executed = qe.executedPlan().toString()
        # two relations: the sink read-back and the input rows
        assert plan.count("Relation ") == 2, plan
        sink_scan = next((ln for ln in executed.splitlines() if f"{tmp}/v]" in ln), executed)
        # pruned to this run and this invocation's partitions (part_key)
        assert re.search(r"PartitionFilters: \[isnotnull\(run_id#\d+\), "
                         r"\(run_id#\d+ = j\), .*part_key", sink_scan), sink_scan
        assert "__report" not in executed, executed
        assert "Join" not in plan, plan
        # the resume predicate lists the completed sources in sorted
        # order, so the plan text does not follow the hash seed
        done = sorted(r["source"] for r in
                      read_ledger(spark, f"{tmp}/led", "j").collect()
                      if r["source"] is not None)
        listed = re.search(r" IN \(([^)]*)\)", plan)
        assert listed is not None, plan
        assert listed.group(1).split(",") == done[:5], (listed.group(1), done)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("case,run_id", [
    ("legacy_ledger", "s"), ("uncommitted_store", "s"), ("stale_store", "s"),
    ("awkward_run_id", "a/b=c%d e"), ("awkward_run_id", "."), ("awkward_run_id", ".."),
    ("no_unique_keys", "s"), ("readers_skip_store", "s"), ("store_only", "s")])
def test_uniqueness_store_protocol(spark, tmp_path, case, run_id):
    """The run's uniqueness rows are stored under
    <ledger>/_uniqueness/run_<quoted run_id> by the invocation that
    finds no ledger rows (or no committed store) for the run, and read
    back by every later one. In every case an interrupted and resumed
    run ends with the uninterrupted run's ledger, and the uninterrupted
    run's own rows and store, in the same ledger, survive. Only in
    store_only does the uninterrupted run use a ledger of its own."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    schema = corpus_schema()
    if case == "no_unique_keys":
        schema.unique_keys = []
    led = str(tmp_path / "led")
    stores = tmp_path / "led" / "_uniqueness"
    store = stores / f"run_{quote(run_id, safe='')}"

    def run(rid, path=led, **kw):
        return run_with_ledger(spark, corpus, schema, row_id_col(), run_id=rid,
                               ledger_path=path, dims=dims, **kw)

    full_led = str(tmp_path / "led_full") if case == "store_only" else led
    runs = {run_id} if case == "store_only" else {"full", run_id}
    run("full", path=full_led)
    full = _ledger_key(read_ledger(spark, full_led, "full").collect())

    if case in ("stale_store", "store_only"):
        # a committed store of a run that never wrote a ledger row (in
        # store_only, the ledger directory's only content, as after a
        # crash between the first store write and the first ledger row):
        # its bogus row would fail src3's uniqueness check if it were read
        bogus = ("bogus", "/doc_id", "uniqueness", "duplicate value", "unique_by",
                 {"first": "0", "dup": "1", "key": "bogus"}, "src3")
        uniq = uniqueness_rows(corpus, schema, row_id_col(), carry=["source"])
        spark.createDataFrame([bogus], uniq.schema).write.parquet(str(store))
    if case == "store_only":
        # the ledger read finds no ledger file: no rows, not an error
        assert completed_partitions(spark, led, run_id) == (set(), False)
    run(run_id, fail_partition_limit=5)
    if case == "no_unique_keys":
        assert not stores.exists()
    else:
        assert (store / "_SUCCESS").is_file(), sorted(os.listdir(led))
        assert spark.read.parquet(str(store)).where("row_id = 'bogus'").count() == 0
    if case == "legacy_ledger":
        # a ledger written before the store existed: the resume computes it
        shutil.rmtree(stores / f"run_{quote(run_id, safe='')}")
    if case == "uncommitted_store":
        # that computation crashed before its commit: no _SUCCESS, only
        # the writer's _temporary, read as no rows if it were trusted
        shutil.rmtree(store)
        (store / "_temporary" / "0").mkdir(parents=True)
    if case == "readers_skip_store":
        assert len(read_ledger(spark, led, run_id).collect()) == 5
        assert len(completed_partitions(spark, led, run_id)[0]) == 5
        table = pq.read_table(led)
        assert table.num_rows == len(full) + 5 and table.column_names == LEDGER_SCHEMA.names

    run(run_id)
    assert _ledger_key(read_ledger(spark, led, run_id).collect()) == full
    assert _ledger_key(read_ledger(spark, full_led, "full").collect()) == full
    assert {r["run_id"] for r in spark.read.parquet(led).collect()} == runs
    if case != "no_unique_keys":
        assert (store / "_SUCCESS").is_file()
        assert sorted(os.listdir(stores)) == sorted(f"run_{quote(r, safe='')}" for r in runs)
    if case == "awkward_run_id" and run_id == "..":
        # a sink partition value "" reads back as NULL: no such run
        with pytest.raises(ValueError):
            run("")


def test_v1_ledger_file_reads_back_and_resumes(spark, tmp_path):
    """A ledger directory that holds a file of ledger format v1
    (partition_id int32, a dense rank per invocation) next to the run's
    v2 rows is read with LEDGER_SCHEMA: read_ledger and
    completed_partitions return every row, the v1 ids widened and still
    their dense ranks, and a resume appends to the directory."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    led = str(tmp_path / "led")

    def run(rid, path=led, **kw):
        return run_with_ledger(spark, corpus, corpus_schema(), row_id_col(), run_id=rid,
                               ledger_path=path, dims=dims, **kw)

    run("full", path=str(tmp_path / "led_full"))
    full = read_ledger(spark, str(tmp_path / "led_full"), "full").collect()
    run("r", fail_partition_limit=5)
    done = {r["source"] for r in read_ledger(spark, led, "r").collect()}
    # two more of the run's partitions, ledgered by a v1 invocation
    v1 = sorted(r["source"] for r in full if r["source"] not in done | {None})[:2]
    v1_schema = T.StructType([
        T.StructField(f.name, T.IntegerType() if f.name == "partition_id" else f.dataType)
        for f in LEDGER_SCHEMA.fields])
    v1_rows = [tuple({"run_id": "r", "partition_id": v1.index(r["source"])}.get(n, r[n])
                     for n in LEDGER_SCHEMA.names)
               for r in full if r["source"] in v1]
    spark.createDataFrame(v1_rows, v1_schema).write.mode("append").parquet(led)
    assert {str(pq.read_schema(f).field("partition_id").type)
            for f in glob.glob(f"{led}/*.parquet")} == {"int32", "int64"}

    got = read_ledger(spark, led, "r").collect()
    assert len(got) == 7 and {r["source"] for r in got} == done | set(v1)
    assert completed_partitions(spark, led, "r") == (done | set(v1), False)

    run("r")
    got = read_ledger(spark, led, "r").collect()
    assert {r["source"]: r["partition_id"] for r in got if r["source"] in v1} \
        == {s: i for i, s in enumerate(v1)}
    drop_id = lambda rows: sorted((k[:1] + k[2:] for k in _ledger_key(rows)), key=repr)
    assert drop_id(got) == drop_id(full)


def test_validate_partitions_scopes_rows_not_uniqueness(spark):
    """validate(partitions=pred) equals the unscoped run filtered by pred:
    row checks and row counts see only the selected partitions, while
    uniqueness still attributes first/dup over the whole table (a
    duplicate whose first occurrence lies outside the scope is kept)."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    # the DUP key occurs in src2 (first), src5, src8, src11 and src14
    pred = F.col("source").isin("parachute", "src5", "src8") | F.col("source").isNull()
    full = validate(corpus, corpus_schema(), row_id_col(), dims=dims)
    scoped = validate(corpus, corpus_schema(), row_id_col(), dims=dims, partitions=pred)

    def rows(df):
        return sorted(map(repr, df.collect()))

    assert rows(scoped.violations) == rows(full.violations.filter(pred))
    assert rows(scoped.verdicts) == rows(full.verdicts.filter(pred))
    assert scoped.clean.count() == full.clean.filter(pred).count()
    uniq = scoped.violations.filter(F.col("rule") == "unique_by").collect()
    assert len(uniq) == 2, uniq
    # a uniqueness run over the scoped rows alone differs: the first
    # occurrence lies outside the scope
    alone = validate(corpus.filter(pred), corpus_schema(), row_id_col(), dims=dims)
    assert rows(alone.violations.filter(F.col("rule") == "unique_by")) != \
        sorted(map(repr, uniq))

    with pytest.raises(ValueError):
        validate(corpus.drop("source"), corpus_schema(), row_id_col(), dims=dims,
                 partition_col="source", partitions=pred)


def _rows(df):
    """A frame's rows, comparable whatever the order of map entries."""
    return sorted(repr([sorted(v.items()) if isinstance(v, dict) else v for v in r])
                  for r in df.collect())


def _file_schema(path):
    """The parquet schema of one data file under `path`."""
    f = glob.glob(f"{path}/**/*.parquet", recursive=True)[0]
    return pq.read_schema(f).remove_metadata()


def test_report_path_writes_the_sink_columns(spark, tmp_path):
    """validate(report_path=P) writes the ledger sink's parquet columns
    (params as JSON text, no count records) and reads them back to the
    lazy result's violations and verdicts. A second call replaces all of
    P, and a frame without the partition column gets one verdict."""
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    report = str(tmp_path / "report")
    lazy = validate(corpus, corpus_schema(), row_id_col(), dims=dims)
    res = validate(corpus, corpus_schema(), row_id_col(), dims=dims, report_path=report)
    assert _rows(res.violations) == _rows(lazy.violations)
    assert any(r["params"] for r in res.violations.collect())  # the maps round-trip
    assert _rows(res.verdicts) == _rows(lazy.verdicts)
    run_with_ledger(spark, corpus, corpus_schema(), row_id_col(), run_id="c",
                    ledger_path=str(tmp_path / "led"), violations_path=str(tmp_path / "sink"),
                    dims=dims)
    assert _file_schema(report) == _file_schema(tmp_path / "sink")

    # a second call, on one source's rows, leaves only that source's rows
    one = corpus.filter(F.col("source") == "parachute")
    again = validate(one, corpus_schema(), row_id_col(), dims=dims, report_path=report)
    assert {r["source"] for r in spark.read.parquet(report).collect()} == {"parachute"}
    assert _rows(again.violations) == \
        _rows(validate(one, corpus_schema(), row_id_col(), dims=dims).violations)

    # no partition column: the same report, one verdict for the frame
    kw = {"dims": dims, "partition_col": "no_such_column"}
    flat = validate(corpus, corpus_schema(), row_id_col(), report_path=str(tmp_path / "flat"), **kw)
    lazy = validate(corpus, corpus_schema(), row_id_col(), **kw)
    assert _rows(flat.violations) == _rows(lazy.violations)
    assert _rows(flat.verdicts) == _rows(lazy.verdicts)
    assert len(flat.verdicts.collect()) == 1
