"""spark-submit entrypoint smoke test: run goskema_spark.__main__ against
a parquet corpus and check the ledger + JSON summary."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

from goskema_spark.corpus import corpus_from_documents, dim_source_df

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(tmp, run_id, *extra):
    out = subprocess.run(
        [sys.executable, "-m", "goskema_spark",
         "--input", f"{tmp}/in", "--dim-source", f"{tmp}/dim",
         "--ledger", f"{tmp}/ledger_{run_id}", "--violations", f"{tmp}/viols_{run_id}",
         "--run-id", run_id, "--repartition", "4", *extra],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_cli_end_to_end(spark):
    tmp = tempfile.mkdtemp()
    try:
        corpus_from_documents(spark, SF).write.mode("overwrite").parquet(f"{tmp}/in")
        dim_source_df(spark).write.mode("overwrite").parquet(f"{tmp}/dim")
        summary = _run_cli(tmp, "cli-test")
        assert summary["verdict"] == "fail"  # corrupted corpus must fail
        assert summary["rows"] == 500
        assert summary["violations"] > 0
        assert summary["partitions"] >= 20
        led = spark.read.parquet(f"{tmp}/ledger_cli-test")
        assert led.filter("run_id = 'cli-test'").count() == summary["partitions"]
        viols = spark.read.parquet(f"{tmp}/viols_cli-test")
        assert viols.count() == summary["violations"]
        # --unique-broadcast force (hinted dup-key join) must report the
        # same run as the default AQE-decided join
        forced = _run_cli(tmp, "cli-force", "--unique-broadcast", "force")
        for k in ("rows", "violations", "failed_partitions"):
            assert forced[k] == summary[k], k
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_synthesized_ordinal_catches_identical_duplicate_rows(spark):
    """ADVICE r5 (high): a content-hash ordinal gave byte-identical
    duplicate rows the SAME ordinal, so uniqueness_violations (which
    keeps rows with ordinal != first) reported zero violations for
    exact re-ingested duplicates. The (file, row_index) ordinal must
    give every physical row a distinct ordinal."""
    from pyspark.sql import functions as F

    from goskema_spark.__main__ import with_synthesized_ordinal
    from goskema_spark.uniqueness import uniqueness_violations

    tmp = tempfile.mkdtemp()
    try:
        rows = [("d1", [1, 2], 2, "web"), ("d1", [1, 2], 2, "web"),
                ("d2", [3], 1, "web")]
        base = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string")
        base.write.mode("overwrite").parquet(f"{tmp}/in")
        df = with_synthesized_ordinal(spark.read.parquet(f"{tmp}/in"))
        # every physical row gets a DISTINCT ordinal, duplicates included
        assert df.select("_ord").distinct().count() == 3
        v = uniqueness_violations(df, "doc_id", "_ord", F.col("doc_id"))
        assert v.count() == 1  # the non-first identical duplicate
        # deterministic across re-reads (stable attribution for resume)
        df2 = with_synthesized_ordinal(spark.read.parquet(f"{tmp}/in"))
        assert (df.select("doc_id", "_ord").exceptAll(
            df2.select("doc_id", "_ord")).count() == 0)
        # non-file source falls back to the content hash (documented)
        mem = with_synthesized_ordinal(base)
        assert "_ord" in mem.columns
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
