"""Convenience API tests (reference api.go:95-134 surface)."""

from pyspark.sql import functions as F

from goskema_spark.api import first_issue, is_valid, safe_validate, validate_records
from goskema_spark.corpus import (
    corpus_from_documents,
    corpus_schema,
    dim_source_df,
    golden_corpus,
    golden_schema,
    row_id_col,
)
from goskema_spark.issues import message_for

SF = "/root/testdata/sf0.001"


def test_is_valid(spark):
    corpus = corpus_from_documents(spark, SF)
    dims = {"dim_source": dim_source_df(spark)}
    assert not is_valid(corpus, corpus_schema(), row_id_col(), dims=dims)
    clean_only = corpus.filter(
        F.col("doc_id").isNotNull() & (F.col("doc_id") != "DUP")
        & F.col("tokens").isNotNull() & (F.size("tokens").between(1, 64))
        & F.col("n_tok").isNotNull() & (F.col("n_tok") == F.size("tokens"))
        & F.col("n_tok").between(1, 64)
        & ~F.exists("tokens", lambda t: (t < 0) | (t >= 1000))
        & F.col("source").isin([f"src{i}" for i in range(20)]))
    assert is_valid(clean_only, corpus_schema(), row_id_col(), dims=dims)

    # a schema without unique or foreign keys: the row pass alone decides
    keyless = golden_schema()
    keyless.unique_keys, keyless.foreign_keys = [], []
    golden = golden_corpus(spark)
    assert not is_valid(golden, keyless, row_id_col())
    assert is_valid(golden.filter(F.col("_ord") < 50), keyless, row_id_col())


def test_safe_validate(spark):
    corpus = golden_corpus(spark)
    dims = {"dim_source": spark.createDataFrame(
        [(s,) for s in ["web", "books", "code", "wiki"]], ["source"])}
    out, ok = safe_validate(corpus, golden_schema(), row_id_col(), dims=dims)
    assert not ok and out.columns[:3] == ["row_id", "path", "code"]
    valid = corpus.filter(F.col("_ord") < 50)
    out2, ok2 = safe_validate(valid, golden_schema(), row_id_col(), dims=dims)
    assert ok2 and out2.count() == 50


def test_first_issue_deterministic(spark):
    corpus = golden_corpus(spark)
    from goskema_spark.rowpass import validate_rows
    _, viols, _ = validate_rows(corpus, golden_schema(), row_id_col())
    fi = first_issue(viols)
    assert (fi["row_id"], fi["path"]) == ("d0051", "/n_tok")


def test_validate_records(spark):
    sch = golden_schema()
    good = {"doc_id": "x1", "tokens": [1, 2], "n_tok": 2, "source": "web"}
    bad = {"doc_id": None, "tokens": [], "n_tok": 0, "source": "web"}
    clean, issues = validate_records(spark, [good, bad], sch, row_id_field="doc_id")
    assert len(clean) == 1 and clean[0]["doc_id"] == "x1"
    codes = {(i["path"], i["code"]) for i in issues}
    assert ("/doc_id", "required") in codes and ("/tokens", "too_short") in codes


def test_i18n_catalogs():
    assert message_for("required") == "required property missing"
    assert message_for("required", "ja") == "必須プロパティが不足しています"
    assert message_for("uniqueness", "ja") == "uniqueness"  # fallback = code
