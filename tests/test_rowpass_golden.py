"""Golden-fixture tests for the row pass (FIXTURES.md F1/F5), mirroring the
reference's error-model tests (api_error_model_test.go:14-71): assert codes
and paths, deterministic ordering, fail-fast vs collect, and the per-row
token-array equality invariant."""

from pyspark.sql import functions as F

from goskema_spark.corpus import (
    golden_corpus,
    golden_dim,
    golden_schema,
    golden_rows,
    row_id_col,
)
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.uniqueness import uniqueness_violations


def _viol_set(df):
    return {(r["row_id"], r["path"], r["code"]) for r in df.collect()}


def test_golden_rowpass_codes_and_paths(spark):
    corpus = golden_corpus(spark)
    _, viols, clean = validate_rows(corpus, golden_schema(), row_id_col())
    got = _viol_set(viols)
    expected = {
        ("d0051", "/tokens", "required"),
        ("d0051", "/n_tok", "required"),
        ("d0052", "/tokens", "too_short"),
        ("d0052", "/n_tok", "too_small"),
        ("d0053", "/tokens/1", "domain_range"),
        ("d0054", "/tokens/1", "domain_range"),
        ("d0055", "/n_tok", "business_rule"),
        ("d0056", "/n_tok", "too_small"),
        ("d0056", "/n_tok", "business_rule"),
        ("d0057", "/n_tok", "too_big"),
        ("d0057", "/n_tok", "business_rule"),
        ("d0059", "/source", "required"),
        ("d0060", "/tokens", "too_long"),
        ("d0060", "/n_tok", "too_big"),
        ("row-61", "/doc_id", "required"),
        ("row-62", "/doc_id", "required"),
    }
    assert got == expected


def test_golden_rowpass_messages_and_params(spark):
    corpus = golden_corpus(spark)
    _, viols, _ = validate_rows(corpus, golden_schema(), row_id_col())
    rows = {(r["row_id"], r["path"], r["code"]): r for r in viols.collect()}
    # catalog messages (reference i18n/translator.go:36-57; fallback = code)
    assert rows[("d0051", "/tokens", "required")]["message"] == "required property missing"
    assert rows[("d0052", "/tokens", "too_short")]["message"] == "too short"
    assert rows[("d0056", "/n_tok", "too_small")]["message"] == "too_small"  # fallback
    # params carry min/max/got (reference Issue.Params, errors.go:52)
    p = rows[("d0060", "/tokens", "too_long")]["params"]
    assert p["max"] == "32" and p["got"] == "33"
    p = rows[("d0055", "/n_tok", "business_rule")]["params"]
    assert p["expected"] == "4" and p["got"] == "5"
    assert rows[("d0055", "/n_tok", "business_rule")]["rule"] == "n_tok_matches_tokens"


def test_golden_clean_rows_and_token_equality(spark):
    corpus = golden_corpus(spark)
    _, _, clean = validate_rows(corpus, golden_schema(), row_id_col())
    clean_rows = {r["doc_id"]: r for r in clean.collect()}
    # rows 0-49 valid, plus 50 (dup caught only by uniqueness),
    # 58 (bad source caught only by referential), 63
    assert len(clean_rows) == 52  # d0007 appears twice (ids collide in dict)
    inputs = {r[4]: r for r in golden_rows()}
    for r in clean.collect():
        assert r["tokens"] == inputs[r["_ord"]][1]  # token-array equality invariant


def test_golden_uniqueness(spark):
    corpus = golden_corpus(spark)
    v = uniqueness_violations(corpus, "doc_id", "_ord", row_id_col())
    rows = v.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["row_id"], r["path"], r["code"]) == ("d0007", "/doc_id", "uniqueness")
    assert r["message"] == "duplicate value"  # reference rules.go:126
    assert r["params"] == {"first": "7", "dup": "50", "key": "d0007"}


def test_golden_referential(spark):
    corpus = golden_corpus(spark)
    v = referential_violations(corpus, "source", golden_dim(spark), "source", row_id_col())
    rows = v.collect()
    assert _viol_set(v) == {("d0058", "/source", "invalid_enum")}
    assert rows[0]["params"] == {"got": "parachute"}


def test_fail_fast_single_issue_per_row(spark):
    """FailFast stops at the first issue (reference api.go:147-156)."""
    sch = golden_schema()
    sch.fail_fast = True
    corpus = golden_corpus(spark)
    _, viols, _ = validate_rows(corpus, sch, row_id_col())
    per_row = viols.groupBy("row_id").count().collect()
    assert all(r["count"] == 1 for r in per_row)
    # multi-issue row d0056 keeps exactly its first issue
    assert viols.filter(F.col("row_id") == "d0056").count() == 1


def test_deterministic_order(spark):
    corpus = golden_corpus(spark)
    _, viols, _ = validate_rows(corpus, golden_schema(), row_id_col())
    a = [tuple(r) for r in viols.orderBy("row_id", "path", "code").collect()]
    b = [tuple(r) for r in viols.orderBy("row_id", "path", "code").collect()]
    assert a == b


def test_unknown_column_strict(spark):
    corpus = golden_corpus(spark).withColumn("zzz", F.lit(1))
    _, viols, _ = validate_rows(corpus, golden_schema(), row_id_col())
    unknown = viols.filter(F.col("code") == "unknown_key")
    assert unknown.count() == 64
    assert unknown.select("path").distinct().collect()[0]["path"] == "/zzz"
