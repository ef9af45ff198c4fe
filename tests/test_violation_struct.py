"""The violation struct and the tables built from it keep their declared
types: violation() writes a named_struct over literals as SQL text, and
must type exactly like the struct(alias, cast) Column form it replaced."""

from pyspark.sql import Column, functions as F, types as T

from conftest import SF_DIR as SF
from goskema_spark.corpus import corpus_from_documents, corpus_schema, dim_source_df, row_id_col
from goskema_spark.issues import VIOLATION_SCHEMA, VIOLATION_STRUCT
from goskema_spark.rowpass import _VIOL_DDL, _lit_s, _s, validate_rows, violation
from goskema_spark.runner import validate


def _struct_alias_cast(path, code, rule=None, params=None, message=None):
    """The struct(...alias) plus cast() construction violation() replaced."""
    path_col = path if isinstance(path, Column) else F.lit(path)
    if params:
        kv = []
        for k in sorted(params):
            v = params[k]
            kv.extend([F.lit(k), (v if isinstance(v, Column) else F.lit(v)).cast("string")])
        params_col = F.create_map(*kv)
    else:
        params_col = F.lit(None).cast("map<string,string>")
    return F.struct(
        path_col.cast("string").alias("path"),
        F.lit(code).alias("code"),
        F.lit(message if message is not None else "msg").alias("message"),
        F.lit(rule).cast("string").alias("rule"),
        params_col.alias("params"),
    )


def _ddl_struct(spark):
    return spark.sql(f"SELECT CAST(NULL AS {_VIOL_DDL}) AS v").schema["v"].dataType


def test_violation_struct_types(spark):
    df = spark.createDataFrame([("a", 3)], "s string not null, n int not null")
    # (SQL-text arguments, the same violation as Column arguments)
    shapes = [
        (("'/doc_id'", "required", None, None, "msg"),
         ("/doc_id", "required", None, None, "msg")),
        (("'/doc_id'", "too_big", "max", {"max": _lit_s(5), "got": _s("n")}, "msg"),
         ("/doc_id", "too_big", "max", {"max": 5, "got": F.col("n")}, "msg")),
        (("concat('/tokens/', CAST(n AS STRING))", "domain_range", "elem_domain",
          {"got": _s("s"), "flag": _lit_s(True)}, "msg"),
         (F.concat(F.lit("/tokens/"), F.col("n").cast("string")), "domain_range",
          "elem_domain", {"got": F.col("s"), "flag": True}, "msg")),
        (("'/source'", "invalid_enum", "enum", {"enum": _lit_s("a,b")}, "msg"),
         ("/source", "invalid_enum", "enum", {"enum": "a,b"}, "msg")),
    ]
    declared = [(f.name, f.dataType.simpleString()) for f in VIOLATION_STRUCT.fields]
    ddl = _ddl_struct(spark)
    for (path, code, rule, params, message), old_args in shapes:
        v = violation(path, code, rule, params, message)
        got = df.select(F.expr(v).alias("v")).schema["v"].dataType
        old = df.select(_struct_alias_cast(*old_args).alias("v")) \
            .schema["v"].dataType
        # names and types as declared, nullability as the old form's
        assert [(f.name, f.dataType.simpleString()) for f in got.fields] == declared
        assert [(f.name, f.dataType.simpleString()) for f in ddl.fields] == declared
        assert got == old, (code, got, old)
        # path and code are NOT NULL, as VIOLATION_STRUCT declares
        assert not got["path"].nullable and not got["code"].nullable


def test_violations_column_and_tables_keep_their_schemas(spark, tmp_path):
    corpus = corpus_from_documents(spark, SF)
    dirty = validate_rows(corpus, corpus_schema(), row_id_col())[0]
    # the per-row array is exactly array<_VIOL_DDL>, nullability included
    assert dirty.schema["_violations"].dataType == T.ArrayType(_ddl_struct(spark), True)

    # res.violations: VIOLATION_SCHEMA's fields plus the partition column,
    # all nullable (parquet read-back of the report)
    dims = {"dim_source": dim_source_df(spark)}
    res = validate(corpus, corpus_schema(), row_id_col(), dims=dims,
                   report_path=str(tmp_path / "report"))
    expected = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in VIOLATION_SCHEMA.fields]
        + [T.StructField("source", T.StringType(), True)])
    assert res.violations.schema == expected
    assert res.verdicts.schema == T.StructType([
        T.StructField("source", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("violations", T.LongType(), False),
        T.StructField("verdict", T.StringType(), False),
    ])
    # the lazy result's violations carry the same names and types
    lazy = validate(corpus, corpus_schema(), row_id_col(), dims=dims)
    assert [(f.name, f.dataType.simpleString()) for f in lazy.violations.schema.fields] \
        == [(f.name, f.dataType.simpleString()) for f in expected.fields]


def test_ledger_parquet_schema(spark, tmp_path):
    from goskema_spark.ledger import LEDGER_SCHEMA, run_with_ledger

    run_with_ledger(spark, corpus_from_documents(spark, SF), corpus_schema(), row_id_col(),
                    run_id="s", ledger_path=str(tmp_path / "led"),
                    dims={"dim_source": dim_source_df(spark)})
    got = spark.read.parquet(str(tmp_path / "led")).schema
    # LEDGER_SCHEMA's names and types; parquet reads every column nullable
    assert got == T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in LEDGER_SCHEMA.fields])


def test_s_keeps_spark_string_forms(spark):
    df = spark.createDataFrame([(7, True, 2.5)], "i int, b boolean, d double")
    vals = [_lit_s(3), _lit_s(True), _lit_s(1.5), _lit_s(1e20), _lit_s("x"), _lit_s(False),
            _s("i"), _s("b"), _s("d"), _lit_s(-0.0), _lit_s(0.1), _lit_s(2**40),
            _lit_s("it's \\ ~/")]
    out = df.selectExpr(*[f"{v} AS c{i}" for i, v in enumerate(vals)])
    assert all(f.dataType == T.StringType() for f in out.schema.fields)
    assert list(out.first()) == ["3", "true", "1.5", "1.0E20", "x", "false",
                                 "7", "true", "2.5", "-0.0", "0.1", "1099511627776",
                                 "it's \\ ~/"]
