"""Physical-plan quality gates: the 100-TB properties must be visible in
the plan, not just hoped for.

 - column pruning: aggregates over 3 scalar columns must not read the
   tokens array from parquet
 - predicate pushdown: partition-style filters reach the parquet scan
 - referential check: broadcast join, never a shuffle join
 - row pass: zero Python (no BatchEvalPython / ArrowEvalPython) and
   whole-stage codegen present
"""

import tempfile

from pyspark.sql import functions as F

from goskema_spark.corpus import corpus_from_documents, corpus_schema, dim_source_df, row_id_col
from goskema_spark.referential import referential_violations
from goskema_spark.rowpass import validate_rows
from goskema_spark.stats import profile

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _corpus_parquet(spark, tmp):
    corpus_from_documents(spark, SF).write.mode("overwrite").parquet(f"{tmp}/c")
    return spark.read.parquet(f"{tmp}/c")


def test_column_pruning_stats(spark):
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        plan = _plan(profile(df, ["doc_id", "n_tok", "source"]))
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "tokens" not in scan, f"tokens not pruned: {scan}"


def test_filter_pushdown(spark):
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        plan = _plan(df.filter(F.col("source") == "src1").select("doc_id"))
        assert "PushedFilters: [IsNotNull(source), EqualTo(source,src1)]" in plan \
            or "EqualTo(source,src1)" in plan, plan


def test_referential_small_dim_compiles_to_filter(spark):
    """A small dim is collected once and compiled into an isin filter —
    no join operator at all, the fact side is a pure codegen'd scan
    (r6: the per-run broadcast anti-join measured 1.59s vs 0.15s for
    the compiled filter at 12.8M rows)."""
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        v = referential_violations(df, "source", dim_source_df(spark), "source", row_id_col())
        plan = _plan(v)
        assert "Join" not in plan, plan
        assert "Exchange" not in plan, "fact side must not shuffle"


def test_referential_large_dim_is_broadcast(spark):
    """Above the inline threshold the check falls back to a broadcast
    anti-join — never a shuffle of the fact side, and the dim side is
    broadcast as it is: no distinct aggregate, no hash exchange, only
    the BroadcastExchange."""
    from pyspark.sql import functions as F
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        big_dim = spark.range(10000).select(
            F.concat(F.lit("src"), F.col("id").cast("string")).alias("source"))
        v = referential_violations(df, "source", big_dim, "source", row_id_col())
        plan = _plan(v)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, "referential check must not sort-merge"
        assert "BroadcastExchange" in plan, plan
        assert "HashAggregate" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan


def test_referential_inline_matches_join(spark):
    """Both physical shapes must produce identical violations for one
    domain, a NULL domain value included. The join path gets the same
    domain repeated past the inline threshold, so its build side holds
    every key many times over (and the NULL key too)."""
    from pyspark.sql import functions as F, types as T

    from goskema_spark.referential import MAX_INLINE_VALUES
    dim_schema = T.StructType([T.StructField("source", T.StringType(), True)])
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        dim_rows = [("src1",), ("src2",), (None,)]
        dim = spark.createDataFrame(dim_rows, dim_schema)
        repeated = spark.createDataFrame(
            dim_rows * (MAX_INLINE_VALUES // len(dim_rows) + 1), dim_schema)
        a = referential_violations(df, "source", dim, "source", row_id_col())
        b = referential_violations(df, "source", repeated, "source", row_id_col())
        assert "Join" not in _plan(a) and "BroadcastHashJoin" in _plan(b)
        assert a.count() == b.count() > 0
        norm = lambda d: d.withColumn("params", F.map_entries("params"))
        assert norm(a).exceptAll(norm(b)).count() == 0
        # empty dim: every non-null value is a miss
        empty = spark.createDataFrame([], dim_schema)
        n_nonnull = df.filter(F.col("source").isNotNull()).count()
        ea = referential_violations(df, "source", empty, "source", row_id_col())
        assert ea.count() == n_nonnull


def test_rowpass_no_python_and_codegen(spark):
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        _, viols, _ = validate_rows(df, corpus_schema(), row_id_col())
        plan = _plan(viols)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            "row pass must stay JVM-side"
        # '*(n)' marks whole-stage-codegen'd operators in executedPlan
        # output; the lambda (higher-order-function) projection itself
        # cannot codegen in Spark, but the surrounding operators must
        assert "*(" in plan, "row pass should have codegen'd stages"


def test_violations_filter_first_matches_ungated_body(spark):
    """r6: the violations feed filters on the codegen'd gate BELOW the
    interpreted HOF body projection (explode drops empty arrays, so
    rows the gate skips lose nothing). Checks (a) the plan really has
    the gate as a Filter under the Generate, and (b) row-for-row
    equality with exploding the UNGATED body built on every row —
    including a WIDE (non-exact) gate, where gate-fired rows can still
    build an empty array that explode must drop."""
    from pyspark.sql import types as T

    from goskema_spark import schema as S
    from goskema_spark.rowpass import apply_defaults, compile_checks, explode_violations

    def ungated(df, sch, rid):
        dfd = apply_defaults(df, sch)
        body = F.expr(compile_checks(sch, dfd).body_sql())
        return explode_violations(dfd.withColumn("_violations", body), rid)

    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        sch = corpus_schema()
        new = validate_rows(df, sch, row_id_col())[1]
        old = ungated(df, sch, row_id_col())
        plan = _plan(new)
        gen = plan.find("Generate")
        filt = plan.find("Filter", gen)
        assert gen != -1 and filt != -1, "expected Filter below the Generate"
        norm = lambda d: d.withColumn("params", F.map_entries("params"))
        assert new.count() == old.count() > 0
        assert norm(new).exceptAll(norm(old)).count() == 0
        assert norm(old).exceptAll(norm(new)).count() == 0

    # wide gate: an Or-combinator whose branches can fire while the
    # chosen (minimal) branch stays empty
    rows = [("r1", 1, None), ("r2", None, 2), ("r3", None, None),
            ("r4", 5, 6)]
    df2 = spark.createDataFrame(
        rows, T.StructType([T.StructField("id", T.StringType()),
                            T.StructField("a", T.IntegerType()),
                            T.StructField("b", T.IntegerType())]))
    sch2 = S.table(S.field("id", "string", required=True),
                   S.field("a", "int32"), S.field("b", "int32"),
                   unknown="strip")
    # branch A fires on rows where `a` is null, branch B on `b` null —
    # r1/r2 trip the wide OR gate yet their minimal branch is empty
    sch2.or_refine("a_or_b", [
        [S.Refinement(name="a_set", path="/a", code="required",
                      violates="a IS NULL")],
        [S.Refinement(name="b_set", path="/b", code="required",
                      violates="b IS NULL")],
    ])
    new2 = validate_rows(df2, sch2, F.col("id"))[1]
    old2 = ungated(df2, sch2, F.col("id"))
    got_new = sorted((r["row_id"], r["path"], r["code"]) for r in new2.collect())
    got_old = sorted((r["row_id"], r["path"], r["code"]) for r in old2.collect())
    assert got_new == got_old
    assert any(r[0] == "r3" for r in got_new)  # the violating row


def test_clean_rows_filter_on_the_gate_alone(spark):
    """With an exact gate the clean rows are one Filter on the gate: no
    higher-order function anywhere in the plan, and the Filter is
    whole-stage-codegen'd. Testing the built violations array instead
    inlines the interpreted build into the Filter, and every clean row
    pays it (the r4 clean_scan regression)."""
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        plan = _plan(validate_rows(df, corpus_schema(), row_id_col())[2])
        assert "lambdafunction" not in plan, plan
        filters = [ln for ln in plan.splitlines() if " Filter " in ln]
        assert filters and all("*(" in ln for ln in filters), plan


def test_uniqueness_is_two_stage_agg(spark):
    """The duplicate-key aggregate of the uniqueness check must show
    partial aggregation (map-side combine) below the hash exchange on
    the key hash `_kh`."""
    from goskema_spark.uniqueness import uniqueness_violations
    with tempfile.TemporaryDirectory() as tmp:
        df = _corpus_parquet(spark, tmp)
        plan = _plan(uniqueness_violations(df, "doc_id", "_ord", row_id_col()))
        lines = plan.splitlines()
        # HashAggregate (final, -> _kh) / Exchange / HashAggregate (partial)
        final = next((i for i, ln in enumerate(lines)
                      if "HashAggregate" in ln and "output=[_kh#" in ln), None)
        assert final is not None, plan
        assert "Exchange hashpartitioning" in lines[final + 1], plan
        assert "HashAggregate" in lines[final + 2] \
            and "partial_count(1)" in lines[final + 2], "expected partial agg below the shuffle"


def test_json_schema_export(spark):
    """JSON Schema export parity (reference jsonschema/schema.go:5-23,
    dsl/object_core.go:289-320)."""
    sch = corpus_schema()
    js = sch.to_json_schema()
    assert js["type"] == "object"
    assert js["additionalProperties"] is False
    assert js["required"] == ["doc_id", "n_tok", "source", "tokens"]
    tok = js["properties"]["tokens"]
    assert tok == {"type": "array", "items": {"type": "integer"},
                   "minItems": 1, "maxItems": 64}
    assert js["properties"]["n_tok"]["minimum"] == 1
    assert js["properties"]["n_tok"]["maximum"] == 64


def test_json_schema_roundtrip(spark):
    """Export -> import -> export fixpoint (contract-import direction,
    reference kubeopenapi import surface)."""
    from goskema_spark.schema import from_json_schema
    sch = corpus_schema()
    js = sch.to_json_schema()
    sch2 = from_json_schema(js)
    assert sch2.to_json_schema() == js
    assert sch2.unknown == "strict"
    assert sch2.get("tokens").dtype.max_len == 64


def test_json_schema_oneof_union_roundtrip(spark):
    """Discriminated unions export as oneOf with a const-pinned
    discriminator (reference dsl/union.go:85-93, jsonschema/schema.go:22)
    and round-trip back into a working union: per-variant required/type
    differences survive export -> from_json_schema -> re-validate."""
    from pyspark.sql import functions as F, types as T

    from goskema_spark import schema as S
    from goskema_spark.rowpass import validate_rows
    from goskema_spark.schema import from_json_schema

    card = S.table(S.field("kind", "string", required=True),
                   S.field("number", "string"),
                   S.field("iban", "string"),
                   unknown="strip")
    card.discriminate("kind", {
        "card": S.table(S.field("number", "string", required=True,
                                pattern=r"^\d{12,19}$"), unknown="strip"),
        "bank": S.table(S.field("iban", "string", required=True,
                                min_str_len=15), unknown="strip"),
    })

    js = card.to_json_schema()
    assert js["discriminator"] == {"propertyName": "kind"}
    tags = {b["properties"]["kind"]["const"] for b in js["oneOf"]}
    assert tags == {"card", "bank"}
    by_tag = {b["properties"]["kind"]["const"]: b for b in js["oneOf"]}
    assert by_tag["card"]["required"] == ["number"]
    assert by_tag["bank"]["properties"]["iban"]["minLength"] == 15

    sch2 = from_json_schema(js)
    assert sch2.discriminator is not None
    df = spark.createDataFrame(
        [("r1", "card", "4111111111111111", None),
         ("r2", "card", "x", None),
         ("r3", "bank", None, "DE00123456789012345"),
         ("r4", "bank", None, "short"),
         ("r5", "crypto", None, None)],
        T.StructType([T.StructField("id", T.StringType()),
                      T.StructField("kind", T.StringType()),
                      T.StructField("number", T.StringType()),
                      T.StructField("iban", T.StringType())]))
    _, viols, _ = validate_rows(df, sch2, F.col("id"))
    got = {(r["row_id"], r["path"], r["code"]) for r in viols.collect()
           if r["row_id"] != "r5" or "discriminator" in (r["rule"] or "")}
    assert ("r2", "/number", "pattern") in got
    assert ("r4", "/iban", "too_short") in got
    assert ("r5", "/kind", "discriminator_unknown") in got
    assert not any(r[0] in ("r1", "r3") for r in got)
