"""Operator-inventory coverage tests (SURVEY §2.1): each goskema DSL
operator exercised through the columnar row pass."""

import pytest
from pyspark.sql import functions as F, types as T

from goskema_spark import schema as S
from goskema_spark.rowpass import validate_rows
from goskema_spark.schema import Refinement


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _codes(viols):
    return {(r["row_id"], r["path"], r["code"]) for r in viols.collect()}


def test_sized_int_overflow_and_fraction(spark):
    """Int32Of overflow semantics (reference dsl/primitives.go:598-637)."""
    df = _df(spark, [("a", 5), ("b", 2**40), ("c", -(2**40))], T.StructType([
        T.StructField("id", T.StringType()), T.StructField("v", T.LongType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("v", "int64", int_bits="int32"))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {("b", "/v", "overflow"), ("c", "/v", "overflow")}

    dff = _df(spark, [("a", 1.0), ("b", 1.5)], T.StructType([
        T.StructField("id", T.StringType()), T.StructField("v", T.DoubleType())]))
    schf = S.table(S.field("id", "string", required=True), S.field("v", "int32"))
    _, viols, _ = validate_rows(dff, schf, F.col("id"))
    rows = viols.collect()
    assert _codes(viols) == {("b", "/v", "overflow")}
    assert rows[0]["message"] == "fractional part not allowed"


def test_array_element_width_narrower_than_physical(spark):
    """A declared element width narrower than the physical array element
    type is range-checked per element, as a scalar field's is; a width
    equal to the physical one adds no check."""
    for phys in (T.IntegerType(), T.ShortType()):
        df = _df(spark, [("a", [1, 1000, None]), ("b", [-128, 127]), ("c", None)],
                 T.StructType([T.StructField("id", T.StringType()),
                               T.StructField("xs", T.ArrayType(phys))]))
        sch = S.table(S.field("id", "string", required=True),
                      S.field("xs", S.array("int8", elem_nullable=True)))
        dirty, viols, clean = validate_rows(df, sch, F.col("id"))
        rows = viols.collect()
        assert _codes(viols) == {("a", "/xs/1", "overflow")}, phys
        assert rows[0]["rule"] == "elem_range_int8"
        assert sorted(r["id"] for r in clean.collect()) == ["b", "c"]

    df = _df(spark, [("a", [1, 1000, 2**31 - 1])], T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("xs", T.ArrayType(T.IntegerType()))]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("xs", S.array("int32", elem_nullable=True)))
    dirty, viols, clean = validate_rows(df, sch, F.col("id"))
    assert viols.count() == 0 and clean.count() == 1
    assert "elem_range" not in viols._jdf.queryExecution().analyzed().toString()


def test_enum_pattern_string_lengths(spark):
    df = _df(spark, [("a", "red", "u_1"), ("b", "blue", "u_22"),
                     ("c", "mauve", "xx"), ("d", "red", "u_" + "9" * 30)],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("color", T.StringType()),
                           T.StructField("uid", T.StringType())]))
    sch = S.table(
        S.field("id", "string", required=True),
        S.field("color", "string", enum=["red", "blue"]),
        S.field("uid", "string", pattern="^u_[0-9]+$", min_str_len=3, max_str_len=10),
    )
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = _codes(viols)
    assert ("c", "/color", "invalid_enum") in got
    assert ("c", "/uid", "pattern") in got
    assert ("d", "/uid", "too_long") in got
    assert ("a", "/uid", "pattern") not in got


def test_numeric_bounds_params(spark):
    df = _df(spark, [("a", 5.0), ("b", -1.0), ("c", 200.0)], T.StructType([
        T.StructField("id", T.StringType()), T.StructField("v", T.DoubleType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("v", "double", min=0, max=100))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    rows = {(r["row_id"], r["code"]): r for r in viols.collect()}
    assert rows[("b", "too_small")]["params"]["min"] == "0"
    assert rows[("c", "too_big")]["params"]["got"] == "200.0"


def test_contains_counter(spark):
    """WithStreamContains (reference dsl/array.go:51-56)."""
    df = _df(spark, [("a", [1, -1, 2]), ("b", [1, 2, 3]), ("c", [-1, -2, -3])],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("xs", T.ArrayType(T.IntegerType()))]))
    sch = S.table(
        S.field("id", "string", required=True),
        S.field("xs", S.array("int32", contains_pred="x -> x < 0",
                              contains_min=1, contains_max=2)),
    )
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = _codes(viols)
    assert ("b", "/xs", "too_short") in got  # zero negatives < min 1
    assert ("c", "/xs", "too_long") in got   # three negatives > max 2
    assert not any(r[0] == "a" for r in got)


def test_map_value_validation(spark):
    """Homogeneous map validation (reference dsl/map_core.go:48-119);
    escaped keys in pointer paths (ref_pathref.go:51-69)."""
    df = _df(spark, [("a", {"x": 5, "y": 50}), ("b", {"ok": 1, "bad/key": 999})],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("m", T.MapType(T.StringType(), T.IntegerType()))]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("m", S.map_of("int32", value_min=0, value_max=100)))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = _codes(viols)
    assert got == {("b", "/m/bad~1key", "too_big")}


def test_discriminated_union(spark):
    """Discriminator dispatch (reference dsl/union.go:17-52). A
    list-variant rule's `when` gates it like a table-level rule's."""
    df = _df(spark, [("a", "card", "4111", None),
                     ("b", "bank", None, "DE123"),
                     ("c", "crypto", None, None),
                     ("d", None, None, None),
                     ("e", "card", None, None),
                     ("f", "bank", None, "GB99")],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("kind", T.StringType()),
                           T.StructField("card_no", T.StringType()),
                           T.StructField("iban", T.StringType())]))
    sch = S.table(
        S.field("id", "string", required=True),
        S.field("kind", "string"),
        S.field("card_no", "string"),
        S.field("iban", "string"),
    ).discriminate("kind", {
        "card": [Refinement("card_requires_number", path="/card_no",
                            violates="card_no IS NULL",
                            code="required")],
        "bank": [Refinement("bank_requires_iban", path="/iban",
                            violates="iban IS NULL",
                            code="required"),
                 # fires on a non-DE iban, but only where `when` holds:
                 # row f's GB iban is excluded by it
                 Refinement("bank_iban_de", path="/iban",
                            violates="NOT startswith(iban, 'DE')",
                            when="id != 'f'", params={"got": "iban"})],
    })
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = _codes(viols)
    assert ("c", "/kind", "discriminator_unknown") in got
    assert ("d", "/kind", "discriminator_missing") in got
    assert ("e", "/card_no", "required") in got
    assert not any(r[0] in ("a", "b", "f") for r in got)


def test_default_applied_presence(spark):
    """Default materialization + DefaultApplied bit on the columnar path
    (reference dsl/object_builder.go:70-91)."""
    df = _df(spark, [("a", None), ("b", 7)], T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("v", T.IntegerType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("v", "int32", default=42))
    _, viols, clean = validate_rows(df, sch, F.col("id"))
    rows = {r["id"]: r for r in clean.collect()}
    assert rows["a"]["v"] == 42 and rows["a"]["_default_applied"]["v"] is True
    assert rows["b"]["v"] == 7 and rows["b"]["_default_applied"]["v"] is False
    assert viols.count() == 0  # defaulted field is not a violation


def test_rfc3339_codec(spark):
    """RFC3339 codec round-trip (reference codec/rfc3339.go:27-70)."""
    df = _df(spark, [("a", "2024-01-02T03:04:05Z"), ("b", "not-a-time")],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("ts", T.StringType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("ts", "timestamp"))
    _, viols, clean = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {("b", "/ts", "invalid_format")}
    # canonical UTC re-encode
    enc = clean.filter("id = 'a'").select(
        F.date_format(F.to_timestamp("ts"), "yyyy-MM-dd'T'HH:mm:ssX").alias("out")
    ).collect()[0]["out"]
    assert enc == "2024-01-02T03:04:05Z"


def test_conditional_rule_combinators(spark):
    """If/Then gating (reference rules/rules.go:34-76) via `when`."""
    df = _df(spark, [("a", "US", "90210"), ("b", "US", None), ("c", "JP", None)],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("country", T.StringType()),
                           T.StructField("zip", T.StringType())]))
    sch = S.table(
        S.field("id", "string", required=True),
        S.field("country", "string"),
        S.field("zip", "string"),
    ).refine("us_requires_zip",
             violates="zip IS NULL",
             when="country = 'US'",
             path="/zip", code="business_rule")
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {("b", "/zip", "business_rule")}


def test_nested_object_validation(spark):
    """Nested TableSchema fields compile recursively with child paths
    rebased under the parent pointer (reference dsl/object_core.go:60-76,
    nesting pinned by dsl/zod_basics_test.go)."""
    meta_t = T.StructType([
        T.StructField("n", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("inner", T.StructType([T.StructField("q", T.IntegerType())])),
    ])
    df = _df(spark, [
        ("a", (5, "ok", (1,))),          # clean
        ("b", (0, "ok", (1,))),          # /meta/n too_small
        ("c", (5, "nope!", (1,))),       # /meta/tag pattern
        ("d", None),                     # /meta required, NO child cascade
        ("e", (None, "ok", (200,))),     # /meta/n required, /meta/inner/q too_big
    ], T.StructType([T.StructField("id", T.StringType()),
                     T.StructField("meta", meta_t)]))
    inner = S.table(S.field("q", "int32", min=0, max=100))
    meta = S.table(
        S.field("n", "int32", required=True, min=1),
        S.field("tag", "string", pattern="^[a-z]+$"),
        S.field("inner", inner),
    )
    sch = S.table(S.field("id", "string", required=True),
                  S.field("meta", meta, required=True))
    _, viols, clean = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {
        ("b", "/meta/n", "too_small"),
        ("c", "/meta/tag", "pattern"),
        ("d", "/meta", "required"),
        ("e", "/meta/n", "required"),
        ("e", "/meta/inner/q", "too_big"),
    }
    assert {r["id"] for r in clean.collect()} == {"a"}


def test_nested_unknown_key_and_missing_child(spark):
    meta_t = T.StructType([T.StructField("n", T.IntegerType()),
                           T.StructField("extra", T.StringType())])
    df = _df(spark, [("a", (1, "x")), ("b", None)], T.StructType([
        T.StructField("id", T.StringType()), T.StructField("meta", meta_t)]))
    meta = S.table(S.field("n", "int32"), S.field("absent", "string", required=True),
                   unknown="strict")
    sch = S.table(S.field("id", "string", required=True), S.field("meta", meta))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    # unknown struct field + required-but-absent child fire only where
    # the parent struct is present
    assert _codes(viols) == {
        ("a", "/meta/extra", "unknown_key"),
        ("a", "/meta/absent", "required"),
    }


def test_nested_schema_on_non_struct_raises(spark):
    df = _df(spark, [("a", 1)], T.StructType([
        T.StructField("id", T.StringType()), T.StructField("meta", T.IntegerType())]))
    sch = S.table(S.field("id", "string"), S.field("meta", S.table(S.field("n", "int32"))))
    import pytest as _pt
    with _pt.raises(TypeError, match="nested object schema"):
        validate_rows(df, sch, F.col("id"))


def test_union_variant_full_subschema(spark):
    """Variants as full TableSchemas: per-variant required-ness and
    bounds differ (reference dsl/union.go:17-52 dispatches the whole
    variant schema on the tag)."""
    df = _df(spark, [
        ("a", "card", "4111", None),     # clean card
        ("b", "card", None, None),       # card requires pan -> /pan required
        ("c", "bank", None, "IB123"),    # clean bank
        ("d", "bank", None, "x"),        # bank iban min_str_len -> too_short
        ("e", "bank", None, None),       # bank requires iban -> required
        ("f", "crypto", None, None),     # unknown tag
    ], T.StructType([T.StructField("id", T.StringType()),
                     T.StructField("kind", T.StringType()),
                     T.StructField("pan", T.StringType()),
                     T.StructField("iban", T.StringType())]))
    card = S.table(S.field("pan", "string", required=True, pattern="^[0-9]+$"))
    bank = S.table(S.field("iban", "string", required=True, min_str_len=5))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("kind", "string"),
                  S.field("pan", "string"), S.field("iban", "string"),
                  unknown="strip")
    sch.discriminate("kind", {"card": card, "bank": bank})
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {
        ("b", "/pan", "required"),
        ("d", "/iban", "too_short"),
        ("e", "/iban", "required"),
        ("f", "/kind", "discriminator_unknown"),
    }


def test_map_full_element_schema(spark):
    """Map values validated against a full scalar Field spec
    (reference dsl/map_core.go:48-119)."""
    df = _df(spark, [
        ("a", {"en": "hello", "ja": "konnichiwa"}),
        ("b", {"en": None}),                  # required value
        ("c", {"x/y": "Hi!"}),                # pattern fail + escaped key
        ("d", {"en": "a"}),                   # min_str_len
    ], T.StructType([T.StructField("id", T.StringType()),
                     T.StructField("labels", T.MapType(T.StringType(), T.StringType()))]))
    sch = S.table(
        S.field("id", "string", required=True),
        S.field("labels", S.map_of("string", elem_field=S.field(
            "v", "string", required=True, pattern="^[a-z]+$", min_str_len=2))),
    )
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {
        ("b", "/labels/en", "required"),
        ("c", "/labels/x~1y", "pattern"),
        ("d", "/labels/en", "too_short"),
    }


def test_or_combinator_min_issue_branch(spark):
    """Or succeeds when any branch has zero issues; otherwise reports the
    FIRST branch with the fewest issues (reference rules/rules.go:376-398)."""
    from goskema_spark.schema import Refinement
    df = _df(spark, [
        ("a", 5, "x"),      # branch A ok -> no issues
        ("b", None, "yes"),  # A fails 1, B ok -> no issues
        ("c", None, None),  # A fails 1 (v null), B fails 2 -> report A
    ], T.StructType([T.StructField("id", T.StringType()),
                     T.StructField("v", T.IntegerType()),
                     T.StructField("tag", T.StringType())]))
    branch_a = [Refinement(name="v_set", path="/v", code="required",
                           violates="v IS NULL")]
    branch_b = [Refinement(name="tag_set", path="/tag", code="required",
                           violates="tag IS NULL"),
                Refinement(name="tag_long", path="/tag", code="too_short",
                           violates="coalesce(length(tag), 0) < 3")]
    sch = S.table(S.field("id", "string", required=True),
                  S.field("v", "int32"), S.field("tag", "string"))
    sch.or_refine("v_or_tag", [branch_a, branch_b])
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    assert _codes(viols) == {("c", "/v", "required")}
    rules = {r["rule"] for r in viols.collect()}
    assert rules == {"v_or_tag:v_set"}


def test_list_set_10k_element_arrays_subquadratic(spark):
    """Scale guard for the within-row uniqueness checks: first/dup
    attribution is O(n^2) per row but gated behind an O(n) existence
    probe, so thousands of CLEAN 10k-element rows cost one distinct pass
    each. If the gate is ever removed this test degenerates to ~10^11
    element comparisons and times out — a de-facto plan gate."""
    from goskema_spark.corpus import corpus_from_documents

    n, width = 2000, 10_000
    base = spark.range(n).select(
        F.col("id").cast("string").alias("rid"),
        F.sequence(F.lit(0), F.lit(width - 1)).alias("xs"))
    # rows 7 and 13: one duplicated element each (value 5 repeated at end)
    dirty = F.when(F.col("rid").isin("7", "13"),
                   F.concat(F.slice("xs", 1, width - 1), F.array(F.lit(5))))
    df = base.withColumn("xs", F.coalesce(dirty, F.col("xs")))

    sch = S.table(S.field("rid", "string", required=True),
                  S.field("xs", S.array("int64", list_set=True,
                                        elem_min=0, elem_max=width + 1)))
    _, viols, _ = validate_rows(df, sch, F.col("rid"))
    got = {(r["row_id"], r["path"], r["code"], r["params"]["first"])
           for r in viols.collect()}
    assert got == {("7", f"/xs/{width-1}", "duplicate_item", "5"),
                   ("13", f"/xs/{width-1}", "duplicate_item", "5")}


def test_decimal_number_mode(spark):
    """NumberDecimal mode (reference types.go:18-19 declares the mode;
    here decimal(p,s) is a first-class declared dtype): wire-type probe,
    scale-loss detection (Spark's decimal cast silently rounds — we
    flag), integral-width overflow, and min/max bounds."""
    df = _df(spark, [("ok", "12.34"), ("scale", "1.234"), ("wide", "123456.7"),
                     ("nan", "abc"), ("neg", "-99999.99"), ("small", "0.01")],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("amt", T.StringType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("amt", "decimal(7,2)", min=0.02))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = {(r["row_id"], r["code"], r["rule"]) for r in viols.collect()}
    assert got == {
        ("scale", "overflow", "decimal_scale"),
        ("wide", "overflow", "decimal_range"),
        ("nan", "invalid_type", "type_decimal"),
        ("neg", "too_small", "min"),
        ("small", "too_small", "min"),
    }

    # declared type projection
    assert sch.get("amt").spark_type().simpleString() == "decimal(7,2)"

    # physical decimal column: only range/min checks compile (no casts)
    from decimal import Decimal
    dfd = _df(spark, [("a", Decimal("12.34")), ("b", Decimal("99999.99"))],
              T.StructType([T.StructField("id", T.StringType()),
                            T.StructField("amt", T.DecimalType(7, 2))]))
    sch2 = S.table(S.field("id", "string", required=True),
                   S.field("amt", "decimal(5,2)"))
    _, viols2, _ = validate_rows(dfd, sch2, F.col("id"))
    got2 = {(r["row_id"], r["rule"]) for r in viols2.collect()}
    assert got2 == {("b", "decimal_range")}


def test_decimal_high_precision_boundary(spark):
    """VERDICT r3 #9: the width bound must compare on the DECIMAL domain.
    decimal(20,2) has p-s = 18 > 15 — in double, both the bound 10^18 and
    the boundary value 999999999999999999.99 collapse to 1e18, so a
    double compare wrongly flags the legal boundary value. The try_cast
    probe (NULL exactly on integral overflow) classifies both exactly."""
    df = _df(spark, [("max_ok", "999999999999999999.99"),
                     ("over", "1000000000000000000.00"),
                     ("scale", "1.239")],
             T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("amt", T.StringType())]))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("amt", "decimal(20,2)"))
    _, viols, _ = validate_rows(df, sch, F.col("id"))
    got = {(r["row_id"], r["rule"]) for r in viols.collect()}
    assert got == {("over", "decimal_range"), ("scale", "decimal_scale")}


def test_elem_max_at_int64_min(spark):
    """An exclusive element maximum at int64's minimum admits no value:
    every non-NULL element is out of the domain. The codegen'd element
    gate anchors its NULL probe at elem_max - 1, which must not leave
    int64 (Spark cannot hold the literal and compilation used to raise)."""
    lo = -(2**63)
    sch = S.table(S.field("rid", "string", required=True),
                  S.field("xs", S.array("int64", elem_max=lo)))
    df = spark.createDataFrame(
        [("vals", [lo, 0]), ("nulls", [None]), ("empty", [])],
        "rid string, xs array<bigint>")
    _, viols, clean = validate_rows(df, sch, F.col("rid"))
    assert _codes(viols) == {("vals", "/xs/0", "domain_range"),
                             ("vals", "/xs/1", "domain_range"),
                             ("nulls", "/xs/0", "invalid_type")}
    assert [r["rid"] for r in clean.collect()] == ["empty"]


def test_list_set_null_elements_stay_clean(spark):
    """Duplicate NULL elements must not trip the list_set gate: the
    attribution skips nulls (array_position has no stable answer for
    null), so a wide gate would leave ['x', None, None] with zero
    violations yet excluded from the exact-gate clean path — the row
    silently vanishing from BOTH outputs. Null-filtered gate keeps the
    gate exact; real duplicates still flag."""
    sch = S.table(
        S.field("rid", "string", required=True),
        S.field("xs", S.array("string", list_set=True, elem_nullable=True)))
    df = spark.createDataFrame(
        [("nulls", ["x", None, None]),
         ("clean", ["a", "b"]),
         ("dup", ["a", None, "a"])],
        "rid string, xs array<string>")
    dirty, viols, clean = validate_rows(df, sch, F.col("rid"))
    assert {r["row_id"] for r in viols.collect()} == {"dup"}
    # the null-only-duplicate row is CLEAN, not lost
    clean_ids = [r["rid"] for r in clean.collect()]
    assert sorted(clean_ids) == ["clean", "nulls"]
    # conservation: every input row is exactly clean or dirty
    flagged = {r["rid"]: len(r["_violations"]) for r in dirty.collect()}
    assert flagged == {"dup": 1}
    assert not set(clean_ids) & set(flagged)
    assert set(clean_ids) | set(flagged) == {"nulls", "clean", "dup"}


def test_list_map_null_elements_stay_clean(spark):
    """Same exact-gate guarantee for list_map_keys: NULL elements (whose
    key struct would be all-null) are excluded from the duplicate-key
    existence gate, so a row with two null elements has zero violations
    AND stays in the clean output."""
    elem = S.table(S.field("k", "string"), S.field("v", "int64"))
    sch = S.table(
        S.field("rid", "string", required=True),
        S.field("xs", S.array(elem_schema=elem, list_map_keys=["k"],
                              elem_nullable=True)))
    df = spark.createDataFrame(
        [("nulls", [{"k": "a", "v": 1}, None, None]),
         ("dup", [{"k": "a", "v": 1}, {"k": "a", "v": 2}])],
        "rid string, xs array<struct<k:string,v:bigint>>")
    _, viols, clean = validate_rows(df, sch, F.col("rid"))
    assert {r["row_id"] for r in viols.collect()} == {"dup"}
    assert "nulls" in {r["rid"] for r in clean.collect()}


def test_nested_refinements_fail_loudly(spark):
    """Refinements/Or-combinators live at TABLE level (their `violates`
    text names top-level columns and cannot be rebound to a struct or
    array element): a nested schema carrying one must raise, not
    silently skip the rule."""
    import pytest
    from goskema_spark.rowpass import compile_checks

    elem = S.table(S.field("a", "int64"))
    elem.refine("a_pos", violates="a < 0", path="/a")
    sch = S.table(
        S.field("rid", "string", required=True),
        S.field("xs", S.array(elem_schema=elem)))
    df = spark.createDataFrame([("r1", [{"a": 1}])],
                               "rid string, xs array<struct<a:bigint>>")
    with pytest.raises(TypeError, match="refinements"):
        compile_checks(sch, df)

    nested = S.table(S.field("a", "int64"))
    nested.or_refine("x", [[S.Refinement(
        name="a_set", path="/a", code="business_rule",
        violates="a IS NULL")]])
    sch2 = S.table(S.field("rid", "string", required=True),
                   S.field("obj", nested))
    df2 = spark.createDataFrame([("r1", {"a": 1})],
                                "rid string, obj struct<a:bigint>")
    with pytest.raises(TypeError, match="refinements"):
        compile_checks(sch2, df2)


def test_wide_array_gate_breaks_exactness():
    """gate_is_exact is the clean-path contract: ONE wide array check
    (gate may fire with an empty violations array) must flip it, or
    validate_rows' gate-only clean filter would drop violation-free
    rows."""
    from goskema_spark.rowpass import _NO_VIOLS, CompiledChecks

    c = CompiledChecks()
    c.add_array(_NO_VIOLS, gate="true", exact=True)
    assert c.gate_is_exact()
    c.add_array(_NO_VIOLS, gate="true", exact=False)
    assert not c.gate_is_exact()


def _non_sql_schema(kind):
    """A schema with one rule input that is a Python callable, not SQL
    text; returns (schema, the name the TypeError must carry)."""
    sch = S.table(S.field("id", "string", required=True), S.field("a", "int32"),
                  S.field("xs", S.array("int32", contains_min=1,
                                        contains_pred=(lambda x: x < 0)
                                        if kind == "contains_pred" else None)))
    if kind == "violates":
        sch.refine("a_neg", violates=lambda: F.col("a") < 0, path="/a")
    elif kind == "when":
        sch.refine("a_neg", violates="a < 0", when=lambda: F.col("a").isNotNull(),
                   path="/a")
    elif kind == "params":
        sch.refine("a_neg", violates="a < 0", params={"got": F.col("a")}, path="/a")
    return sch, ("'/xs'" if kind == "contains_pred" else "'a_neg'")


@pytest.mark.parametrize("kind", ["violates", "when", "params", "contains_pred"])
def test_non_sql_rule_input_raises_type_error(spark, kind):
    """A refinement's violates, when or a params value, or an array's
    contains_pred, given as anything but SQL text is a TypeError that
    names the rule or field, raised while the checks compile: not a
    Spark parse error on `<function ...>`."""
    df = spark.createDataFrame([("r1", 1, [1])], "id string, a int, xs array<int>")
    sch, name = _non_sql_schema(kind)
    with pytest.raises(TypeError, match=name) as err:
        validate_rows(df, sch, F.col("id"))
    assert "SQL text" in str(err.value)


def test_schema_pickles_after_validation(spark):
    """The compiled-checks memo holds SQL text and bools only: a schema
    that validated once cloudpickles (as ingest's closures ship it to
    executors) and still validates after the round trip."""
    from pyspark import cloudpickle

    df = _df(spark, [("a", 5), ("b", -1)], "id string, v int")
    sch = S.table(S.field("id", "string", required=True),
                  S.field("v", "int32", min=0))
    sch.refine("v_small", violates="v > 3", path="/v", params={"got": "v"})
    want = _codes(validate_rows(df, sch, F.col("id"))[1])
    assert sch._compiled_cache
    back = cloudpickle.loads(cloudpickle.dumps(sch))
    assert back._compiled_cache == sch._compiled_cache
    assert _codes(validate_rows(df, back, F.col("id"))[1]) == want \
        == {("a", "/v", "business_rule"), ("b", "/v", "too_small")}


def test_incremental_distinct_sketches_merge_exactly(spark):
    """Merging per-source sketches reproduces the whole-table count
    within the HLL error bound, deterministically — the incremental
    (shard-at-a-time) profiling path."""
    from goskema_spark.stats import distinct_sketches, merged_distinct

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "n_chars"]
    per_source = distinct_sketches(df, cols, by="source")
    merged = merged_distinct(per_source, cols).collect()[0]
    again = merged_distinct(per_source, cols).collect()[0]
    assert merged.asDict() == again.asDict()  # deterministic
    truth = df.selectExpr(*[f"count(distinct {c}) AS {c}" for c in cols]) \
        .collect()[0]
    # lg_k=12 -> rel. std err ~1.6%; allow 3 sigma + integer slack
    for c in cols:
        assert abs(merged[c] - truth[c]) <= max(3, 0.05 * truth[c]), c
    # group column cannot be sketched alongside
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cannot also be sketched"):
        distinct_sketches(df, ["doc_id", "source"], by="source")


@pytest.mark.parametrize("unknown", ["strict", "schema"])
def test_top_level_and_nested_object_checks_agree(spark, unknown):
    """The table's own columns and a nested struct column go through one
    object walk: the same field set, validated as the table schema and
    nested under /obj over the same values, yields the same (code,
    rule, params) per row once /obj is stripped from the paths."""
    from collections import Counter
    from dataclasses import replace

    obj = replace(
        S.table(S.field("n", "int32", min=1, max=10),
                S.field("color", "string", enum=["red", "blue"]),
                S.field("code", "string", pattern="^[a-z]+$", min_str_len=2,
                        max_str_len=5),
                S.field("absent", "string", required=True),
                S.field("m", S.map_of("int32", elem_field=S.field("v", "int32",
                                                                  min=0, max=9))),
                unknown=unknown),
        unknown_key_patterns=[("^x_", S.field("_pp", "int32", max=5))],
        ap_field=S.field("_ap", "int32", min=0) if unknown == "schema" else None)
    cols = T.StructType([
        T.StructField("n", T.IntegerType()), T.StructField("color", T.StringType()),
        T.StructField("code", T.StringType()),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("x_a", T.IntegerType()), T.StructField("extra", T.IntegerType())])
    flat = _df(spark, [
        ("r1", 0, "green", "A", {"k": 10}, 6, -1),
        ("r2", 11, "red", "toolong", {"k": -1, "j": None}, 1, 3),
        ("r3", 5, "blue", "abc", {}, None, None),
    ], T.StructType([T.StructField("_id", T.StringType()), *cols.fields]))
    nested = flat.select("_id", F.struct(*cols.fieldNames()).alias("obj"))

    def issues(df, sch, strip=""):
        _, viols, _ = validate_rows(df, sch, F.col("_id"))
        return Counter((r["row_id"], r["path"].removeprefix(strip), r["code"], r["rule"],
                        tuple(sorted((r["params"] or {}).items())))
                       for r in viols.collect())

    top = issues(flat, obj)
    assert top == issues(nested, S.table(S.field("obj", obj)), "/obj")
    # every kind of check in the set fired at least once
    assert {(p, c) for _, p, c, *_ in top} >= {
        ("/n", "too_small"), ("/n", "too_big"), ("/color", "invalid_enum"),
        ("/code", "pattern"), ("/code", "too_short"), ("/code", "too_long"),
        ("/absent", "required"), ("/m/k", "too_big"), ("/m/k", "too_small"),
        ("/x_a", "too_big"),
        ("/extra", "unknown_key" if unknown == "strict" else "too_small")}
