"""The row pass's gate contract, property-tested over random schemas.

validate_rows builds the violations array only on rows where the gate
(a cheap OR of every check condition) fired, and with an exact gate it
decides the clean rows from the gate alone. Both are sound only if the
gate never misses a violating row and, when it claims exactness, never
fires on a clean one. Whatever the schema, therefore:

  - `violations` equals the explode of the UNGATED check body built on
    every row;
  - `clean` holds exactly the rows whose ungated body is empty;
  - `dirty` and `clean` partition the input.

Schemas: an int array field (declared element width over a physical
smallint/int/bigint array, optional element bounds, element
nullability, length bounds, list-type set), an int scalar with an
optional minimum, an optional Or-combinator (a wide one, or one with an
empty branch, whose gate is None), and fail_fast. Rows carry NULL
arrays, NULL elements, empty arrays and values at the physical and
declared bounds. This compares the engine with itself; it is no
independent oracle of goskema's semantics.
"""

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from goskema_spark import schema as S
from goskema_spark.rowpass import _compiled_triple, apply_defaults, validate_rows
from goskema_spark.schema import INT_RANGES

_I64 = INT_RANGES["int64"]
_PHYS = {"smallint": T.ShortType(), "int": T.IntegerType(), "bigint": T.LongType()}
_PHYS_RANGE = {"smallint": INT_RANGES["int16"], "int": INT_RANGES["int32"],
               "bigint": _I64}


def _specials(*ranges):
    """Each range's bounds and their neighbours, plus small values,
    clipped to int64."""
    out = {-1, 0, 1, 2}
    for lo, hi in ranges:
        out |= {lo - 1, lo, lo + 1, hi - 1, hi, hi + 1}
    return sorted(v for v in out if _I64[0] <= v <= _I64[1])


@st.composite
def cases(draw):
    elem = draw(st.sampled_from(["int8", "int16", "int32", "int64"]))
    phys = draw(st.sampled_from(sorted(_PHYS)))
    plo, phi = _PHYS_RANGE[phys]
    bound = st.none() | st.sampled_from(_specials(INT_RANGES[elem], (plo, phi)))
    arr = S.array(elem,
                  elem_min=draw(bound), elem_max=draw(bound),
                  elem_max_incl=draw(bound),
                  elem_nullable=draw(st.booleans()),
                  min_len=draw(st.none() | st.integers(0, 3)),
                  max_len=draw(st.none() | st.integers(0, 4)),
                  list_set=draw(st.booleans()))
    n_dtype = draw(st.sampled_from(["int8", "int16", "int32", "int64"]))
    n_min = draw(bound)
    sch = S.table(S.field("id", "string", required=True),
                  S.field("xs", arr, required=draw(st.booleans())),
                  S.field("n", n_dtype, min=n_min, required=draw(st.booleans())),
                  fail_fast=draw(st.booleans()))
    combinator = draw(st.sampled_from([None, "wide", "empty_branch"]))
    if combinator == "wide":
        # either branch can fire while the other stays empty: the gate
        # fires on rows whose chosen (minimal) branch has no violation
        sch.or_refine("n_or_xs", [
            [S.Refinement(name="n_set", path="/n", code="business_rule",
                          violates=lambda: F.col("n").isNull())],
            [S.Refinement(name="xs_set", path="/xs", code="business_rule",
                          violates=lambda: F.col("xs").isNull() | (F.size("xs") == 0))],
        ])
    elif combinator == "empty_branch":
        sch.or_refine("trivial", [[]])

    declared = [v for v in (arr.elem_min, arr.elem_max, arr.elem_max_incl) if v is not None]
    near = {v + d for v in declared for d in (-1, 0, 1)}
    elem_vals = sorted(v for v in set(_specials(INT_RANGES[elem], (plo, phi))) | near
                       if plo <= v <= phi)
    # values inside every declared bound, drawn more often than the
    # rest: a gate that misses one check only shows on a row where no
    # other check fires, so rows with a single issue must be common
    lo = max(v for v in (plo, arr.elem_min, INT_RANGES[elem][0]) if v is not None)
    hi = min(v for v in (phi, arr.elem_max_incl, INT_RANGES[elem][1],
                         None if arr.elem_max is None else arr.elem_max - 1)
             if v is not None)
    inside = [st.integers(lo, min(hi, lo + 3))] * 3 if lo <= hi else []
    value = st.one_of(*inside, st.none(), st.sampled_from(elem_vals), st.integers(plo, phi))
    xs = st.none() | st.lists(value, max_size=5)
    n_lo, n_hi = INT_RANGES[n_dtype]
    n_vals = _specials((n_lo, n_hi)) + ([n_min - 1, n_min, n_min + 1]
                                         if n_min is not None else [])
    n_ok = max(n_lo, n_min if n_min is not None else n_lo)
    n = st.one_of(*([st.just(n_ok)] * 2 if n_ok <= n_hi else []), st.none(),
                  st.sampled_from([v for v in n_vals if _I64[0] <= v <= _I64[1]]))
    rows = draw(st.lists(st.tuples(xs, n), min_size=4, max_size=16))
    return sch, phys, [(f"r{i}", x, v) for i, (x, v) in enumerate(rows)]


def _viol(row_id, v):
    return (row_id, v["path"], v["code"], v["message"], v["rule"],
            tuple(sorted((v["params"] or {}).items())))


# rows whose only issue is a NULL element, on the lambda-free element
# gate (its has-NULL probe decides them alone)
_NULL_ELEMENT_ONLY = (
    S.table(S.field("id", "string", required=True),
            S.field("xs", S.array("int16", elem_max=10)), S.field("n", "int64")),
    "smallint", [("r0", [None], 1), ("r1", [3, None], None), ("r2", [3], 1),
                 ("r3", [], None), ("r4", None, 2)])


@settings(derandomize=True, deadline=None, max_examples=30, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(case=cases())
@example(case=_NULL_ELEMENT_ONLY)
def test_gate_matches_ungated_body(spark, case):
    sch, phys, rows = case
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("xs", T.ArrayType(_PHYS[phys])),
        T.StructField("n", T.LongType())]))

    dirty, viols, clean = validate_rows(df, sch, F.col("id"))

    # the body validate_rows compiled (a memo hit), built on every row
    dfd = apply_defaults(df, sch)
    body = _compiled_triple(sch, dfd)[1]
    if sch.fail_fast:
        body = F.slice(body, 1, 1)
    ungated = {r["id"]: r["v"] for r in dfd.select("id", body.alias("v")).collect()}
    want = sorted(_viol(i, v) for i, vs in ungated.items() for v in vs)
    got = sorted(_viol(r["row_id"], r) for r in viols.collect())
    assert got == want

    side = clean.select("id", F.lit(True).alias("clean")).unionByName(
        dirty.select("id", F.lit(False).alias("clean"))).collect()
    clean_ids = sorted(r["id"] for r in side if r["clean"])
    assert clean_ids == sorted(i for i, vs in ungated.items() if not vs)
    # each input row once, in exactly one of the two
    assert sorted(r["id"] for r in side) == sorted(ungated)
