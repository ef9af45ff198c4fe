"""The row pass, property-tested over random schemas: against itself
(the gate contract) and against a pure-Python evaluator of goskema's
semantics (the differential check of the check compiler).

validate_rows builds the violations array only on rows where the gate
(a cheap OR of every check condition) fired, and with an exact gate it
decides the clean rows from the gate alone. Both are sound only if the
gate never misses a violating row and, when it claims exactness, never
fires on a clean one. Whatever the schema, therefore:

  - `violations` equals the explode of the UNGATED check body built on
    every row;
  - `clean` holds exactly the rows whose ungated body is empty;
  - `dirty` and `clean` partition the input;
  - `violations` (row_id, path, code, message, rule, params) equals what
    `_expected` computes row by row in Python, in goskema's terms
    (SURVEY.md §1: reserved codes, RFC 6901 paths, the 'en' messages)
    and in the engine's check order, which decides fail_fast's one issue.

Schemas: an int array field (declared element width over a physical
smallint/int/bigint array, optional element bounds, element
nullability, length bounds, list-type set), an int scalar with an
optional minimum, a string (required, length bounds, an enum whose
values hold `'` `\\` `~` `/`, a pattern), a double with bounds such as
0.1, 1e20 and -0.0, an optional refinement, an optional
Or-combinator (a wide one, or one with an empty branch, whose gate is
None), and fail_fast; every rule is SQL text. Rows carry
NULL arrays, NULL elements, empty arrays, values at the physical and
declared bounds, and NaN and ±Infinity doubles.

NaN has no JSON form, so goskema never sees one; the engine orders
doubles as Spark does (NaN above +Infinity, equal to itself, -0.0 equal
to 0.0), so a NaN breaks a maximum and never a minimum. The evaluator
states that rule explicitly (`_spark_lt`).
"""

import decimal
import math
import re

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from goskema_spark import schema as S
from goskema_spark.rowpass import apply_defaults, compile_checks, validate_rows
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


_ENUM_POOL = ["a'b", "c\\d", "e~f", "g/h", "ab"]
_PATTERNS = [None, "^[a-z]*$", "~", "/$", "\\\\", "'"]
_DOUBLES = [0.1, 1e20, -0.0, 0.0, 1.5, -2.5, 1e-05, 123456789.0,
            float("nan"), float("inf"), float("-inf")]


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
    s_field = S.field("s", "string", required=draw(st.booleans()),
                      min_str_len=draw(st.none() | st.integers(0, 3)),
                      max_str_len=draw(st.none() | st.integers(0, 4)),
                      enum=draw(st.none() | st.lists(st.sampled_from(_ENUM_POOL),
                                                     max_size=3, unique=True)),
                      pattern=draw(st.sampled_from(_PATTERNS)))
    d_field = S.field("d", "double", required=draw(st.booleans()),
                      min=draw(st.sampled_from([None, 0.1, 1e20, -0.0, -2.5])),
                      max=draw(st.sampled_from([None, 0.1, 1e20, -0.0, 1.5])))
    sch = S.table(S.field("id", "string", required=True),
                  S.field("xs", arr, required=draw(st.booleans())),
                  S.field("n", n_dtype, min=n_min, required=draw(st.booleans())),
                  s_field, d_field,
                  fail_fast=draw(st.booleans()))
    if draw(st.booleans()):
        sch.refine("s_has_slash", violates="instr(s, '/') > 0", path="/s",
                   params={"got": "s", "len": "length(s)"}, when="s IS NOT NULL")
    combinator = draw(st.sampled_from([None, "wide", "empty_branch"]))
    if combinator == "wide":
        # either branch can fire while the other stays empty: the gate
        # fires on rows whose chosen (minimal) branch has no violation
        sch.or_refine("n_or_xs", [
            [S.Refinement(name="n_set", path="/n", code="business_rule",
                          violates="n IS NULL")],
            [S.Refinement(name="xs_set", path="/xs", code="business_rule",
                          violates="(xs IS NULL) OR (size(xs) = 0)")],
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
    text = st.none() | st.sampled_from(_ENUM_POOL) | st.text("ab/~\\'", max_size=5)
    dbl = st.none() | st.sampled_from(_DOUBLES)
    rows = draw(st.lists(st.tuples(xs, n, text, dbl), min_size=4, max_size=16))
    return sch, phys, [(f"r{i}", *r) for i, r in enumerate(rows)]


def _viol(row_id, v):
    return (row_id, v["path"], v["code"], v["message"], v["rule"],
            tuple(sorted((v["params"] or {}).items())))


# ---- the pure-Python evaluator ------------------------------------------

_MESSAGES = {"required": "required property missing", "too_short": "too short",
             "too_long": "too long", "invalid_type": "invalid type"}


def _issue(row_id, path, code, rule, params=None, message=None):
    return (row_id, path, code, message or _MESSAGES.get(code, code), rule,
            tuple(sorted((params or {}).items())))


def _spark_str(x):
    """Spark's string form of a value: Java's Double.toString for
    doubles (1.0E20, -0.0, NaN, Infinity)."""
    if x is None or isinstance(x, str):
        return x
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, int):
        return str(x)
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    if 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = decimal.Decimal(repr(x)).as_tuple()
    ds = "".join(map(str, digits)).rstrip("0") or "0"
    return f"{'-' if sign else ''}{ds[0]}.{ds[1:] or '0'}E{exp + len(digits) - 1}"


def _spark_lt(a, b) -> bool:
    """a < b as Spark orders doubles: NaN above every number."""
    def key(x):
        return (1, 0.0) if isinstance(x, float) and math.isnan(x) else (0, x)
    return key(a) < key(b)


def _expected(sch, phys, rows):
    """Every row's issues in the engine's check order: the scalar checks
    of the fields in name order, then the refinements, then the
    per-element, list-set and Or-combinator arrays."""
    arr = sch.get("xs").dtype
    plo, phi = _PHYS_RANGE[phys]
    elo, ehi = INT_RANGES[arr.elem]
    width = (elo, ehi) if plo < elo or phi > ehi else None
    has_elem = (not arr.elem_nullable or width is not None or arr.elem_min is not None
                or arr.elem_max is not None or arr.elem_max_incl is not None)
    out = []
    for rid, xs, n, s, d in rows:
        vals = {"id": rid, "xs": xs, "n": n, "s": s, "d": d}
        scal, arrays = [], []
        for f in sorted(sch.fields, key=lambda x: x.name):
            v, p = vals[f.name], "/" + f.name
            if f.required and v is None:
                scal.append(_issue(rid, p, "required", "required"))
            if v is None:
                continue
            if f.name == "n":
                lo, hi = INT_RANGES[f.dtype]
                if (lo, hi) != _I64 and not lo <= v <= hi:
                    scal.append(_issue(rid, p, "overflow", f"int_range_{f.dtype}",
                                       {"min": str(lo), "max": str(hi), "got": str(v)}))
            if f.min is not None and _spark_lt(v, f.min):
                scal.append(_issue(rid, p, "too_small", "min",
                                   {"min": _spark_str(f.min), "got": _spark_str(v)}))
            if f.max is not None and _spark_lt(f.max, v):
                scal.append(_issue(rid, p, "too_big", "max",
                                   {"max": _spark_str(f.max), "got": _spark_str(v)}))
            if f.enum is not None and v not in f.enum:
                scal.append(_issue(rid, p, "invalid_enum", "enum", {"got": v}))
            if f.pattern is not None and not re.search(f.pattern, v):
                scal.append(_issue(rid, p, "pattern", "pattern",
                                   {"pattern": f.pattern, "got": v}))
            if f.min_str_len is not None and len(v) < f.min_str_len:
                scal.append(_issue(rid, p, "too_short", "min_length",
                                   {"min": str(f.min_str_len), "got": str(len(v))}))
            if f.max_str_len is not None and len(v) > f.max_str_len:
                scal.append(_issue(rid, p, "too_long", "max_length",
                                   {"max": str(f.max_str_len), "got": str(len(v))}))
            if f.name == "xs":
                if arr.min_len is not None and len(v) < arr.min_len:
                    scal.append(_issue(rid, p, "too_short", "array_min",
                                       {"min": str(arr.min_len), "got": str(len(v))}))
                if arr.max_len is not None and len(v) > arr.max_len:
                    scal.append(_issue(rid, p, "too_long", "array_max",
                                       {"max": str(arr.max_len), "got": str(len(v))}))
        if sch.refinements and s is not None and "/" in s:
            scal.append(_issue(rid, "/s", "business_rule", "s_has_slash",
                               {"got": s, "len": str(len(s))}))
        if xs is not None and has_elem:
            dom = {"min": _spark_str(arr.elem_min), "max": _spark_str(arr.elem_max)}
            for i, t in enumerate(xs):
                ep = f"/xs/{i}"
                if t is None:
                    if not arr.elem_nullable:
                        arrays.append(_issue(rid, ep, "invalid_type", "elem_type"))
                elif width and not width[0] <= t <= width[1]:
                    arrays.append(_issue(rid, ep, "overflow", f"elem_range_{arr.elem}",
                                         {"min": str(width[0]), "max": str(width[1]),
                                          "got": str(t)}))
                elif arr.elem_min is not None and t < arr.elem_min:
                    arrays.append(_issue(rid, ep, "domain_range", "elem_domain",
                                         {**dom, "got": str(t)}))
                elif arr.elem_max is not None and t >= arr.elem_max:
                    arrays.append(_issue(rid, ep, "domain_range", "elem_domain",
                                         {**dom, "got": str(t)}))
                elif arr.elem_max_incl is not None and t > arr.elem_max_incl:
                    arrays.append(_issue(rid, ep, "domain_range", "elem_domain",
                                         {**dom, "max": str(arr.elem_max_incl),
                                          "got": str(t)}))
        if xs is not None and arr.list_set:
            for i, t in enumerate(xs):
                if t is not None and xs.index(t) != i:
                    arrays.append(_issue(rid, f"/xs/{i}", "duplicate_item", "list_set_unique",
                                         {"first": str(xs.index(t)), "dup": str(i),
                                          "key": str(t)}, "duplicate element in set"))
        for orr in sch.or_refinements:
            if orr.name == "n_or_xs":
                b1 = [_issue(rid, "/n", "business_rule", "n_or_xs:n_set")] if n is None else []
                b2 = ([_issue(rid, "/xs", "business_rule", "n_or_xs:xs_set")]
                      if xs is None or not xs else [])
                arrays.extend(b2 if len(b2) < len(b1) else b1)
        issues = scal + arrays
        out.extend(issues[:1] if sch.fail_fast else issues)
    return out


# rows whose only issue is a NULL element, on the lambda-free element
# gate (its has-NULL probe decides them alone)
_NULL_ELEMENT_ONLY = (
    S.table(S.field("id", "string", required=True),
            S.field("xs", S.array("int16", elem_max=10)), S.field("n", "int64"),
            S.field("s", "string"), S.field("d", "double")),
    "smallint", [("r0", [None], 1, None, None), ("r1", [3, None], None, "x", 0.5),
                 ("r2", [3], 1, None, None), ("r3", [], None, None, None),
                 ("r4", None, 2, None, None)])


@settings(derandomize=True, deadline=None, max_examples=30, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(case=cases())
@example(case=_NULL_ELEMENT_ONLY)
def test_gate_matches_ungated_body(spark, case):
    sch, phys, rows = case
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("xs", T.ArrayType(_PHYS[phys])),
        T.StructField("n", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DoubleType())]))

    dirty, viols, clean = validate_rows(df, sch, F.col("id"))

    # the body validate_rows compiles, built on every row
    dfd = apply_defaults(df, sch)
    body = F.expr(compile_checks(sch, dfd).body_sql())
    if sch.fail_fast:
        body = F.slice(body, 1, 1)
    ungated = {r["id"]: r["v"] for r in dfd.select("id", body.alias("v")).collect()}
    want = sorted((_viol(i, v) for i, vs in ungated.items() for v in vs), key=repr)
    got = sorted((_viol(r["row_id"], r) for r in viols.collect()), key=repr)
    assert got == want
    assert got == sorted(_expected(sch, phys, rows), key=repr)

    side = clean.select("id", F.lit(True).alias("clean")).unionByName(
        dirty.select("id", F.lit(False).alias("clean"))).collect()
    clean_ids = sorted(r["id"] for r in side if r["clean"])
    assert clean_ids == sorted(i for i, vs in ungated.items() if not vs)
    # each input row once, in exactly one of the two
    assert sorted(r["id"] for r in side) == sorted(ungated)
