"""Compile a TableSchema into a single vectorized per-row validation pass.

The reference walks a token stream per document (reference
internal/engine/engine.go:40-108) and accumulates Issues. Here the whole
check set compiles to Spark SQL text (no Python in the hot path, and
one `F.expr` per plan piece on the driver): every check yields either a
nullable violation struct or an array of violation structs (for
per-element checks, reference dsl/array.go:79-117 issues at
`/<field>/<idx>`), all concatenated into a `_violations` array column
and filtered for nulls. Names and literals are spliced in through
goskema_spark.sqltext; lambda variables take reserved `__gsk_` names,
so no table column is ever shadowed. Refinements and contains
predicates are SQL text too, spliced in as given; anything else is a
TypeError naming the rule or field, raised while compiling.

One feed shape (validate_rows): a whole-stage-codegen'd Filter on the
gate (the OR of every check condition) BELOW the interpreted projection
that builds `_violations`, so only rows where some check fired pay the
interpreted build. The violations are `inline`d from that feed; the
clean rows are a second Filter on the input, on the gate alone when the
gate is exact.

Fail-fast vs collect (reference api.go:147-156): collect keeps the full
array; fail_fast slices it to 1 element per row (and callers can
`violations.limit(1)` for a global first-issue stop).

Deterministic ordering (reference README.md:573-574): checks are compiled
in sorted field order, then by check kind; the violations table sorts by
(row_id, path, code).
"""

from __future__ import annotations

import re
from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from goskema_spark.issues import Codes, message_for, pointer
from goskema_spark.schema import (
    INT_RANGES,
    ArraySpec,
    Field,
    MapSpec,
    TableSchema,
)
from goskema_spark.sqltext import chain, ident, in_list, literal, string

_VIOL_DDL = "struct<path:string,code:string,message:string,rule:string,params:map<string,string>>"
_VIOL_ARR_DDL = f"array<{_VIOL_DDL}>"
# an empty violations array and a NULL violation, typed
_NO_VIOLS = f"CAST(array() AS {_VIOL_ARR_DDL})"
_NULL_VIOL = f"CAST(NULL AS {_VIOL_DDL})"

def _all(*conds: str) -> str:
    return chain("AND", conds)


def _case(cond: str, then: str, other: Optional[str] = None) -> str:
    tail = "" if other is None else f" ELSE {other}"
    return f"CASE WHEN {cond} THEN {then}{tail} END"


def _filter_nn(arr: str) -> str:
    """The array without its NULL elements (the checks that did not fire)."""
    return f"filter({arr}, __gsk_v -> __gsk_v IS NOT NULL)"


def _s(x: str) -> str:
    """An expression as a string for params maps, in Spark's string form
    (`true`, `1.0E20`), which differs from Python's str()."""
    return f"CAST({x} AS STRING)"


def _sql(value, what: str) -> str:
    """`value`, which must be SQL text: a leftover Python callable would
    otherwise reach Spark's parser as `<function ...>`."""
    if not isinstance(value, str):
        raise TypeError(f"{what} must be Spark SQL text, got {value!r}")
    return value


def _lit_s(v) -> str:
    """A Python value as a params-map string: strs as they are, anything
    else in Spark's string form of its literal."""
    return string(v) if isinstance(v, str) else f"CAST({literal(v)} AS STRING)"


class _Dyn:
    """SQL text of a per-element (dynamic) JSON pointer; a static
    pointer is a plain Python str."""

    __slots__ = ("sql",)

    def __init__(self, sql: str):
        self.sql = sql


def _psql(p) -> str:
    """A pointer (static str or _Dyn) as SQL text."""
    return p.sql if isinstance(p, _Dyn) else string(p)


def _pjoin(p, suffix: str):
    """A pointer joined with a static suffix; stays a Python str when
    `p` is static."""
    if isinstance(p, _Dyn):
        return _Dyn(f"concat({p.sql}, {string(suffix)})")
    return p + suffix


def _violation_fields(path: str, code: str, rule, params, message) -> list:
    msg = message if message is not None else message_for(code)
    if params:
        pm = "map(" + ", ".join(f"{string(k)}, {params[k]}" for k in sorted(params)) + ")"
    else:
        pm = "CAST(NULL AS MAP<STRING, STRING>)"
    return [("path", path), ("code", string(code)), ("message", string(msg)),
            ("rule", "CAST(NULL AS STRING)" if rule is None else string(rule)),
            ("params", pm)]


def violation(path: str, code: str, rule: Optional[str] = None,
              params: Optional[dict] = None, message: Optional[str] = None) -> str:
    """A violation struct (shape of reference errors.go:39-54) as SQL
    text: a named_struct over literals. `path` is a string-typed SQL
    expression (quote a static pointer with sqltext.string); `params`
    maps names to string-typed SQL expressions."""
    fields = _violation_fields(path, code, rule, params, message)
    return "named_struct(" + ", ".join(f"'{n}', {v}" for n, v in fields) + ")"


def violation_cols(path: str, code: str, rule: Optional[str] = None,
                   params: Optional[dict] = None, message: Optional[str] = None) -> list:
    """The fields of violation() as `expr AS name` select items: the
    flat form of a row with exactly one violation."""
    return [f"{v} AS {n}" for n, v in _violation_fields(path, code, rule, params, message)]


def violation_rows(df: DataFrame, row_id, viol: list, carry=()) -> DataFrame:
    """Flat violation rows (VIOLATION_SCHEMA's columns, then `carry`)
    from `df`, in ONE projection: `viol` is the select items of the
    violation columns — `inline(<array>)` for a violations array, or
    violation_cols() for one violation per row. `row_id` is a Column."""
    # row_id is bound BEFORE the select: with a generator in the same
    # select it would be evaluated above the Generate, once per
    # violation instead of per row
    return df.withColumn("_row_id", row_id).selectExpr(
        "_row_id AS row_id", *viol, *[ident(c) for c in carry])


def _lam(depth: int) -> tuple:
    """(element, index) lambda variable names of an array nested `depth`
    lambdas deep; reserved `__gsk_` names never shadow a table column."""
    sfx = str(depth) if depth else ""
    return f"__gsk_e{sfx}", f"__gsk_i{sfx}"


class CompiledChecks:
    """scalars: list[(cond, struct)]; arrays: list[(gate|None, array<struct>, exact)],
    every piece SQL text.

    The separation exists for the gate (gate_sql): the
    violation-array construction (array/concat/filter of structs) is a
    higher-order expression tree that Spark ALWAYS evaluates interpreted
    (no whole-stage codegen for HOF lambdas) — measured ~10-20x slower
    per row than codegen'd predicates. Rows therefore first pass through
    one cheap OR of all check conditions (codegen-friendly comparisons);
    only rows with at least one firing check — bounded by the violation
    rate, ~0 at production quality — pay the interpreted struct
    construction (validate_rows filters on the gate below body_sql();
    combined_sql() guards it inline for per-element object checks)."""

    def __init__(self, presence: Optional[str] = None, depth: int = 0):
        self.scalars: list = []   # (cond, violation struct)
        self.arrays: list = []    # (cheap gate | None, array expr, exact)
        # the raw-JSON ingest presence map (_presence), when the frame
        # carries one — lets anyOf branch scoring use the recorded WIRE
        # type (reference union_ambiguity.go:76-107) instead of the
        # castability approximation (see _anyof_indicator)
        self.presence = presence
        # lambdas enclosing these checks (array elements nest one deeper)
        self.depth = depth

    def add(self, cond: str, path, code, rule=None, params=None, message=None):
        """path: a static pointer (str) or a _Dyn."""
        self.scalars.append((cond, violation(_psql(path), code, rule, params, message)))

    def add_array(self, arr: str, gate: Optional[str] = None,
                  exact: bool = True):
        """gate: a cheap condition that is FALSE whenever `arr` is empty
        (used only to skip work — a too-wide gate costs nothing but
        evaluation). None = no cheap gate exists; the row always builds.

        exact: gate TRUE also implies `arr` is NON-empty (the gate is the
        exact existence condition of the violations, not an
        over-approximation). When every registered check is exact, the
        clean-row set is decidable from the gate alone — a
        codegen-friendly filter that never touches the interpreted HOF
        violations build (validate_rows clean path)."""
        self.arrays.append((gate, f"coalesce({arr}, {_NO_VIOLS})", exact))

    def gate_sql(self) -> Optional[str]:
        """Cheap OR over every check condition; None if some array check
        has no gate (then every row must build). NULL conditions read as
        'did not fire' (null OR false = null -> CASE WHEN does not fire),
        matching the violation structs' null semantics."""
        conds = [c for c, _ in self.scalars]
        for g, _, _ in self.arrays:
            if g is None:
                return None
            conds.append(g)
        return chain("OR", conds) if conds else "false"

    def gate_is_exact(self) -> bool:
        """True when the gate is EXACT: gate fired <=> the row has >= 1
        violation. Scalar checks are exact by construction (a struct
        fires exactly when its condition is true); array checks declare
        their own exactness (the Or-combinator's minimal-branch gate is
        the one wide gate today)."""
        return all(exact for _, _, exact in self.arrays)

    def body_sql(self) -> str:
        """The UNGATED violations-array construction (interpreted HOF
        territory), correct on every row. validate_rows builds it only
        on rows that pass a Filter on the gate."""
        parts = []
        if self.scalars:
            parts.append(f"array({', '.join(_case(c, v) for c, v in self.scalars)})")
        parts.extend(a for _, a, _ in self.arrays)
        if not parts:
            return _NO_VIOLS
        return _filter_nn(parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})")

    def combined_sql(self) -> str:
        """The body guarded inline by the gate: empty where the gate did
        not fire."""
        gate = self.gate_sql()
        body = self.body_sql()
        return body if gate is None else _case(gate, body, _NO_VIOLS)


def _rule_cond(r) -> str:
    """A refinement's firing condition: `when AND violates`."""
    cond = _sql(r.violates, f"refinement '{r.name}' violates")
    if r.when is not None:
        cond = _all(_sql(r.when, f"refinement '{r.name}' when"), cond)
    return cond


def _rule_params(r) -> Optional[dict]:
    """A refinement's params (name -> SQL text) as string-typed pieces."""
    if not r.params:
        return None
    if not isinstance(r.params, dict):
        raise TypeError(f"refinement '{r.name}' params must be a dict of Spark SQL "
                        f"text, got {r.params!r}")
    return {k: _s(_sql(v, f"refinement '{r.name}' param '{k}'"))
            for k, v in r.params.items()}


def compile_checks(schema: TableSchema, df: DataFrame) -> CompiledChecks:
    out = CompiledChecks("_presence" if "_presence" in df.columns else None)
    # the table's own columns: the same object walk as a nested struct
    _compile_object(out, schema, None, "", df.schema)

    # discriminated union (reference dsl/union.go:17-52): a variant is
    # either a full TableSchema (the whole variant check set — required-
    # ness, types, bounds — dispatched on the tag, matching the reference
    # dispatching the entire variant schema) or, for lightweight cases, a
    # list of Refinements.
    if schema.discriminator is not None:
        d = schema.discriminator
        dcol = ident(d.column)
        dpath = pointer(d.column)
        out.add(f"{dcol} IS NULL", dpath, Codes.DISCRIMINATOR_MISSING, rule="discriminator")
        tags = list(d.variants.keys())
        out.add(_all(f"{dcol} IS NOT NULL", f"NOT {in_list(dcol, tags)}"), dpath,
                Codes.DISCRIMINATOR_UNKNOWN, rule="discriminator",
                params={"got": _s(dcol)})
        for tag, var in d.variants.items():
            gate = f"{dcol} = {literal(tag)}"
            if isinstance(var, TableSchema):
                if var.or_refinements:
                    # plain refinements compile below; Or-combinators do
                    # not — refuse rather than silently skip the rule
                    raise TypeError(
                        f"variant '{tag}' declares or_refinements, which "
                        "only compile at table level")
                sub = CompiledChecks(out.presence)
                _compile_fields(sub, var, None, "", df.schema)
                for r in var.refinements:
                    sub.add(_rule_cond(r), r.path, r.code, rule=r.name,
                            params=_rule_params(r))
                _gate_checks(out, sub, gate)
            else:
                for r in var:
                    out.add(_all(gate, _rule_cond(r)), r.path or dpath, r.code,
                            rule=r.name, params=_rule_params(r))

    # cross-field refinements (reference dsl/object_builder.go:129-135,
    # dsl/typed_rules.go:56-91 — rule name stamped into the row;
    # `when` is presence gating, domain_types.go:25-34)
    for r in schema.refinements:
        out.add(_rule_cond(r), r.path, r.code, rule=r.name, params=_rule_params(r))

    # Or-combinator (reference rules/rules.go:376-398): evaluate every
    # branch's violation array; keep the FIRST branch with the fewest
    # violations (zero-issue branch -> empty array wins automatically)
    for orr in schema.or_refinements:
        branch_arrays = []
        all_conds = []
        for branch in orr.branches:
            items = []
            for r in branch:
                cond = _rule_cond(r)
                all_conds.append(cond)
                items.append(_case(cond, violation(
                    string(r.path), r.code, rule=f"{orr.name}:{r.name}",
                    params=_rule_params(r))))
            branch_arrays.append(_filter_nn(f"array({', '.join(items)})")
                                 if items else _NO_VIOLS)
        chosen = branch_arrays[0]
        for arr in branch_arrays[1:]:
            # strict < keeps the first minimal branch on ties
            chosen = _case(f"size({arr}) < size({chosen})", arr, chosen)
        # cheap gate: the Or result is non-empty only if SOME branch rule
        # fires (a zero-issue branch would have been chosen otherwise).
        # WIDE (exact=False): one branch firing while another stays clean
        # trips the gate yet yields an empty chosen array.
        out.add_array(chosen, gate=chain("OR", all_conds) if all_conds else None,
                      exact=False)

    return out


def _first_fired(cases) -> str:
    """The violation of the first (cond, violation) pair whose condition
    holds, else a NULL violation: nested CASEs, one per check."""
    out = _NULL_VIOL
    for cond, viol in reversed(cases):
        out = f"CASE WHEN {cond} THEN {viol} ELSE {out} END"
    return out


def _type_str(phys_type) -> str:
    return phys_type.simpleString() if phys_type is not None else ""


def _compile_field(out: CompiledChecks, f: Field, col: str, p, phys_type):
    """Compile one field's checks on the SQL expression `col` at pointer
    `p` (str, or _Dyn for dynamic per-element paths); phys_type is the
    physical Spark DataType of the bound column (None if unknown)."""
    if f.required and f.default is None:
        out.add(f"{col} IS NULL", p, Codes.REQUIRED, rule="required")

    if isinstance(f.dtype, ArraySpec):
        _compile_array(out, f, col, p, phys_type)
    elif isinstance(f.dtype, MapSpec):
        _compile_map(out, f, col, p)
    elif isinstance(f.dtype, TableSchema):
        _compile_nested(out, f, col, p, phys_type)
    else:
        _compile_scalar(out, f, col, p, _type_str(phys_type))

    # anyOf/oneOf ambiguity rule — attached per field at ANY depth
    # (nested fields arrive here via _compile_object with rebased paths)
    if f.anyof_branches:
        _compile_anyof(out, f, col, p)

    # x-kubernetes-embedded-resource presence checks on the field itself
    # (array items carry the flag on ArraySpec, handled in _compile_array)
    if f.embedded_resource and not isinstance(f.dtype, ArraySpec):
        for cond, pk, code, msg in _embedded_conds(col, p, phys_type):
            out.add(cond, pk, code, rule="embedded_resource", message=msg)


def _member(col: Optional[str], p, name: str) -> tuple:
    """(SQL expression, pointer) of member `name` of the object at `col`
    (None: the table's own columns), its pointer rebased under `p`."""
    return (ident(name) if col is None else f"{col}.{ident(name)}",
            _pjoin(p, pointer(name)))


def _compile_object(out: CompiledChecks, schema: TableSchema, col: Optional[str],
                    p, struct) -> None:
    """Compile an object schema's member checks — unknown-key policy
    (reference types.go:4-10, dsl/object_core.go:136-169), then the
    declared fields — against the members of `struct` (a StructType):
    the table's own columns when `col` is None, else the struct-valued
    SQL expression `col` (a nested column OR an array element), child
    paths rebased under `p`. A nested caller gates the result on the
    struct being present."""
    types = {sf.name: sf.dataType for sf in struct.fields}
    declared = set(schema.field_names()) | {schema.passthrough_target}
    unknown = []
    for n in sorted(k for k in types if k not in declared and not k.startswith("_")):
        # patternProperties ALONGSIDE declared properties (JSON Schema: a
        # pattern-matched key is NOT 'additional'): every matching
        # pattern's value Field applies, and the key is not unknown
        matched = [pf for pat, pf in schema.unknown_key_patterns or []
                   if re.search(pat, n)]
        if not matched:
            unknown.append(n)
        for pf in matched:
            if pf is not None:
                _compile_field(out, replace(pf, name=n), *_member(col, p, n), types[n])
    if schema.unknown == "strict":
        for n in unknown:
            out.add("true", _member(col, p, n)[1], Codes.UNKNOWN_KEY, rule="unknown_strict")
    elif schema.unknown == "schema" and schema.ap_field is not None:
        # additionalProperties-with-schema: overflow members validate
        # against the declared value spec instead of being stripped
        # (beyond the reference MVP warn+prune, kubeopenapi.go:157-160)
        for n in unknown:
            _compile_field(out, replace(schema.ap_field, name=n), *_member(col, p, n),
                           types[n])
    _compile_fields(out, schema, col, p, struct)


def _compile_fields(out: CompiledChecks, schema: TableSchema, col: Optional[str],
                    p, struct) -> None:
    """The declared fields of `schema` in sorted order, bound as in
    _compile_object; a required field without a default that `struct`
    lacks is missing (SURVEY §7.3)."""
    types = {sf.name: sf.dataType for sf in struct.fields}
    for f in sorted(schema.fields, key=lambda x: x.name):
        expr, fp = _member(col, p, f.name)
        if f.name in types:
            _compile_field(out, f, expr, fp, types[f.name])
        elif f.required and f.default is None:
            out.add("true", fp, Codes.REQUIRED, rule="required")


def _table_level_only(schema: TableSchema, p) -> None:
    """Refuse a nested object schema that declares refinements: their
    conditions name top-level columns and cannot be rebound to a struct,
    and silently skipping the rule would be a correctness hole (declare
    the rule on the table schema with full nested paths instead)."""
    if schema.refinements or schema.or_refinements:
        raise TypeError(
            f"nested schema at '{_psql(p)}' declares refinements, which only "
            "compile at table level — move the rule to the root schema")


def _compile_nested(out: CompiledChecks, f: Field, col: str, p, phys_type):
    """Nested-object validation: a Field whose dtype is a TableSchema
    binds to a struct column; the child schema's full check set compiles
    recursively with child paths rebased under the parent pointer —
    the columnar analog of the reference rebasing child issues under the
    parent's path (reference dsl/object_core.go:60-76, nesting behavior
    pinned by dsl/zod_basics_test.go).

    Child checks are gated on the parent struct being non-null: a null
    parent is (at most) a `required` issue at the parent path, never a
    cascade of child issues.
    """
    from pyspark.sql import types as T

    sub_schema: TableSchema = f.dtype
    if not isinstance(phys_type, T.StructType):
        # a nested schema bound to a non-struct column is a declaration
        # error — fail loudly instead of silently compiling zero checks
        raise TypeError(
            f"field '{_psql(p)}' declares a nested object schema but the physical "
            f"column type is {_type_str(phys_type) or 'unknown'}"
        )
    _table_level_only(sub_schema, p)
    # the ingest presence map reaches anyOf fields INSIDE nested objects
    # exactly like top-level and union-variant fields (the nested
    # pointer is a static str, so the map lookup works unchanged)
    sub = CompiledChecks(out.presence, out.depth)
    _compile_object(sub, sub_schema, col, p, phys_type)
    _gate_checks(out, sub, f"{col} IS NOT NULL")


def _gate_checks(out: CompiledChecks, sub: CompiledChecks, gate: str):
    """Merge `sub`'s compiled checks into `out`, each gated on `gate`
    (variant tag match / parent struct presence)."""
    for c, v in sub.scalars:
        out.scalars.append((_all(gate, c), v))
    for g, a, exact in sub.arrays:
        out.arrays.append((None if g is None else _all(gate, g),
                           _case(gate, a, _NO_VIOLS), exact))


def _json_type_match(col: str, t: str) -> Optional[str]:
    """Columnar 'value is of JSON type t' (reference
    union_ambiguity.go:76-107 valueMatchesType), as SQL text. Columnar
    divergence, documented: the physical column has ONE type, so
    type-match means 'losslessly castable' — a numeric string matches
    both integer and string. None = not scorable columnarly (caller
    warns/skips)."""
    s = f"CAST({col} AS STRING)"
    if t == "integer":
        return f"try_cast({s} AS BIGINT) IS NOT NULL"
    if t == "number":
        return f"try_cast({s} AS DOUBLE) IS NOT NULL"
    if t == "boolean":
        return f"lower({s}) IN ('true', 'false')"
    if t == "string":
        return f"{col} IS NOT NULL"
    return None


# wire-type bits mirroring ingest.PRESENCE_WIRE_* (kept in sync by
# tests/test_ingest.py::test_wire_type_bits) — JSON type names keyed the
# way union_ambiguity.go:76-107 valueMatchesType switches on them
_WIRE_BITS_ALL = 8 | 16 | 32 | 64 | 128 | 256
_WIRE_BIT_FOR_TYPE = {
    "string": 8, "number": 16, "integer": 32,
    "boolean": 64, "object": 128, "array": 256,
}


def _anyof_indicator(col: str, branch: dict, field_is_object: bool,
                     wire: Optional[str] = None) -> str:
    """'value fully matches this branch' predicate (reference
    union_ambiguity.go:13-46: type branches via wire type, object
    branches via required keys, else accept).

    `wire` is the ingest presence-map entry for this pointer, when the
    frame came through raw-JSON ingest: it carries the recorded WIRE
    type bits, so the predicate converges with the reference's
    valueMatchesType exactly — '123' (a JSON string) under
    anyOf[integer,string] matches ONE branch post-ingest. Columnar-only
    frames (wire None or no bits recorded) fall back to the documented
    lossless-castability approximation."""
    t = branch.get("type")
    if t and not field_is_object:
        # wire bits first: object/array branches have NO columnar probe
        # (_json_type_match returns None -> accept), but the recorded
        # wire type CAN refute them — consulting castability first would
        # leave PRESENCE_WIRE_OBJECT/ARRAY dead and keep post-ingest
        # anyOf[string,array] falsely ambiguous
        m = _json_type_match(col, t)
        bit = _WIRE_BIT_FOR_TYPE.get(t)
        if wire is not None and bit is not None:
            has_wire = _all(f"{wire} IS NOT NULL", f"({wire} & {_WIRE_BITS_ALL}) != 0")
            fallback = m if m is not None else "true"
            return f"CASE WHEN {has_wire} THEN ({wire} & {bit}) != 0 ELSE {fallback} END"
        return m if m is not None else "true"
    req = branch.get("required")
    if field_is_object and isinstance(req, list) and req:
        return _all(*[f"{col}.{ident(str(k))} IS NOT NULL" for k in req])
    return "true"  # fallback checker accepts (union_ambiguity.go:44-46)


def _compile_anyof(out: CompiledChecks, f: Field, col: str, p) -> None:
    """anyOf/oneOf ambiguity rule at any nesting depth (reference
    kubeopenapi/plan.go:178-211 builds the refiner per property;
    union_ambiguity.go:47-72): 'error' -> matched != 1 is
    ambiguous_match; 'first_match' -> matched == 0 is no_match."""
    branches = f.anyof_branches or []
    field_is_object = isinstance(f.dtype, TableSchema)
    known = [b for b in branches
             if (b.get("type") and not field_is_object)
             or (field_is_object and b.get("required"))]
    if not known:
        return
    wire = None
    if out.presence is not None and not isinstance(p, _Dyn):
        wire = f"{out.presence}[{string(p)}]"
    m = "0" + "".join(f" + CAST(({_anyof_indicator(col, b, field_is_object, wire)}) AS INT)"
                      for b in branches)
    if f.anyof_ambiguity == "first_match":
        out.add(_all(f"{col} IS NOT NULL", f"({m}) = 0"), p, Codes.NO_MATCH,
                rule=f"anyof_{f.name}", params={"matched": _s(m)})
    else:  # 'error' (reference default AmbiguityError)
        out.add(_all(f"{col} IS NOT NULL", f"({m}) != 1"), p, Codes.AMBIGUOUS_MATCH,
                rule=f"anyof_{f.name}", params={"matched": _s(m)})


def _embedded_conds(el: str, ep, phys_type) -> list:
    """x-kubernetes-embedded-resource presence checks for ONE embedded
    object (reference kubeopenapi/embedded.go:19-75): apiVersion/kind
    required strings, metadata required object. Returns
    [(cond, path, code, message)]; type-ness of the sub-values is judged
    from the PHYSICAL type (columnar analog of the reference's per-value
    type switch — a homogeneous map<string,string> column can carry the
    presence checks but not metadata's object-ness)."""
    from pyspark.sql import types as T

    conds = []
    nn = f"{el} IS NOT NULL"
    if isinstance(phys_type, T.StructType):
        names = {sf.name: sf.dataType for sf in phys_type.fields}
        for k, want in (("apiVersion", "string"), ("kind", "string"),
                        ("metadata", "object")):
            pk = _pjoin(ep, "/" + k)
            if k not in names:
                conds.append((nn, pk, Codes.REQUIRED,
                              "required for embedded resource"))
                continue
            sub = f"{el}.{ident(k)}"
            conds.append((_all(nn, f"{sub} IS NULL"), pk, Codes.REQUIRED,
                          "required for embedded resource"))
            ok_type = (isinstance(names[k], T.StringType) if want == "string"
                       else isinstance(names[k], (T.StructType, T.MapType)))
            if not ok_type:
                conds.append((_all(nn, f"{sub} IS NOT NULL"), pk, Codes.INVALID_TYPE,
                              f"{k} must be {want}"))
    elif isinstance(phys_type, T.MapType):
        # presence-only on homogeneous maps; scalar map values cannot
        # carry metadata's object-ness (documented columnar limit)
        for k in ("apiVersion", "kind", "metadata"):
            conds.append((_all(nn, f"NOT map_contains_key({el}, {string(k)})"),
                          _pjoin(ep, "/" + k), Codes.REQUIRED,
                          "required for embedded resource"))
    return conds


def _value_checks(f: Field, col: str):
    """(cond, code, rule, params) of the value constraints of `f` —
    bounds, enum, pattern, string lengths — on the SQL expression `col`,
    for a scalar field and a map's element field alike."""
    nn = f"{col} IS NOT NULL"
    if f.min is not None:
        yield (_all(nn, f"{col} < {literal(f.min)}"), Codes.TOO_SMALL, "min",
               {"min": _lit_s(f.min), "got": _s(col)})
    if f.max is not None:
        yield (_all(nn, f"{col} > {literal(f.max)}"), Codes.TOO_BIG, "max",
               {"max": _lit_s(f.max), "got": _s(col)})
    if f.enum is not None:
        yield (_all(nn, f"NOT {in_list(col, list(f.enum))}"), Codes.INVALID_ENUM, "enum",
               {"got": _s(col)})
    if f.pattern is not None:
        yield (_all(nn, f"NOT {col} RLIKE {string(f.pattern)}"), Codes.PATTERN, "pattern",
               {"pattern": _lit_s(f.pattern), "got": _s(col)})
    if f.min_str_len is not None:
        yield (_all(nn, f"length({col}) < {literal(f.min_str_len)}"), Codes.TOO_SHORT,
               "min_length", {"min": _lit_s(f.min_str_len), "got": _s(f"length({col})")})
    if f.max_str_len is not None:
        yield (_all(nn, f"length({col}) > {literal(f.max_str_len)}"), Codes.TOO_LONG,
               "max_length", {"max": _lit_s(f.max_str_len), "got": _s(f"length({col})")})


def _compile_scalar(out: CompiledChecks, f: Field, col: str, p, actual_type: str):
    nn = f"{col} IS NOT NULL"

    # declared exact-numeric decimal(p,s) (NumberDecimal mode; reference
    # types.go:18-19 defers this — here: wire-type probe + exact
    # precision/scale bounds). try_cast gives null-on-failure under ANSI.
    from goskema_spark.schema import parse_decimal
    dec = parse_decimal(f.dtype) if isinstance(f.dtype, str) else None
    if dec is not None:
        prec, scale = dec
        num = f"try_cast({col} AS DOUBLE)"
        casted = f"try_cast({col} AS {f.dtype})"
        if actual_type != f.dtype:
            # 1. not a number at all -> invalid_type
            out.add(_all(nn, f"{num} IS NULL"), p, Codes.INVALID_TYPE, rule="type_decimal",
                    params={"precision": _lit_s(prec), "scale": _lit_s(scale),
                            "got": _s(col)})
            # 2. numeric but more fractional digits than the declared
            #    scale: Spark's decimal cast would silently ROUND — flag
            #    instead of accepting a lossy value. Compared on the
            #    DECIMAL domain (decimal(38,18) reference cast), exact
            #    where a double compare mis-classifies boundaries for
            #    p-s > 15; exactness bound: <= 20 integral + <= 18
            #    fractional digits (beyond that both sides round the same
            #    way only if the corruption is past digit 18).
            wide = f"try_cast({col} AS decimal(38,18))"
            out.add(_all(nn, f"{num} IS NOT NULL", f"{casted} IS NOT NULL",
                         f"{wide} IS NOT NULL",
                         f"CAST({casted} AS decimal(38,18)) != {wide}"), p,
                    Codes.OVERFLOW, rule="decimal_scale",
                    message="fractional digits exceed declared scale",
                    params={"scale": _lit_s(scale), "got": _s(col)})
        # 3. integral width overflow: |v| >= 10^(p-s). try_cast to
        #    decimal(p,s) is NULL exactly when the integral width
        #    overflows (scale excess rounds, never nulls), so the check
        #    runs on the decimal type itself — exact at ANY precision,
        #    where a double bound compare loses exactness for p-s > 15
        #    (decimal(20,2) boundary mis-classification).
        out.add(_all(nn, f"{num} IS NOT NULL", f"{casted} IS NULL"), p,
                Codes.OVERFLOW, rule="decimal_range",
                params={"precision": _lit_s(prec), "scale": _lit_s(scale),
                        "got": _s(col)})
        if f.min is not None:
            out.add(_all(nn, f"{num} < {literal(f.min)}"), p, Codes.TOO_SMALL, rule="min",
                    params={"min": _lit_s(f.min), "got": _s(col)})
        if f.max is not None:
            out.add(_all(nn, f"{num} > {literal(f.max)}"), p, Codes.TOO_BIG, rule="max",
                    params={"max": _lit_s(f.max), "got": _s(col)})
        return

    # wire-type check via cast-null-out (reference dsl/primitives.go:163-235):
    # a value that exists but cannot cast to the declared type is invalid_type.
    if f.dtype in ("int8", "int16", "int32", "int", "int64", "long") and (
            actual_type in ("double", "float", "string") or actual_type.startswith("decimal")):
        # try_cast, not cast: ANSI mode (Spark 4 default) makes a failed
        # cast THROW; the null-out probe needs NULL-on-failure semantics
        casted = f"try_cast({col} AS DOUBLE)"
        out.add(_all(nn, f"{casted} IS NULL"), p, Codes.INVALID_TYPE, rule="type")
        if actual_type in ("double", "float") or actual_type.startswith("decimal"):
            # fractional part not allowed (reference dsl/primitives.go:628-631)
            out.add(_all(nn, f"{casted} IS NOT NULL", f"{casted} != floor({casted})"), p,
                    Codes.OVERFLOW, rule="int_fraction",
                    message="fractional part not allowed", params={"got": _s(col)})
    if f.dtype in ("double", "float") and actual_type == "string":
        out.add(_all(nn, f"try_cast({col} AS DOUBLE) IS NULL"), p, Codes.INVALID_TYPE,
                rule="type")
    if f.dtype == "timestamp" and actual_type == "string":
        out.add(_all(nn, f"try_to_timestamp({col}) IS NULL"), p, Codes.INVALID_FORMAT,
                rule="format_rfc3339", params={"got": _s(col)})

    # sized-int overflow guard (reference dsl/primitives.go:598-637): applies
    # when the physical column is wider than the declared logical width.
    bits = f.int_bits or (f.dtype if f.dtype in INT_RANGES else None)
    # Spark dtype strings for decimals are parameterized ("decimal(10,2)"),
    # so match on the prefix, not equality.
    if bits and (actual_type in ("bigint", "int", "smallint", "double", "float")
                 or actual_type.startswith("decimal")):
        lo, hi = INT_RANGES[bits]
        phys = INT_RANGES.get({"bigint": "int64", "int": "int32",
                               "smallint": "int16"}.get(actual_type, "int64"))
        if phys is None or phys[0] < lo or phys[1] > hi:
            num = (f"CAST({col} AS DOUBLE)"
                   if actual_type in ("double", "float") or actual_type.startswith("decimal")
                   else col)
            out.add(_all(nn, f"({num} < {literal(lo)}) OR ({num} > {literal(hi)})"), p,
                    Codes.OVERFLOW, rule=f"int_range_{bits}",
                    params={"min": _lit_s(lo), "max": _lit_s(hi), "got": _s(col)})

    for cond, code, rule, params in _value_checks(f, col):
        out.add(cond, p, code, rule=rule, params=params)
    if f.format == "rfc3339" and actual_type == "string":
        fmt = string("yyyy-MM-dd'T'HH:mm:ssXXX")
        out.add(_all(nn, f"try_to_timestamp({col}, {fmt}) IS NULL"), p,
                Codes.INVALID_FORMAT, rule="format_rfc3339", params={"got": _s(col)})


_INT_ELEM_TYPES = {"int8", "int16", "int32", "int64", "byte", "short",
                   "int", "integer", "long", "bigint"}


_ARRAY_ELEM_BITS = {"array<tinyint>": "int8", "array<smallint>": "int16",
                    "array<int>": "int32", "array<bigint>": "int64"}


def _elem_width_bounds(spec, actual_type: str) -> Optional[tuple]:
    """(lo, hi) of the declared element width when the physical integral
    element type can hold values outside it, else None: the array analog
    of _compile_scalar's int_range guard. The element body, its exists()
    gate and the lambda-free gate all take the `elem_range_<bits>` check
    from here, so the gate stays exact."""
    bounds = INT_RANGES.get(spec.elem)
    phys = INT_RANGES.get(_ARRAY_ELEM_BITS.get(actual_type, ""))
    if bounds is None or phys is None:
        return None
    return bounds if phys[0] < bounds[0] or phys[1] > bounds[1] else None


def _fast_elem_gate(col: str, spec, actual_type: str) -> Optional[str]:
    """Whole-stage-codegen replacement for the per-element exists() gate.

    exists(col, elem_bad) contains a lambda, and any higher-order
    function anywhere in a projection forces the WHOLE projection to
    interpreted evaluation — so every row (clean ones included) paid
    interpreted per-element dispatch for the gate (measured 1.25s vs
    0.58s for this equivalent on the 12.8M-row driver-bench corpus).

    Equivalent, lambda-free formulation for integral element types:

      range part   array_min(col) < lo  OR  array_max(col) >= hi
                   (array_min/array_max ignore NULL elements, exactly
                   like exists over `t < lo`, which skips NULL lambdas)
      null part    size(col) > 0 AND
                   array_contains(col, probe) IS NULL
                   with probe = CASE WHEN array_max(col) <= bound
                                THEN array_max(col)+1 ELSE <dead> END

    array_contains returns NULL (not false) when the value is absent
    and the array contains a NULL element — probing with a value that
    provably cannot be present (max+1 > max) turns that three-valued
    quirk into an exact has-null test. The probe branch only matters
    when no range condition fired, i.e. array_max < the upper bound, so
    max+1 never overflows (the ELSE branch is unreachable-when-relevant
    and returns a harmless constant to keep ANSI mode exception-free).
    All-NULL arrays take the ELSE branch and still read NULL from
    array_contains -> gate fires. Empty arrays: size guard -> gate
    stays quiet, matching exists([]) = false (NULL and false are both
    'did not fire' for gates).

    Returns None (caller falls back to exists) when the element type is
    non-integral (double NaN ordering and decimal edge cases are not
    worth auditing here) or when a null-element check is required but no
    finite upper bound exists to anchor the probe.
    """
    if spec.elem not in _INT_ELEM_TYPES:
        return None
    conds = []
    bounds = _elem_width_bounds(spec, actual_type)
    if bounds:
        conds.append(f"array_min({col}) < {literal(bounds[0])}")
        conds.append(f"array_max({col}) > {literal(bounds[1])}")
    if spec.elem_min is not None:
        conds.append(f"array_min({col}) < {literal(spec.elem_min)}")
    if spec.elem_max is not None:
        conds.append(f"array_max({col}) >= {literal(spec.elem_max)}")
    if spec.elem_max_incl is not None:
        conds.append(f"array_max({col}) > {literal(spec.elem_max_incl)}")
    if not spec.elem_nullable:
        # probe anchor: any upper bound U such that 'array_max >= U'
        # already fires a range condition, so the probe only decides
        # rows with array_max < U and max+1 <= U cannot overflow
        uppers = []
        if spec.elem_max is not None:
            uppers.append(spec.elem_max - 1)
        if spec.elem_max_incl is not None:
            uppers.append(spec.elem_max_incl)
        if bounds:
            uppers.append(bounds[1])
        if not uppers:
            return None  # no bound to anchor the probe: keep exists()
        # clamped to a literal Spark can hold: elem_max at int64's minimum
        # fires its range condition on every non-NULL element, so the
        # probe then only decides all-NULL arrays, where anchor is unused
        anchor = max(min(uppers), INT_RANGES["int64"][0])
        # max+1 must stay inside the PHYSICAL element type (ANSI mode
        # would raise on overflow even in rows the gate already decided)
        phys_max = {"array<tinyint>": 2**7 - 1, "array<smallint>": 2**15 - 1,
                    "array<int>": 2**31 - 1, "array<bigint>": 2**63 - 1
                    }.get(actual_type)
        if phys_max is None or anchor >= phys_max:
            return None
        probe = (f"CASE WHEN array_max({col}) <= {literal(anchor)} "
                 f"THEN array_max({col}) + 1 ELSE 0 END")
        conds.append(_all(f"size({col}) > 0", f"array_contains({col}, {probe}) IS NULL"))
    if not conds:
        return None
    return chain("OR", conds)


def _compile_array(out: CompiledChecks, f: Field, col: str, p, phys_type):
    from pyspark.sql import types as T

    spec: ArraySpec = f.dtype
    actual_type = _type_str(phys_type)
    elem_type = phys_type.elementType if isinstance(phys_type, T.ArrayType) else None
    nn = f"{col} IS NOT NULL"
    sz = f"size({col})"
    e, i = _lam(out.depth)

    def idx_path(iv):
        return _Dyn(f"concat({_psql(p)}, '/', CAST({iv} AS STRING))")

    # length bounds (reference dsl/array.go:45-48, checks :137-158)
    if spec.min_len is not None:
        out.add(_all(nn, f"{sz} < {literal(spec.min_len)}"), p, Codes.TOO_SHORT,
                rule="array_min", params={"min": _lit_s(spec.min_len), "got": _s(sz)})
    if spec.max_len is not None:
        # doubles as the MaxBytes-style DoS guard (reference enforce.go:147-155)
        out.add(_all(nn, f"{sz} > {literal(spec.max_len)}"), p, Codes.TOO_LONG,
                rule="array_max", params={"max": _lit_s(spec.max_len), "got": _s(sz)})

    # per-element checks with /<field>/<idx> paths
    # (reference dsl/array.go:79-117; paths rebased like /items/0/foo)
    width = _elem_width_bounds(spec, actual_type)
    elem_conds = []   # (cond on the element `e`, code, rule, params)
    bad = []          # the same conditions, unguarded, for the exists() gate
    if spec.elem_schema is None:
        if not spec.elem_nullable:
            elem_conds.append((f"{e} IS NULL", Codes.INVALID_TYPE, "elem_type", None))
            bad.append(f"{e} IS NULL")
        if width:
            lo, hi = (f"{e} < {literal(width[0])}", f"{e} > {literal(width[1])}")
            elem_conds.append((f"({lo}) OR ({hi})", Codes.OVERFLOW, f"elem_range_{spec.elem}",
                               {"min": _lit_s(width[0]), "max": _lit_s(width[1]),
                                "got": _s(e)}))
            bad += [lo, hi]
        domain = {"min": _lit_s(spec.elem_min), "max": _lit_s(spec.elem_max), "got": _s(e)}
        for bound, op, params in ((spec.elem_min, "<", domain), (spec.elem_max, ">=", domain),
                                  (spec.elem_max_incl, ">",
                                   {**domain, "max": _lit_s(spec.elem_max_incl)})):
            if bound is not None:
                cond = f"{e} {op} {literal(bound)}"
                elem_conds.append((_all(f"{e} IS NOT NULL", cond), Codes.DOMAIN_RANGE,
                                   "elem_domain", params))
                bad.append(cond)
    if elem_conds:
        # fast path: a cheap short-circuiting exists() gates the expensive
        # per-element struct construction — clean rows (the overwhelming
        # majority at scale) never build violation structs
        path = idx_path(i).sql
        first = _first_fired([(c, violation(path, code, rule, params))
                              for c, code, rule, params in elem_conds])
        bad = f"exists({col}, {e} -> {chain('OR', bad)})"
        arr = (f"CASE WHEN {bad} THEN "
               f"{_filter_nn(f'transform({col}, ({e}, {i}) -> {first})')}"
               f" ELSE {_NO_VIOLS} END")
        fast = _fast_elem_gate(col, spec, actual_type)
        out.add_array(arr, gate=fast if fast is not None else bad)

    # contains counter (reference dsl/array.go:51-56, WithStreamContains):
    # the predicate is a SQL lambda (`x -> ...`)
    if spec.contains_pred is not None:
        pred = _sql(spec.contains_pred, f"array '{_psql(p)}' contains_pred")
        cnt = f"size(filter({col}, {pred}))"
        if spec.contains_min is not None:
            out.add(_all(nn, f"{cnt} < {literal(spec.contains_min)}"), p, Codes.TOO_SHORT,
                    rule="contains_min",
                    params={"min": _lit_s(spec.contains_min), "got": _s(cnt)})
        if spec.contains_max is not None:
            out.add(_all(nn, f"{cnt} > {literal(spec.contains_max)}"), p, Codes.TOO_LONG,
                    rule="contains_max",
                    params={"max": _lit_s(spec.contains_max), "got": _s(cnt)})

    # array<struct> with a full per-element object schema — issues at
    # /<field>/<i>/<child>, recursing through nested objects/arrays
    # (reference kubeopenapi nested CRD arrays, adapters.go object items)
    if spec.elem_schema is not None:
        if not isinstance(elem_type, T.StructType):
            raise TypeError(
                f"field '{_psql(p)}' declares an array element object schema but the "
                f"physical type is {actual_type or 'unknown'}")
        _table_level_only(spec.elem_schema, idx_path(i))
        # the element check set, over the lambda variables `e` and `i`;
        # its conditions never name `i` (only the paths do), so the same
        # set also serves the one-variable exists() gate
        sub = CompiledChecks(depth=out.depth + 1)
        ep = idx_path(i)
        if not spec.elem_nullable:
            sub.add(f"{e} IS NULL", ep, Codes.INVALID_TYPE, rule="elem_type")
        inner = CompiledChecks(depth=out.depth + 1)
        _compile_object(inner, spec.elem_schema, e, ep, elem_type)
        _gate_checks(sub, inner, f"{e} IS NOT NULL")
        # cheap gate = the element check-set's own OR condition (None
        # when the nested set itself has an ungated array check — then
        # every row builds)
        g = sub.gate_sql()
        gate = None if g is None else _all(nn, f"exists({col}, {e} -> {g})")
        # exactness propagates from the element check-set: a wide nested
        # gate (e.g. an Or-combinator inside the element schema) makes
        # this array gate wide too — claiming exact would let the clean
        # path drop rows whose gate fired without any violation
        out.add_array(f"CASE WHEN {nn} THEN flatten(transform({col}, ({e}, {i}) -> "
                      f"{sub.combined_sql()})) ELSE {_NO_VIOLS} END",
                      gate=gate, exact=sub.gate_is_exact())

    # x-kubernetes-list-type: set — within-row element uniqueness
    # (reference kubeopenapi/list.go:20-40 setChecker, code duplicate_item)
    #
    # Scale note: first/dup ATTRIBUTION is O(n²) (array_position scans
    # per element), so it is gated behind an O(n) duplicate-EXISTENCE
    # probe (size vs array_distinct): clean rows — the overwhelming
    # majority at any sane dup rate — never pay the quadratic path, and
    # a 10k-element clean array costs one distinct pass, not 10^8
    # comparisons. Rows that DO contain duplicates pay O(n²) once;
    # bounded by max_len when declared.
    if spec.list_set:
        first = f"array_position({col}, {e}) - 1"
        dup = _case(_all(f"{e} IS NOT NULL", f"{first} != {i}"),
                    violation(idx_path(i).sql, Codes.DUPLICATE_ITEM, rule="list_set_unique",
                              params={"first": _s(first), "dup": _s(i), "key": _s(e)},
                              message="duplicate element in set"))
        # gate over NON-NULL elements only: attribution skips nulls (no
        # stable array_position for null), so a null-only duplicate must
        # not trip the gate — a wide-but-empty gate would silently drop
        # the row from the exact-gate clean path (neither clean nor
        # violating). Null elements are the element schema's concern.
        nn_elems = _filter_nn(col)
        has_dup = _all(nn, f"size(array_distinct({nn_elems})) < size({nn_elems})")
        out.add_array(_case(has_dup, _filter_nn(f"transform({col}, ({e}, {i}) -> {dup})"),
                            _NO_VIOLS),
                      gate=has_dup)

    # x-kubernetes-list-type: map — uniqueness by composite element key +
    # required key fields (reference kubeopenapi/list.go:43-100 mapChecker)
    if spec.list_map_keys:
        keys = list(spec.list_map_keys)
        k = f"__gsk_k{out.depth or ''}"

        def key_struct(t):
            return "named_struct(" + ", ".join(
                f"{string(kk)}, {t}.{ident(kk)}" for kk in keys) + ")"

        first = f"array_position(transform({col}, {k} -> {key_struct(k)}), {key_struct(e)}) - 1"
        dup = _case(_all(f"{e} IS NOT NULL", f"{first} != {i}"),
                    violation(idx_path(i).sql, Codes.DUPLICATE_ITEM, rule="list_map_unique",
                              params={"first": _s(first), "dup": _s(i)},
                              message="duplicate element in list-map by keys"))
        # same O(n) existence gate as list_set: quadratic attribution
        # only runs on rows that actually contain a duplicate key.
        # Keys of NULL elements are excluded (attribution skips null
        # elements) so the gate stays exact — see list_set above.
        nn_keys = f"transform({_filter_nn(col)}, {k} -> {key_struct(k)})"
        has_key_dup = _all(nn, f"size(array_distinct({nn_keys})) < size({nn_keys})")
        out.add_array(_case(has_key_dup,
                            _filter_nn(f"transform({col}, ({e}, {i}) -> {dup})"), _NO_VIOLS),
                      gate=has_key_dup)

        # keys already declared required by the elem schema are covered
        # by its own required check — don't double-report
        covered = {cf.name for cf in (spec.elem_schema.fields if spec.elem_schema else [])
                   if cf.required and cf.default is None}
        probe_keys = [kk for kk in keys if kk not in covered]
        if probe_keys:
            key_null = [_all(f"{e} IS NOT NULL", f"{e}.{ident(kk)} IS NULL")
                        for kk in probe_keys]
            missing = "array(" + ", ".join(
                _case(c, violation(_pjoin(idx_path(i), pointer(kk)).sql, Codes.REQUIRED,
                                   rule="list_map_key_required",
                                   message="required for list-map-keys"))
                for c, kk in zip(key_null, probe_keys)) + ")"
            out.add_array(
                _case(nn, _filter_nn(f"flatten(transform({col}, ({e}, {i}) -> {missing}))"),
                      _NO_VIOLS),
                gate=_all(nn, f"exists({col}, {e} -> {chain('OR', key_null)})"))

    # x-kubernetes-embedded-resource on array items: each element must
    # carry apiVersion/kind/metadata, issues at /<field>/<i>/<key>
    # (reference kubeopenapi/embedded.go:30-40 array branch)
    if spec.embedded_resource:
        cs = _embedded_conds(e, idx_path(i), elem_type)
        if cs:
            items = "array(" + ", ".join(
                _case(c, violation(_psql(pk), code, rule="embedded_resource", message=msg))
                for c, pk, code, msg in cs) + ")"
            out.add_array(
                _case(nn, f"flatten(transform({col}, ({e}, {i}) -> {_filter_nn(items)}))",
                      _NO_VIOLS),
                gate=_all(nn, f"exists({col}, {e} -> {chain('OR', [c for c, *_ in cs])})"))


def _compile_map(out: CompiledChecks, f: Field, col: str, p):
    """Homogeneous map value validation (reference dsl/map_core.go:48-119)
    plus key-dispatch checks — propertyNames.pattern and
    patternProperties (reference kubeopenapi/patterns.go:14-210,
    plan.go:54-155) — issues at /<field>/<key> with RFC6901-escaped keys.
    First failing check per entry is reported, check order mirroring the
    reference's refiner chain: propertyNames -> key-pattern enforcement
    -> homogeneous value spec -> per-pattern value types ->
    additionalProperties value type."""
    spec: MapSpec = f.dtype
    m = f"__gsk_m{out.depth or ''}"
    k, v = f"{m}.key", f"{m}.value"
    esc = f"regexp_replace(regexp_replace({k}, '~', '~0'), '/', '~1')"
    key_path = f"concat({_psql(p)}, '/', {esc})"

    # each check: (cond on the entry, code, rule, params | None, message | None)
    conds = []

    def vcheck(cond, code, rule, params=None, message=None):
        conds.append((cond, code, rule, params, message))

    # ---- key checks first (reference chains key refiners before value
    # refiners, plan.go:117-147) ----
    if spec.key_name_pattern is not None:
        pat = spec.key_name_pattern
        vcheck(f"NOT {k} RLIKE {string(pat)}", Codes.PATTERN, "property_names",
               {"pattern": _lit_s(pat), "key": _s(k)}, "key does not match pattern")
    pats = [(pt, t) for pt, t in (spec.key_patterns or [])]
    any_pat_match = chain("OR", [f"{k} RLIKE {string(pt)}" for pt, _ in pats]) if pats else None
    if pats and spec.key_enforce:
        vcheck(f"NOT ({any_pat_match})", Codes.PATTERN, "key_pattern", {"key": _s(k)},
               "key does not match any allowed pattern")

    # ---- homogeneous value spec ----
    nn = f"{v} IS NOT NULL"
    if spec.value_min is not None:
        vcheck(_all(nn, f"{v} < {literal(spec.value_min)}"), Codes.TOO_SMALL,
               "map_value_min", {"min": _lit_s(spec.value_min), "got": _s(v)})
    if spec.value_max is not None:
        vcheck(_all(nn, f"{v} > {literal(spec.value_max)}"), Codes.TOO_BIG,
               "map_value_max", {"max": _lit_s(spec.value_max), "got": _s(v)})
    ef = spec.elem_field
    if ef is not None:
        if ef.required or not ef.nullable:
            vcheck(f"{v} IS NULL", Codes.REQUIRED, "map_value_required")
        for check in _value_checks(ef, v):
            vcheck(*check)

    # ---- per-pattern value types (patterns.go:155-210: ALL matching
    # patterns' type constraints apply; unmatched keys fall back to the
    # additionalProperties schema type when declared) ----
    for pt, t in pats:
        match = _json_type_match(v, t) if t is not None else None
        if match is None:
            continue  # importer warned: type not scorable columnarly
        vcheck(_all(f"{k} RLIKE {string(pt)}", nn, f"NOT ({match})"), Codes.INVALID_TYPE,
               "pattern_value_type", {"pattern": _lit_s(pt), "type": _lit_s(t)},
               "value type mismatch for patternProperties")
    ap_match = _json_type_match(v, spec.ap_type) if spec.ap_type is not None else None
    if pats and ap_match is not None:
        vcheck(_all(f"NOT ({any_pat_match})", nn, f"NOT ({ap_match})"), Codes.INVALID_TYPE,
               "additional_value_type", {"type": _lit_s(spec.ap_type)},
               "value type mismatch for additionalProperties")

    if not conds:
        return
    first = _first_fired([(c, violation(key_path, code, rule, params, message))
                          for c, code, rule, params, message in conds])
    entries = f"transform(map_entries({col}), {m} -> {first})"
    out.add_array(_filter_nn(entries),
                  gate=f"exists(map_entries({col}), {m} -> {chain('OR', [c for c, *_ in conds])})")


# --------------------------------------------------------------------------


def apply_defaults(df: DataFrame, schema: TableSchema) -> DataFrame:
    """Materialize defaults (reference dsl/object_builder.go:70-91, applied
    dsl/object_core.go:83-93); stamps a `_default_applied` presence-bit map
    (reference presence.go:11-15 PresenceDefaultApplied)."""
    defaults = [(f.name, f.default) for f in schema.fields if f.default is not None]
    if not defaults:
        return df
    # stamp presence bits BEFORE materializing defaults (unbound F.col would
    # otherwise resolve against the coalesced column and always read false)
    bits = []
    for name, _ in defaults:
        bits.extend([F.lit(name),
                     F.col(name).isNull() if name in df.columns else F.lit(True)])
    df = df.withColumn("_default_applied", F.create_map(*bits))
    for name, dv in defaults:
        if name in df.columns:
            df = df.withColumn(name, F.coalesce(F.col(name), F.lit(dv)))
        else:
            df = df.withColumn(name, F.lit(dv))
    return df


def _compiled_triple(schema: TableSchema, df: DataFrame):
    """Memoized (gate, body, gate_is_exact) per (schema, column dtypes),
    gate and body as SQL text: the compile walks the whole schema in
    Python, and its text is reusable across DataFrames of the same
    shape — pure driver-side serial time that Amdahl punishes at higher
    parallelism. The memo holds only strings and bools, so a schema
    that validated once still pickles as it is."""
    key = (tuple(sorted(df.dtypes)), df.columns.count("_violations"),
           getattr(schema, "_version", 0))
    cache = getattr(schema, "_compiled_cache", None)
    if cache is None:
        cache = {}
        schema._compiled_cache = cache
    triple = cache.get(key)
    if triple is None:
        checks = compile_checks(schema, df)
        triple = (checks.gate_sql(), checks.body_sql(), checks.gate_is_exact())
        cache[key] = triple
    return triple


def explode_violations(df: DataFrame, row_id, carry=()) -> DataFrame:
    """`_violations` array -> violations table (FIXTURES.md F5 shape),
    one row per element; rows with an empty array yield none. Order is
    the caller's: sort by (row_id, path, code) for goskema's issue
    ordering (reference README.md:573-574). `carry` appends passthrough
    columns (e.g. the logical partition) after the violation fields."""
    return violation_rows(df, row_id, ["inline(_violations)"], carry)


def _not_fired(gate: str) -> str:
    """The gate did not fire: NULL (no check could evaluate) or false."""
    return f"({gate}) IS NULL OR NOT ({gate})"


def validate_rows(df: DataFrame, schema: TableSchema, row_id,
                  carry=()):
    """Full row pass: returns (dirty_df, violations_df, clean_df), all
    three derived from ONE feed — the rows where the gate fired, with
    their `_violations` array:

        feed = df.filter(gate).withColumn("_violations", body)

    The gate Filter whole-stage-codegens BELOW the interpreted HOF body
    projection, so the clean majority never reaches the build (measured
    on the 12.8M-row driver-bench corpus: ~25% off the violations job
    against building a guarded array on every row, OPTIMIZATION_r06.md).
    A gate that is None (some array check has no cheap gate) feeds every
    row. fail_fast keeps the first issue per row (api.go:147-156).

    dirty_df: the input rows with at least one violation, plus
    `_violations`. violations_df: the feed's arrays inlined (inline
    drops the empty arrays a wide gate lets through), with `carry`
    columns appended (the runner attaches the logical partition this
    way). clean_df: the input rows with no violation — with an exact
    gate, a Filter on the gate alone (NULL = no check could evaluate =
    clean) that never touches the interpreted build; otherwise rows
    whose gate did not fire or whose built body is empty. Every input
    row is in exactly one of dirty_df and clean_df.

    clean_df preserves input token arrays byte-identically (per-row
    invariant, BASELINE.json input_hint) — it is a pure filter, never a
    rewrite of the data columns.
    """
    df = apply_defaults(df, schema)
    gate, body, exact = _compiled_triple(schema, df)
    if schema.fail_fast:
        # first issue only (api.go:147-156)
        body = f"slice({body}, 1, 1)"
    feed = (df if gate is None else df.filter(gate)).withColumn("_violations", F.expr(body))
    violations = explode_violations(feed, row_id, carry=carry)
    if gate is not None and exact:
        # gate-only clean filter: testing the built array here instead
        # would inline the interpreted HOF build into the Filter and make
        # every clean row pay it (the r4 clean_scan regression)
        return feed, violations, df.filter(_not_fired(gate))
    empty = f"size({body}) = 0"
    clean = df.filter(empty if gate is None else chain("OR", [_not_fired(gate), empty]))
    return feed.filter("size(_violations) > 0"), violations, clean
