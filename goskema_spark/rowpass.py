"""Compile a TableSchema into a single vectorized per-row validation pass.

The reference walks a token stream per document (reference
internal/engine/engine.go:40-108) and accumulates Issues. Here the whole
check set compiles to built-in Column expressions (no Python in the hot
path): every check yields either a nullable violation struct or an array
of violation structs (for per-element checks, reference
dsl/array.go:79-117 issues at `/<field>/<idx>`), all concatenated into a
`_violations` array column and filtered for nulls.

One feed shape (validate_rows): a whole-stage-codegen'd Filter on the
gate (the OR of every check condition) BELOW the interpreted projection
that builds `_violations`, so only rows where some check fired pay the
interpreted build. The violations are exploded from that feed; the clean
rows are a second Filter on the input, on the gate alone when the gate
is exact.

Fail-fast vs collect (reference api.go:147-156): collect keeps the full
array; fail_fast slices it to 1 element per row (and callers can
`violations.limit(1)` for a global first-issue stop).

Deterministic ordering (reference README.md:573-574): checks are compiled
in sorted field order, then by check kind; the exploded violations table
sorts by (row_id, path, code).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from goskema_spark.issues import (
    Codes,
    VIOLATION_STRUCT,
    message_for,
    pointer,
)
from goskema_spark.schema import (
    INT_RANGES,
    ArraySpec,
    Field,
    MapSpec,
    TableSchema,
)

_VIOL_DDL = "struct<path:string,code:string,message:string,rule:string,params:map<string,string>>"
_VIOL_ARR_DDL = f"array<{_VIOL_DDL}>"


def _s(v) -> Column:
    """Any column/literal as a string for params maps. Python strs are
    already string literals; everything else takes Spark's string form
    (`true`, `1.0E20`), which differs from Python's str()."""
    if isinstance(v, str):
        return F.lit(v)
    return (v if isinstance(v, Column) else F.lit(v)).cast("string")


def _null(ddl: str) -> Column:
    """A typed NULL literal. F.expr is one plain function call, where
    lit(None).cast() adds a Column method call, and every Column method
    call pays PySpark's call-site capture (a dozen py4j round trips)."""
    return F.expr(f"CAST(NULL AS {ddl})")


def _no_viols() -> Column:
    """An empty violations array (typed, see _null)."""
    return F.expr(f"CAST(array() AS {_VIOL_ARR_DDL})")


def violation(path, code: str, rule: Optional[str] = None, params: Optional[dict] = None,
              message: Optional[str] = None) -> Column:
    """Build a violation struct Column (shape of reference errors.go:39-54).
    A Column `path` must be string-typed (the builders pass concat()s).
    named_struct over string literals needs no alias() or cast() calls."""
    if params:
        kv = []
        for k in sorted(params):
            kv.extend([F.lit(k), _s(params[k])])
        params_col = F.create_map(*kv)
    else:
        params_col = _null("MAP<STRING, STRING>")
    return F.named_struct(
        F.lit("path"), path if isinstance(path, Column) else F.lit(path),
        F.lit("code"), F.lit(code),
        F.lit("message"), F.lit(message if message is not None else message_for(code)),
        F.lit("rule"), _null("STRING") if rule is None else F.lit(rule),
        F.lit("params"), params_col,
    )


def violation_rows(df: DataFrame, row_id: Column, viol: Column, carry=()) -> DataFrame:
    """Flat violation rows (VIOLATION_SCHEMA's columns, then `carry`)
    from `df`, one per value of the violation-struct Column `viol` — an
    explode() of a violations array, or one struct per row."""
    # row_id is bound BEFORE the select: with an explode in the same
    # select it would be evaluated above the Generate, once per violation
    # instead of per row
    v = df.withColumn("_row_id", row_id).select(
        F.col("_row_id").alias("row_id"), viol.alias("v"), *carry)
    return v.select("row_id", *[f"v.{f.name}" for f in VIOLATION_STRUCT.fields],
                    *carry)


def _maybe(cond: Column, viol: Column) -> Column:
    """Violation struct when cond is TRUE, else null (null-safe: a NULL
    condition means 'cannot evaluate' and does not fire, matching the
    reference where rules only run on successfully-parsed values)."""
    return F.when(cond, viol)


class CompiledChecks:
    """scalars: list[(cond, struct)]; arrays: list[(gate|None, array<struct>)].

    The separation exists for the gate (any_violation): the
    violation-array construction (array/concat/filter of structs) is a
    higher-order expression tree that Spark ALWAYS evaluates interpreted
    (no whole-stage codegen for HOF lambdas) — measured ~10-20x slower
    per row than codegen'd predicates. Rows therefore first pass through
    one cheap OR of all check conditions (codegen-friendly comparisons);
    only rows with at least one firing check — bounded by the violation
    rate, ~0 at production quality — pay the interpreted struct
    construction (validate_rows filters on the gate below body();
    combined() guards it inline for per-element object checks)."""

    def __init__(self):
        self.scalars: list = []   # (cond, violation struct)
        self.arrays: list = []    # (cheap gate | None, array expr, exact)
        # the raw-JSON ingest presence map (_presence), when the frame
        # carries one — lets anyOf branch scoring use the recorded WIRE
        # type (reference union_ambiguity.go:76-107) instead of the
        # castability approximation (see _anyof_indicator)
        self.presence: Optional[Column] = None

    def add(self, cond: Column, path, code, rule=None, params=None, message=None):
        self.scalars.append((cond, violation(path, code, rule, params, message)))

    def add_array(self, arr: Column, gate: Optional[Column] = None,
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
        self.arrays.append((gate, F.coalesce(arr, _no_viols()),
                            exact))

    def any_violation(self) -> Optional[Column]:
        """Cheap OR over every check condition; None if some array check
        has no gate (then every row must build). NULL conditions read as
        'did not fire' (null OR false = null -> when() does not fire),
        matching _maybe()'s null semantics."""
        conds = [c for c, _ in self.scalars]
        for g, _, _ in self.arrays:
            if g is None:
                return None
            conds.append(g)
        if not conds:
            return F.lit(False)
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    def gate_is_exact(self) -> bool:
        """True when any_violation() is EXACT: gate fired <=> the row has
        >= 1 violation. Scalar checks are exact by construction (_maybe
        fires a struct exactly when the condition is true); array checks
        declare their own exactness (the Or-combinator's minimal-branch
        gate is the one wide gate today)."""
        return all(exact for _, _, exact in self.arrays)

    def body(self) -> Column:
        """The UNGATED violations-array construction (interpreted HOF
        territory), correct on every row. validate_rows builds it only
        on rows that pass a Filter on any_violation()."""
        parts = []
        if self.scalars:
            parts.append(F.array(*[_maybe(c, v) for c, v in self.scalars]))
        parts.extend(a for _, a, _ in self.arrays)
        if not parts:
            return _no_viols()
        combined = parts[0] if len(parts) == 1 else F.concat(*parts)
        return F.filter(combined, lambda x: x.isNotNull())

    def combined(self) -> Column:
        combined = self.body()
        gate = self.any_violation()
        if gate is not None:
            combined = F.when(gate, combined).otherwise(
                _no_viols())
        return combined


def compile_checks(schema: TableSchema, df: DataFrame) -> CompiledChecks:
    out = CompiledChecks()
    phys = {sf.name: sf.dataType for sf in df.schema.fields}
    if "_presence" in df.columns:
        out.presence = F.col("_presence")

    # unknown-column policy (reference types.go:4-10, dsl/object_core.go:136-169)
    declared = set(schema.field_names()) | {"_ord", "_row_id"}
    if schema.passthrough_target:
        declared.add(schema.passthrough_target)
    unknown = sorted(c for c in df.columns if c not in declared and not c.startswith("_"))
    unknown = _compile_pattern_keys(out, schema, unknown,
                                    lambda c: (F.col(c), pointer(c), phys.get(c)))
    if schema.unknown == "strict":
        for c in unknown:
            out.add(F.lit(True), pointer(c), Codes.UNKNOWN_KEY, rule="unknown_strict")
    elif schema.unknown == "schema" and schema.ap_field is not None:
        # additionalProperties-with-schema: overflow columns validate
        # against the declared value spec instead of being stripped
        # (beyond the reference MVP warn+prune, kubeopenapi.go:157-160)
        from dataclasses import replace
        for c in unknown:
            _compile_field(out, replace(schema.ap_field, name=c), F.col(c),
                           pointer(c), phys.get(c))

    for f in sorted(schema.fields, key=lambda x: x.name):
        present = f.name in df.columns
        if not present:
            if f.required and f.default is None:
                # column absent from table schema = missing (SURVEY §7.3)
                out.add(F.lit(True), pointer(f.name), Codes.REQUIRED, rule="required")
            continue
        _compile_field(out, f, F.col(f.name), pointer(f.name), phys.get(f.name))

    # discriminated union (reference dsl/union.go:17-52): a variant is
    # either a full TableSchema (the whole variant check set — required-
    # ness, types, bounds — dispatched on the tag, matching the reference
    # dispatching the entire variant schema) or, for lightweight cases, a
    # list of Refinements.
    if schema.discriminator is not None:
        d = schema.discriminator
        dcol = F.col(d.column)
        dpath = pointer(d.column)
        out.add(dcol.isNull(), dpath, Codes.DISCRIMINATOR_MISSING, rule="discriminator")
        tags = list(d.variants.keys())
        out.add(dcol.isNotNull() & ~dcol.isin(tags), dpath, Codes.DISCRIMINATOR_UNKNOWN,
                rule="discriminator", params={"got": dcol})
        for tag, var in d.variants.items():
            gate = dcol == F.lit(tag)
            if isinstance(var, TableSchema):
                if var.or_refinements:
                    # plain refinements compile below; Or-combinators do
                    # not — refuse rather than silently skip the rule
                    raise TypeError(
                        f"variant '{tag}' declares or_refinements, which "
                        "only compile at table level")
                sub = CompiledChecks()
                sub.presence = out.presence
                for vf in sorted(var.fields, key=lambda x: x.name):
                    if vf.name not in df.columns:
                        if vf.required and vf.default is None:
                            sub.add(F.lit(True), pointer(vf.name), Codes.REQUIRED,
                                    rule="required")
                        continue
                    _compile_field(sub, vf, F.col(vf.name), pointer(vf.name),
                                   phys.get(vf.name))
                for r in var.refinements:
                    cond = r.violates()
                    if r.when is not None:
                        cond = r.when() & cond
                    sub.add(cond, r.path, r.code, rule=r.name,
                            params=r.params() if r.params else None)
                _gate_checks(out, sub, gate)
            else:
                for r in var:
                    cond = gate & r.violates()
                    out.add(cond, r.path or dpath, r.code, rule=r.name,
                            params=r.params() if r.params else None)

    # cross-field refinements (reference dsl/object_builder.go:129-135,
    # dsl/typed_rules.go:56-91 — rule name stamped into the row)
    for r in schema.refinements:
        cond = r.violates()
        if r.when is not None:  # presence gating (domain_types.go:25-34)
            cond = r.when() & cond
        out.add(cond, r.path, r.code, rule=r.name,
                params=r.params() if r.params else None)

    # Or-combinator (reference rules/rules.go:376-398): evaluate every
    # branch's violation array; keep the FIRST branch with the fewest
    # violations (zero-issue branch -> empty array wins automatically)
    for orr in schema.or_refinements:
        branch_arrays = []
        all_conds = []
        for branch in orr.branches:
            items = []
            for r in branch:
                cond = r.violates()
                if r.when is not None:
                    cond = r.when() & cond
                all_conds.append(cond)
                items.append(_maybe(cond, violation(
                    r.path, r.code, rule=f"{orr.name}:{r.name}",
                    params=r.params() if r.params else None)))
            branch_arrays.append(
                F.filter(F.array(*items), lambda x: x.isNotNull())
                if items else _no_viols())
        chosen = branch_arrays[0]
        for arr in branch_arrays[1:]:
            # strict < keeps the first minimal branch on ties
            chosen = F.when(F.size(arr) < F.size(chosen), arr).otherwise(chosen)
        # cheap gate: the Or result is non-empty only if SOME branch rule
        # fires (a zero-issue branch would have been chosen otherwise).
        # WIDE (exact=False): one branch firing while another stays clean
        # trips the gate yet yields an empty chosen array.
        gate = F.lit(False)
        for c in all_conds:
            gate = gate | c
        out.add_array(chosen, gate=gate if all_conds else None, exact=False)

    return out


def _pjoin(p, suffix):
    """Join a JSON pointer (str or Column) with a suffix (str or Column).
    Stays a python str when both sides are static — dynamic (per-index)
    paths become Column concats."""
    if isinstance(p, str) and isinstance(suffix, str):
        return p + suffix
    pc = p if isinstance(p, Column) else F.lit(p)
    sc = suffix if isinstance(suffix, Column) else F.lit(suffix)
    return F.concat(pc, sc)


def _type_str(phys_type) -> str:
    return phys_type.simpleString() if phys_type is not None else ""


def _compile_field(out: CompiledChecks, f: Field, col: Column, p, phys_type):
    """Compile one field's checks at pointer `p` (str, or Column for
    dynamic per-element paths); phys_type is the physical Spark DataType
    of the bound column (None if unknown)."""
    if f.required and f.default is None:
        out.add(col.isNull(), p, Codes.REQUIRED, rule="required")

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


def _compile_pattern_keys(out: CompiledChecks, schema: TableSchema,
                          unknown: list, bind) -> list:
    """patternProperties ALONGSIDE declared properties (JSON Schema: a
    pattern-matched key is NOT 'additional'): pull pattern-matching
    names out of the unknown set and validate them against the
    pattern's value Field. Returns the remaining unknown names. `bind`
    maps a name -> (column, pointer, phys_type)."""
    pats = schema.unknown_key_patterns or []
    if not pats:
        return unknown
    import re
    from dataclasses import replace
    rest = []
    for c in unknown:
        matched = [pf for pat, pf in pats if re.search(pat, c)]
        if not matched:
            rest.append(c)
            continue
        col, ptr, phys = bind(c)
        for pf in matched:  # all matching patterns apply (JSON Schema)
            if pf is not None:
                _compile_field(out, replace(pf, name=c), col, ptr, phys)
    return rest


def _compile_object(sub: CompiledChecks, sub_schema: TableSchema, col: Column,
                    p, phys_struct) -> None:
    """Compile an object schema's checks against a struct-valued Column
    (a nested column OR an array element), child paths rebased under `p`.
    Caller gates the result on the struct being present."""
    if sub_schema.refinements or sub_schema.or_refinements:
        # refinements live at TABLE level: their `violates` closures
        # build Columns by top-level name and cannot be rebound to this
        # struct — silently skipping the rule would be a correctness
        # hole, so refuse loudly (declare the rule on the table schema
        # with full nested paths instead)
        raise TypeError(
            f"nested schema at '{p}' declares refinements, which only "
            "compile at table level — move the rule to the root schema")
    child_types = {sf.name: sf.dataType for sf in phys_struct.fields}
    declared = set(sub_schema.field_names())
    unknown = sorted(n for n in set(child_types) - declared
                     if not n.startswith("_"))
    unknown = _compile_pattern_keys(
        sub, sub_schema, unknown,
        lambda n: (col.getField(n), _pjoin(p, pointer(n)), child_types[n]))
    if sub_schema.unknown == "strict":
        for name in unknown:
            sub.add(F.lit(True), _pjoin(p, pointer(name)), Codes.UNKNOWN_KEY,
                    rule="unknown_strict")
    elif sub_schema.unknown == "schema" and sub_schema.ap_field is not None:
        from dataclasses import replace
        for name in unknown:
            _compile_field(sub, replace(sub_schema.ap_field, name=name),
                           col.getField(name), _pjoin(p, pointer(name)),
                           child_types[name])
    for cf in sorted(sub_schema.fields, key=lambda x: x.name):
        cp = _pjoin(p, pointer(cf.name))
        if cf.name not in child_types:
            if cf.required and cf.default is None:
                sub.add(F.lit(True), cp, Codes.REQUIRED, rule="required")
            continue
        _compile_field(sub, cf, col.getField(cf.name), cp, child_types[cf.name])


def _compile_nested(out: CompiledChecks, f: Field, col: Column, p, phys_type):
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
            f"field '{p}' declares a nested object schema but the physical "
            f"column type is {_type_str(phys_type) or 'unknown'}"
        )
    sub = CompiledChecks()
    # propagate the ingest presence map so anyOf fields INSIDE nested
    # objects resolve against recorded wire-type bits exactly like
    # top-level and union-variant fields do (the nested pointer is a
    # static str, so the map lookup works unchanged)
    sub.presence = out.presence
    _compile_object(sub, sub_schema, col, p, phys_type)
    _gate_checks(out, sub, col.isNotNull())


def _gate_checks(out: CompiledChecks, sub: CompiledChecks, gate: Column):
    """Merge `sub`'s compiled checks into `out`, each gated on `gate`
    (variant tag match / parent struct presence)."""
    for c, v in sub.scalars:
        out.scalars.append((gate & c, v))
    for g, a, exact in sub.arrays:
        out.arrays.append((None if g is None else (gate & g),
                           F.when(gate, a).otherwise(_no_viols()),
                           exact))


def _int_bounds(dtype: str):
    return INT_RANGES.get(dtype)


def _json_type_match(col: Column, t: str) -> Optional[Column]:
    """Columnar 'value is of JSON type t' (reference
    union_ambiguity.go:76-107 valueMatchesType). Columnar divergence,
    documented: the physical column has ONE type, so type-match means
    'losslessly castable' — a numeric string matches both integer and
    string. None = not scorable columnarly (caller warns/skips)."""
    s = col.cast("string")
    if t == "integer":
        return s.try_cast("bigint").isNotNull()
    if t == "number":
        return s.try_cast("double").isNotNull()
    if t == "boolean":
        return F.lower(s).isin("true", "false")
    if t == "string":
        return col.isNotNull()
    return None


# wire-type bits mirroring ingest.PRESENCE_WIRE_* (kept in sync by
# tests/test_ingest.py::test_wire_type_bits) — JSON type names keyed the
# way union_ambiguity.go:76-107 valueMatchesType switches on them
_WIRE_BITS_ALL = 8 | 16 | 32 | 64 | 128 | 256
_WIRE_BIT_FOR_TYPE = {
    "string": 8, "number": 16, "integer": 32,
    "boolean": 64, "object": 128, "array": 256,
}


def _anyof_indicator(col: Column, branch: dict, field_is_object: bool,
                     wire: Optional[Column] = None) -> Column:
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
            has_wire = wire.isNotNull() & \
                (wire.bitwiseAND(F.lit(_WIRE_BITS_ALL)) != 0)
            fallback = m if m is not None else F.lit(True)
            return F.when(has_wire,
                          wire.bitwiseAND(F.lit(bit)) != 0).otherwise(fallback)
        return m if m is not None else F.lit(True)
    req = branch.get("required")
    if field_is_object and isinstance(req, list) and req:
        cond = F.lit(True)
        for k in req:
            cond = cond & col.getField(str(k)).isNotNull()
        return cond
    return F.lit(True)  # fallback checker accepts (union_ambiguity.go:44-46)


def _compile_anyof(out: CompiledChecks, f: Field, col: Column, p) -> None:
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
    if out.presence is not None and isinstance(p, str):
        wire = out.presence[F.lit(p)]
    m = F.lit(0)
    for b in branches:
        m = m + _anyof_indicator(col, b, field_is_object, wire).cast("int")
    if f.anyof_ambiguity == "first_match":
        out.add(col.isNotNull() & (m == 0), p, Codes.NO_MATCH,
                rule=f"anyof_{f.name}", params={"matched": m})
    else:  # 'error' (reference default AmbiguityError)
        out.add(col.isNotNull() & (m != 1), p, Codes.AMBIGUOUS_MATCH,
                rule=f"anyof_{f.name}", params={"matched": m})


def _embedded_conds(el: Column, ep, phys_type) -> list:
    """x-kubernetes-embedded-resource presence checks for ONE embedded
    object (reference kubeopenapi/embedded.go:19-75): apiVersion/kind
    required strings, metadata required object. Returns
    [(cond, path, code, message)]; type-ness of the sub-values is judged
    from the PHYSICAL type (columnar analog of the reference's per-value
    type switch — a homogeneous map<string,string> column can carry the
    presence checks but not metadata's object-ness)."""
    from pyspark.sql import types as T

    conds = []
    nn = el.isNotNull()
    if isinstance(phys_type, T.StructType):
        names = {sf.name: sf.dataType for sf in phys_type.fields}
        for k, want in (("apiVersion", "string"), ("kind", "string"),
                        ("metadata", "object")):
            pk = _pjoin(ep, "/" + k)
            if k not in names:
                conds.append((nn, pk, Codes.REQUIRED,
                              "required for embedded resource"))
                continue
            sub = el.getField(k)
            conds.append((nn & sub.isNull(), pk, Codes.REQUIRED,
                          "required for embedded resource"))
            ok_type = (isinstance(names[k], T.StringType) if want == "string"
                       else isinstance(names[k], (T.StructType, T.MapType)))
            if not ok_type:
                conds.append((nn & sub.isNotNull(), pk, Codes.INVALID_TYPE,
                              f"{k} must be {want}"))
    elif isinstance(phys_type, T.MapType):
        # presence-only on homogeneous maps; scalar map values cannot
        # carry metadata's object-ness (documented columnar limit)
        for k in ("apiVersion", "kind", "metadata"):
            conds.append((nn & ~F.map_contains_key(el, k),
                          _pjoin(ep, "/" + k), Codes.REQUIRED,
                          "required for embedded resource"))
    return conds


def _compile_scalar(out: CompiledChecks, f: Field, col: Column, p: str, actual_type: str):
    nn = col.isNotNull()

    # declared exact-numeric decimal(p,s) (NumberDecimal mode; reference
    # types.go:18-19 defers this — here: wire-type probe + exact
    # precision/scale bounds). try_cast gives null-on-failure under ANSI.
    from goskema_spark.schema import parse_decimal
    dec = parse_decimal(f.dtype) if isinstance(f.dtype, str) else None
    if dec is not None:
        prec, scale = dec
        num = col.try_cast("double")
        casted = col.try_cast(f.dtype)
        if actual_type != f.dtype:
            # 1. not a number at all -> invalid_type
            out.add(nn & num.isNull(), p, Codes.INVALID_TYPE, rule="type_decimal",
                    params={"precision": prec, "scale": scale, "got": col})
            # 2. numeric but more fractional digits than the declared
            #    scale: Spark's decimal cast would silently ROUND — flag
            #    instead of accepting a lossy value. Compared on the
            #    DECIMAL domain (decimal(38,18) reference cast), exact
            #    where a double compare mis-classifies boundaries for
            #    p-s > 15; exactness bound: <= 20 integral + <= 18
            #    fractional digits (beyond that both sides round the same
            #    way only if the corruption is past digit 18).
            wide = col.try_cast("decimal(38,18)")
            out.add(nn & num.isNotNull() & casted.isNotNull() & wide.isNotNull()
                    & (casted.cast("decimal(38,18)") != wide), p,
                    Codes.OVERFLOW, rule="decimal_scale",
                    message="fractional digits exceed declared scale",
                    params={"scale": scale, "got": col})
        # 3. integral width overflow: |v| >= 10^(p-s). try_cast to
        #    decimal(p,s) is NULL exactly when the integral width
        #    overflows (scale excess rounds, never nulls), so the check
        #    runs on the decimal type itself — exact at ANY precision,
        #    where the former double bound compare lost exactness for
        #    p-s > 15 (decimal(20,2) boundary mis-classification).
        out.add(nn & num.isNotNull() & casted.isNull(), p,
                Codes.OVERFLOW, rule="decimal_range",
                params={"precision": prec, "scale": scale, "got": col})
        if f.min is not None:
            out.add(nn & (num < F.lit(f.min)), p, Codes.TOO_SMALL, rule="min",
                    params={"min": f.min, "got": col})
        if f.max is not None:
            out.add(nn & (num > F.lit(f.max)), p, Codes.TOO_BIG, rule="max",
                    params={"max": f.max, "got": col})
        return

    # wire-type check via cast-null-out (reference dsl/primitives.go:163-235):
    # a value that exists but cannot cast to the declared type is invalid_type.
    if f.dtype in ("int8", "int16", "int32", "int", "int64", "long") and (
            actual_type in ("double", "float", "string") or actual_type.startswith("decimal")):
        # try_cast, not cast: ANSI mode (Spark 4 default) makes a failed
        # cast THROW; the null-out probe needs NULL-on-failure semantics
        casted = col.try_cast("double")
        out.add(nn & casted.isNull(), p, Codes.INVALID_TYPE, rule="type")
        if actual_type in ("double", "float") or actual_type.startswith("decimal"):
            # fractional part not allowed (reference dsl/primitives.go:628-631)
            out.add(nn & casted.isNotNull() & (casted != F.floor(casted)), p,
                    Codes.OVERFLOW, rule="int_fraction",
                    message="fractional part not allowed", params={"got": col})
    if f.dtype in ("double", "float") and actual_type == "string":
        out.add(nn & col.try_cast("double").isNull(), p, Codes.INVALID_TYPE, rule="type")
    if f.dtype == "timestamp" and actual_type == "string":
        out.add(nn & F.try_to_timestamp(col).isNull(), p, Codes.INVALID_FORMAT,
                rule="format_rfc3339", params={"got": col})

    # sized-int overflow guard (reference dsl/primitives.go:598-637): applies
    # when the physical column is wider than the declared logical width.
    bits = f.int_bits or (f.dtype if f.dtype in INT_RANGES else None)
    # Spark dtype strings for decimals are parameterized ("decimal(10,2)"),
    # so match on the prefix, not equality.
    if bits and (actual_type in ("bigint", "int", "smallint", "double", "float")
                 or actual_type.startswith("decimal")):
        lo, hi = INT_RANGES[bits]
        phys = _int_bounds({"bigint": "int64", "int": "int32", "smallint": "int16"}.get(actual_type, "int64"))
        if phys is None or phys[0] < lo or phys[1] > hi:
            num = (col.cast("double")
                   if actual_type in ("double", "float") or actual_type.startswith("decimal")
                   else col)
            out.add(nn & ((num < F.lit(lo)) | (num > F.lit(hi))), p, Codes.OVERFLOW,
                    rule=f"int_range_{bits}", params={"min": lo, "max": hi, "got": col})

    if f.min is not None:
        out.add(nn & (col < F.lit(f.min)), p, Codes.TOO_SMALL, rule="min",
                params={"min": f.min, "got": col})
    if f.max is not None:
        out.add(nn & (col > F.lit(f.max)), p, Codes.TOO_BIG, rule="max",
                params={"max": f.max, "got": col})
    if f.enum is not None:
        out.add(nn & ~col.isin(list(f.enum)), p, Codes.INVALID_ENUM, rule="enum",
                params={"got": col})
    if f.pattern is not None:
        out.add(nn & ~col.rlike(f.pattern), p, Codes.PATTERN, rule="pattern",
                params={"pattern": f.pattern, "got": col})
    if f.min_str_len is not None:
        out.add(nn & (F.length(col) < f.min_str_len), p, Codes.TOO_SHORT, rule="min_length",
                params={"min": f.min_str_len, "got": F.length(col)})
    if f.max_str_len is not None:
        out.add(nn & (F.length(col) > f.max_str_len), p, Codes.TOO_LONG, rule="max_length",
                params={"max": f.max_str_len, "got": F.length(col)})
    if f.format == "rfc3339" and actual_type == "string":
        out.add(nn & F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")).isNull(), p,
                Codes.INVALID_FORMAT, rule="format_rfc3339", params={"got": col})


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
    bounds = _int_bounds(spec.elem)
    phys = _int_bounds(_ARRAY_ELEM_BITS.get(actual_type, ""))
    if bounds is None or phys is None:
        return None
    return bounds if phys[0] < bounds[0] or phys[1] > bounds[1] else None


def _fast_elem_gate(col: Column, spec, actual_type: str) -> Optional[Column]:
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
        conds.append(F.array_min(col) < bounds[0])
        conds.append(F.array_max(col) > bounds[1])
    if spec.elem_min is not None:
        conds.append(F.array_min(col) < spec.elem_min)
    if spec.elem_max is not None:
        conds.append(F.array_max(col) >= spec.elem_max)
    if spec.elem_max_incl is not None:
        conds.append(F.array_max(col) > spec.elem_max_incl)
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
        probe = F.when(F.array_max(col) <= F.lit(anchor),
                       F.array_max(col) + F.lit(1)).otherwise(F.lit(0))
        conds.append((F.size(col) > 0)
                     & F.array_contains(col, probe).isNull())
    if not conds:
        return None
    gate = conds[0]
    for c in conds[1:]:
        gate = gate | c
    return gate


def _compile_array(out: CompiledChecks, f: Field, col: Column, p, phys_type):
    from pyspark.sql import types as T

    spec: ArraySpec = f.dtype
    actual_type = _type_str(phys_type)
    elem_type = phys_type.elementType if isinstance(phys_type, T.ArrayType) else None
    nn = col.isNotNull()
    sz = F.size(col)
    empty = _no_viols()

    def idx_path(i):
        return F.concat(p if isinstance(p, Column) else F.lit(p),
                        F.lit("/"), i.cast("string"))

    # length bounds (reference dsl/array.go:45-48, checks :137-158)
    if spec.min_len is not None:
        out.add(nn & (sz < spec.min_len), p, Codes.TOO_SHORT, rule="array_min",
                params={"min": spec.min_len, "got": sz})
    if spec.max_len is not None:
        # doubles as the MaxBytes-style DoS guard (reference enforce.go:147-155)
        out.add(nn & (sz > spec.max_len), p, Codes.TOO_LONG, rule="array_max",
                params={"max": spec.max_len, "got": sz})

    # per-element checks with /<field>/<idx> paths
    # (reference dsl/array.go:79-117; paths rebased like /items/0/foo)
    width = _elem_width_bounds(spec, actual_type)

    def elem_viol(t, i):
        path = idx_path(i)
        conds = []
        if not spec.elem_nullable:
            conds.append((t.isNull(), Codes.INVALID_TYPE, "elem_type", None))
        if width:
            lo, hi = width
            conds.append(((t < lo) | (t > hi), Codes.OVERFLOW, f"elem_range_{spec.elem}",
                          {"min": lo, "max": hi, "got": t}))
        if spec.elem_min is not None:
            conds.append((t.isNotNull() & (t < spec.elem_min), Codes.DOMAIN_RANGE, "elem_domain",
                          {"min": spec.elem_min, "max": spec.elem_max, "got": t}))
        if spec.elem_max is not None:
            conds.append((t.isNotNull() & (t >= spec.elem_max), Codes.DOMAIN_RANGE, "elem_domain",
                          {"min": spec.elem_min, "max": spec.elem_max, "got": t}))
        if spec.elem_max_incl is not None:
            conds.append((t.isNotNull() & (t > spec.elem_max_incl), Codes.DOMAIN_RANGE,
                          "elem_domain",
                          {"min": spec.elem_min, "max": spec.elem_max_incl, "got": t}))
        expr = _null(_VIOL_DDL)
        for cond, code, rule, params in reversed(conds):
            expr = F.when(cond, violation(path, code, rule, params)).otherwise(expr)
        return expr

    has_elem_checks = spec.elem_schema is None and (
        (not spec.elem_nullable) or spec.elem_min is not None
        or spec.elem_max is not None or spec.elem_max_incl is not None
        or width is not None)
    if has_elem_checks:
        # fast path: a cheap short-circuiting exists() gates the expensive
        # per-element struct construction — clean rows (the overwhelming
        # majority at scale) never build violation structs
        def elem_bad(t):
            cond = F.lit(False)
            if not spec.elem_nullable:
                cond = cond | t.isNull()
            if width:
                cond = cond | (t < width[0]) | (t > width[1])
            if spec.elem_min is not None:
                cond = cond | (t < spec.elem_min)
            if spec.elem_max is not None:
                cond = cond | (t >= spec.elem_max)
            if spec.elem_max_incl is not None:
                cond = cond | (t > spec.elem_max_incl)
            return cond

        arr = F.when(
            F.exists(col, elem_bad),
            F.filter(F.transform(col, elem_viol), lambda x: x.isNotNull()),
        ).otherwise(_no_viols())
        fast = _fast_elem_gate(col, spec, actual_type)
        out.add_array(arr, gate=fast if fast is not None
                      else F.exists(col, elem_bad))

    # contains counter (reference dsl/array.go:51-56, WithStreamContains)
    if spec.contains_pred is not None:
        cnt = F.size(F.filter(col, spec.contains_pred))
        if spec.contains_min is not None:
            out.add(nn & (cnt < spec.contains_min), p, Codes.TOO_SHORT, rule="contains_min",
                    params={"min": spec.contains_min, "got": cnt})
        if spec.contains_max is not None:
            out.add(nn & (cnt > spec.contains_max), p, Codes.TOO_LONG, rule="contains_max",
                    params={"max": spec.contains_max, "got": cnt})

    # array<struct> with a full per-element object schema — issues at
    # /<field>/<i>/<child>, recursing through nested objects/arrays
    # (reference kubeopenapi nested CRD arrays, adapters.go object items)
    if spec.elem_schema is not None:
        if not isinstance(elem_type, T.StructType):
            raise TypeError(
                f"field '{p}' declares an array element object schema but the "
                f"physical type is {actual_type or 'unknown'}")

        def elem_checks(t, i):
            ep = idx_path(i)
            sub = CompiledChecks()
            if not spec.elem_nullable:
                sub.add(t.isNull(), ep, Codes.INVALID_TYPE, rule="elem_type")
            inner = CompiledChecks()
            _compile_object(inner, spec.elem_schema, t, ep, elem_type)
            _gate_checks(sub, inner, t.isNotNull())
            return sub

        def elem_obj_viols(t, i):
            return elem_checks(t, i).combined()

        # cheap per-element gate = the element check-set's own OR
        # condition (None when the nested set itself has an ungated
        # array check — then every row builds)
        probe = elem_checks(F.lit(None).cast(elem_type), F.lit(0))
        if probe.any_violation() is not None:
            gate = nn & F.exists(
                col, lambda t: elem_checks(t, F.lit(0)).any_violation())
        else:
            gate = None
        # exactness propagates from the element check-set: a wide nested
        # gate (e.g. an Or-combinator inside the element schema) makes
        # this array gate wide too — claiming exact would let the clean
        # path drop rows whose gate fired without any violation
        out.add_array(F.when(nn, F.flatten(F.transform(col, elem_obj_viols)))
                      .otherwise(empty), gate=gate,
                      exact=probe.gate_is_exact())

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
        def set_dup(t, i):
            first = F.array_position(col, t) - 1
            return F.when(
                t.isNotNull() & (first != i),
                violation(idx_path(i), Codes.DUPLICATE_ITEM, rule="list_set_unique",
                          params={"first": first, "dup": i, "key": t},
                          message="duplicate element in set"))
        # gate over NON-NULL elements only: attribution skips nulls (no
        # stable array_position for null), so a null-only duplicate must
        # not trip the gate — a wide-but-empty gate would silently drop
        # the row from the exact-gate clean path (neither clean nor
        # violating). Null elements are the element schema's concern.
        nn_elems = F.filter(col, lambda t: t.isNotNull())
        has_dup = F.size(F.array_distinct(nn_elems)) < F.size(nn_elems)
        out.add_array(F.when(nn & has_dup,
                             F.filter(F.transform(col, set_dup),
                                      lambda x: x.isNotNull())).otherwise(empty),
                      gate=nn & has_dup)

    # x-kubernetes-list-type: map — uniqueness by composite element key +
    # required key fields (reference kubeopenapi/list.go:43-100 mapChecker)
    if spec.list_map_keys:
        keys = list(spec.list_map_keys)
        keys_arr = F.transform(col, lambda e: F.struct(
            *[e.getField(k).alias(k) for k in keys]))

        def map_dup(t, i):
            ks = F.struct(*[t.getField(k).alias(k) for k in keys])
            first = F.array_position(keys_arr, ks) - 1
            return F.when(
                t.isNotNull() & (first != i),
                violation(idx_path(i), Codes.DUPLICATE_ITEM, rule="list_map_unique",
                          params={"first": first, "dup": i},
                          message="duplicate element in list-map by keys"))
        # same O(n) existence gate as list_set: quadratic attribution
        # only runs on rows that actually contain a duplicate key.
        # Keys of NULL elements are excluded (attribution skips null
        # elements) so the gate stays exact — see list_set above.
        nn_keys = F.transform(
            F.filter(col, lambda t: t.isNotNull()),
            lambda e: F.struct(*[e.getField(k).alias(k) for k in keys]))
        has_key_dup = F.size(F.array_distinct(nn_keys)) < F.size(nn_keys)
        out.add_array(F.when(nn & has_key_dup,
                             F.filter(F.transform(col, map_dup),
                                      lambda x: x.isNotNull())).otherwise(empty),
                      gate=nn & has_key_dup)

        # keys already declared required by the elem schema are covered
        # by its own required check — don't double-report
        covered = {cf.name for cf in (spec.elem_schema.fields if spec.elem_schema else [])
                   if cf.required and cf.default is None}
        probe_keys = [k for k in keys if k not in covered]
        if probe_keys:
            def missing_keys(t, i):
                per_key = [
                    F.when(t.isNotNull() & t.getField(k).isNull(),
                           violation(F.concat(idx_path(i), F.lit(pointer(k))),
                                     Codes.REQUIRED, rule="list_map_key_required",
                                     message="required for list-map-keys"))
                    for k in probe_keys]
                return F.array(*per_key)

            def any_key_null(t):
                cond = F.lit(False)
                for k in probe_keys:
                    cond = cond | (t.isNotNull() & t.getField(k).isNull())
                return cond
            out.add_array(F.when(nn, F.filter(F.flatten(F.transform(col, missing_keys)),
                                              lambda x: x.isNotNull())).otherwise(empty),
                          gate=nn & F.exists(col, any_key_null))

    # x-kubernetes-embedded-resource on array items: each element must
    # carry apiVersion/kind/metadata, issues at /<field>/<i>/<key>
    # (reference kubeopenapi/embedded.go:30-40 array branch)
    if spec.embedded_resource:
        def emb_viols(t, i):
            cs = _embedded_conds(t, idx_path(i), elem_type)
            if not cs:
                return _no_viols()
            items = [F.when(c, violation(pk, code, rule="embedded_resource",
                                         message=msg))
                     for c, pk, code, msg in cs]
            return F.filter(F.array(*items), lambda x: x.isNotNull())

        def any_emb_bad(t):
            cond = F.lit(False)
            for c, *_ in _embedded_conds(t, "", elem_type):
                cond = cond | c
            return cond

        if _embedded_conds(F.lit(None).cast(elem_type) if elem_type else col,
                           "", elem_type):
            out.add_array(F.when(nn, F.flatten(F.transform(col, emb_viols)))
                          .otherwise(empty),
                          gate=nn & F.exists(col, any_emb_bad))


def _compile_map(out: CompiledChecks, f: Field, col: Column, p: str):
    """Homogeneous map value validation (reference dsl/map_core.go:48-119)
    plus key-dispatch checks — propertyNames.pattern and
    patternProperties (reference kubeopenapi/patterns.go:14-210,
    plan.go:54-155) — issues at /<field>/<key> with RFC6901-escaped keys.
    First failing check per entry is reported, check order mirroring the
    reference's refiner chain: propertyNames -> key-pattern enforcement
    -> homogeneous value spec -> per-pattern value types ->
    additionalProperties value type."""
    spec: MapSpec = f.dtype

    def key_path(k):
        esc = F.regexp_replace(F.regexp_replace(k, "~", "~0"), "/", "~1")
        # p may be a Column (map nested in an array element's path)
        base = p if isinstance(p, Column) else F.lit(p)
        return F.concat(base, F.lit("/"), esc)

    # each check: (cond(k, v) -> Column, code, rule,
    #              params(k, v) -> dict | None, message | None)
    conds = []

    def vcheck(fn, code, rule, params=None, message=None):
        conds.append((lambda k, v: fn(v), code, rule,
                      (lambda k, v: params(v)) if params else None, message))

    # ---- key checks first (reference chains key refiners before value
    # refiners, plan.go:117-147) ----
    if spec.key_name_pattern is not None:
        pat = spec.key_name_pattern
        conds.append((lambda k, v: ~k.rlike(pat), Codes.PATTERN,
                      "property_names", lambda k, v: {"pattern": pat, "key": k},
                      "key does not match pattern"))
    pats = [(pt, t) for pt, t in (spec.key_patterns or [])]
    if pats:
        def any_pat_match(k):
            m = F.lit(False)
            for pt, _ in pats:
                m = m | k.rlike(pt)
            return m
        if spec.key_enforce:
            conds.append((lambda k, v: ~any_pat_match(k), Codes.PATTERN,
                          "key_pattern", lambda k, v: {"key": k},
                          "key does not match any allowed pattern"))

    # ---- homogeneous value spec ----
    if spec.value_min is not None:
        vcheck(lambda v: v.isNotNull() & (v < spec.value_min),
               Codes.TOO_SMALL, "map_value_min",
               lambda v: {"min": spec.value_min, "got": v})
    if spec.value_max is not None:
        vcheck(lambda v: v.isNotNull() & (v > spec.value_max),
               Codes.TOO_BIG, "map_value_max",
               lambda v: {"max": spec.value_max, "got": v})
    ef = spec.elem_field
    if ef is not None:
        if ef.required or not ef.nullable:
            vcheck(lambda v: v.isNull(), Codes.REQUIRED, "map_value_required")
        if ef.min is not None:
            vcheck(lambda v: v.isNotNull() & (v < ef.min),
                   Codes.TOO_SMALL, "min", lambda v: {"min": ef.min, "got": v})
        if ef.max is not None:
            vcheck(lambda v: v.isNotNull() & (v > ef.max),
                   Codes.TOO_BIG, "max", lambda v: {"max": ef.max, "got": v})
        if ef.enum is not None:
            vcheck(lambda v: v.isNotNull() & ~v.isin(list(ef.enum)),
                   Codes.INVALID_ENUM, "enum", lambda v: {"got": v})
        if ef.pattern is not None:
            vcheck(lambda v: v.isNotNull() & ~v.rlike(ef.pattern),
                   Codes.PATTERN, "pattern",
                   lambda v: {"pattern": ef.pattern, "got": v})
        if ef.min_str_len is not None:
            vcheck(lambda v: v.isNotNull() & (F.length(v) < ef.min_str_len),
                   Codes.TOO_SHORT, "min_length",
                   lambda v: {"min": ef.min_str_len, "got": F.length(v)})
        if ef.max_str_len is not None:
            vcheck(lambda v: v.isNotNull() & (F.length(v) > ef.max_str_len),
                   Codes.TOO_LONG, "max_length",
                   lambda v: {"max": ef.max_str_len, "got": F.length(v)})

    # ---- per-pattern value types (patterns.go:155-210: ALL matching
    # patterns' type constraints apply; unmatched keys fall back to the
    # additionalProperties schema type when declared) ----
    for pt, t in pats:
        if t is None:
            continue
        match = _json_type_match(F.lit(""), t)
        if match is None:
            continue  # importer warned: type not scorable columnarly

        def pat_mismatch(k, v, pt=pt, t=t):
            return k.rlike(pt) & v.isNotNull() & ~_json_type_match(v, t)
        conds.append((pat_mismatch, Codes.INVALID_TYPE, "pattern_value_type",
                      (lambda k, v, pt=pt, t=t: {"pattern": pt, "type": t}),
                      "value type mismatch for patternProperties"))
    if pats and spec.ap_type is not None and \
            _json_type_match(F.lit(""), spec.ap_type) is not None:
        def ap_mismatch(k, v):
            return (~any_pat_match(k) & v.isNotNull()
                    & ~_json_type_match(v, spec.ap_type))
        conds.append((ap_mismatch, Codes.INVALID_TYPE, "additional_value_type",
                      lambda k, v: {"type": spec.ap_type},
                      "value type mismatch for additionalProperties"))

    if not conds:
        return

    def entry_viol(k, v):
        expr = _null(_VIOL_DDL)
        for cond, code, rule, params, message in reversed(conds):
            expr = F.when(cond(k, v),
                          violation(key_path(k), code, rule,
                                    params(k, v) if params else None,
                                    message=message)).otherwise(expr)
        return expr

    def any_entry_bad(e):
        bad = F.lit(False)
        for cond, _, _, _, _ in conds:
            bad = bad | cond(e["key"], e["value"])
        return bad
    entries = F.transform(F.map_entries(col), lambda e: entry_viol(e["key"], e["value"]))
    out.add_array(F.filter(entries, lambda x: x.isNotNull()),
                  gate=F.exists(F.map_entries(col), any_entry_bad))


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
    """Memoized (gate, body, gate_is_exact) per (schema, column dtypes):
    building the Column trees costs hundreds of py4j round-trips, and
    unbound Column trees are immutable and reusable across DataFrames of
    the same shape — pure driver-side serial time that Amdahl punishes
    at higher parallelism."""
    key = (tuple(sorted(df.dtypes)), df.columns.count("_violations"),
           getattr(schema, "_version", 0))
    cache = getattr(schema, "_compiled_cache", None)
    if cache is None:
        cache = {}
        schema._compiled_cache = cache
    triple = cache.get(key)
    if triple is None:
        checks = compile_checks(schema, df)
        triple = (checks.any_violation(), checks.body(), checks.gate_is_exact())
        cache[key] = triple
    return triple


def explode_violations(df: DataFrame, row_id: Column, carry=()) -> DataFrame:
    """`_violations` array -> violations table (FIXTURES.md F5 shape),
    one row per element; rows with an empty array yield none. Order is
    the caller's: sort by (row_id, path, code) for goskema's issue
    ordering (reference README.md:573-574). `carry` appends passthrough
    columns (e.g. the logical partition) after the violation fields."""
    return violation_rows(df, row_id, F.explode("_violations"), carry)


def validate_rows(df: DataFrame, schema: TableSchema, row_id: Column,
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
    `_violations`. violations_df: the feed exploded (explode drops the
    empty arrays a wide gate lets through), with `carry` columns appended
    (the runner attaches the logical partition this way). clean_df: the
    input rows with no violation — with an exact gate, a Filter on the
    gate alone (NULL = no check could evaluate = clean) that never
    touches the interpreted build; otherwise rows whose gate did not fire
    or whose built body is empty. Every input row is in exactly one of
    dirty_df and clean_df.

    clean_df preserves input token arrays byte-identically (per-row
    invariant, BASELINE.json input_hint) — it is a pure filter, never a
    rewrite of the data columns.
    """
    df = apply_defaults(df, schema)
    gate, body, exact = _compiled_triple(schema, df)
    if schema.fail_fast:
        body = F.slice(body, 1, 1)  # first issue only (api.go:147-156)
    feed = (df if gate is None else df.filter(gate)).withColumn("_violations", body)
    violations = explode_violations(feed, row_id, carry=carry)
    if gate is not None and exact:
        # gate-only clean filter: testing the built array here instead
        # would inline the interpreted HOF build into the Filter and make
        # every clean row pay it (the r4 clean_scan regression)
        return feed, violations, df.filter(gate.isNull() | ~gate)
    empty = F.size(body) == 0
    clean = df.filter(empty if gate is None else gate.isNull() | ~gate | empty)
    return feed.filter(F.size("_violations") > 0), violations, clean
