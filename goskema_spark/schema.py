"""Declarative table schema + constraint builder.

The goskema DSL (reference dsl/object_builder.go:29-39, dsl/primitives.go,
dsl/array.go) declares a fixed schema that is the single source of truth
for both shape and constraints (reference README.md:18). This module is
the columnar analog: a TableSchema holds typed fields with per-field
constraints, table-level refinements (cross-field rules, reference
dsl/object_builder.go:129-135 / object_typed_builder.go:44-54), unknown-
column policy (reference types.go:4-10), uniqueness keys (reference
rules/rules.go:104-137) and referential (context-rule) checks (reference
dsl/object_typed_builder.go:57-68).

Nothing here touches Spark execution; compilation to Spark SQL text
lives in rowpass.py so the schema stays a pure declaration. Rules that
need an expression (refinements, the contains predicate) take it as
Spark SQL text.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Optional, Sequence

from pyspark.sql import types as T

# Sized-integer ranges for overflow guards
# (reference dsl/primitives.go:598-637 and analogs).
INT_RANGES = {
    "int8": (-(2**7), 2**7 - 1),
    "int16": (-(2**15), 2**15 - 1),
    "int32": (-(2**31), 2**31 - 1),
    "int64": (-(2**63), 2**63 - 1),
    "uint8": (0, 2**8 - 1),
    "uint16": (0, 2**16 - 1),
    "uint32": (0, 2**32 - 1),
    "uint64": (0, 2**64 - 1),
}

def parse_decimal(dtype) -> Optional[tuple]:
    """'decimal(p,s)' -> (p, s); None for everything else. NumberDecimal
    mode (reference types.go:18-19 declares it future; here it is a
    declared exact-numeric dtype with precision-bounds checks)."""
    if not isinstance(dtype, str) or not dtype.startswith("decimal"):
        return None
    import re
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", dtype)
    if not m:
        raise ValueError(f"malformed decimal dtype {dtype!r} "
                         "(expected 'decimal(p,s)')")
    return int(m.group(1)), int(m.group(2))


_SPARK_TYPES = {
    "string": T.StringType(),
    "bool": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int": T.IntegerType(),
    "int64": T.LongType(),
    "long": T.LongType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


@dataclass
class ArraySpec:
    """array<elem> with length and element-domain bounds.

    Mirrors g.Array(elem).Min(n).Max(n) (reference dsl/array.go:24-48) and
    per-element validation with /<idx> paths (reference dsl/array.go:79-117).
    contains_(min,max,pred) mirrors WithStreamContains
    (reference dsl/array.go:51-56).
    """

    elem: str = "int32"
    min_len: Optional[int] = None
    max_len: Optional[int] = None
    elem_min: Optional[int] = None  # domain_range lower bound (inclusive)
    elem_max: Optional[int] = None  # domain_range upper bound (exclusive)
    # INCLUSIVE upper bound — used for non-integer element domains where
    # the +1 exclusive conversion is invalid (OpenAPI `maximum` on
    # number items: 10.5 must violate maximum=10)
    elem_max_incl: Optional[Any] = None
    elem_nullable: bool = False
    # the contains predicate: a SQL lambda (`"x -> x < 0"`), at any
    # nesting depth
    contains_pred: Optional[str] = None
    contains_min: Optional[int] = None
    contains_max: Optional[int] = None
    # array<struct>: full per-element object schema, issues at
    # /<field>/<i>/<child> (reference kubeopenapi nested CRD arrays)
    elem_schema: Optional["TableSchema"] = None
    # x-kubernetes-list-type: set -> within-row element uniqueness
    # (reference kubeopenapi/list.go setChecker, code duplicate_item)
    list_set: bool = False
    # x-kubernetes-list-type: map + list-map-keys -> uniqueness by the
    # composite key of these element fields (list.go mapChecker)
    list_map_keys: Optional[list] = None
    # x-kubernetes-embedded-resource on array items: each element must
    # carry apiVersion/kind (strings) + metadata (object), issues at
    # /<field>/<i>/<key> (reference kubeopenapi/embedded.go:19-47)
    embedded_resource: bool = False


@dataclass
class MapSpec:
    """map<string, V> with per-value validation (reference
    dsl/map_core.go:39-119). value_min/value_max are numeric shorthands;
    elem_field holds a FULL scalar Field spec (required/min/max/enum/
    pattern/length bounds) applied to every map value, issues at
    /<field>/<RFC6901-escaped key>."""

    value: str = "string"
    value_min: Optional[Any] = None
    value_max: Optional[Any] = None
    elem_field: Optional["Field"] = None
    # patternProperties (reference kubeopenapi/patterns.go:98-210,
    # plan.go:54-155): list of (key regex, declared JSON type | None).
    # A key matching a pattern must carry a value of that type
    # (invalid_type at /<field>/<key>); key_enforce=True additionally
    # requires every key to match >=1 pattern (pattern at /<field>/<key>)
    # — set unless additionalProperties permits unmatched keys.
    key_patterns: Optional[list] = None
    key_enforce: bool = False
    # propertyNames.pattern: every key must match this single regex
    # (reference plan.go:37-41 buildKeyPatternRefiner)
    key_name_pattern: Optional[str] = None
    # additionalProperties-as-schema declared JSON type: unmatched keys'
    # values must be of this type (patterns.go apType branch)
    ap_type: Optional[str] = None


@dataclass
class Field:
    name: str
    dtype: Any  # str | ArraySpec | MapSpec | TableSchema (nested struct)
    required: bool = False  # missing/null -> `required` (dsl/object_core.go:125-130)
    nullable: bool = True  # explicit null ok (dsl/adapter.go:61-98)
    default: Any = None  # materialized when null (dsl/object_builder.go:70-91)
    min: Any = None  # too_small
    max: Any = None  # too_big
    enum: Optional[Sequence[Any]] = None  # invalid_enum
    pattern: Optional[str] = None  # pattern (regex)
    min_str_len: Optional[int] = None  # too_short
    max_str_len: Optional[int] = None  # too_long
    int_bits: Optional[str] = None  # 'int32' etc -> overflow guard
    format: Optional[str] = None  # e.g. 'rfc3339' -> invalid_format
    # x-kubernetes-int-or-string: physical column is string; raw-JSON
    # ingest accepts int OR string and renders ints as strings
    # (reference kubeopenapi/adapters.go isIntOrString)
    int_or_string: bool = False
    # x-kubernetes-embedded-resource: the (object) value must carry
    # apiVersion/kind (strings) + metadata (object) — presence checks
    # at /<field>/<key> (reference kubeopenapi/embedded.go:19-75)
    embedded_resource: bool = False
    # anyOf/oneOf ambiguity rule attached at THIS field (any nesting
    # depth — reference kubeopenapi/plan.go:178-211 builds the refiner
    # per property): raw branch schema list + strategy ('error' ->
    # matched != 1 is ambiguous_match; 'first_match' -> matched == 0 is
    # no_match; reference union_ambiguity.go:47-72)
    anyof_branches: Optional[list] = None
    anyof_ambiguity: str = "error"

    def spark_type(self) -> T.DataType:
        if isinstance(self.dtype, ArraySpec):
            if self.dtype.elem_schema is not None:
                return T.ArrayType(self.dtype.elem_schema.to_struct_type(), True)
            return T.ArrayType(_SPARK_TYPES[self.dtype.elem], self.dtype.elem_nullable)
        if isinstance(self.dtype, MapSpec):
            return T.MapType(T.StringType(), _SPARK_TYPES[self.dtype.value])
        if isinstance(self.dtype, TableSchema):
            return self.dtype.to_struct_type()
        ps = parse_decimal(self.dtype)
        if ps is not None:
            return T.DecimalType(*ps)
        return _SPARK_TYPES[self.dtype]


@dataclass
class Refinement:
    """Named cross-field rule (reference dsl/object_builder.go:129-135,
    typed rules dsl/typed_rules.go:56-91). `violates` is TRUE where the
    rule is violated; `when` optionally gates the rule (presence gating,
    reference domain_types.go:25-34). Each is a Spark SQL boolean
    expression over the table's columns. `params` maps names to Spark
    SQL expressions, reported as strings. Anything other than SQL text
    is a TypeError naming the rule, raised when the schema compiles."""

    name: str
    path: str
    violates: str
    code: str = "business_rule"
    params: Optional[dict] = None
    when: Optional[str] = None


@dataclass
class OrRefinement:
    """Or-combinator (reference rules/rules.go:376-398): any branch with
    zero issues -> no issues; otherwise report the branch with the FEWEST
    issues (first minimal branch on ties). Each branch is a list of
    Refinements."""

    name: str
    branches: list  # list[list[Refinement]]


@dataclass
class UniqueKey:
    """Cross-row uniqueness of a key column (reference rules/rules.go:104-137
    UniqueBy semantics: code `uniqueness`, params first/dup/key).
    broadcast: True forces the dup-key broadcast hint, False leaves the
    join to AQE — see uniqueness.uniqueness_violations."""

    column: str
    ordinal: Optional[str] = None  # stable ordering column for first/dup params
    broadcast: bool = True


@dataclass
class ForeignKey:
    """Referential check against a dimension (context-rule pattern,
    reference dsl/object_typed_builder.go:57-68): value must exist in
    dim[dim_column]; miss -> invalid_enum at /<column>."""

    column: str
    dim_name: str
    dim_column: str
    code: str = "invalid_enum"


@dataclass
class Discriminator:
    """Discriminated union (reference dsl/union.go:12-52): `column` selects a
    variant; unknown tag -> discriminator_unknown, null -> discriminator_missing.
    variants maps tag -> TableSchema (the variant's FULL check set —
    required-ness, types, bounds, refinements — applied only for that
    tag, matching the reference dispatching the whole variant schema) or
    tag -> list[Refinement] for lightweight per-tag rules."""

    column: str
    variants: dict = dc_field(default_factory=dict)


@dataclass
class TableSchema:
    fields: list
    # 'strict' | 'strip' | 'passthrough' (types.go:4-10) | 'schema'
    # ('schema' = additionalProperties-with-schema on an object that also
    # declares properties: unknown columns validate against ap_field
    # instead of being stripped — beyond the reference MVP, which warns
    # and prunes, kubeopenapi.go:157-160)
    unknown: str = "strict"
    ap_field: Optional[Field] = None  # value spec for unknown='schema'
    # patternProperties ALONGSIDE declared properties (JSON Schema: a
    # key matching a pattern is NOT 'additional'): unknown keys matching
    # a pattern are exempt from the unknown policy and validate against
    # the pattern's value Field (None = presence only)
    unknown_key_patterns: Optional[list] = None  # [(regex, Field | None)]
    passthrough_target: Optional[str] = None
    refinements: list = dc_field(default_factory=list)
    or_refinements: list = dc_field(default_factory=list)
    unique_keys: list = dc_field(default_factory=list)
    foreign_keys: list = dc_field(default_factory=list)
    discriminator: Optional[Discriminator] = None
    fail_fast: bool = False  # ParseOpt{FailFast} (reference api.go:147-156)
    # mutation counter: part of the compiled-checks memo key in rowpass.py,
    # so chaining refine()/unique()/discriminate() after a validation run
    # never reuses stale compiled checks
    _version: int = 0

    # -- builder chaining -------------------------------------------------
    def refine(self, name, violates, path="", code="business_rule", params=None, when=None):
        self.refinements.append(
            Refinement(name=name, path=path, violates=violates, code=code, params=params, when=when)
        )
        self._version += 1
        return self

    def or_refine(self, name, branches):
        """branches: list of Refinement lists; see OrRefinement."""
        self.or_refinements.append(OrRefinement(name=name, branches=branches))
        self._version += 1
        return self

    def unique(self, column, ordinal=None, broadcast: bool = True):
        """broadcast: True (default) hint-forces the dup-key broadcast
        join — right when the key is near-unique by contract (the dup
        set is the anomaly being detected). False: no hint, AQE
        promotes from runtime size — the safe choice when the duplicate
        rate may be pathological (see uniqueness.py)."""
        self.unique_keys.append(
            UniqueKey(column=column, ordinal=ordinal, broadcast=broadcast))
        self._version += 1
        return self

    def foreign_key(self, column, dim_name, dim_column=None, code="invalid_enum"):
        self.foreign_keys.append(
            ForeignKey(column=column, dim_name=dim_name, dim_column=dim_column or column, code=code)
        )
        self._version += 1
        return self

    def discriminate(self, column, variants):
        self.discriminator = Discriminator(column=column, variants=variants)
        self._version += 1
        return self

    # -- projections -------------------------------------------------------
    def field_names(self) -> list:
        return [f.name for f in self.fields]

    def get(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def to_struct_type(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f.name, f.spark_type(), not (f.required and not f.nullable))
                for f in self.fields
            ]
        )

    def to_json_schema(self) -> dict:
        """Minimal JSON Schema export (reference jsonschema/schema.go:5-23,
        dsl/object_core.go:289-320, dsl/array.go:182-198). Discriminated
        unions export as `oneOf` variant schemas with a const-pinned
        discriminator (reference dsl/union.go:85-93) so the exported
        contract keeps per-variant required/type differences."""
        props = {}
        required = []
        for f in self.fields:
            props[f.name] = _field_json_schema(f)
            if f.required:
                required.append(f.name)
        out = {"type": "object", "properties": props}
        if required:
            out["required"] = sorted(required)
        if self.unknown == "strict":
            out["additionalProperties"] = False
        d = self.discriminator
        if d is not None:
            one_of = []
            for tag, var in d.variants.items():
                if not isinstance(var, TableSchema):
                    continue  # Refinement-list variants have no JSON form
                vjs = var.to_json_schema()
                vjs.pop("additionalProperties", None)  # base policy governs
                vjs.setdefault("properties", {})[d.column] = {"const": tag}
                one_of.append(vjs)
            if one_of:
                out["discriminator"] = {"propertyName": d.column}
                out["oneOf"] = one_of
        return out


_JSON_TYPES = {
    "string": "string",
    "bool": "boolean",
    "double": "number",
    "float": "number",
    "timestamp": "string",
    "date": "string",
    "binary": "string",
}


def _field_json_schema(f: Field) -> dict:
    if isinstance(f.dtype, ArraySpec):
        out = {"type": "array", "items": {"type": "integer" if f.dtype.elem.startswith(("int", "uint")) else _JSON_TYPES.get(f.dtype.elem, "number")}}
        if f.dtype.min_len is not None:
            out["minItems"] = f.dtype.min_len
        if f.dtype.max_len is not None:
            out["maxItems"] = f.dtype.max_len
        return out
    if isinstance(f.dtype, MapSpec):
        return {"type": "object", "additionalProperties": {"type": _JSON_TYPES.get(f.dtype.value, "number")}}
    if isinstance(f.dtype, TableSchema):
        return f.dtype.to_json_schema()
    base = {"type": _JSON_TYPES.get(f.dtype, "integer")}
    if f.default is not None:
        base["default"] = f.default
    if f.enum is not None:
        base["enum"] = list(f.enum)
    if f.pattern is not None:
        base["pattern"] = f.pattern
    if f.min is not None:
        base["minimum"] = f.min
    if f.max is not None:
        base["maximum"] = f.max
    if f.min_str_len is not None:
        base["minLength"] = f.min_str_len
    if f.max_str_len is not None:
        base["maxLength"] = f.max_str_len
    return base


def from_json_schema(js: dict) -> TableSchema:
    """Import a JSON Schema subset into a TableSchema — the contract-import
    direction (reference kubeopenapi/kubeopenapi.go:14-57 imports OpenAPI;
    this covers the JSON-Schema core subset the exporter emits:
    type/properties/required/additionalProperties/items/min-maxItems/
    minimum-maximum/enum/pattern/default)."""
    if js.get("type") != "object":
        raise ValueError("root schema must be type=object")
    required = set(js.get("required", []))
    fields = []
    for name, spec in js.get("properties", {}).items():
        fields.append(_field_from_json(name, spec, name in required))
    unknown = "strict" if js.get("additionalProperties") is False else "strip"
    sch = TableSchema(fields=fields, unknown=unknown)
    # oneOf + const-pinned discriminator round-trips back into a
    # discriminated union (the exporter's dual, reference dsl/union.go:85-93)
    one_of = js.get("oneOf")
    if isinstance(one_of, list) and one_of:
        disc = (js.get("discriminator") or {}).get("propertyName")
        if disc is None:
            # infer: the property const-pinned in every branch
            cands = None
            for b in one_of:
                tags = {k for k, v in (b.get("properties") or {}).items()
                        if isinstance(v, dict) and "const" in v}
                cands = tags if cands is None else cands & tags
            disc = sorted(cands)[0] if cands else None
        if disc is not None:
            variants = {}
            for b in one_of:
                props = dict(b.get("properties") or {})
                tag_spec = props.pop(disc, None)
                if not isinstance(tag_spec, dict) or "const" not in tag_spec:
                    continue
                variants[tag_spec["const"]] = from_json_schema(
                    {**b, "type": "object", "properties": props})
            if variants:
                sch.discriminate(disc, variants)
    return sch


_FROM_JSON_TYPES = {"string": "string", "boolean": "bool", "number": "double",
                    "integer": "int64"}


def _field_from_json(name: str, spec: dict, required: bool) -> Field:
    t = spec.get("type", "string")
    if t == "array":
        items = spec.get("items", {})
        elem = "int32" if items.get("type") == "integer" else "double"
        arr = ArraySpec(elem=elem, min_len=spec.get("minItems"),
                        max_len=spec.get("maxItems"),
                        elem_min=items.get("minimum"),
                        elem_max=(items["maximum"] + 1) if "maximum" in items else None)
        return Field(name=name, dtype=arr, required=required)
    if t == "object":
        if "additionalProperties" in spec and isinstance(spec["additionalProperties"], dict):
            vt = _FROM_JSON_TYPES.get(spec["additionalProperties"].get("type", "string"), "string")
            return Field(name=name, dtype=MapSpec(value=vt), required=required)
        return Field(name=name, dtype=from_json_schema(spec), required=required)
    return Field(
        name=name,
        dtype=_FROM_JSON_TYPES.get(t, "string"),
        required=required,
        default=spec.get("default"),
        enum=spec.get("enum"),
        pattern=spec.get("pattern"),
        min=spec.get("minimum"),
        max=spec.get("maximum"),
        min_str_len=spec.get("minLength"),
        max_str_len=spec.get("maxLength"),
    )


def field(name, dtype="string", **kw) -> Field:
    return Field(name=name, dtype=dtype, **kw)


def array(elem="int32", **kw) -> ArraySpec:
    return ArraySpec(elem=elem, **kw)


def map_of(value="string", **kw) -> MapSpec:
    return MapSpec(value=value, **kw)


def table(*fields, unknown="strict", passthrough_target=None, fail_fast=False) -> TableSchema:
    return TableSchema(
        fields=list(fields),
        unknown=unknown,
        passthrough_target=passthrough_target,
        fail_fast=fail_fast,
    )
