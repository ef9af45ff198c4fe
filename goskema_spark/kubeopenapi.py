"""OpenAPI v3 / Kubernetes CRD schema import.

Compiles the structural-v1 subset of OpenAPI v3 (and full CRD documents)
into a TableSchema, so Kubernetes-style contracts validate through the
same columnar row pass as every other schema.

Reference parity (semantics, not code):
  - entry + CRD unwrap          kubeopenapi/kubeopenapi.go:14-100
  - unknown-field policy        kubeopenapi/kubeopenapi.go:146-165
  - property planning           kubeopenapi/kubeopenapi.go:167-190
  - local $ref / $defs          kubeopenapi/refs.go:14-70 (shallow merge,
                                cycle -> warn and skip)
  - int-or-string               kubeopenapi/adapters.go:46-51
  - list-type set/map           kubeopenapi/list.go:17-140 (compiled into
                                the row pass via ArraySpec.list_set /
                                list_map_keys, code duplicate_item)

Supported keywords: type, properties, required, additionalProperties
(false/true/schema — schema overflow values VALIDATE against the value
spec, beyond the reference MVP warn+prune kubeopenapi.go:157-160),
items, $ref/#/$defs (and #/definitions), enum, pattern, default,
minimum/maximum, minLength/maxLength, minItems/maxItems, nullable,
format (date-time, int32/int64), allOf (deep conjunction merge — the
controller-gen `allOf: [{$ref}]` wrapper), anyOf/oneOf (first-typed-
branch adapter + ambiguity rule at ANY nesting depth, emitting
ambiguous_match/no_match, reference kubeopenapi/plan.go:178-211,
union_ambiguity.go:13-72), contains/minContains/maxContains
(reference kubeopenapi/contains.go:16-127, codes too_short/too_long),
patternProperties + propertyNames.pattern (reference
kubeopenapi/patterns.go, plan.go:36-155 — key regex enforcement +
per-pattern value types), x-kubernetes-int-or-string,
x-kubernetes-list-type, x-kubernetes-list-map-keys,
x-kubernetes-preserve-unknown-fields, x-kubernetes-embedded-resource
(presence checks, reference kubeopenapi/embedded.go — enabled by
default here, where the reference gates them behind
Options.EnableEmbeddedChecks; pass embedded_checks=False to match).
"""

from __future__ import annotations

import copy
import json
from typing import Any, Optional

from goskema_spark.schema import ArraySpec, Field, MapSpec, TableSchema

_SCALARS = {"string": "string", "boolean": "bool", "integer": "int64",
            "number": "double"}


# --------------------------------------------------------------------------
# $ref resolution (local $defs / definitions only, like the reference MVP)
# --------------------------------------------------------------------------

def _extract_defs(root: dict) -> dict:
    defs = {}
    if isinstance(root.get("$defs"), dict):
        defs.update(root["$defs"])
    if isinstance(root.get("definitions"), dict):
        defs.update(root["definitions"])
    return defs


def _resolve_refs(node: Any, defs: dict, warns: list, stack: tuple = ()) -> Any:
    """Expand local $refs recursively with a shallow merge (explicit keys
    in the referring schema win); cycles warn and stay unexpanded."""
    if not isinstance(node, dict):
        return node
    node = dict(node)
    ref = node.pop("$ref", None)
    if isinstance(ref, str):
        key = None
        for prefix in ("#/$defs/", "#/definitions/"):
            if ref.startswith(prefix):
                key = ref[len(prefix):]
                break
        if key is None:
            warns.append(f"$ref {ref!r} not supported (local $defs only)")
        elif key in stack:
            warns.append(f"cyclic $ref at {ref} (skipping expansion)")
        elif key not in defs:
            warns.append(f"$ref to unknown definition {key!r}")
        else:
            base = _resolve_refs(copy.deepcopy(defs[key]), defs, warns,
                                 stack + (key,))
            for k, v in base.items():
                node.setdefault(k, v)
    for sub in ("properties",):
        if isinstance(node.get(sub), dict):
            node[sub] = {k: _resolve_refs(v, defs, warns, stack)
                         for k, v in node[sub].items()}
    for sub in ("items", "additionalProperties"):
        if isinstance(node.get(sub), dict):
            node[sub] = _resolve_refs(node[sub], defs, warns, stack)
    for sub in ("allOf", "anyOf", "oneOf"):
        if isinstance(node.get(sub), list):
            node[sub] = [_resolve_refs(b, defs, warns, stack)
                         for b in node[sub]]
    return node


# --------------------------------------------------------------------------
# allOf composition (deep-merge)
# --------------------------------------------------------------------------
# controller-gen CRDs routinely wrap $refs in allOf
# (`allOf: [{$ref: ...}]`); the merge folds every branch into the node so
# the rest of the importer never sees the keyword. Constraint conflicts
# resolve to the MOST RESTRICTIVE bound (JSON-Schema allOf = conjunction).

_MERGE_MAX = {"maximum", "maxLength", "maxItems", "maxProperties"}
_MERGE_MIN = {"minimum", "minLength", "minItems", "minProperties"}


def _merge_schema(dst: dict, src: dict, warns: list, ctx: str) -> dict:
    for k, v in src.items():
        if k not in dst:
            dst[k] = v
        elif k == "properties" and isinstance(dst[k], dict) and isinstance(v, dict):
            for pk, pv in v.items():
                if pk in dst[k] and isinstance(dst[k][pk], dict) and isinstance(pv, dict):
                    dst[k][pk] = _merge_schema(dict(dst[k][pk]), pv, warns,
                                               f"{ctx}.{pk}")
                else:
                    dst[k].setdefault(pk, pv)
        elif k == "required" and isinstance(dst[k], list) and isinstance(v, list):
            dst[k] = sorted(set(dst[k]) | set(v))
        elif k in _MERGE_MAX and dst[k] != v:
            dst[k] = min(dst[k], v)   # conjunction: tighter cap wins
        elif k in _MERGE_MIN and dst[k] != v:
            dst[k] = max(dst[k], v)   # conjunction: tighter floor wins
        elif k == "enum" and dst[k] != v:
            inter = [x for x in dst[k] if x in v]
            dst[k] = inter
        elif k == "type" and dst[k] != v:
            warns.append(f"allOf at {ctx}: conflicting types "
                         f"{dst[k]!r} vs {v!r}; keeping {dst[k]!r}")
        elif k in ("items", "additionalProperties") and \
                isinstance(dst[k], dict) and isinstance(v, dict):
            dst[k] = _merge_schema(dict(dst[k]), v, warns, f"{ctx}.{k}")
        # equal values / other keys: first occurrence wins
    return dst


def _normalize_allof(node, warns: list, ctx: str = "$"):
    """Recursively fold allOf branches into their parent node."""
    if isinstance(node, list):
        return [_normalize_allof(b, warns, ctx) for b in node]
    if not isinstance(node, dict):
        return node
    node = dict(node)
    branches = node.pop("allOf", None)
    if isinstance(branches, list):
        for b in branches:
            b = _normalize_allof(b, warns, ctx)
            if isinstance(b, dict):
                node = _merge_schema(node, b, warns, ctx)
    if isinstance(node.get("properties"), dict):
        node["properties"] = {k: _normalize_allof(v, warns, f"{ctx}.{k}")
                              for k, v in node["properties"].items()}
    for sub in ("items", "additionalProperties"):
        if isinstance(node.get(sub), dict):
            node[sub] = _normalize_allof(node[sub], warns, f"{ctx}.{sub}")
    for sub in ("anyOf", "oneOf"):
        if isinstance(node.get(sub), list):
            node[sub] = [_normalize_allof(b, warns, f"{ctx}.{sub}")
                         for b in node[sub]]
    return node


# --------------------------------------------------------------------------
# CRD unwrap
# --------------------------------------------------------------------------

def _unwrap_crd(root: dict) -> Optional[dict]:
    """spec.versions[].schema.openAPIV3Schema (preferring served=true),
    falling back to legacy spec.validation.openAPIV3Schema."""
    spec = root.get("spec")
    if not isinstance(spec, dict):
        return None
    first = None
    for v in spec.get("versions") or []:
        if not isinstance(v, dict):
            continue
        oas = (v.get("schema") or {}).get("openAPIV3Schema") \
            if isinstance(v.get("schema"), dict) else None
        if isinstance(oas, dict):
            if v.get("served", True):
                return oas
            first = first or oas
    if first is not None:
        return first
    val = spec.get("validation")
    if isinstance(val, dict) and isinstance(val.get("openAPIV3Schema"), dict):
        return val["openAPIV3Schema"]
    return None


# --------------------------------------------------------------------------
# schema mapping
# --------------------------------------------------------------------------

def _unknown_policy(doc: dict, warns: list):
    """-> (policy, passthrough_target, ap_field). additionalProperties
    as a SCHEMA on an object that also declares properties validates the
    overflow keys against the value spec (policy 'schema') — the
    reference MVP warns and prunes here (kubeopenapi.go:157-160)."""
    if doc.get("x-kubernetes-preserve-unknown-fields") is True:
        return "passthrough", "_unknown", None
    ap = doc.get("additionalProperties")
    if ap is False:
        return "strict", None, None
    if isinstance(ap, dict):
        if ap.get("type") in _SCALARS:
            return "schema", None, _scalar_field("_ap", ap, False, warns)
        warns.append("additionalProperties schema without a scalar type "
                     "is treated as permissive (strip)")
    return "strip", None, None


def _scalar_field(name: str, ps: dict, required: bool, warns: list) -> Field:
    t = ps.get("type", "")
    dtype = _SCALARS.get(t)
    if dtype is None:
        warns.append(f"property {name!r}: unknown type {t!r} treated as string")
        dtype = "string"
    fmt = ps.get("format")
    int_bits = None
    if dtype == "int64" and fmt in ("int32", "int64"):
        int_bits = fmt
    f = Field(
        name=name, dtype=dtype, required=required,
        # OpenAPI 3.0 defaults nullable to FALSE — an explicit null is
        # only accepted when nullable: true is spelled out
        nullable=not (required and not ps.get("nullable", False)),
        default=ps.get("default"), enum=ps.get("enum"),
        pattern=ps.get("pattern"),
        min=ps.get("minimum"), max=ps.get("maximum"),
        min_str_len=ps.get("minLength"), max_str_len=ps.get("maxLength"),
        int_bits=int_bits,
        format="rfc3339" if fmt == "date-time" else None,
    )
    return f


def _contains_predicate(contains: dict, warns: list, name: str) -> str:
    """Columnar containsMatch (reference kubeopenapi/contains.go:141-169)
    as a SQL lambda: type branches via the castability proxy, object
    branches honor `required` keys; no recognized constraint -> accept."""
    from goskema_spark.rowpass import _json_type_match
    from goskema_spark.sqltext import chain, ident

    t = contains.get("type")
    req = [str(k) for k in (contains.get("required") or [])] if t == "object" else []
    el = "__gsk_c"
    if t == "object":
        body = chain("AND", [f"{el} IS NOT NULL"]
                     + [f"{el}.{ident(k)} IS NOT NULL" for k in req])
    elif t:
        body = _json_type_match(el, t) or f"{el} IS NOT NULL"
    else:
        body = "true"
    return f"{el} -> {body}"


def _array_field(name: str, ps: dict, required: bool, warns: list,
                 opts: Optional[dict] = None) -> Field:
    items = ps.get("items")
    opts = opts or {}
    spec = ArraySpec(elem="string", elem_nullable=True,
                     min_len=ps.get("minItems"), max_len=ps.get("maxItems"))
    if isinstance(items, dict):
        if items.get("x-kubernetes-embedded-resource") is True and \
                opts.get("embedded", True):
            spec.embedded_resource = True
        if items.get("x-kubernetes-int-or-string") is True:
            spec.elem = "string"
        elif items.get("type") == "object" or "properties" in items:
            spec.elem_schema = _import_object(items, warns, opts=opts)
        else:
            it = items.get("type", "")
            spec.elem = _SCALARS.get(it, "string")
            if spec.elem == "int64":
                spec.elem = "int32" if items.get("format") == "int32" else "int64"
            if items.get("minimum") is not None:
                spec.elem_min = items["minimum"]
            if items.get("maximum") is not None:
                if items.get("type") == "integer":
                    # our elem_max bound is exclusive; +1 is only valid
                    # on integer domains
                    spec.elem_max = items["maximum"] + 1
                else:
                    # number items: keep the INCLUSIVE bound (10.5 must
                    # violate maximum=10; max+1 would silently pass it)
                    spec.elem_max_incl = items["maximum"]
    else:
        warns.append(f"array {name!r} without items treated as array<string>")
    lt = ps.get("x-kubernetes-list-type")
    if lt == "set":
        spec.list_set = True
    elif lt == "map":
        keys = ps.get("x-kubernetes-list-map-keys") or []
        if keys:
            spec.list_map_keys = [str(k) for k in keys]
        else:
            warns.append(f"list-type map on {name!r} without list-map-keys")
    # contains/minContains/maxContains -> the engine's streaming contains
    # counter (reference kubeopenapi/contains.go:16-60 chains a contains
    # refine; engine primitive: ArraySpec.contains_*, rowpass contains
    # counter — codes too_short/too_long, matching the reference)
    contains = ps.get("contains")
    if isinstance(contains, dict):
        minc, maxc = ps.get("minContains"), ps.get("maxContains")
        minc = int(minc) if isinstance(minc, (int, float)) else None
        maxc = int(maxc) if isinstance(maxc, (int, float)) else None
        if minc is not None or maxc is not None:
            spec.contains_pred = _contains_predicate(contains, warns, name)
            spec.contains_min = minc
            spec.contains_max = maxc
        else:
            # reference: no min/maxContains declared -> refiner enforces
            # nothing (contains.go:106-121 both bounds -1)
            warns.append(f"contains on {name!r} without min/maxContains "
                         "has no effect")
    return Field(name=name, dtype=spec, required=required)


def _property_names_pattern(ps: dict) -> Optional[str]:
    """propertyNames approximation: pattern only (reference
    plan.go:36-41)."""
    pn = ps.get("propertyNames")
    if isinstance(pn, dict) and isinstance(pn.get("pattern"), str):
        return pn["pattern"]
    return None


def _pattern_map_field(name: str, ps: dict, required: bool,
                       warns: list) -> Field:
    """patternProperties import (reference plan.go:54-155): map-shaped
    value adapter + key-regex enforcement + per-pattern value types."""
    ppm = ps["patternProperties"]
    pats = []
    types = []
    for pat, psch in sorted(ppm.items()):
        t2 = psch.get("type") if isinstance(psch, dict) else None
        if t2 is not None and t2 not in _SCALARS:
            warns.append(f"patternProperties on {name!r}: value type "
                         f"{t2!r} not scorable columnarly; type check "
                         "skipped for that pattern")
            t2 = None
        pats.append((pat, t2))
        types.append(t2)
    ap = ps.get("additionalProperties")
    ap_type = ap.get("type") if isinstance(ap, dict) else None
    # physical value type: single common scalar type (compatible with the
    # additionalProperties schema type, when declared), else string
    # (reference picks MapAny there, plan.go:85-100)
    uniq = {t for t in types if t is not None}
    # common type = every pattern declares the SAME scalar type (any
    # number of patterns) and additionalProperties (when a schema)
    # agrees — `None not in types`, not a pattern-count check, which
    # wrongly degraded two same-typed patterns to map<string,string>
    if len(uniq) == 1 and None not in types and \
            (ap_type is None or ap_type in uniq):
        vt = _SCALARS[next(iter(uniq))]
    else:
        vt = "string"
        if len(uniq) > 1 or (uniq and None in types):
            warns.append(f"patternProperties on {name!r} with heterogeneous "
                         "value schemas treated as map<string,string>")
    # key enforcement unless additionalProperties permits unmatched keys
    # (plan.go:103-115)
    enforce = not (ap is True or isinstance(ap, dict))
    spec = MapSpec(value=vt, key_patterns=pats, key_enforce=enforce,
                   ap_type=ap_type if ap_type in _SCALARS else None,
                   key_name_pattern=_property_names_pattern(ps))
    return Field(name=name, dtype=spec, required=required)


def _prop_field(name: str, ps: Any, required: bool, warns: list,
                opts: Optional[dict] = None) -> Field:
    opts = opts or {}
    if not isinstance(ps, dict):
        warns.append(f"property {name!r}: non-object schema treated as string")
        return Field(name=name, dtype="string", required=required)
    if ps.get("x-kubernetes-int-or-string") is True:
        return Field(name=name, dtype="string", required=required,
                     int_or_string=True)
    t = ps.get("type", "")
    if t == "object" or (t == "" and ("properties" in ps or
                                      "additionalProperties" in ps or
                                      "patternProperties" in ps)):
        if isinstance(ps.get("properties"), dict) and ps["properties"]:
            return Field(name=name, dtype=_import_object(ps, warns, opts=opts),
                         required=required)
        if isinstance(ps.get("patternProperties"), dict) and ps["patternProperties"]:
            return _pattern_map_field(name, ps, required, warns)
        ap = ps.get("additionalProperties")
        if isinstance(ap, dict):
            vt = _SCALARS.get(ap.get("type", "string"), "string")
            # OpenAPI nullable defaults to false: a null map value is a
            # violation unless nullable: true is explicit
            elem = _scalar_field("value", ap, not ap.get("nullable", False), warns) \
                if ap.get("type") in _SCALARS else None
            return Field(name=name,
                         dtype=MapSpec(value=vt, elem_field=elem,
                                       key_name_pattern=_property_names_pattern(ps)),
                         required=required)
        warns.append(f"object {name!r} without properties treated as "
                     "map<string,string>")
        return Field(name=name,
                     dtype=MapSpec(value="string",
                                   key_name_pattern=_property_names_pattern(ps)),
                     required=required)
    if t == "array":
        return _array_field(name, ps, required, warns, opts=opts)
    return _scalar_field(name, ps, required, warns)


def _extract_composition(ps: Any, warns: list, name: str):
    """Pull anyOf/oneOf off a property schema. Returns (ps', branches):
    ps' has the keyword removed and the FIRST TYPED branch merged in as
    the adapter type (reference plan.go:178-190 adapterForAnyOf — pick
    first typed branch; explicit keys on the node win), branches is the
    raw list (empty when no composition)."""
    if not isinstance(ps, dict):
        return ps, []
    branches = []
    for kw in ("anyOf", "oneOf"):
        b = ps.get(kw)
        if isinstance(b, list) and b:
            branches = [x for x in b if isinstance(x, dict)]
            ps = {k: v for k, v in ps.items() if k != kw}
            break
    if not branches:
        return ps, []
    typed = next((b for b in branches if b.get("type")), None)
    if typed is None:
        warns.append(f"anyOf/oneOf on {name!r} has no typed branch; "
                     "treated as string")
        ps.setdefault("type", "string")
    else:
        for k, v in typed.items():
            ps.setdefault(k, v)
    return ps, branches


def _import_object(doc: dict, warns: list,
                   opts: Optional[dict] = None) -> TableSchema:
    opts = opts or {}
    ambiguity = opts.get("ambiguity", "error")
    unknown, target, ap_field = _unknown_policy(doc, warns)
    required = {r for r in doc.get("required", []) if isinstance(r, str)}
    fields = []
    for name, ps in sorted((doc.get("properties") or {}).items()):
        ps, branches = _extract_composition(ps, warns, name)
        fld = _prop_field(name, ps, name in required, warns, opts=opts)
        if isinstance(ps, dict) and ps.get("x-kubernetes-embedded-resource") \
                is True and opts.get("embedded", True) \
                and not isinstance(fld.dtype, ArraySpec):
            fld.embedded_resource = True
        if branches:
            # ambiguity rule stamped on the FIELD, compiled by the row
            # pass at any nesting depth (reference kubeopenapi/plan.go:
            # 178-211 builds the refiner per property)
            field_is_object = isinstance(fld.dtype, TableSchema)
            known = [b for b in branches
                     if (b.get("type") and not field_is_object)
                     or (field_is_object and b.get("required"))]
            if known:
                fld.anyof_branches = branches
                fld.anyof_ambiguity = ambiguity
                for b in branches:
                    t2 = b.get("type")
                    if t2 and not field_is_object and \
                            t2 not in ("integer", "number", "boolean", "string"):
                        # unscorable branch -> always-matching indicator,
                        # which under 'error' flags EVERY non-null value
                        # ambiguous — surface the diagnostic (the warn
                        # was lost in the r4 move to field-level compile)
                        warns.append(
                            f"anyOf on {name!r}: branch type {t2!r} not "
                            "scorable columnarly; treated as always-"
                            "matching (every present value counts it as "
                            "a match) unless the frame carries ingest "
                            "wire-type bits, which CAN refute it")
                if ambiguity == "error":
                    # documented columnar divergence (union_ambiguity.go
                    # valueMatchesType checks the WIRE type; a physical
                    # column has one type, so branch match = lossless
                    # castability): '123' under anyOf[integer,string]
                    # is matched=2 (ambiguous) here, matched=1 in the
                    # reference. Surfaced per ADVICE r3.
                    warns.append(
                        f"anyOf/oneOf on {name!r} under strategy 'error': "
                        "branch match uses lossless castability, not the "
                        "raw wire type — numeric strings match both an "
                        "integer and a string branch (divergence from "
                        "reference valueMatchesType; use ingest-time "
                        "wire-type bits for exact parity)")
        fields.append(fld)
    # patternProperties ALONGSIDE declared properties: JSON Schema says a
    # pattern-matched key is NOT 'additional', so it must be exempt from
    # the unknown policy (previously such keys were silently flagged
    # unknown_key under additionalProperties: false) and validate
    # against the pattern's value schema
    ukp = None
    ppm = doc.get("patternProperties")
    if fields and isinstance(ppm, dict) and ppm:
        ukp = []
        for pat, psch in sorted(ppm.items()):
            t2 = psch.get("type") if isinstance(psch, dict) else None
            if t2 in _SCALARS:
                ukp.append((pat, _scalar_field("_pp", psch, False, warns)))
            else:
                if t2 is not None:
                    warns.append(f"patternProperties {pat!r}: value type "
                                 f"{t2!r} not scorable columnarly; "
                                 "presence-only for matched keys")
                ukp.append((pat, None))
    return TableSchema(fields=fields, unknown=unknown, ap_field=ap_field,
                       unknown_key_patterns=ukp,
                       passthrough_target=target)


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def import_openapi(doc, ambiguity: str = "error",
                   embedded_checks: bool = True) -> tuple:
    """Import an OpenAPI v3 (structural) schema or full CRD document into
    a TableSchema. Accepts a dict, or JSON str/bytes.

    ambiguity: anyOf/oneOf resolution strategy (reference
    kubeopenapi/options.go:43 AmbiguityStrategy) — 'error' flags
    ambiguous_match when a present value matches != 1 branch;
    'first_match' flags no_match only when no branch matches.

    embedded_checks: wire x-kubernetes-embedded-resource presence checks
    (reference kubeopenapi/embedded.go; the reference DEFAULTS these off
    behind Options.EnableEmbeddedChecks — on here, False to match).

    Returns (schema, warnings)."""
    if isinstance(doc, (bytes, str)):
        doc = json.loads(doc)
    if not isinstance(doc, dict):
        raise ValueError("kubeopenapi: schema document must be an object")
    # deepcopy: allOf normalization deep-merges in place, and the nested
    # dicts are shared with the caller's document — importing must never
    # mutate the caller's schema object (ADVICE r3)
    root = copy.deepcopy(doc)
    if isinstance(root.get("openAPIV3Schema"), dict):
        root = root["openAPIV3Schema"]
    else:
        unwrapped = _unwrap_crd(root)
        if unwrapped is not None:
            root = unwrapped
    warns: list = []
    t = root.get("type")
    if t not in (None, "object"):
        warns.append(f"non-object root treated as object-compatible: type={t!r}")
    defs = _extract_defs(root)
    if defs:
        root = _resolve_refs(root, defs, warns)
    root = _normalize_allof(root, warns)
    opts = {"ambiguity": ambiguity, "embedded": embedded_checks}
    return _import_object(root, warns, opts=opts), warns


class DuplicateKeyError(ValueError):
    """A YAML mapping repeated a key — reported with the first occurrence
    position and the duplicate position, 1-based like the reference
    (kubeopenapi/yaml_strict.go:12-26 DuplicateKeyError)."""

    def __init__(self, key, first_line, first_col, line, col):
        self.key = key
        self.first_line, self.first_col = first_line, first_col
        self.line, self.col = line, col
        super().__init__(
            f"duplicate YAML key {key!r} at {line}:{col} "
            f"(first at {first_line}:{first_col})")


def _strict_loader_cls():
    """SafeLoader subclass whose mapping constructor refuses duplicate
    keys with 1-based first/dup line:col (reference yaml_strict.go:69-140
    nodeToInterfaceStrict). Subclassing SafeLoader (instead of walking
    compose() nodes by tag) keeps scalar resolution IDENTICAL to
    yaml.safe_load — YAML 1.1 bools (yes/no/on/off), octal/hex ints,
    .inf/.nan floats, timestamps — so strict=True changes only the
    duplicate-key behavior, never a scalar's value."""
    import yaml

    class _StrictLoader(yaml.SafeLoader):
        def construct_mapping(self, node, deep=False):
            # duplicate detection runs on the ORIGINAL key nodes, BEFORE
            # merge-key flattening: flatten_mapping PREPENDS the merged
            # pairs into node.value, so a local key that overrides a
            # merged-in key (`<<: *base` + `a: 3`) would appear twice
            # after flattening — that is a legal YAML override, not a
            # duplicate. The `<<` merge keys themselves are skipped
            # (they are directives, not data keys).
            first = {}
            for k_node, _ in node.value:
                if k_node.tag == "tag:yaml.org,2002:merge":
                    continue
                key = self.construct_object(k_node, deep=True)
                try:
                    hash(key)
                except TypeError:
                    key = str(key)
                if key in first:
                    fl, fc = first[key]
                    raise DuplicateKeyError(
                        key, fl, fc,
                        k_node.start_mark.line + 1,
                        k_node.start_mark.column + 1)
                first[key] = (k_node.start_mark.line + 1,
                              k_node.start_mark.column + 1)
            if isinstance(node, yaml.MappingNode):
                self.flatten_mapping(node)
            return super().construct_mapping(node, deep=deep)

    return _StrictLoader


def strict_yaml_load_all(text) -> list:
    """Decode a multi-document YAML stream, erroring on duplicate mapping
    keys with first/dup line-col positions — the analog of the reference
    StrictYAMLReader.ReadAll (kubeopenapi/yaml_strict.go:28-67,
    yaml_strict_test.go). A duplicated key must never silently last-win —
    the same contract the raw-JSON ingest path enforces via
    object_pairs_hook."""
    import yaml

    if isinstance(text, bytes):
        text = text.decode("utf-8")
    return list(yaml.load_all(text, Loader=_strict_loader_cls()))


def import_crd_yaml(text, kind: Optional[str] = None,
                    ambiguity: str = "error",
                    embedded_checks: bool = True, *,
                    name: Optional[str] = None,
                    strict: bool = True) -> tuple:
    """Import a (possibly multi-document) CRD YAML bundle. `kind` selects
    the CRD whose spec.names.kind matches (reference ImportYAMLForCRDKind,
    kubeopenapi/yaml.go:15-43); `name` selects by metadata.name
    (ImportYAMLForCRDName, yaml.go:46-70 — the documented bundle-split
    surface, kubeopenapi_bundle_split_test.go). strict=True (default)
    decodes through the duplicate-key-detecting reader; a duplicated
    mapping key raises DuplicateKeyError instead of silently
    last-winning. Returns (schema, warnings)."""
    import yaml

    if isinstance(text, bytes):
        text = text.decode("utf-8")
    if strict:
        docs = [d for d in strict_yaml_load_all(text) if isinstance(d, dict)]
    else:
        docs = [d for d in yaml.safe_load_all(text) if isinstance(d, dict)]
    crds = [d for d in docs if d.get("kind") == "CustomResourceDefinition"]
    if kind is not None:
        crds = [d for d in crds
                if (((d.get("spec") or {}).get("names") or {}).get("kind")) == kind]
    if name is not None:
        crds = [d for d in crds
                if ((d.get("metadata") or {}).get("name")) == name]
    if not crds:
        raise ValueError(
            f"no CustomResourceDefinition for kind={kind!r} name={name!r} found")
    return import_openapi(crds[0], ambiguity=ambiguity,
                          embedded_checks=embedded_checks)
