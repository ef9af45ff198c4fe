"""Raw-JSON ingest path: the token-layer semantics of the reference that
are unreachable after `from_json` (SURVEY §7.3) — duplicate-key detection
(reference internal/engine/enforce.go:116-136), MaxDepth / MaxBytes
guards (enforce.go:69-101, 147-155), presence bits
Seen/WasNull/DefaultApplied (presence.go:11-15), unknown-key policy at
the token layer (dsl/object_stream.go:78-135), and preserving re-encode
(encode_preserve.go:11-28).

Executed as ONE Arrow-batched `mapInPandas` pass — Python per *batch*,
never per-row-per-expression; this is the documented slow path and only
runs on raw JSON ingest, mirroring goskema where these checks exist only
in the tokenizer. Columnar inputs (Parquet/Iceberg) never pass through
here.

Presence bits (presence.go:11-15): 1 = Seen, 2 = WasNull,
4 = DefaultApplied.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql import DataFrame, types as T

from goskema_spark.issues import Codes, escape_pointer_token, message_for
from goskema_spark.rowpass import violation_rows
from goskema_spark.schema import (
    INT_RANGES,
    ArraySpec,
    Field,
    MapSpec,
    TableSchema,
)

PRESENCE_SEEN = 1
PRESENCE_WAS_NULL = 2
PRESENCE_DEFAULT_APPLIED = 4
# Wire-type bits (r5): the JSON type each key carried ON THE WIRE,
# recorded before any coercion — lets downstream checks (anyOf branch
# matching, rowpass._compile_anyof) use the reference's wire-type
# semantics (union_ambiguity.go:20 + patterns.go:209-250
# valueMatchesType) instead of the castability approximation whenever
# the data came through raw-JSON ingest. NUMBER is set for every JSON
# number; INT additionally when it has a zero fractional part
# (patterns.go isInteger: 2.0 IS an integer).
PRESENCE_WIRE_STRING = 8
PRESENCE_WIRE_NUMBER = 16
PRESENCE_WIRE_INT = 32
PRESENCE_WIRE_BOOL = 64
PRESENCE_WIRE_OBJECT = 128
PRESENCE_WIRE_ARRAY = 256


def _wire_bits(v) -> int:
    if isinstance(v, bool):  # before int: bool is an int subclass
        return PRESENCE_WIRE_BOOL
    if isinstance(v, int):
        return PRESENCE_WIRE_NUMBER | PRESENCE_WIRE_INT
    if isinstance(v, float):
        import math
        bits = PRESENCE_WIRE_NUMBER
        if math.isfinite(v) and math.trunc(v) == v:
            bits |= PRESENCE_WIRE_INT
        return bits
    if isinstance(v, str):
        return PRESENCE_WIRE_STRING
    if isinstance(v, _Obj) or isinstance(v, dict):
        return PRESENCE_WIRE_OBJECT
    if isinstance(v, list):
        return PRESENCE_WIRE_ARRAY
    return 0


@dataclass
class ParseOpts:
    """Mirror of reference ParseOpt (types.go:51-58): Strictness
    (duplicate keys, AllowNaN — types.go:23-27), DoS bounds, and
    PresenceOpt Include/Exclude path-prefix filters (types.go:38-42)."""

    max_depth: int = 0          # 0 = unlimited
    max_bytes: int = 0          # 0 = unlimited
    on_duplicate_key: str = "error"  # 'error' | 'warn' | 'ignore'
    fail_fast: bool = False
    collect_presence: bool = True
    presence_include: Optional[list] = None  # keep only these path prefixes
    presence_exclude: Optional[list] = None  # drop these path prefixes
    # NaN/±Inf numbers: emit invalid_type (rule allow_nan) when False.
    # When True they parse without an issue; note the Arrow/pandas bridge
    # stores NaN as null in the typed column (pandas' NaN-as-null
    # sentinel) — the preserving `_encoded` output retains the NaN.
    allow_nan: bool = False


class _Obj:
    """Marker wrapping raw key/value pairs so duplicate keys survive
    json.loads (object_pairs_hook)."""

    __slots__ = ("pairs",)

    def __init__(self, pairs):
        self.pairs = pairs


def _walk(node, path: str, depth: int, opts: ParseOpts, issues: list,
          presence: dict):
    """Recursively convert the pair-preserving tree into plain values,
    recording duplicate keys, depth violations, and presence bits with
    RFC6901 paths."""
    if opts.max_depth and depth > opts.max_depth:
        issues.append((path, Codes.PARSE_ERROR, "max depth exceeded", "max_depth"))
        return None
    if isinstance(node, _Obj):
        out = {}
        for k, v in node.pairs:
            kp = f"{path}/{escape_pointer_token(k)}"
            if k in out:
                if opts.on_duplicate_key != "ignore":
                    issues.append((kp, Codes.DUPLICATE_KEY,
                                   message_for(Codes.DUPLICATE_KEY),
                                   "duplicate_key"))
                    # on 'warn' the later value still wins, like Warn severity
                # last-wins applies to the presence map too: purge bits
                # recorded by earlier occurrences (this key AND its
                # subtree) so wire-type/null bits describe the kept value,
                # not an OR across all occurrences — an accumulated
                # STRING|INT would fake an anyOf ambiguous_match
                pref = kp + "/"
                for stale in [q for q in presence
                              if q == kp or q.startswith(pref)]:
                    del presence[stale]
            out[k] = _walk(v, kp, depth + 1, opts, issues, presence)
            bits = presence.get(kp, 0) | PRESENCE_SEEN | _wire_bits(v)
            if out[k] is None and not isinstance(out[k], (_Obj,)):
                if v is None:
                    bits |= PRESENCE_WAS_NULL
            presence[kp] = bits
        return out
    if isinstance(node, list):
        return [
            _walk(v, f"{path}/{i}", depth + 1, opts, issues, presence)
            for i, v in enumerate(node)
        ]
    return node


_INT_DTYPES = {"int8", "int16", "int32", "int", "int64", "long"}
_INT_ALIAS = {"int": "int32", "long": "int64"}  # physical column widths
_FLOAT_DTYPES = {"double", "float"}


def _issue(issues: list, path: str, code: str, rule: str, message=None):
    issues.append((path, code, message if message is not None else message_for(code), rule))


def _conform_scalar(v, dtype: str, path: str, issues: list, allow_nan: bool = False):
    """Coerce one raw JSON value to the declared scalar dtype; on
    wire-type mismatch emit invalid_type (value -> None) instead of
    letting a mistyped value reach the typed Arrow output schema, where
    it would crash the whole mapInPandas batch. Mirrors the reference
    tokenizer emitting invalid_type per value
    (reference dsl/primitives.go:163-235)."""
    if v is None:
        return None
    if dtype == "string":
        if isinstance(v, str):
            return v
    elif dtype == "bool":
        if isinstance(v, bool):
            return v
    elif dtype in _INT_DTYPES:
        def _ranged(i):
            # sized-int guard at the WIRE (reference dsl/primitives.go:
            # 598-637): an out-of-range value must become overflow +
            # null, never reach the typed Arrow column where the
            # pandas->Arrow cast silently WRAPS (or kills the batch
            # under convertToArrowArraySafely)
            lo, hi = INT_RANGES[_INT_ALIAS.get(dtype, dtype)]
            if lo <= i <= hi:
                return i
            _issue(issues, path, Codes.OVERFLOW, f"int_range_{dtype}")
            return None
        if isinstance(v, bool):
            pass  # JSON true/false is not a number
        elif isinstance(v, int):
            return _ranged(v)
        elif isinstance(v, float):
            import math
            if not math.isfinite(v):
                _issue(issues, path, Codes.INVALID_TYPE, "type")
                return None
            if v.is_integer():
                return _ranged(int(v))
            _issue(issues, path, Codes.OVERFLOW, "int_fraction",
                   "fractional part not allowed")
            return None
        elif isinstance(v, str):
            # number coercion from string (reference dsl/primitives.go:180-205)
            try:
                return _ranged(int(v))
            except ValueError:
                try:
                    fv = float(v)
                except ValueError:
                    pass
                else:
                    if fv.is_integer():
                        return _ranged(int(fv))
                    _issue(issues, path, Codes.OVERFLOW, "int_fraction",
                           "fractional part not allowed")
                    return None
    elif dtype in _FLOAT_DTYPES:
        import math
        if isinstance(v, bool):
            pass
        elif isinstance(v, (int, float)):
            # AllowNaN strictness (reference types.go:23-27): NaN/±Inf
            # only pass when explicitly allowed
            if isinstance(v, float) and not math.isfinite(v) and not allow_nan:
                _issue(issues, path, Codes.INVALID_TYPE, "allow_nan")
                return None
            return float(v)
        elif isinstance(v, str):
            try:
                fv = float(v)
            except ValueError:
                pass
            else:
                if not math.isfinite(fv) and not allow_nan:
                    _issue(issues, path, Codes.INVALID_TYPE, "allow_nan")
                    return None
                return fv
    elif dtype in ("timestamp", "date"):
        if isinstance(v, str):
            from datetime import date as _date, datetime as _dt
            try:
                if dtype == "date":
                    return _date.fromisoformat(v)
                return _dt.fromisoformat(v.replace("Z", "+00:00"))
            except ValueError:
                _issue(issues, path, Codes.INVALID_FORMAT, "format_rfc3339")
                return None
    elif dtype == "binary":
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, str):
            return v.encode("utf-8")
    elif isinstance(dtype, str) and dtype.startswith("decimal"):
        # NumberDecimal wire conform (mirrors the columnar checks in
        # rowpass: type_decimal / decimal_scale / decimal_range) — the
        # dtype is first-class in schema.py, so ingest must produce a
        # Decimal for the DecimalType column, not fall through to
        # invalid_type on every value
        import decimal as _dec
        from goskema_spark.schema import parse_decimal
        prec, scale = parse_decimal(dtype)
        if isinstance(v, bool) or not isinstance(v, (int, float, str)):
            _issue(issues, path, Codes.INVALID_TYPE, "type_decimal")
            return None
        try:
            d = _dec.Decimal(str(v))
        except _dec.InvalidOperation:
            _issue(issues, path, Codes.INVALID_TYPE, "type_decimal")
            return None
        if not d.is_finite():
            _issue(issues, path, Codes.INVALID_TYPE, "type_decimal")
            return None
        q = d.quantize(_dec.Decimal(1).scaleb(-scale),
                       rounding=_dec.ROUND_HALF_UP)
        if q != d:
            # Spark's cast would silently round — flag the lossy value
            _issue(issues, path, Codes.OVERFLOW, "decimal_scale",
                   "fractional digits exceed declared scale")
        if len(q.as_tuple().digits) > prec and q != 0:
            _issue(issues, path, Codes.OVERFLOW, "decimal_range")
            return None
        return q
    _issue(issues, path, Codes.INVALID_TYPE, "type")
    return None


def _conform(v, f, path: str, issues: list, allow_nan: bool = False):
    """Conform a raw parsed value to the field's declared dtype
    (scalars, arrays, maps, nested objects)."""
    if v is None:
        return None
    dt = f.dtype
    if getattr(f, "int_or_string", False):
        # x-kubernetes-int-or-string: accept either wire type, render as
        # string in the (single-typed) column
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            _issue(issues, path, Codes.INVALID_TYPE, "type")
            return None
        return str(v)
    if isinstance(dt, ArraySpec):
        if not isinstance(v, list):
            _issue(issues, path, Codes.INVALID_TYPE, "type")
            return None
        if dt.elem_schema is not None:
            elem_f = Field(name="", dtype=dt.elem_schema)
            return [_conform(x, elem_f, f"{path}/{i}", issues, allow_nan)
                    for i, x in enumerate(v)]
        return [_conform_scalar(x, dt.elem, f"{path}/{i}", issues, allow_nan)
                for i, x in enumerate(v)]
    if isinstance(dt, MapSpec):
        if not isinstance(v, dict):
            _issue(issues, path, Codes.INVALID_TYPE, "type")
            return None
        return {k: _conform_scalar(x, dt.value,
                                   f"{path}/{escape_pointer_token(k)}", issues,
                                   allow_nan)
                for k, x in v.items()}
    if isinstance(dt, TableSchema):
        if not isinstance(v, dict):
            _issue(issues, path, Codes.INVALID_TYPE, "type")
            return None
        declared = {sf.name for sf in dt.fields}
        # nested unknown-key policy (reference emits unknown_key at
        # nested paths, dsl/object_core.go:136-169): strict objects flag
        # every undeclared key; strip/passthrough drop them from the
        # typed struct (nested passthrough targets are not representable
        # in a fixed struct column — documented limitation)
        unknown_keys = sorted(k for k in v if k not in declared)
        if dt.unknown_key_patterns:
            # pattern-matched keys are NOT 'additional' (JSON Schema):
            # validate against the pattern's value spec, exempt from the
            # unknown policy, then drop (no fixed struct slot)
            import re as _re
            from dataclasses import replace as _replace
            rest = []
            for k in unknown_keys:
                matched = [pf for pat, pf in dt.unknown_key_patterns
                           if _re.search(pat, k)]
                if not matched:
                    rest.append(k)
                    continue
                for pf in matched:
                    if pf is not None:
                        _conform(v[k], _replace(pf, name=k),
                                 f"{path}/{escape_pointer_token(k)}",
                                 issues, allow_nan)
            unknown_keys = rest
        if dt.unknown == "strict":
            for k in unknown_keys:
                _issue(issues, f"{path}/{escape_pointer_token(k)}",
                       Codes.UNKNOWN_KEY, "unknown_strict")
        elif dt.unknown == "schema" and dt.ap_field is not None:
            # additionalProperties-with-schema: overflow values VALIDATE
            # against the value spec (issues at their path), then drop
            # from the fixed struct (beyond the reference MVP warn+prune)
            from dataclasses import replace
            for k in unknown_keys:
                _conform(v[k], replace(dt.ap_field, name=k),
                         f"{path}/{escape_pointer_token(k)}", issues, allow_nan)
        # missing nested field: materialize its declared default (the
        # rowpass skips `required` when a default exists, so dropping
        # the default here would silently null the value with no issue)
        return {sf.name: (_conform(v[sf.name], sf,
                                   f"{path}/{escape_pointer_token(sf.name)}",
                                   issues, allow_nan)
                          if sf.name in v else sf.default)
                for sf in dt.fields}
    return _conform_scalar(v, dt, path, issues, allow_nan)


def parse_document(payload: str, schema: TableSchema, opts: ParseOpts):
    """Parse + enforce + apply schema to ONE document. Returns
    (values: dict, presence: dict[path->bits], issues: list[tuple])."""
    issues: list = []
    presence: dict = {}
    if opts.max_bytes and len(payload.encode("utf-8")) > opts.max_bytes:
        issues.append(("", Codes.TRUNCATED, message_for(Codes.TRUNCATED), "max_bytes"))
        return {f.name: None for f in schema.fields}, presence, issues
    try:
        raw = json.loads(payload, object_pairs_hook=lambda p: _Obj(p))
    except (ValueError, RecursionError):
        issues.append(("", Codes.PARSE_ERROR, message_for(Codes.PARSE_ERROR), "json"))
        return {f.name: None for f in schema.fields}, presence, issues
    tree = _walk(raw, "", 0, opts, issues, presence)
    if not isinstance(tree, dict):
        issues.append(("", Codes.INVALID_TYPE, message_for(Codes.INVALID_TYPE), "root"))
        return {f.name: None for f in schema.fields}, presence, issues

    declared = {f.name for f in schema.fields}
    # unknown-key policy (types.go:4-10), sorted for deterministic order
    # (reference api_error_model_test.go:49-71)
    unknown = sorted(k for k in tree if k not in declared)
    pattern_passthrough = {}
    if schema.unknown_key_patterns:
        # pattern-matched keys are exempt from the unknown policy and
        # validate against their pattern's value spec (see _conform)
        import re as _re
        from dataclasses import replace as _replace
        rest = []
        for k in unknown:
            matched = [pf for pat, pf in schema.unknown_key_patterns
                       if _re.search(pat, k)]
            if not matched:
                rest.append(k)
                continue
            for pf in matched:
                if pf is not None:
                    _conform(tree[k], _replace(pf, name=k),
                             f"/{escape_pointer_token(k)}", issues,
                             opts.allow_nan)
            # pattern-matched keys are validated above, but under
            # unknown='passthrough' (x-kubernetes-preserve-unknown-fields
            # + patternProperties) they must still survive the round
            # trip: validated AND preserved, never silently dropped
            if schema.unknown == "passthrough":
                pattern_passthrough[k] = tree[k]
        unknown = rest
    passthrough = dict(pattern_passthrough)
    for k in unknown:
        if schema.unknown == "strict":
            issues.append((f"/{escape_pointer_token(k)}", Codes.UNKNOWN_KEY,
                           message_for(Codes.UNKNOWN_KEY), "unknown_strict"))
        elif schema.unknown == "passthrough":
            passthrough[k] = tree[k]
        elif schema.unknown == "schema" and schema.ap_field is not None:
            # validate overflow values against additionalProperties'
            # value spec, then drop (no fixed column to store them)
            from dataclasses import replace
            _conform(tree[k], replace(schema.ap_field, name=k),
                     f"/{escape_pointer_token(k)}", issues, opts.allow_nan)

    values = {}
    for f in sorted(schema.fields, key=lambda x: x.name):
        kp = f"/{escape_pointer_token(f.name)}"
        if f.name in tree:
            values[f.name] = _conform(tree[f.name], f, kp, issues, opts.allow_nan)
        elif f.default is not None:
            values[f.name] = f.default
            presence[kp] = presence.get(kp, 0) | PRESENCE_DEFAULT_APPLIED
        else:
            values[f.name] = None
            if f.required:
                issues.append((kp, Codes.REQUIRED,
                               message_for(Codes.REQUIRED), "required"))
    if schema.passthrough_target and passthrough:
        values[schema.passthrough_target] = {
            k: json.dumps(v) for k, v in passthrough.items()}

    if opts.fail_fast and issues:
        issues = issues[:1]
    return values, presence, issues


def filter_presence(presence: dict, opts: ParseOpts) -> dict:
    """PresenceOpt Include/Exclude (reference types.go:38-42): path-prefix
    filters over the EXPORTED presence map. The full map still drives the
    preserving encode (filtering is a reporting concern, not a parsing
    one)."""
    inc, exc = opts.presence_include, opts.presence_exclude
    if not inc and not exc:
        return presence

    def _keep(p: str) -> bool:
        if inc and not any(p == i or p.startswith(i) for i in inc):
            return False
        if exc and any(p == e or p.startswith(e) for e in exc):
            return False
        return True

    return {k: v for k, v in presence.items() if _keep(k)}


def encode_preserving(values: dict, presence: dict, schema: TableSchema) -> str:
    """Preserving encode (reference encode_preserve.go:11-28): missing
    stays missing, explicit null stays null, default-only fields are
    dropped from the output."""
    out = {}
    for f in schema.fields:
        kp = f"/{escape_pointer_token(f.name)}"
        bits = presence.get(kp, 0)
        if bits & PRESENCE_DEFAULT_APPLIED and not bits & PRESENCE_SEEN:
            continue  # default-materialized only: drop
        if not bits & PRESENCE_SEEN:
            continue  # never present: stay missing
        out[f.name] = values.get(f.name)
    return json.dumps(out, separators=(",", ":"), sort_keys=True,
                      default=_json_default)


def _json_default(v):
    """Wire-format renderers for conformed non-JSON types — without
    this, any present timestamp/date/binary/decimal field crashed the
    whole mapInPandas batch with 'not JSON serializable'."""
    import datetime as _dtm
    import decimal as _dec
    if isinstance(v, _dtm.datetime):
        return v.isoformat().replace("+00:00", "Z")
    if isinstance(v, _dtm.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        import base64
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, _dec.Decimal):
        return str(v)
    raise TypeError(f"not JSON serializable: {type(v).__name__}")


def _ingest_type(f) -> T.DataType:
    # arrays always allow null elements on the ingest output: a
    # type-mismatched element becomes null + an invalid_type issue, and
    # the columnar row pass re-flags nulls as elem_type when the declared
    # spec forbids them
    if isinstance(f.dtype, ArraySpec):
        return T.ArrayType(f.spark_type().elementType, True)
    return f.spark_type()


def _out_type(schema: TableSchema) -> T.StructType:
    fields = [T.StructField(f.name, _ingest_type(f), True) for f in schema.fields]
    if schema.passthrough_target:
        fields.append(T.StructField(schema.passthrough_target,
                                    T.MapType(T.StringType(), T.StringType()), True))
    fields += [
        T.StructField("_presence", T.MapType(T.StringType(), T.IntegerType()), True),
        T.StructField("_ingest_violations", T.ArrayType(T.StructType([
            T.StructField("path", T.StringType()),
            T.StructField("code", T.StringType()),
            T.StructField("message", T.StringType()),
            T.StructField("rule", T.StringType()),
        ])), True),
        T.StructField("_encoded", T.StringType(), True),
    ]
    return T.StructType(fields)


def ingest_json(df: DataFrame, schema: TableSchema,
                payload_col: str = "payload",
                opts: Optional[ParseOpts] = None) -> DataFrame:
    """Parse a raw-JSON column into declared columns + presence map +
    ingest violations + preserving re-encode. One mapInPandas pass."""
    opts = opts or ParseOpts()
    out_type = _out_type(schema)
    field_names = [f.name for f in out_type.fields]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                values, presence, issues = parse_document(str(payload), schema, opts)
                rec = dict(values)
                rec["_presence"] = (filter_presence(presence, opts)
                                    if opts.collect_presence else None)
                rec["_ingest_violations"] = [
                    {"path": p, "code": c, "message": m, "rule": r}
                    for (p, c, m, r) in issues
                ]
                rec["_encoded"] = encode_preserving(values, presence, schema)
                rows.append(rec)
            yield pd.DataFrame(rows, columns=field_names)

    return df.mapInPandas(run, out_type)


def ingest_violations_df(parsed: DataFrame, row_id) -> DataFrame:
    """Flatten _ingest_violations into the standard violations shape
    (its structs carry no params: NULL)."""
    return violation_rows(parsed, row_id, ["inline(_ingest_violations)",
                                           "CAST(NULL AS MAP<STRING, STRING>) AS params"])
