"""Generic codec framework: wire-type A <-> domain-type B column codecs
with decode validation and ENCODE-TIME REVALIDATION.

The reference wraps any Codec[A, B] into a schema whose Parse runs
wire -> A -> Decode -> B -> validate(B), and whose Encode revalidates
through the out-schema before producing wire values (reference
dsl/codec_wrap.go:15-78, codec/ package). The columnar analog:

  decode_col(df, field, codec)   adds the decoded domain column and an
                                 invalid_format violation where the wire
                                 value exists but cannot decode
  encode_col(df, field, codec)   domain -> wire, REVALIDATING the domain
                                 value against the field's declared
                                 constraints first (encode of an invalid
                                 value is a violation, not silent output)

Built-ins: rfc3339 (string <-> timestamp), epoch_millis
(bigint <-> timestamp), base64 (string <-> binary), json_map
(string <-> map<string,string>). All pure Column expressions — no
Python in the path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, functions as F

from goskema_spark.issues import Codes, pointer
from goskema_spark.rowpass import violation
from goskema_spark.schema import Field
from goskema_spark.sqltext import ident, string


@dataclass
class ColumnCodec:
    """A wire<->domain codec as three Column builders."""

    name: str
    wire_type: str
    domain_type: str
    decode: Callable[[Column], Column]          # wire -> domain (null on failure)
    encode: Callable[[Column], Column]          # domain -> wire
    # TRUE where a non-null wire value cannot decode; default: decode
    # yields null while the input is not null
    invalid: Optional[Callable[[Column], Column]] = None

    def invalid_col(self, c: Column) -> Column:
        if self.invalid is not None:
            return self.invalid(c)
        return c.isNotNull() & self.decode(c).isNull()


_REGISTRY: dict = {}


def register_codec(codec: ColumnCodec) -> ColumnCodec:
    _REGISTRY[codec.name] = codec
    return codec


def get_codec(name: str) -> ColumnCodec:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(f"unknown codec {name!r}; registered: {sorted(_REGISTRY)}")


register_codec(ColumnCodec(
    name="rfc3339", wire_type="string", domain_type="timestamp",
    # explicit RFC3339 pattern, NOT bare try_to_timestamp: the bare form
    # accepts '2024-01-02' / '2024-01-02 03:04:05' (no T, no offset),
    # which the ingest-path format_rfc3339 check rejects — the codec and
    # ingest must agree on what counts as valid wire format
    decode=lambda c: F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))),
    encode=lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ssXXX"),
))

# timestamp_millis overflows (ArithmeticException, not null) when
# millis*1000 exceeds long range — clamp to the representable window so
# garbage epochs null out as invalid_format like every other bad wire
# value (the ANSI null-out rule)
_EPOCH_MS_MAX = (2**63 - 1) // 1000

register_codec(ColumnCodec(
    name="epoch_millis", wire_type="bigint", domain_type="timestamp",
    # two-sided range check, NOT abs(): under non-ANSI Spark
    # abs(Long.MIN_VALUE) wraps to Long.MIN_VALUE (negative) and the
    # single wire value -2^63 would slip past a `<=` test
    decode=lambda c: F.timestamp_millis(
        F.when((c.cast("bigint") >= -_EPOCH_MS_MAX)
               & (c.cast("bigint") <= _EPOCH_MS_MAX), c.cast("bigint"))),
    encode=lambda c: F.unix_millis(c),
))

register_codec(ColumnCodec(
    name="base64", wire_type="string", domain_type="binary",
    # unbase64 is permissive; validate the alphabet explicitly
    decode=lambda c: F.when(
        c.rlike("^[A-Za-z0-9+/]*={0,2}$") & (F.length(c) % 4 == 0),
        F.unbase64(c)),
    encode=lambda c: F.base64(c),
))

register_codec(ColumnCodec(
    name="json_map", wire_type="string", domain_type="map<string,string>",
    decode=lambda c: F.from_json(c, "map<string,string>"),
    encode=lambda c: F.to_json(c),
))


def decode_col(df: DataFrame, field_name: str, codec_name: str,
               out_col: Optional[str] = None,
               violations_col: str = "_codec_violations") -> DataFrame:
    """Wire -> domain: adds `out_col` (default <field>_decoded) and
    appends invalid_format violations for undecodable non-null values."""
    codec = get_codec(codec_name)
    c = F.col(field_name)
    out_col = out_col or f"{field_name}_decoded"
    bad = codec.invalid_col(c)
    viol = F.when(bad, F.expr(violation(
        string(pointer(field_name)), Codes.INVALID_FORMAT, rule=f"codec_{codec.name}",
        params={"got": f"CAST({ident(field_name)} AS STRING)"})))
    arr = F.filter(F.array(viol), lambda x: x.isNotNull())
    if violations_col in df.columns:
        arr = F.concat(F.col(violations_col), arr)
    return (df.withColumn(out_col, F.when(~F.coalesce(bad, F.lit(False)),
                                          codec.decode(c)))
            .withColumn(violations_col, arr))


def encode_col(df: DataFrame, field: Field, codec_name: str,
               source_col: Optional[str] = None,
               out_col: Optional[str] = None,
               violations_col: str = "_codec_violations") -> DataFrame:
    """Domain -> wire with encode-time revalidation (reference
    dsl/codec_wrap.go: Encode runs the out-schema's validation first):
    the domain value is checked against the Field's declared constraints;
    where it violates, the wire output is NULL and a violation row is
    recorded instead of silently encoding bad data."""
    from goskema_spark.rowpass import compile_checks
    from goskema_spark.schema import TableSchema

    codec = get_codec(codec_name)
    src = source_col or field.name
    out_col = out_col or f"{field.name}_encoded"
    # revalidate: compile the single-field check set against the source
    sub_schema = TableSchema(fields=[Field(**{**field.__dict__, "name": src})])
    sub = compile_checks(sub_schema, df.select(src))
    viols = F.expr(sub.combined_sql())
    ok = F.size(viols) == 0
    arr = viols
    if violations_col in df.columns:
        arr = F.concat(F.col(violations_col), arr)
    return (df.withColumn(out_col, F.when(ok, codec.encode(F.col(src))))
            .withColumn(violations_col, arr))
