"""Scalar conversion surface: decoded proto fields -> sink-typed columns.

This is the engine's analog of the reference's per-binding compiled
``PrepareFunc`` (reference clickhouse_table.go:171-247 compile,
:249-380 execute) — except the "compiled" artifact is a Catalyst select
list, so Tungsten whole-stage codegen plays the role of the bind-time
closure. Conversion numbering S1-S13 follows SURVEY.md §2.B.

Null/default semantics implement the reference's *intended* behavior
(S1): unset field -> NULL for Nullable columns, [] for Array columns,
proto3 zero value otherwise. (The reference's own implementation
dead-codes this path — SURVEY.md §8.1 — writing proto3 zero values
always; we do not replicate the bug.)

ClickHouse type strings are parsed the same way the reference does
(regex over Nullable/LowCardinality/Array wrappers and sized ints,
reference clickhouse_table.go:117-169).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bristle_spark.ingest.bindings import FieldSpec, MessageBinding, SinkColumn
from bristle_spark.ingest.wire import INT_KINDS

# --------------------------------------------------- ClickHouse type model


@dataclass(frozen=True)
class ChType:
    base: str  # Int, UInt, Float, String, DateTime, DateTime64, Decimal, Enum, Bool
    bits: int = 0  # int/float width; enum storage width
    nullable: bool = False
    is_array: bool = False
    precision: int = 0  # Decimal
    scale: int = 0  # Decimal / DateTime64
    enum_map: tuple[tuple[str, int], ...] = dc_field(default_factory=tuple)


_ENUM_RE = re.compile(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)")


def parse_ch_type(s: str) -> ChType:
    s = s.strip()
    if s.startswith("Nullable(") and s.endswith(")"):
        inner = parse_ch_type(s[len("Nullable(") : -1])
        return ChType(**{**inner.__dict__, "nullable": True})
    if s.startswith("LowCardinality(") and s.endswith(")"):
        # sink-side encoding only (SURVEY.md §1.3) — transparent to us
        return parse_ch_type(s[len("LowCardinality(") : -1])
    if s.startswith("Array(") and s.endswith(")"):
        inner = parse_ch_type(s[len("Array(") : -1])
        return ChType(**{**inner.__dict__, "is_array": True})
    m = re.fullmatch(r"(U?)Int(8|16|32|64)", s)
    if m:
        return ChType(base="UInt" if m.group(1) else "Int", bits=int(m.group(2)))
    m = re.fullmatch(r"Float(32|64)", s)
    if m:
        return ChType(base="Float", bits=int(m.group(1)))
    m = re.fullmatch(r"Enum(8|16)\((.*)\)", s)
    if m:
        labels = tuple((lbl, int(num)) for lbl, num in _ENUM_RE.findall(m.group(2)))
        return ChType(base="Enum", bits=int(m.group(1)), enum_map=labels)
    m = re.fullmatch(r"DateTime64\((\d+)\)", s)
    if m:
        return ChType(base="DateTime64", scale=int(m.group(1)))
    if s == "DateTime":
        return ChType(base="DateTime")
    m = re.fullmatch(r"Decimal\((\d+),\s*(\d+)\)", s)
    if m:
        return ChType(base="Decimal", precision=int(m.group(1)), scale=int(m.group(2)))
    if s == "String":
        return ChType(base="String")
    if s == "Bool":
        return ChType(base="Bool")
    raise ValueError(f"unsupported ClickHouse type: {s!r}")


_INT_SPARK = {8: "tinyint", 16: "smallint", 32: "int", 64: "bigint"}
# S7: unsigned width -> next-wider signed Spark type; UInt64 -> Decimal(20,0)
_UINT_SPARK = {8: "smallint", 16: "int", 32: "bigint", 64: "decimal(20,0)"}


def spark_type_str(ch: ChType) -> str:
    if ch.base == "Int":
        elem = _INT_SPARK[ch.bits]
    elif ch.base == "UInt":
        elem = _UINT_SPARK[ch.bits]
    elif ch.base == "Float":
        elem = "float" if ch.bits == 32 else "double"
    elif ch.base == "Enum":
        elem = _INT_SPARK[ch.bits]
    elif ch.base in ("DateTime", "DateTime64"):
        elem = "timestamp"
    elif ch.base == "Decimal":
        elem = f"decimal({ch.precision},{ch.scale})"
    elif ch.base == "String":
        elem = "string"
    elif ch.base == "Bool":
        elem = "boolean"
    else:
        raise ValueError(f"no spark type for {ch}")
    return f"array<{elem}>" if ch.is_array else elem


# ------------------------------------------------------- raw decode schema

_RAW_TYPES: dict[str, T.DataType] = {
    # uint64 fidelity note: decoded values are carried as signed 64-bit;
    # values above 2^63-1 need the Decimal(20,0) sink path end-to-end.
    **{k: T.LongType() for k in INT_KINDS},
    "bool": T.BooleanType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
    "timestamp": T.StructType(
        [T.StructField("seconds", T.LongType()), T.StructField("nanos", T.LongType())]
    ),
}


def raw_field_type(spec: FieldSpec) -> T.DataType:
    if spec.is_map:
        _, kk, vk = spec.kind.split(":")
        return T.MapType(_RAW_TYPES[kk], _RAW_TYPES[vk])
    base = _RAW_TYPES[spec.kind]
    return T.ArrayType(base) if spec.repeated else base


def raw_schema(binding: MessageBinding) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, raw_field_type(f), nullable=True) for f in binding.fields]
    )


# --------------------------------------------------------- S1-S13 builders


def ts_to_timestamp(col: Column, scale: int = 0) -> Column:
    """S2: google.protobuf.Timestamp{seconds,nanos} -> UTC timestamp
    (reference clickhouse_table.go:264-267; ns truncates to µs, Spark's
    finest grain — SURVEY.md §7 hard parts)."""
    return F.timestamp_micros(
        col.getField("seconds") * F.lit(1_000_000)
        + (col.getField("nanos") / F.lit(1_000)).cast("long")
    )


def epoch_millis_to_timestamp(col: Column) -> Column:
    """uint64 epoch-milliseconds -> DateTime64(3) (the binance fixture's
    eventTime/tradeTime shape, reference examples/binance.sql:3)."""
    return F.timestamp_millis(col)


def proto_zero(ch: ChType) -> Column:
    """S1: proto3 zero value typed for the sink column."""
    if ch.is_array:
        return F.array().cast(spark_type_str(ch))
    if ch.base in ("DateTime", "DateTime64"):
        return F.timestamp_seconds(F.lit(0))  # time.Unix(0,0).UTC()
    if ch.base == "String":
        return F.lit("")
    if ch.base == "Bool":
        return F.lit(False)
    return F.lit(0).cast(spark_type_str(ch))


def transcode_field(spec: FieldSpec, sink: SinkColumn) -> list[tuple[str, Column]]:
    """Build the sink column expression(s) for one proto field.

    Returns [(column_name, expr)] — two entries for map fields
    (S3/S4: `<name>.key` + `<name>.value` parallel arrays, ClickHouse
    Nested; reference clickhouse_table.go:183-201,270-289)."""
    raw = F.col(spec.name)
    if spec.is_map:
        _, _kk, vk = spec.kind.split(":")
        keys = F.map_keys(raw)
        values = F.map_values(raw)
        # map iteration order is unspecified in Go and Spark alike; sort
        # by key so downstream comparisons are deterministic (SURVEY §2.B S3)
        order = F.array_sort(
            F.arrays_zip(keys.alias("k"), values.alias("v")),
            lambda a, b: F.when(a.getField("k") < b.getField("k"), -1)
            .when(a.getField("k") > b.getField("k"), 1)
            .otherwise(0),
        )
        key_out = F.coalesce(order.getField("k"), F.array().cast("array<string>"))
        val_out = F.coalesce(
            order.getField("v").cast("array<string>"), F.array().cast("array<string>")
        )
        return [(f"{sink.name}.key", key_out), (f"{sink.name}.value", val_out)]

    ch = parse_ch_type(sink.ch_type)
    target = spark_type_str(ch)

    if spec.kind == "timestamp":
        expr = ts_to_timestamp(raw, ch.scale)
    elif ch.base in ("DateTime", "DateTime64") and spec.kind in ("uint64", "int64", "fixed64"):
        # integer epoch (ms for DateTime64(3), s for DateTime)
        expr = epoch_millis_to_timestamp(raw) if ch.base == "DateTime64" else F.timestamp_seconds(raw)
    elif spec.kind == "bool" and ch.base in ("UInt", "Int"):
        expr = raw.cast("int").cast(target)  # S8
    else:
        expr = raw.cast(target)  # S5/S6/S7/S10/S11 — Catalyst handles width

    if ch.nullable:
        out = expr  # S1: unset -> NULL passes through
    elif ch.is_array:
        out = F.coalesce(expr, F.array().cast(target))
    else:
        out = F.coalesce(expr, proto_zero(ch))
    return [(sink.name, out)]


def build_select(binding: MessageBinding) -> list[Column]:
    """The full transcode projection, ordered by sink column position
    (positional rows, reference clickhouse_table.go:229-239)."""
    exprs: dict[str, Column] = {}
    sink_by_name = {c.name: c for c in binding.sink_columns}
    for spec in binding.fields:
        if spec.is_map:
            sink = SinkColumn(spec.column_name, -1, "String")
            for name, col in transcode_field(spec, sink):
                exprs[name] = col
        else:
            sink = sink_by_name[spec.column_name]
            for name, col in transcode_field(spec, sink):
                exprs[name] = col
    ordered = sorted(binding.sink_columns, key=lambda c: c.position)
    out = []
    for c in ordered:
        if c.name in exprs:
            out.append(exprs[c.name].alias(c.name))
        else:
            # column with no bound field: sink default / proto zero (S1)
            ch = parse_ch_type(c.ch_type)
            out.append((F.lit(None).cast(spark_type_str(ch)) if ch.nullable else proto_zero(ch)).alias(c.name))
    return out
