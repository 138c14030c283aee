"""JSON-lines ingest source — the engine's bristle-forward-json (D16).

The reference CLI reads JSON lines from stdin, ``protojson.Unmarshal``s
them into the registered dynamic message (honoring proto ``json_name``
aliases) and forwards them upstream (reference
cmd/bristle-forward-json/main.go:25-46). Spark-first, the proto hop is
unnecessary: ``from_json`` with a binding-derived schema lands the same
typed rows directly, and the shared transcode projection
(transcode.build_select) takes over — so the JSON path and the wire
path are provably equivalent (tested in test_json_source.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bristle_spark.ingest.bindings import FieldSpec, MessageBinding
from bristle_spark.ingest.wire import INT_KINDS
from bristle_spark.transcode import build_select

_JSON_TYPES: dict[str, T.DataType] = {
    **{k: T.LongType() for k in INT_KINDS},
    "bool": T.BooleanType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.StringType(),  # protojson carries bytes as base64 text
    "timestamp": T.TimestampType(),  # protojson: RFC 3339 string
}


def json_field_type(spec: FieldSpec) -> T.DataType:
    if spec.is_map:
        _, kk, vk = spec.kind.split(":")
        return T.MapType(_JSON_TYPES[kk], _JSON_TYPES[vk])
    base = _JSON_TYPES[spec.kind]
    return T.ArrayType(base) if spec.repeated else base


CORRUPT_COL = "_corrupt_json"


def json_schema(binding: MessageBinding) -> T.StructType:
    """from_json schema keyed by protojson names (json_name aliases),
    plus the corrupt-record column (PERMISSIVE mode populates it for
    malformed lines instead of nulling the whole struct)."""
    return T.StructType(
        [T.StructField(f.json_key, json_field_type(f), nullable=True) for f in binding.fields]
        + [T.StructField(CORRUPT_COL, T.StringType(), nullable=True)]
    )


def _raw_column(spec: FieldSpec) -> F.Column:
    raw = F.col(f"j.`{spec.json_key}`")
    if spec.kind == "timestamp" and not spec.repeated:
        # normalize to the wire decoder's {seconds, nanos} struct so the
        # shared transcode projection applies unchanged (µs precision —
        # Spark's finest grain)
        micros = F.unix_micros(raw)
        return F.when(
            raw.isNotNull(),
            F.struct(
                (micros / 1_000_000).cast("long").alias("seconds"),
                ((micros % 1_000_000) * 1_000).cast("long").alias("nanos"),
            ),
        )
    if spec.kind == "bytes":
        return F.unbase64(raw)
    return raw


def parse_json_lines(
    lines: DataFrame, binding: MessageBinding, text_col: str = "value"
) -> DataFrame:
    """JSON-lines text -> decoded-shape DataFrame (same column names and
    types as pipeline.decode, so downstream code is path-agnostic).
    Unparseable lines yield NULL fields (the reference logs and skips
    them, main.go:34-38; here they surface as all-NULL rows filterable
    via ``parsed_ok``)."""
    parsed = lines.select(
        F.from_json(
            F.col(text_col),
            json_schema(binding),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("j")
    )
    cols = [_raw_column(f).alias(f.name) for f in binding.fields]
    ok = F.col("j").isNotNull() & F.col(f"j.{CORRUPT_COL}").isNull()
    return parsed.select(*cols, ok.alias("parsed_ok"))


def ingest_json_lines(
    lines: DataFrame, binding: MessageBinding, text_col: str = "value"
) -> DataFrame:
    """JSON lines -> sink-typed rows (D16 + D6 in one projection)."""
    decoded = parse_json_lines(lines, binding, text_col).filter(F.col("parsed_ok"))
    return decoded.select(*build_select(binding))
