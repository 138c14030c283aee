"""Message-type -> sink-table bindings.

The reference links runtime-loaded protobuf descriptors against live
ClickHouse table schemas at startup, failing hard on missing columns or
unsupported embedded messages (reference clickhouse_table.go:171-247,
message_binding_registry.go:18-70). This module is the same contract in
engine terms:

- ``FieldSpec``      ≈ one protobuf FieldDescriptor (+ the
  ``bristle_column`` rename option, reference bristle.proto:10,
  clickhouse_table.go:178-181);
- ``SinkColumn``     ≈ one row of ClickHouse ``system.columns``
  (reference clickhouse_cluster.go:74-91): name, position, type string;
- ``MessageBinding`` ≈ MessageTableBinding (reference
  clickhouse_table.go:80-85) — but where the reference compiles a Go
  closure per binding, ``transcode.build_select`` emits a Catalyst
  ``select`` list that whole-stage codegen compiles instead;
- ``BindingRegistry``≈ MessageBindingRegistry with explicit bindings
  (first registration of a table wins, mirroring
  message_binding_registry.go:52-63).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from bristle_spark.ingest.wire import (
    LEN_KINDS,
    SCALAR_NUMERIC,
    ColumnDecoder,
    arrow_type,
    compile_column_decoder,
)


# the landing zone stores each body next to its raw columns under this name
LANDED_BODY = "body"


@dataclass(frozen=True)
class FieldSpec:
    number: int
    name: str
    kind: str  # wire.py kind, or "map:<kk>:<vk>"
    repeated: bool = False
    column: str | None = None  # bristle_column rename; default: field name
    json_name: str | None = None  # protojson alias (reference examples/binance.proto)

    @property
    def column_name(self) -> str:
        return self.column or self.name

    @property
    def json_key(self) -> str:
        return self.json_name or self.name

    @property
    def is_map(self) -> bool:
        return self.kind.startswith("map:")

    def wire_spec(self) -> tuple[str, bool]:
        return self.kind, self.repeated


@dataclass(frozen=True)
class SinkColumn:
    name: str
    position: int
    ch_type: str  # ClickHouse type string, e.g. "Nullable(Int64)"
    default: str | None = None


@dataclass
class MessageBinding:
    message_name: str
    fields: list[FieldSpec]
    sink_table: str
    sink_columns: list[SinkColumn]

    def field_specs_by_number(self) -> dict[int, tuple[str, bool]]:
        return {f.number: f.wire_spec() for f in self.fields}

    @cached_property
    def column_decoder(self) -> ColumnDecoder:
        """This message's compiled wire decoder into its raw columns,
        built on first use."""
        return compile_column_decoder(self.field_specs_by_number())

    @cached_property
    def raw_arrow_schema(self):
        """The raw columns, one per field in declaration order: what the
        column decoder fills and the landing zone stores."""
        import pyarrow as pa

        return pa.schema([pa.field(f.name, arrow_type(f.kind, f.repeated)) for f in self.fields])

    def validate(self) -> None:
        """Eager bind-time validation (reference clickhouse_table.go:204-226):
        every proto field must land on existing sink columns; the only
        supported embedded message is google.protobuf.Timestamp."""
        sink_names = {c.name for c in self.sink_columns}
        for f in self.fields:
            if f.name == LANDED_BODY:
                raise ValueError(
                    f"binding {self.message_name}: field name {f.name!r} is taken "
                    "by the landed payload's raw body column"
                )
            base_kind = f.kind
            if f.is_map:
                # map -> ClickHouse Nested: two parallel columns
                for suffix in (".key", ".value"):
                    want = f.column_name + suffix
                    if want not in sink_names:
                        raise ValueError(
                            f"binding {self.message_name}: map field {f.name} "
                            f"needs sink column {want!r}"
                        )
                continue
            if base_kind not in SCALAR_NUMERIC | LEN_KINDS:
                raise ValueError(
                    f"binding {self.message_name}: unsupported field kind "
                    f"{base_kind!r} on {f.name} (only google.protobuf.Timestamp "
                    "is supported as an embedded message)"
                )
            if f.column_name not in sink_names:
                raise ValueError(
                    f"binding {self.message_name}: field {f.name} -> missing "
                    f"sink column {f.column_name!r} on {self.sink_table}"
                )


class BindingRegistry:
    def __init__(self) -> None:
        self._by_type: dict[str, MessageBinding] = {}
        self._tables_bound: set[str] = set()

    def register(self, binding: MessageBinding) -> None:
        binding.validate()
        if binding.sink_table in self._tables_bound:
            # first cluster/binding with the table wins
            # (reference message_binding_registry.go:52-63)
            return
        self._by_type[binding.message_name] = binding
        self._tables_bound.add(binding.sink_table)

    def for_type(self, message_name: str) -> MessageBinding:
        try:
            return self._by_type[message_name]
        except KeyError:
            raise KeyError(f"UNK_MESSAGE: no binding for {message_name!r}") from None

    def message_types(self) -> list[str]:
        return sorted(self._by_type)

    def bindings(self) -> list[MessageBinding]:
        return [self._by_type[name] for name in self.message_types()]
