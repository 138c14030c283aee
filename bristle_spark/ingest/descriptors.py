"""Compiled descriptor-set (.pb) parsing + ``bristle_table`` autobind.

The reference loads ``FileDescriptorSet`` files at runtime
(reference proto_registry.go:45-103), then autobinds every message
carrying the ``bristle_table`` custom option to a live table, reading
the ``bristle_column`` rename option per field (reference
message_binding_registry.go:38-70 BindFromProtos; bristle.proto:8-12
declares the extension numbers 50001/50002; clickhouse_table.go:171-247
gives the field->column rules, including map -> Nested key/value
expansion and the google.protobuf.Timestamp special case).

A ``FileDescriptorSet`` is itself just a protobuf message with a public
schema (descriptor.proto), so this module parses it with the repo's own
wire codec — no python-protobuf needed. Field numbers below are from
the public google/protobuf/descriptor.proto.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field

from bristle_spark.ingest import wire
from bristle_spark.ingest.bindings import (
    BindingRegistry,
    FieldSpec,
    MessageBinding,
    SinkColumn,
)

# descriptor.proto message decoders, compiled from {field_number: (kind, repeated)}
_FILE_SET = wire.compile_decoder({1: ("bytes", True)})  # FileDescriptorSet.file
_FILE = wire.compile_decoder(
    {
        1: ("string", False),  # name
        2: ("string", False),  # package
        4: ("bytes", True),  # message_type
    }
)
_MESSAGE = wire.compile_decoder(
    {
        1: ("string", False),  # name
        2: ("bytes", True),  # field
        3: ("bytes", True),  # nested_type
        7: ("bytes", False),  # options (MessageOptions)
    }
)
_FIELD = wire.compile_decoder(
    {
        1: ("string", False),  # name
        3: ("int32", False),  # number
        4: ("enum", False),  # label (3 = LABEL_REPEATED)
        5: ("enum", False),  # type
        6: ("string", False),  # type_name (".pkg.Message" for message/enum)
        8: ("bytes", False),  # options (FieldOptions)
        10: ("string", False),  # json_name
    }
)
_MESSAGE_OPTIONS = wire.compile_decoder(
    {
        7: ("bool", False),  # map_entry
        50001: ("string", False),  # bristle.bristle_table extension
    }
)
_FIELD_OPTIONS = wire.compile_decoder(
    {
        50001: ("string", False),  # bristle.bristle_column extension
        50002: ("string", False),  # bristle.bristle_clickhouse_type extension
    }
)

_LABEL_REPEATED = 3
_TYPE_MESSAGE = 11

# FieldDescriptorProto.Type -> wire codec kind
_TYPE_TO_KIND = {
    1: "double",
    2: "float",
    3: "int64",
    4: "uint64",
    5: "int32",
    6: "fixed64",
    7: "fixed32",
    8: "bool",
    9: "string",
    12: "bytes",
    13: "uint32",
    14: "enum",
    15: "sfixed32",
    16: "sfixed64",
    17: "sint32",
    18: "sint64",
}

TIMESTAMP_FULL_NAME = "google.protobuf.Timestamp"


@dataclass(frozen=True)
class FieldDesc:
    name: str
    number: int
    repeated: bool
    type_code: int
    type_name: str | None  # ".pkg.Message" form for message/enum fields
    json_name: str | None
    column: str | None  # bristle_column option
    ch_type: str | None  # bristle_clickhouse_type option


@dataclass
class MessageDesc:
    full_name: str
    fields: list[FieldDesc] = dc_field(default_factory=list)
    bristle_table: str | None = None
    map_entry: bool = False


class DescriptorPool:
    """Parsed message descriptors by full name — the ProtoRegistry
    analog (reference proto_registry.go:19-43), insertion-ordered."""

    def __init__(self) -> None:
        self.messages: dict[str, MessageDesc] = {}

    def add_descriptor_set(self, data: bytes) -> None:
        fds = _FILE_SET(bytes(data))
        for file_bytes in fds.get(1, []):
            self._add_file(file_bytes)

    def add_path(self, path: str) -> None:
        """File or directory of ``*.pb`` descriptor sets (reference
        proto_registry.go RegisterPath / registerFromDirectory)."""
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in sorted(files):
                    if f.endswith(".pb"):
                        with open(os.path.join(root, f), "rb") as fh:
                            self.add_descriptor_set(fh.read())
        else:
            with open(path, "rb") as fh:
                self.add_descriptor_set(fh.read())

    def _add_file(self, file_bytes: bytes) -> None:
        f = _FILE(file_bytes)
        package = f.get(2, "")
        for msg_bytes in f.get(4, []):
            self._add_message(msg_bytes, package)

    def _add_message(self, msg_bytes: bytes, scope: str) -> None:
        m = _MESSAGE(msg_bytes)
        name = m.get(1, "")
        full_name = f"{scope}.{name}" if scope else name
        desc = MessageDesc(full_name=full_name)
        opts = _MESSAGE_OPTIONS(m[7]) if 7 in m else {}
        desc.map_entry = bool(opts.get(7, False))
        desc.bristle_table = opts.get(50001)
        for fd_bytes in m.get(2, []):
            fd = _FIELD(fd_bytes)
            fopts = _FIELD_OPTIONS(fd[8]) if 8 in fd else {}
            desc.fields.append(
                FieldDesc(
                    name=fd.get(1, ""),
                    number=int(fd.get(3, 0)),
                    repeated=fd.get(4) == _LABEL_REPEATED,
                    type_code=int(fd.get(5, 0)),
                    type_name=fd.get(6),
                    json_name=fd.get(10),
                    column=fopts.get(50001),
                    ch_type=fopts.get(50002),
                )
            )
        self.messages[full_name] = desc
        for nested_bytes in m.get(3, []):
            self._add_message(nested_bytes, full_name)

    # ------------------------------------------------------- binding

    def _resolve(self, type_name: str) -> MessageDesc | None:
        return self.messages.get(type_name.lstrip("."))

    def field_spec(self, message: MessageDesc, fd: FieldDesc) -> FieldSpec:
        """FieldDescriptorProto -> engine FieldSpec, with the reference's
        embedded-message rules (clickhouse_table.go:183-226): maps expand
        to Nested key/value, google.protobuf.Timestamp is the only other
        embedded message allowed."""
        if fd.type_code == _TYPE_MESSAGE:
            target = fd.type_name or ""
            if target.lstrip(".") == TIMESTAMP_FULL_NAME:
                kind, repeated = "timestamp", False
            else:
                entry = self._resolve(target)
                if entry is not None and entry.map_entry:
                    kinds = {f.number: _TYPE_TO_KIND.get(f.type_code) for f in entry.fields}
                    kind, repeated = f"map:{kinds.get(1)}:{kinds.get(2)}", False
                else:
                    raise ValueError(
                        f"{message.full_name}.{fd.name}: cannot handle arbitrary "
                        f"embedded message of type {target!r}"
                    )
        else:
            kind = _TYPE_TO_KIND.get(fd.type_code)
            if kind is None:
                raise ValueError(
                    f"{message.full_name}.{fd.name}: unsupported field type "
                    f"{fd.type_code}"
                )
            repeated = fd.repeated
        return FieldSpec(
            number=fd.number,
            name=fd.name,
            kind=kind,
            repeated=repeated,
            column=fd.column,
            json_name=fd.json_name,
        )


def parse_full_table_name(full: str) -> str:
    """Reference ParseFullTableName (clickhouse_cluster.go:51-58):
    must be exactly ``database.table``."""
    if len(full.split(".", 1)) != 2 or "." not in full:
        raise ValueError(f"ParseFullTableName failed, wrong number of seperators: {full}")
    return full


def autobind(
    pool: DescriptorPool,
    tables: dict[str, list[SinkColumn]],
    registry: BindingRegistry | None = None,
) -> BindingRegistry:
    """BindFromProtos analog (message_binding_registry.go:38-70): every
    pool message carrying ``bristle_table`` binds to the sink table of
    that name; messages without the option are skipped; a missing table
    is a hard error; the first binding of a table wins (register())."""
    registry = registry or BindingRegistry()
    for full_name, desc in pool.messages.items():
        if desc.bristle_table is None:
            continue
        table_name = parse_full_table_name(desc.bristle_table)
        columns = tables.get(table_name)
        if columns is None:
            raise ValueError(
                f"failed to find table {table_name} for message {full_name}"
            )
        binding = MessageBinding(
            message_name=full_name,
            fields=[pool.field_spec(desc, fd) for fd in desc.fields],
            sink_table=table_name,
            sink_columns=columns,
        )
        registry.register(binding)
    return registry


def registry_from_descriptor_set(
    data: bytes, tables: dict[str, list[SinkColumn]]
) -> BindingRegistry:
    pool = DescriptorPool()
    pool.add_descriptor_set(data)
    return autobind(pool, tables)
