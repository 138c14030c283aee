"""Minimal protobuf wire-format codec (public spec:
https://protobuf.dev/programming-guides/encoding/).

The reference decodes arbitrary protobuf messages at runtime from
descriptor sets (reference proto_registry.go:45-103, dynamicpb) and
splits varint-length-prefixed message frames off the stream
(reference ingest_service.go:152-177, protowire.ConsumeBytes). This
container ships neither python-protobuf nor the spark-protobuf JVM
connector, so the engine carries its own spec-driven codec:

- field specs (bindings.py) play the role of the descriptor set;
- ``compile_decoder`` is the dynamicpb.Unmarshal analog: it compiles a
  message's field specs once into a ``Decoder``, a table keyed by the
  full tag (``number << 3 | wire type``) with one handler per wire type
  the field's kind accepts, and a single-byte fast path for tags and
  lengths. ``MessageBinding.decoder`` holds one per binding; the front
  door's ack validation, the drain's decode and the envelope and
  descriptor parsers all run it. ``decode_message`` compiles and runs
  one in a single call;
- ``split_frames`` is the protowire.ConsumeBytes framing loop;
- ``encode_message`` exists for tests/fixtures (the client side,
  reference client/client.go:148-156).

Decoding follows protobuf-go on two points where a lax loop would not:

- a known field that arrives on a wire type its kind does not take is
  skipped as an unknown field (errUnknown -> ConsumeFieldValue), so
  ``08 05`` against a string field 1 decodes to ``{}``, not ``{1: 5}``;
- a field that runs past the end of the message -- a length-delimited
  payload (string, bytes, sub-message, packed run) longer than the
  bytes left, a skipped fixed-width field cut short -- raises
  (io.ErrUnexpectedEOF), so the front door acks DECODE_ERR.

On a real deployment one would use Spark's `from_protobuf` (JVM,
vectorized) with the same descriptor files bristle loads; this module
keeps identical semantics in Arrow-batched Python (see pipeline.py).

Wire types: 0 varint, 1 64-bit, 2 length-delimited, 5 32-bit.
Repeated scalar numerics take both the packed (proto3 default) and the
unpacked encoding, and map<k,v> fields arrive as repeated (key=1,
value=2) sub-messages.
"""

from __future__ import annotations

import struct
from typing import Any

VARINT_KINDS = {"int32", "int64", "uint32", "uint64", "bool", "enum"}
ZIGZAG_KINDS = {"sint32", "sint64"}
FIXED64_KINDS = {"fixed64", "sfixed64", "double"}
FIXED32_KINDS = {"fixed32", "sfixed32", "float"}
LEN_KINDS = {"string", "bytes", "timestamp"}
SCALAR_NUMERIC = VARINT_KINDS | ZIGZAG_KINDS | FIXED64_KINDS | FIXED32_KINDS
INT_KINDS = SCALAR_NUMERIC - {"bool", "float", "double"}  # the eleven integer kinds


# ------------------------------------------------------------- varints


def encode_varint(value: int) -> bytes:
    if value < 0:  # negative int32/int64/enum: 10-byte two's complement
        value &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("malformed varint")


def zigzag_encode(value: int) -> int:
    return (value << 1) ^ (value >> 63)


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


def _to_signed64(value: int) -> int:
    return value - (1 << 64) if value >= (1 << 63) else value


# ------------------------------------------------------------- encoding


def _tag(number: int, wire_type: int) -> bytes:
    return encode_varint((number << 3) | wire_type)


def _encode_scalar(kind: str, value: Any) -> tuple[int, bytes]:
    """Return (wire_type, payload) for one scalar value."""
    if kind in VARINT_KINDS:
        return 0, encode_varint(int(value))
    if kind in ZIGZAG_KINDS:
        return 0, encode_varint(zigzag_encode(int(value)))
    if kind == "double":
        return 1, struct.pack("<d", float(value))
    if kind in FIXED64_KINDS:
        return 1, struct.pack("<q" if kind == "sfixed64" else "<Q", int(value))
    if kind == "float":
        return 5, struct.pack("<f", float(value))
    if kind in FIXED32_KINDS:
        return 5, struct.pack("<i" if kind == "sfixed32" else "<I", int(value))
    if kind == "string":
        payload = str(value).encode("utf-8")
        return 2, encode_varint(len(payload)) + payload
    if kind == "bytes":
        return 2, encode_varint(len(value)) + bytes(value)
    if kind == "timestamp":  # google.protobuf.Timestamp{seconds=1, nanos=2}
        seconds, nanos = value
        inner = b""
        if seconds:
            inner += _tag(1, 0) + encode_varint(int(seconds))
        if nanos:
            inner += _tag(2, 0) + encode_varint(int(nanos))
        return 2, encode_varint(len(inner)) + inner
    raise ValueError(f"unsupported kind {kind}")


def encode_field(number: int, kind: str, value: Any, repeated: bool = False) -> bytes:
    """Encode one field. Repeated scalar numerics use packed encoding
    (proto3 default); repeated strings/bytes/messages repeat the tag."""
    if repeated:
        if kind in SCALAR_NUMERIC:
            payload = b"".join(_encode_scalar(kind, v)[1] for v in value)
            return _tag(number, 2) + encode_varint(len(payload)) + payload
        return b"".join(encode_field(number, kind, v) for v in value)
    wire_type, payload = _encode_scalar(kind, value)
    return _tag(number, wire_type) + payload


def encode_map_field(number: int, key_kind: str, value_kind: str, mapping: dict) -> bytes:
    out = bytearray()
    for k, v in mapping.items():
        entry = encode_field(1, key_kind, k) + encode_field(2, value_kind, v)
        out += _tag(number, 2) + encode_varint(len(entry)) + entry
    return bytes(out)


def encode_message(fields: list[tuple[int, str, Any, bool]]) -> bytes:
    """Encode a message from (number, kind, value, repeated) tuples.
    kind "map:<kk>:<vk>" encodes a map field; None values are skipped
    (proto3 unset)."""
    out = bytearray()
    for number, kind, value, repeated in fields:
        if value is None:
            continue
        if kind.startswith("map:"):
            _, kk, vk = kind.split(":")
            out += encode_map_field(number, kk, vk, value)
        else:
            out += encode_field(number, kind, value, repeated)
    return bytes(out)


# ------------------------------------------------------------- decoding
#
# compile_decoder() turns {field_number: (kind, repeated)} into a table
# keyed by the full tag (number << 3 | wire type). Each entry is a
# handler ``handler(buf, pos, out) -> pos`` for one wire type the
# field's kind accepts; a repeated numeric field has two, packed and
# unpacked. A tag the table lacks -- an unknown field, or a known field
# on a wire type its kind does not take -- is skipped as unknown, as
# protobuf-go does (errUnknown -> ConsumeFieldValue). Every length and
# fixed width is checked against the buffer: a truncated field raises
# (protowire's io.ErrUnexpectedEOF).

_TRUNCATED = "truncated field"
# struct codes of the fixed-width kinds (little-endian on the wire)
_FIXED_CODES = {
    "double": "d",
    "fixed64": "Q",
    "sfixed64": "q",
    "float": "f",
    "fixed32": "I",
    "sfixed32": "i",
}


def _bounds(buf: bytes, pos: int) -> tuple[int, int]:
    """(start, end) of the length-delimited payload whose length prefix
    is at ``pos``."""
    n = buf[pos]
    if n < 0x80:
        pos += 1
    else:
        n, pos = decode_varint(buf, pos)
    end = pos + n
    if end > len(buf):
        raise ValueError(_TRUNCATED)
    return pos, end


def _skip(wire_type: int, buf: bytes, pos: int) -> int:
    if wire_type == 0:
        _, pos = decode_varint(buf, pos)
        return pos
    if wire_type == 2:
        return _bounds(buf, pos)[1]
    if wire_type == 1:
        end = pos + 8
    elif wire_type == 5:
        end = pos + 4
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    if end > len(buf):
        raise ValueError(_TRUNCATED)
    return end


def _varint_conv(kind: str):
    """The value a varint of ``kind`` decodes to, from its raw
    unsigned value; None keeps it raw (uint32/uint64)."""
    if kind in ZIGZAG_KINDS:
        return zigzag_decode
    if kind == "bool":
        return bool
    if kind in {"int32", "int64", "enum"}:
        return _to_signed64
    return None


def _varint(number: int, conv, repeated: bool):
    def handler(buf, pos, out):
        v = buf[pos]
        if v < 0x80:
            pos += 1
        else:
            v, pos = decode_varint(buf, pos)
        if conv is not None:
            v = conv(v)
        if repeated:
            out.setdefault(number, []).append(v)
        else:
            out[number] = v
        return pos

    return handler


def _fixed(number: int, code: str, repeated: bool):
    unpack = struct.Struct("<" + code).unpack_from
    width = struct.calcsize(code)

    def handler(buf, pos, out):
        v = unpack(buf, pos)[0]
        if repeated:
            out.setdefault(number, []).append(v)
        else:
            out[number] = v
        return pos + width

    return handler


def _string(number: int, repeated: bool):
    def handler(buf, pos, out):
        n = buf[pos]
        if n < 0x80:
            pos += 1
        else:
            n, pos = decode_varint(buf, pos)
        end = pos + n
        if end > len(buf):
            raise ValueError(_TRUNCATED)
        if repeated:
            out.setdefault(number, []).append(buf[pos:end].decode("utf-8"))
        else:
            out[number] = buf[pos:end].decode("utf-8")
        return end

    return handler


def _delimited(number: int, convert, repeated: bool):
    """bytes and google.protobuf.Timestamp: ``convert(payload)``."""

    def handler(buf, pos, out):
        start, end = _bounds(buf, pos)
        v = convert(buf[start:end])
        if repeated:
            out.setdefault(number, []).append(v)
        else:
            out[number] = v
        return end

    return handler


def _packed(number: int, kind: str):
    """A packed repeated numeric: the payload's values extend the list
    the unpacked handler appends to."""
    if kind in _FIXED_CODES:
        code = _FIXED_CODES[kind]
        width = struct.calcsize(code)

        def unpack(payload):
            if len(payload) % width:
                raise ValueError(_TRUNCATED)
            return struct.unpack(f"<{len(payload) // width}{code}", payload)

    else:
        conv = _varint_conv(kind)

        def unpack(payload):
            values = []
            pos = 0
            while pos < len(payload):
                v, pos = decode_varint(payload, pos)
                values.append(v if conv is None else conv(v))
            return values

    def handler(buf, pos, out):
        start, end = _bounds(buf, pos)
        out.setdefault(number, []).extend(unpack(buf[start:end]))
        return end

    return handler


def _map(number: int, entry: Decoder):
    """map<k,v>: repeated (key=1, value=2) entries into one dict; an
    entry without a key or value contributes None for it."""

    def handler(buf, pos, out):
        start, end = _bounds(buf, pos)
        e = entry(buf[start:end])
        out.setdefault(number, {})[e.get(1)] = e.get(2)
        return end

    return handler


def _timestamp(payload: bytes) -> tuple[int, int]:
    ts = _TIMESTAMP(payload)
    return ts.get(1, 0), ts.get(2, 0)


def _handlers(number: int, kind: str, repeated: bool) -> dict[int, Any]:
    """{wire type: handler} for one field."""
    if kind.startswith("map:"):
        _, kk, vk = kind.split(":")
        return {2: _map(number, compile_decoder({1: (kk, False), 2: (vk, False)}))}
    if kind == "string":
        return {2: _string(number, repeated)}
    if kind == "bytes":
        return {2: _delimited(number, bytes, repeated)}
    if kind == "timestamp":
        return {2: _delimited(number, _timestamp, repeated)}
    if kind in VARINT_KINDS or kind in ZIGZAG_KINDS:
        handlers = {0: _varint(number, _varint_conv(kind), repeated)}
    elif kind in _FIXED_CODES:
        wire_type = 1 if kind in FIXED64_KINDS else 5
        handlers = {wire_type: _fixed(number, _FIXED_CODES[kind], repeated)}
    else:
        raise ValueError(f"unsupported kind {kind}")
    if repeated:
        handlers[2] = _packed(number, kind)
    return handlers


class Decoder:
    """One compiled message decoder: ``decoder(buf) -> {number: value}``.

    Unknown fields are skipped (proto3 semantics). Repeated fields
    accumulate, packed or not. Map fields accumulate into a dict. Later
    occurrences of a singular field win (proto3 last-one-wins).

    Pickles as its field specs and recompiles on load: its handlers
    hold ``struct.Struct`` unpackers, which do not pickle, and a
    decoder rides in the closures Spark ships to executors."""

    __slots__ = ("specs", "_table")

    def __init__(self, specs: dict[int, tuple[str, bool]], table: dict[int, Any]) -> None:
        self.specs = specs
        self._table = table

    def __reduce__(self):
        return compile_decoder, (self.specs,)

    def __call__(self, buf: bytes) -> dict[int, Any]:
        table = self._table
        out: dict[int, Any] = {}
        pos = 0
        end = len(buf)
        while pos < end:
            tag = buf[pos]
            if tag < 0x80:
                pos += 1
            else:
                tag, pos = decode_varint(buf, pos)
            handler = table.get(tag)
            if handler is None:
                pos = _skip(tag & 7, buf, pos)
            else:
                pos = handler(buf, pos, out)
        return out


def compile_decoder(field_specs: dict[int, tuple[str, bool]]) -> Decoder:
    """Compile {field_number: (kind, repeated)} into a Decoder; kind
    "map:<kk>:<vk>" is a map field."""
    specs = dict(field_specs)
    table = {}
    for number, (kind, repeated) in specs.items():
        for wire_type, handler in _handlers(number, kind, repeated).items():
            table[number << 3 | wire_type] = handler
    return Decoder(specs, table)


# google.protobuf.Timestamp{seconds=1, nanos=2}
_TIMESTAMP = compile_decoder({1: ("int64", False), 2: ("int64", False)})


def decode_message(buf: bytes, field_specs: dict[int, tuple[str, bool]]) -> dict[int, Any]:
    """Decode one message; callers that decode many hold a compiled
    decoder instead."""
    return compile_decoder(field_specs)(buf)


# ------------------------------------------------------------- framing


def split_frames(data: bytes) -> list[bytes]:
    """Split a varint-length-prefixed concatenation of messages — the
    reference's stream batch framing (ingest_service.go:152-177;
    client-side framing client/client.go:148-156)."""
    frames = []
    pos = 0
    while pos < len(data):
        length, pos = decode_varint(data, pos)
        frames.append(bytes(data[pos : pos + length]))
        pos += length
    return frames


def join_frames(frames: list[bytes]) -> bytes:
    return b"".join(encode_varint(len(f)) + f for f in frames)
