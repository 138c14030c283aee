"""Minimal protobuf wire-format codec (public spec:
https://protobuf.dev/programming-guides/encoding/).

The reference decodes arbitrary protobuf messages at runtime from
descriptor sets (reference proto_registry.go:45-103, dynamicpb) and
splits varint-length-prefixed message frames off the stream
(reference ingest_service.go:152-177, protowire.ConsumeBytes). This
container ships neither python-protobuf nor the spark-protobuf JVM
connector, so the engine carries its own spec-driven codec:

- field specs (bindings.py) play the role of the descriptor set;
- ``compile_decoder`` and ``compile_column_decoder`` are the
  dynamicpb.Unmarshal analog: each generates, from a message's field
  specs, the source of one loop over the message's tags with every
  field's wire handling inlined, and compiles it once. A ``Decoder``
  returns ``{number: value}`` for one message: the envelope, descriptor,
  Timestamp and map-entry parsers. A ``ColumnDecoder`` fills the raw
  columns (``arrow_type``) of a whole batch of bodies and returns them
  as Arrow arrays, with an error per failed row;
  ``MessageBinding.column_decoder`` holds one per binding, run by the
  front door before its ack and by the batch path. ``decode_message``
  compiles and runs a ``Decoder`` in a single call;
- ``split_frames`` is the protowire.ConsumeBytes framing loop;
- ``encode_message`` exists for tests/fixtures (the client side,
  reference client/client.go:148-156).

Decoding follows protobuf-go on three points where a lax loop would not:

- a known field that arrives on a wire type its kind does not take is
  skipped as an unknown field (errUnknown -> ConsumeFieldValue), so
  ``08 05`` against a string field 1 decodes to ``{}``, not ``{1: 5}``;
- a field that runs past the end of the message -- a length-delimited
  payload (string, bytes, sub-message, packed run) longer than the
  bytes left, a skipped fixed-width field cut short -- raises
  (io.ErrUnexpectedEOF), so the front door acks DECODE_ERR;
- a varint past 2^64 (a tenth byte above 1) raises (errOverflow).

One point diverges on purpose: every integer raw column is int64, so
the column decoder fails a row whose uint32, uint64 or fixed64 value is
2^63 or more (bristle's sink column is UInt64; PARITY D4).

On a real deployment one would use Spark's `from_protobuf` (JVM,
vectorized) with the same descriptor files bristle loads; this module
keeps identical semantics in Arrow-batched Python (see pipeline.py and
service.process_batch).

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
        if shift == 63:  # the tenth byte may carry bit 63 alone
            b = buf[pos]
            if b > 1:
                raise ValueError("varint overflows 64 bits")
            return result | b << 63, pos + 1


def zigzag_encode(value: int) -> int:
    return (value << 1) ^ (value >> 63)


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


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
# A message's field specs {field_number: (kind, repeated)} compile to the
# Python source of one loop over its tags, with one ``tag == ...`` branch
# per (field, wire type) the field's kind accepts and that field's wire
# handling inlined in the branch; the source is compiled once. The
# per-kind wire rules live in ``_read``. The two targets differ only in
# where a decoded value goes (``_store``):
#
# - ``compile_decoder`` builds a ``Decoder``, ``decoder(buf) -> {number:
#   value}``: the envelopes, descriptors, Timestamp and map entries;
# - ``compile_column_decoder`` builds a ``ColumnDecoder``,
#   ``decoder(bodies) -> (arrays, errors)``: one Arrow array per field
#   (the raw schema, ``arrow_type``) and one (row, message) pair per body
#   that fails. Every value must fit its column, so an unsigned 64-bit
#   value of 2^63 or more fails its row, where a ``Decoder`` keeps it.
#
# A tag without a branch -- an unknown field, or a known field on a wire
# type its kind does not take -- is skipped as unknown, as protobuf-go
# does (errUnknown -> ConsumeFieldValue). Every length and fixed width is
# checked against the buffer: a truncated field raises (protowire's
# io.ErrUnexpectedEOF).

_TRUNCATED = "truncated field"
_INT64_RANGE = "value out of int64 range"
# struct codes of the fixed-width kinds (little-endian on the wire)
_FIXED_CODES = {
    "double": "d",
    "fixed64": "Q",
    "sfixed64": "q",
    "float": "f",
    "fixed32": "I",
    "sfixed32": "i",
}
# the raw column type of each scalar kind, as a pyarrow constructor name
_ARROW_TYPES = {
    **dict.fromkeys(INT_KINDS, "int64"),
    "bool": "bool_",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "bytes": "binary",
}
# a map entry without a key takes the key kind's zero value, as in
# protobuf-go: an Arrow map key cannot be null
_ZERO_KEYS = {**dict.fromkeys(INT_KINDS, 0), "bool": False, "string": ""}


def arrow_type(kind: str, repeated: bool = False):
    """The Arrow type of a field's raw column: the kind's type, a list of
    it when repeated, a map for ``map:<kk>:<vk>``, and
    struct<seconds, nanos> for google.protobuf.Timestamp."""
    import pyarrow as pa

    if kind.startswith("map:"):
        _, kk, vk = kind.split(":")
        return pa.map_(arrow_type(kk), arrow_type(vk))
    if kind == "timestamp":
        t = pa.struct([("seconds", pa.int64()), ("nanos", pa.int64())])
    else:
        t = getattr(pa, _ARROW_TYPES[kind])()
    return pa.list_(t) if repeated else t


def _skip(wire_type: int, buf: bytes, pos: int) -> int:
    """Move ``pos`` past one field value of ``wire_type`` (an unknown
    field, or a known one on a wire type its kind does not take)."""
    if wire_type == 0:
        _, pos = decode_varint(buf, pos)
        return pos
    if wire_type == 2:
        n, pos = decode_varint(buf, pos)
        end = pos + n
    elif wire_type == 1:
        end = pos + 8
    elif wire_type == 5:
        end = pos + 4
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    if end > len(buf):
        raise ValueError(_TRUNCATED)
    return end


def _timestamp(payload: bytes) -> tuple[int, int]:
    ts = _TIMESTAMP(payload)
    return ts.get(1, 0), ts.get(2, 0)


def _indent(lines: list[str], depth: int = 1) -> list[str]:
    return ["    " * depth + line for line in lines]


def _varint(var: str, kind: str, checked: bool) -> list[str]:
    """Read one varint at ``buf[pos]`` into ``var`` as a ``kind`` value."""
    return [
        f"{var} = buf[pos]",
        f"if {var} < 0x80:",
        "    pos += 1",
        "else:",
        f"    {var}, pos = decode_varint(buf, pos)",
        *_convert(var, kind, checked),
    ]


def _convert(var: str, kind: str, checked: bool) -> list[str]:
    """Turn the raw wire value in ``var`` into the ``kind`` value; with
    ``checked``, refuse one that does not fit a signed 64-bit column."""
    if kind in ZIGZAG_KINDS:
        return [f"{var} = ({var} >> 1) ^ -({var} & 1)"]
    if kind == "bool":
        return [f"{var} = {var} != 0"]
    if kind in {"int32", "int64", "enum"}:  # two's complement
        return [f"if {var} > INT64_MAX:", f"    {var} -= 0x10000000000000000"]
    if checked and kind in {"uint32", "uint64", "fixed64"}:
        return [f"if {var} > INT64_MAX:", "    raise ValueError(INT64_RANGE)"]
    return []


def _read(number: int, kind: str, wire_type: int, checked: bool) -> list[str]:
    """Read the value of field ``number`` arriving on ``wire_type`` at
    ``buf[pos]`` into ``v`` and move ``pos`` past it. A numeric kind on
    wire type 2 is a packed run, read into a list."""
    if wire_type == 0:
        return _varint("v", kind, checked)
    if wire_type != 2:
        code = _FIXED_CODES[kind]
        return [
            f"v = unpack_{code}(buf, pos)[0]",
            f"pos += {struct.calcsize(code)}",
            *_convert("v", kind, checked),
        ]
    lines = [
        "n = buf[pos]",
        "if n < 0x80:",
        "    pos += 1",
        "else:",
        "    n, pos = decode_varint(buf, pos)",
        "e = pos + n",
        "if e > end:",
        "    raise ValueError(TRUNCATED)",
    ]
    if kind == "string":
        lines.append("v = buf[pos:e].decode('utf-8')")
    elif kind == "bytes":
        lines.append("v = bytes(buf[pos:e])")
    elif kind == "timestamp":
        lines.append("v = timestamp(buf[pos:e])")
    elif kind.startswith("map:"):
        lines.append(f"v = entry_{number}(buf[pos:e])")
    elif kind in _FIXED_CODES:
        code = _FIXED_CODES[kind]
        width = struct.calcsize(code)
        lines += [
            f"if n % {width}:",
            "    raise ValueError(TRUNCATED)",
            f"v = list(unpack_from('<' + str(n // {width}) + '{code}', buf, pos))",
        ]
        if checked and kind == "fixed64":
            lines += ["if v and max(v) > INT64_MAX:", "    raise ValueError(INT64_RANGE)"]
    else:  # a packed varint run: its last varint must end at e
        lines += [
            "v = []",
            "while pos < e:",
            *_indent(_varint("x", kind, checked)),
            "    v.append(x)",
            "if pos != e:",
            "    raise ValueError(TRUNCATED)",
        ]
    return lines + ["pos = e"]


def _store(slot: str | None, number: int, kind: str, repeated: bool, packed: bool) -> list[str]:
    """Store ``v``: into ``out[number]`` when ``slot`` is None (a
    ``Decoder``), else into the row's local ``slot`` (a ``ColumnDecoder``)."""
    is_map = kind.startswith("map:")
    if slot is None:
        if is_map:
            return [f"out.setdefault({number}, {{}})[v.get(1)] = v.get(2)"]
        if repeated:
            method = "extend" if packed else "append"
            return [f"out.setdefault({number}, []).{method}(v)"]
        return [f"out[{number}] = v"]
    if is_map:
        return [f"if {slot} is None:", f"    {slot} = {{}}", f"{slot}[v.get(1, zero_{number})] = v.get(2)"]
    if repeated:
        first, method = ("v", "extend") if packed else ("[v]", "append")
        return [f"if {slot} is None:", f"    {slot} = {first}", "else:", f"    {slot}.{method}(v)"]
    return [f"{slot} = v"]


def _wire_types(kind: str, repeated: bool) -> list[int]:
    """The wire types a field of ``kind`` is read from."""
    if kind.startswith("map:") or kind in LEN_KINDS:
        return [2]
    if kind in VARINT_KINDS or kind in ZIGZAG_KINDS:
        scalar = 0
    elif kind in FIXED64_KINDS:
        scalar = 1
    elif kind in FIXED32_KINDS:
        scalar = 5
    else:
        raise ValueError(f"unsupported kind {kind}")
    return [scalar, 2] if repeated else [scalar]


def _tag_loop(specs: dict[int, tuple[str, bool]], columns: bool, checked: bool) -> list[str]:
    """The loop over one message's tags, for ``buf[pos:end]``."""
    lines = [
        "while pos < end:",
        "    tag = buf[pos]",
        "    if tag < 0x80:",
        "        pos += 1",
        "    else:",
        "        tag, pos = decode_varint(buf, pos)",
    ]
    keyword = "if"
    for i, (number, (kind, repeated)) in enumerate(specs.items()):
        slot = f"f{i}" if columns else None
        for wire_type in _wire_types(kind, repeated):
            packed = wire_type == 2 and kind in SCALAR_NUMERIC
            lines.append(f"    {keyword} tag == {number << 3 | wire_type}:")
            lines += _indent(
                _read(number, kind, wire_type, checked)
                + _store(slot, number, kind, repeated, packed),
                2,
            )
            keyword = "elif"
    if keyword == "if":
        return lines + ["    pos = skip(tag & 7, buf, pos)"]
    return lines + ["    else:", "        pos = skip(tag & 7, buf, pos)"]


def _compile(specs: dict[int, tuple[str, bool]], columns: bool, checked: bool):
    """Generate and compile one decode function (see the section notes)."""
    namespace: dict[str, Any] = {
        "decode_varint": decode_varint,
        "skip": _skip,
        "timestamp": _timestamp,
        "unpack_from": struct.unpack_from,
        "TRUNCATED": _TRUNCATED,
        "INT64_RANGE": _INT64_RANGE,
        "INT64_MAX": (1 << 63) - 1,
    }
    for code in set(_FIXED_CODES.values()):
        namespace[f"unpack_{code}"] = struct.Struct("<" + code).unpack_from
    for number, (kind, _repeated) in specs.items():
        if kind.startswith("map:"):
            _, kk, vk = kind.split(":")
            entry = {1: (kk, False), 2: (vk, False)}
            namespace[f"entry_{number}"] = _compile(entry, False, checked)
            namespace[f"zero_{number}"] = _ZERO_KEYS.get(kk)
    loop = _tag_loop(specs, columns, checked)
    if not columns:
        body = ["def decode(buf):", "    out = {}", "    pos = 0", "    end = len(buf)"]
        body += _indent(loop) + ["    return out"]
    else:
        import pyarrow as pa

        namespace["array"] = pa.array
        slots = [f"f{i}" for i in range(len(specs))]
        for i, (kind, repeated) in enumerate(specs.values()):
            namespace[f"type_{i}"] = arrow_type(kind, repeated)
        clear = [" = ".join(slots + ["None"])] if slots else []
        body = ["def decode(bodies):"]
        body += [f"    c{i} = []" for i in range(len(slots))]
        body += [f"    add_{i} = c{i}.append" for i in range(len(slots))]
        body += [
            "    errors = []",
            "    for row, buf in enumerate(bodies):",
            *_indent(clear, 2),
            "        try:",
            "            pos = 0",
            "            end = len(buf)",
            *_indent(loop, 3),
            "        except Exception as exc:",
            "            errors.append((row, str(exc)))",
            *_indent(clear, 3),
            *[f"        add_{i}({s})" for i, s in enumerate(slots)],
            "    return ["
            + ", ".join(f"array(c{i}, type=type_{i})" for i in range(len(slots)))
            + "], errors",
        ]
    exec(compile("\n".join(body) + "\n", "<wire decoder>", "exec"), namespace)
    return namespace["decode"]


class Decoder:
    """One compiled message decoder: ``decoder(buf) -> {number: value}``.

    Unknown fields are skipped (proto3 semantics). Repeated fields
    accumulate, packed or not. Map fields accumulate into a dict. Later
    occurrences of a singular field win (proto3 last-one-wins).

    Pickles as its field specs and recompiles on load: its function is
    generated code, which does not pickle, and a decoder rides in the
    closures Spark ships to executors."""

    __slots__ = ("specs", "_decode")
    _columns = False

    def __init__(self, specs: dict[int, tuple[str, bool]]) -> None:
        self.specs = specs
        self._decode = _compile(specs, columns=self._columns, checked=self._columns)

    def __reduce__(self):
        return type(self), (self.specs,)

    def __call__(self, arg):
        return self._decode(arg)


class ColumnDecoder(Decoder):
    """One compiled batch decoder: ``decoder(bodies) -> (arrays,
    errors)``, one Arrow array per field in spec order (a row that fails
    is null in every array) and a (row, message) pair per body that
    fails. A field absent from a body is null; map, repeated and
    last-one-wins rules are a ``Decoder``'s. Pickles as its specs."""

    __slots__ = ()
    _columns = True


def compile_decoder(field_specs: dict[int, tuple[str, bool]]) -> Decoder:
    """Compile {field_number: (kind, repeated)} into a Decoder; kind
    "map:<kk>:<vk>" is a map field."""
    return Decoder(dict(field_specs))


def compile_column_decoder(field_specs: dict[int, tuple[str, bool]]) -> ColumnDecoder:
    """Compile {field_number: (kind, repeated)} into a ColumnDecoder,
    whose columns follow the specs' order."""
    return ColumnDecoder(dict(field_specs))


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
