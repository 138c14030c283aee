"""Unit tests for the protobuf wire codec (pure Python, no Spark)."""

from __future__ import annotations

import random
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark import cloudpickle

from bristle_spark.ingest import pipeline, wire
from bristle_spark.ingest.fixtures import binance_binding, example_binding, finnhub_binding


@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
@settings(max_examples=200)
def test_varint_roundtrip(v):
    buf = wire.encode_varint(v)
    out, pos = wire.decode_varint(buf, 0)
    assert out == v and pos == len(buf)


def test_varint_past_64_bits_is_refused():
    """A tenth varint byte may carry bit 63 alone (protobuf-go's
    errOverflow); the column decoder fails the row that holds one."""
    assert wire.decode_varint(b"\xff" * 9 + b"\x01", 0) == ((1 << 64) - 1, 10)
    with pytest.raises(ValueError):
        wire.decode_varint(b"\xff" * 9 + b"\x02", 0)
    body = b"\x18" + b"\xff" * 9 + b"\x02"  # finnhub tradeTime (3, uint64)
    arrays, errors = finnhub_binding().column_decoder([body])
    assert [row for row, _ in errors] == [0]


@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
@settings(max_examples=200)
def test_zigzag_roundtrip(v):
    assert wire.zigzag_decode(wire.zigzag_encode(v)) == v


def _decode(body, specs):
    return wire.decode_message(body, specs)


def test_scalar_kinds_roundtrip():
    fields = [
        (1, "int64", -12345, False),
        (2, "uint64", (1 << 62) + 7, False),
        (3, "sint64", -99, False),
        (4, "bool", True, False),
        (5, "double", 3.25, False),
        (6, "float", 1.5, False),
        (7, "string", "héllo", False),
        (8, "bytes", b"\x00\x01\xff", False),
        (9, "fixed64", 1 << 40, False),
        (10, "sfixed32", -42, False),
        (11, "enum", 2, False),
    ]
    body = wire.encode_message(fields)
    specs = {n: (k, r) for n, k, _, r in fields}
    out = _decode(body, specs)
    for n, k, v, _ in fields:
        assert out[n] == v, (n, k, out[n], v)


def test_negative_int32_uses_ten_byte_varint():
    body = wire.encode_message([(1, "int32", -1, False)])
    out = _decode(body, {1: ("int32", False)})
    assert out[1] == -1


def test_packed_and_unpacked_repeated():
    body = wire.encode_message([(1, "int64", [1, 2, 300000], True)])
    out = _decode(body, {1: ("int64", True)})
    assert out[1] == [1, 2, 300000]
    # string repeated: tag per element
    body = wire.encode_message([(2, "string", ["a", "bb"], True)])
    out = _decode(body, {2: ("string", True)})
    assert out[2] == ["a", "bb"]


def test_map_field():
    body = wire.encode_message([(5, "map:string:string", {"b": "2", "a": "1"}, False)])
    out = _decode(body, {5: ("map:string:string", False)})
    assert out[5] == {"a": "1", "b": "2"}


def test_timestamp_field():
    body = wire.encode_message([(3, "timestamp", (1700000000, 500), False)])
    out = _decode(body, {3: ("timestamp", False)})
    assert out[3] == (1700000000, 500)


def test_unknown_fields_skipped():
    body = wire.encode_message(
        [(1, "string", "keep", False), (99, "double", 2.5, False), (98, "string", "drop", False)]
    )
    out = _decode(body, {1: ("string", False)})
    assert out == {1: "keep"}


def test_unset_fields_absent():
    body = wire.encode_message([(1, "string", None, False)])
    assert body == b""
    assert _decode(body, {1: ("string", False)}) == {}


def test_known_field_on_the_wrong_wire_type_is_skipped():
    """protobuf-go treats a known field on a wire type its kind does not
    take as an unknown field: skipped, not decoded as that kind."""
    specs = finnhub_binding().field_specs_by_number()
    assert _decode(b"\x08\x05", specs) == {}  # string field 1 as a varint
    assert _decode(b"\x09" + b"\x00" * 8, specs) == {}  # string field 1 as fixed64
    assert _decode(b"\x12\x01A", specs) == {}  # double field 2 as bytes
    # a packed run is only taken by a repeated numeric
    assert _decode(b"\x0a\x02\x01\x02", {1: ("int64", False)}) == {}
    assert _decode(b"\x0a\x02\x01\x02", {1: ("int64", True)}) == {1: [1, 2]}
    # later fields still decode
    assert _decode(b"\x08\x05" + b"\x0a\x04AAPL", specs) == {1: "AAPL"}


def test_truncated_length_delimited_field_raises():
    """A length prefix that runs past the end of the message is
    protowire's io.ErrUnexpectedEOF, whether the field is known, packed
    or skipped as unknown."""
    with pytest.raises(ValueError):
        _decode(b"\x0a\x05ab", {1: ("string", False)})
    packed = wire.encode_message([(1, "int64", [1, 2, 3], True)])
    with pytest.raises(ValueError):
        _decode(packed[:-1], {1: ("int64", True)})
    with pytest.raises(ValueError):
        _decode(b"\x0a\x05ab", {})
    with pytest.raises(ValueError):  # a skipped fixed64 cut short
        _decode(b"\x09\x00\x00", {})


def test_frame_split_roundtrip():
    frames = [b"alpha", b"", b"x" * 300]
    data = wire.join_frames(frames)
    assert wire.split_frames(data) == frames


# ---------------------------------------- round-10 envelope properties


@given(
    st.text(max_size=40),
    st.lists(
        st.tuples(
            st.text(min_size=1, max_size=30),
            st.lists(st.binary(max_size=60), max_size=6),
        ),
        max_size=5,
    ),
)
@settings(max_examples=60)
def test_write_batch_request_roundtrip_property(key, payloads):
    """Unary WriteBatchRequest (bristle.proto:22-25) survives encode →
    decode for arbitrary keys, type names, and body lists."""
    from bristle_spark.ingest import service as svc

    got_key, got = svc.decode_write_batch_request(
        svc.encode_write_batch_request(key, payloads)
    )
    assert got_key == key
    assert got == [(t, list(bs)) for t, bs in payloads]


@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.integers(min_value=0, max_value=(1 << 64) - 1),
)
@settings(max_examples=60)
def test_write_batch_response_roundtrip_property(ack, dropped):
    from bristle_spark.ingest import service as svc

    assert svc.decode_write_batch_response(
        svc.encode_write_batch_response(ack, dropped)
    ) == (ack, dropped)


@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.lists(st.text(min_size=1, max_size=30), max_size=6),
)
@settings(max_examples=60)
def test_backoff_roundtrip_property(until_ms, types):
    """Backoff advisory (bristle.proto:96-99) envelope roundtrip."""
    from bristle_spark.ingest import service as svc

    kind, body = svc.decode_server_message(svc.encode_backoff(until_ms, types))
    assert kind == "backoff"
    assert body == {"until": until_ms, "types": types}


# ------------------------------------------------- differential oracle
#
# The per-field interpretive loop the compiled decoder replaced, kept as
# the oracle, with protobuf-go's two rules applied to it: a known field
# on a wire type its kind does not take is skipped as unknown, and a
# field that runs past the end of the message raises.

_WIRE_TYPE = {
    **{k: 0 for k in wire.VARINT_KINDS | wire.ZIGZAG_KINDS},
    **{k: 1 for k in wire.FIXED64_KINDS},
    **{k: 5 for k in wire.FIXED32_KINDS},
    **{k: 2 for k in wire.LEN_KINDS},
}


def _oracle_value(kind, wire_type, buf, pos):
    if wire_type == 0:
        raw, pos = wire.decode_varint(buf, pos)
        if kind in wire.ZIGZAG_KINDS:
            return wire.zigzag_decode(raw), pos
        if kind == "bool":
            return bool(raw), pos
        if kind in {"int32", "int64", "enum"}:
            return raw - (1 << 64) if raw >= (1 << 63) else raw, pos
        return raw, pos
    if wire_type == 1:
        fmt = "<d" if kind == "double" else "<q" if kind == "sfixed64" else "<Q"
        return struct.unpack_from(fmt, buf, pos)[0], pos + 8
    if wire_type == 5:
        fmt = "<f" if kind == "float" else "<i" if kind == "sfixed32" else "<I"
        return struct.unpack_from(fmt, buf, pos)[0], pos + 4
    length, pos = wire.decode_varint(buf, pos)
    if pos + length > len(buf):
        raise ValueError("truncated")
    payload, pos = buf[pos : pos + length], pos + length
    if kind == "string":
        return payload.decode("utf-8"), pos
    if kind == "timestamp":
        ts = _oracle_decode(payload, {1: ("int64", False), 2: ("int64", False)})
        return (ts.get(1, 0), ts.get(2, 0)), pos
    return bytes(payload), pos


def _oracle_skip(wire_type, buf, pos):
    if wire_type == 0:
        return wire.decode_varint(buf, pos)[1]
    if wire_type == 2:
        length, pos = wire.decode_varint(buf, pos)
        end = pos + length
    elif wire_type in (1, 5):
        end = pos + (8 if wire_type == 1 else 4)
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    if end > len(buf):
        raise ValueError("truncated")
    return end


def _oracle_decode(buf, specs):
    out = {}
    pos = 0
    while pos < len(buf):
        tag, pos = wire.decode_varint(buf, pos)
        number, wire_type = tag >> 3, tag & 7
        spec = specs.get(number)
        if spec is not None:
            kind, repeated = spec
            packed = repeated and kind in wire.SCALAR_NUMERIC and wire_type == 2
            expected = 2 if kind.startswith("map:") else _WIRE_TYPE[kind]
            if wire_type != expected and not packed:
                spec = None
        if spec is None:
            pos = _oracle_skip(wire_type, buf, pos)
        elif kind.startswith("map:"):
            _, kk, vk = kind.split(":")
            payload, pos = _oracle_value("bytes", 2, buf, pos)
            entry = _oracle_decode(payload, {1: (kk, False), 2: (vk, False)})
            out.setdefault(number, {})[entry.get(1)] = entry.get(2)
        elif packed:
            payload, pos = _oracle_value("bytes", 2, buf, pos)
            values, p = [], 0
            while p < len(payload):
                v, p = _oracle_value(kind, _WIRE_TYPE[kind], payload, p)
                values.append(v)
            out.setdefault(number, []).extend(values)
        else:
            value, pos = _oracle_value(kind, wire_type, buf, pos)
            if repeated:
                out.setdefault(number, []).append(value)
            else:
                out[number] = value
    return out


_ALL_KINDS = sorted(wire.SCALAR_NUMERIC | wire.LEN_KINDS)
# every kind singular (fields 1..) and repeated (fields 21..), plus maps
_ALL_KINDS_SPECS = {
    **{i + 1: (k, False) for i, k in enumerate(_ALL_KINDS)},
    **{i + 21: (k, True) for i, k in enumerate(_ALL_KINDS)},
    40: ("map:string:string", False),
    41: ("map:int64:double", False),
    42: ("map:uint32:timestamp", False),
}


def _random_value(rng, kind):
    if kind == "string":
        return "".join(rng.choice("aZ09 é€") for _ in range(rng.randrange(6)))
    if kind == "bytes":
        return rng.randbytes(rng.randrange(6))
    if kind == "timestamp":
        return rng.randrange(1 << 34), rng.randrange(10**9)
    if kind == "bool":
        return rng.random() < 0.5
    if kind in ("double", "float"):
        return rng.choice([0.0, -1.5, 3.25, rng.uniform(-1e9, 1e9)])
    bits = 32 if "32" in kind else 64
    if kind.startswith(("int", "sint", "sfixed")) or kind == "enum":
        return rng.randrange(-(1 << (bits - 1)), 1 << (bits - 1))
    return rng.randrange(1 << bits)


def _random_body(rng, specs):
    fields = []
    for number, (kind, repeated) in specs.items():
        if rng.random() < 0.3:
            continue
        if kind.startswith("map:"):
            _, kk, vk = kind.split(":")
            value = {_random_value(rng, kk): _random_value(rng, vk) for _ in range(3)}
        elif repeated:
            value = [_random_value(rng, kind) for _ in range(rng.randrange(4))]
        else:
            value = _random_value(rng, kind)
        fields.append((number, kind, value, repeated))
        if repeated and kind in wire.SCALAR_NUMERIC and value and rng.random() < 0.3:
            # the same values unpacked: one tag per element
            fields += [(number, kind, v, False) for v in value]
    rng.shuffle(fields)
    body = wire.encode_message(fields)
    if rng.random() < 0.3:  # an unknown field
        kind = rng.choice(_ALL_KINDS)
        body += wire.encode_field(99, kind, _random_value(rng, kind))
    return body


def _mutate(rng, body):
    body = bytearray(body)
    for _ in range(rng.randrange(1, 4)):
        op = rng.randrange(3)
        if op == 0 and body:  # byte flip
            body[rng.randrange(len(body))] ^= 1 << rng.randrange(8)
        elif op == 1 and body:  # truncation
            del body[rng.randrange(len(body)) :]
        else:  # insertion
            at = rng.randrange(len(body) + 1)
            body[at:at] = rng.randbytes(rng.randrange(1, 4))
    return bytes(body)


def _outcome(decode, body):
    try:
        return repr(sorted(decode(body).items()))
    except Exception:
        return "error"


_SPEC_SETS = pytest.mark.parametrize(
    "specs",
    [
        example_binding().field_specs_by_number(),
        binance_binding().field_specs_by_number(),
        finnhub_binding().field_specs_by_number(),
        _ALL_KINDS_SPECS,
    ],
    ids=["example", "binance", "finnhub", "all_kinds"],
)


def _bodies(specs, seed=20261019):
    """Random bodies, each followed by a mutated copy (byte flips,
    truncations, insertions) and pure noise."""
    rng = random.Random(seed)
    bodies = []
    for _ in range(400):
        body = _random_body(rng, specs)
        bodies += [body, _mutate(rng, body), rng.randbytes(rng.randrange(12))]
    return bodies


@_SPEC_SETS
def test_compiled_decoder_agrees_with_interpretive_oracle(specs):
    """Random, mutated and pure noise bodies decode to the same value, or
    fail alike, under the compiled decoder and the interpretive oracle;
    and the column decoder fills each body's row with the oracle's
    values, or fails it where the oracle fails or a value does not fit
    its int64 column."""
    bodies = _bodies(specs)
    decode = wire.compile_decoder(specs)
    outcomes = [_outcome(decode, b) for b in bodies]
    assert outcomes == [_outcome(lambda b: _oracle_decode(b, specs), b) for b in bodies]
    # every unmutated body decodes; mutation and noise reach the errors
    assert "error" not in outcomes[0::3] and "error" in outcomes

    arrays, errors = wire.compile_column_decoder(specs)(bodies)
    failed = dict(errors)
    assert all(len(a) == len(bodies) for a in arrays)
    for row, body in enumerate(bodies):
        expected = _oracle_row(body, specs)
        got = None if row in failed else [a[row].as_py() for a in arrays]
        assert got == expected, (row, body)
        if row in failed:
            assert all(not a[row].is_valid for a in arrays)
    # the uint64 and fixed64 fields of the random bodies overflow int64
    # about half the time
    if any(k in ("uint64", "fixed64") for k, _ in specs.values()):
        assert any("int64" in message for message in failed.values())


_INT64 = range(-(1 << 63), 1 << 63)


def _oracle_row(body, specs):
    """The oracle's decode as a raw-column row: None where the body
    fails, or where an integer does not fit int64. A map reads back as
    (key, value) pairs, its missing keys as the key kind's zero value."""
    try:
        out = _oracle_decode(body, specs)
    except Exception:
        return None

    def cell(kind, value):
        if isinstance(value, tuple):  # Timestamp
            return {"seconds": value[0], "nanos": value[1]}
        if isinstance(value, int) and not isinstance(value, bool) and value not in _INT64:
            raise OverflowError
        if kind == "float":  # float32 column
            return struct.unpack("<f", struct.pack("<f", value))[0]
        return value

    row = []
    try:
        for number, (kind, repeated) in specs.items():
            value = out.get(number)
            if value is None:
                row.append(None)
            elif kind.startswith("map:"):
                _, kk, vk = kind.split(":")
                zero = {"string": ""}.get(kk, 0)
                row.append(
                    [(zero if k is None else cell(kk, k), cell(vk, v)) for k, v in value.items()]
                )
            elif repeated:
                row.append([cell(kind, v) for v in value])
            else:
                row.append(cell(kind, value))
    except OverflowError:
        return None
    return row


class _Payloads:
    """Stands in for the payload DataFrame: keeps the function that
    pipeline.decode hands to mapInArrow."""

    columns = ["body"]

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):  # noqa: N802
        self.fn = fn
        return self


def test_drain_decode_closure_survives_cloudpickle():
    """pipeline.decode ships its mapInArrow function, and the column
    decoder it closes over, to executors through cloudpickle; the
    decoder's generated code does not pickle, so it must travel as its
    specs and recompile there."""
    binding = finnhub_binding()
    body = wire.encode_message(
        [(1, "string", "AAPL", False), (2, "double", 1.5, False), (5, "string", ["1"], True)]
    )
    arrays, errors = binding.column_decoder([body])  # compiled before shipping
    assert errors == [] and arrays[0].to_pylist() == ["AAPL"]
    fn = cloudpickle.loads(cloudpickle.dumps(pipeline.decode(_Payloads(), binding).fn))
    batch = pa.RecordBatch.from_arrays([pa.array([body, b"\x0a\x05ab"], pa.binary())], ["body"])
    (out,) = fn(iter([batch]))
    assert out.column("symbol").to_pylist() == ["AAPL", None]
    assert out.column("price").to_pylist()[0] == 1.5
    assert out.column("tradeConditions").to_pylist()[0] == ["1"]
    assert [e is None for e in out.column(pipeline.ERROR_COL).to_pylist()] == [True, False]


@pytest.mark.parametrize(
    "binding", [example_binding(), binance_binding(), finnhub_binding()],
    ids=["example", "binance", "finnhub"],
)
def test_every_body_acked_ok_lands_under_the_raw_schema(binding, tmp_path, spark):
    """"Acked OK" implies "drains": over seeded random and mutated bodies
    (the random uint64 values reach 2^63 and more about half the time),
    a body the front door acks OK lands a file whose raw columns hold the
    oracle's decode of it and read back under ``raw_schema``; every
    other body is refused with DECODE_ERR."""
    import types

    import pyarrow.parquet as pq

    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.bindings import BindingRegistry
    from bristle_spark.transcode import raw_schema

    registry = BindingRegistry()
    registry.register(binding)
    server = types.SimpleNamespace(registry=registry, data_root=str(tmp_path))
    specs = binding.field_specs_by_number()
    acked, refused = [], 0
    for i, body in enumerate(_bodies(specs, seed=20261020)[:300]):
        batch = {"id": i, "type_id": None, "type_name": binding.message_name,
                 "data": wire.join_frames([body])}
        result = svc.process_batch(server, {}, batch, 10)
        expected = _oracle_row(body, specs)
        assert result == (svc.DECODE_ERR if expected is None else svc.OK), body
        if expected is None:
            refused += 1
        else:
            acked.append(expected)
    assert acked and refused
    payload_dir = svc.landing_dir(str(tmp_path), binding.sink_table)
    names = binding.raw_arrow_schema.names
    landed = pq.read_table(payload_dir).select(names)
    assert landed.schema.equals(binding.raw_arrow_schema)
    got = [[row[n] for n in names] for row in landed.to_pylist()]
    assert sorted(map(repr, got)) == sorted(map(repr, acked))
    assert spark.read.schema(raw_schema(binding)).parquet(payload_dir).count() == len(acked)
