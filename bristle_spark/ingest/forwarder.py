"""Live JSON→wire forwarder client (reference cmd/bristle-forward-json).

The reference binary reads JSON lines from stdin, ``protojson.Unmarshal``s
each into the registered dynamic message, and streams proto write batches
to the bristle server through the client library's batcher — flushing
every 5 s or at 100,000 buffered messages (reference
cmd/bristle-forward-json/main.go:25-46,153-157; the D14 client batcher).
Malformed lines are logged and skipped (main.go:34-38).

This module is that producer process for the TCP front door
(service.py): deliberately plain driver-side Python — it IS the client
binary, not a Spark job — emitting byte-identical wire bodies to what
``protojson.Unmarshal`` + ``proto.Marshal`` would put on the stream
(verified against the repo's own decode path in
test_forwarder.py::test_encoded_record_roundtrips). The file-based
Spark-side twin (json_source.py) remains the distributed path; this is
the network producer the reference ships alongside it.
"""

from __future__ import annotations

import base64
import json
import math
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from bristle_spark.ingest.bindings import FieldSpec, MessageBinding
from bristle_spark.ingest.service import FULL, IngestSocketClient, OK, RESULT_NAMES
from bristle_spark.ingest import wire

# reference client defaults (cmd/bristle-forward-json/main.go:153-157)
DEFAULT_MAX_BUFFER = 100_000
# frames per write_batch on the wire: the server rejects batches over
# its max_batch_len (10k default) with TOO_BIG, so the batcher SPLITS
# the buffer into bounded sends (the reference client batcher does the
# same) instead of shipping one buffer-sized batch
WRITE_BATCH_ROWS = 1_000
FULL_RETRIES = 1  # FULL is the protocol's retryable server-side failure

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _timestamp_parts(v: Any) -> tuple[int, int]:
    """protojson timestamp (RFC 3339 string, 'Z' or offset, optional
    fraction) → (seconds, nanos). Integer/float inputs are accepted as
    epoch seconds for convenience. Seconds FLOOR (not truncate) so
    nanos is always in [0, 1e9) — protobuf Timestamp's normalization —
    and pre-epoch fractional instants encode identically via either
    representation."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        secs = math.floor(v)
        nanos = int(round((v - secs) * 1e9))
        if nanos >= 1_000_000_000:  # fraction rounded up to a full second
            secs, nanos = secs + 1, 0
        return secs, nanos
    dt = datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    delta = dt - _EPOCH
    return delta.days * 86400 + delta.seconds, delta.microseconds * 1_000


def _coerce(kind: str, v: Any) -> Any:
    if kind in wire.INT_KINDS:
        return int(v)
    if kind == "bool":
        return bool(v)
    if kind in ("double", "float"):
        return float(v)
    if kind == "string":
        return str(v)
    if kind == "bytes":
        return base64.b64decode(v)  # protojson carries bytes as base64
    if kind == "timestamp":
        return _timestamp_parts(v)
    raise ValueError(f"unsupported kind for JSON forwarding: {kind}")


def encode_json_record(binding: MessageBinding, record: dict) -> bytes:
    """One protojson object → proto wire bytes per the binding's field
    specs (field-number order, like a generated Marshal). Absent / null
    fields are omitted — protojson's default-elision semantics; the
    decode path restores defaults (S1)."""
    fields: list[tuple[int, str, Any, bool]] = []
    for f in binding.fields:
        v = record.get(f.json_key, record.get(f.name))
        if v is None:
            continue
        if f.is_map:
            if not isinstance(v, dict):
                raise ValueError(f"field {f.json_key}: map value must be an object")
            _, kk, vk = f.kind.split(":")
            coerced: Any = {_coerce(kk, k): _coerce(vk, x) for k, x in v.items()}
            fields.append((f.number, f.kind, coerced, False))
        elif f.repeated:
            if not isinstance(v, (list, tuple)):
                # a bare string would be silently iterated char-by-char
                raise ValueError(f"field {f.json_key}: repeated value must be a list")
            fields.append((f.number, f.kind, [_coerce(f.kind, x) for x in v], True))
        else:
            fields.append((f.number, f.kind, _coerce(f.kind, v), False))
    return wire.encode_message(fields)


@dataclass
class ForwardStats:
    n_lines: int = 0
    n_sent: int = 0
    n_skipped: int = 0  # malformed JSON (reference logs & skips)
    n_batches: int = 0
    results: dict[str, int] = field(default_factory=dict)

    def record_result(self, result: int) -> None:
        name = RESULT_NAMES.get(result, str(result))
        self.results[name] = self.results.get(name, 0) + 1
        self.n_batches += 1


class JsonForwarder:
    """Client-side batcher (D14): buffer encoded bodies, flush as one
    write_batch per ``max_buffer`` messages (or on ``close``), block on
    each batch's ack — the reference forwarder's shape minus the wall-
    clock ticker (callers drive time; a real deployment wraps ``flush``
    in a 5 s timer exactly like main.go:153-157)."""

    def __init__(
        self,
        client: IngestSocketClient,
        binding: MessageBinding,
        max_buffer: int = DEFAULT_MAX_BUFFER,
        type_name: str | None = None,
    ) -> None:
        self.client = client
        self.binding = binding
        self.max_buffer = max_buffer
        # the server's registry may key by the descriptor's (unscoped)
        # name rather than the binding fixture's full name
        self.type_id = client.register_type(type_name or binding.message_name)
        self.stats = ForwardStats()
        self._buf: list[bytes] = []

    def feed(self, line: str) -> None:
        self.stats.n_lines += 1
        try:
            record = json.loads(line)
            if not isinstance(record, dict):
                raise ValueError("not an object")
            body = encode_json_record(self.binding, record)
        except (ValueError, KeyError, TypeError, AttributeError):
            self.stats.n_skipped += 1  # main.go:34-38: log-and-skip
            return
        self._buf.append(body)
        if len(self._buf) >= self.max_buffer:
            self.flush()

    def flush(self) -> int | None:
        """Send the buffer as bounded write batches (WRITE_BATCH_ROWS
        frames each — under any server's batch limit), retrying FULL
        acks once (the protocol's retryable server-side failure).
        Returns the worst result seen, or None for an empty buffer."""
        if not self._buf:
            return None
        worst: int | None = None
        for off in range(0, len(self._buf), WRITE_BATCH_ROWS):
            chunk = self._buf[off : off + WRITE_BATCH_ROWS]
            result = self.client.write_batch(chunk, type_id=self.type_id)
            for _ in range(FULL_RETRIES):
                if result != FULL:
                    break
                result = self.client.write_batch(chunk, type_id=self.type_id)
            self.stats.n_sent += len(chunk) if result == OK else 0
            self.stats.record_result(result)
            worst = result if worst is None else max(worst, result)
        self._buf = []
        return worst


def forward_json_lines(
    lines,
    host: str,
    port: int,
    binding: MessageBinding,
    max_buffer: int = DEFAULT_MAX_BUFFER,
    type_name: str | None = None,
) -> ForwardStats:
    """Forward an iterable of JSON lines to a live front door; returns
    the accounting. One connection, one registered type, acked batches."""
    with IngestSocketClient(host, port) as client:
        fw = JsonForwarder(client, binding, max_buffer=max_buffer, type_name=type_name)
        for line in lines:
            if line.strip():
                fw.feed(line)
        fw.flush()
    return fw.stats
