"""Avro binary encoding of LogLine records + Confluent wire framing.

Implemented from the public Avro 1.x binary spec (zigzag varints, length-
prefixed strings, block-encoded maps/arrays) — no avro library exists in
this environment. Layout matches the reference's writer:

- LogLine schema: /root/reference avro/logline.avsc:1-56 (embedded literal
  at avro/logline.go:41-106). Every top-level field is a [null, X] union
  with null default → union index varint precedes each value.
- Confluent framing: [0x00 magic][int32 BE schema id][avro body] —
  go-kafka-avro/avro_encoder_decoder.go:26 (magic), :62-78 (framing).

One deliberate divergence: map entries are written in sorted-key order.
The reference iterates a Go map (randomized order); any order is valid
Avro, and sorted keys make our bytes reproducible.
"""

from __future__ import annotations

import struct

CONFLUENT_MAGIC = b"\x00"


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def write_varint(n: int) -> bytes:
    """Unsigned LEB128 varint."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_long(n: int) -> bytes:
    """Avro long: zigzag + varint."""
    return write_varint(zigzag(n) & 0xFFFFFFFFFFFFFFFF)


def write_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return write_long(len(b)) + b


def write_map(m: dict) -> bytes:
    """Avro map<string,string>: one block in sorted-key order (see the
    module note), then the zero-count end marker."""
    body = b"".join(write_string(k) + write_string(m[k]) for k in sorted(m))
    return (write_long(len(m)) + body if m else b"") + write_long(0)


def encode_logline(rec: dict) -> bytes:
    """Avro-binary encode one LogLine dict.

    Keys (all optional / nullable): line str, source str, tag dict[str,str],
    logtypeid int, timings list[{eventName str, value int}].
    """
    out = bytearray()

    def union(value, writer) -> None:
        if value is None:
            out.extend(write_long(0))
        else:
            out.extend(write_long(1))
            writer(value)

    union(rec.get("line"), lambda v: out.extend(write_string(v)))
    union(rec.get("source"), lambda v: out.extend(write_string(v)))

    union(rec.get("tag"), lambda v: out.extend(write_map(v)))
    union(rec.get("logtypeid"), lambda v: out.extend(write_long(v)))

    def write_timings(timings: list) -> None:
        if timings:
            out.extend(write_long(len(timings)))
            for t in timings:
                out.extend(write_string(t["eventName"]))
                out.extend(write_long(t["value"]))
        out.extend(write_long(0))

    union(rec.get("timings"), write_timings)
    return bytes(out)


def confluent_frame(schema_id: int, body: bytes) -> bytes:
    """[magic 0x00][schema id int32 BE][avro body]."""
    return CONFLUENT_MAGIC + struct.pack(">I", schema_id) + body


def encode_logline_confluent(rec: dict, schema_id: int) -> bytes:
    return confluent_frame(schema_id, encode_logline(rec))
