"""Protobuf (proto2) wire encoding of LogLine records.

Implemented from the public protobuf wire spec; matches what the
reference's generated Go code marshals (/root/reference
proto/logline.proto:3-16, used at syslog.go:163-182):

    message LogLine {
      required string line      = 1;
      optional string source    = 2;
      repeated Tag    tag       = 3;   // message Tag {required key=1; value=2}
      optional int64  logtypeid = 4;
      repeated int64  timings   = 5;   // unpacked (proto2 default)
    }

Field order ascending, repeated fields in element order, varints unsigned
LEB128 — byte-for-byte what proto.Marshal emits for these records (proto2
writes unpacked repeated scalars and ordered fields). No registry framing:
the reference sends bare proto bytes (syslog.go:176, ByteSerializer at
siesta-producer/kafka_producer.go:73-83).
"""

from __future__ import annotations

from syslog_kafka_spark.encode.avro_binary import write_varint


def _key(field_no: int, wire_type: int) -> bytes:
    return write_varint((field_no << 3) | wire_type)


def _len_delimited(field_no: int, payload: bytes) -> bytes:
    return _key(field_no, 2) + write_varint(len(payload)) + payload


def _varint_field(field_no: int, value: int) -> bytes:
    # int64: negative values are 10-byte two's-complement varints
    return _key(field_no, 0) + write_varint(value & 0xFFFFFFFFFFFFFFFF)


def encode_tag(key: str, value: str) -> bytes:
    return _len_delimited(1, key.encode()) + _len_delimited(2, value.encode())


def encode_tags(tag: dict | None) -> bytes:
    """Repeated field 3, one Tag message per entry in sorted-key order
    (Go map order is randomized — see avro_binary note)."""
    return b"".join(_len_delimited(3, encode_tag(k, tag[k])) for k in sorted(tag or {}))


def encode_logline_proto(rec: dict) -> bytes:
    """Proto2-encode one LogLine dict.

    Keys: line str (required), source str|None, tag dict[str,str]|None,
    logtypeid int|None, timings list[int]|None.
    """
    out = bytearray()
    line = rec.get("line")
    if line is None:
        raise ValueError("LogLine.line is required (proto/logline.proto:4)")
    out += _len_delimited(1, line.encode())
    if rec.get("source") is not None:
        out += _len_delimited(2, rec["source"].encode())
    out += encode_tags(rec.get("tag"))
    if rec.get("logtypeid") is not None:
        out += _varint_field(4, rec["logtypeid"])
    for t in rec.get("timings") or []:
        out += _varint_field(5, t)
    return bytes(out)
