"""The output checker must reject corrupted, missing and repeated lines."""

from __future__ import annotations

from array import array

from perfbench.check import Checker, compare_rows
from perfbench.gen import LineGen, parse_token
from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent

TAGS = {"dc": "ams", "env": "prod"}


def _sent(n: int = 50):
    gen = LineGen(7)
    due = array("q", [1_700_000_000_000_000 + i for i in range(n)])
    return gen, due, [gen.line(s, due[s]) for s in range(n)]


def _avro(line: str) -> bytes:
    rec = {"line": line, "source": "h", "tag": TAGS, "logtypeid": 3,
           "timings": [{"eventName": "received", "value": 1_700_000_000_123}]}
    return encode_logline_confluent(rec, 1)


def test_generator_is_seeded_and_lines_carry_their_token():
    gen, due, lines = _sent()
    assert lines == _sent()[2]
    assert LineGen(8).line(0, 5) != gen.line(0, 5)
    assert [parse_token(line) for line in lines] == [(s, due[s]) for s in range(len(lines))]


def test_clean_delivery_passes():
    gen, due, lines = _sent()
    c = Checker(gen, due, len(lines), lossless=True)
    for line in lines:
        seq, received = c.avro_value(_avro(line), 1, "h", TAGS, 3)
        assert seq is not None and received == 1_700_000_000_123
    res = c.finish()
    assert res["errors"] == [] and res["failed"] == 0 and res["lost"] == 0


def test_flipped_byte_is_rejected():
    gen, due, lines = _sent()
    c = Checker(gen, due, len(lines), lossless=True)
    for i, line in enumerate(lines):
        value = bytearray(_avro(line))
        if i == 10:
            value[-20] ^= 0x01  # inside the line text
        c.avro_value(bytes(value), 1, "h", TAGS, 3)
    assert c.finish()["errors"]


def test_flipped_byte_in_string_value_is_rejected():
    gen, due, lines = _sent()
    c = Checker(gen, due, len(lines), lossless=False)
    for i, line in enumerate(lines):
        value = bytearray(line.encode())
        if i == 3:
            value[5] ^= 0x20
        c.string_value(bytes(value))
    assert c.finish()["errors"]


def test_missing_sequence_number_is_rejected_on_tcp_and_counted_on_udp():
    gen, due, lines = _sent()
    for lossless in (True, False):
        c = Checker(gen, due, len(lines), lossless=lossless)
        for line in lines[:20] + lines[21:]:
            c.string_value(line.encode())
        res = c.finish()
        assert res["lost"] == 1 and res["lost_ratio"] == 1 / len(lines)
        assert bool(res["errors"]) is lossless


def test_duplicate_is_rejected():
    gen, due, lines = _sent()
    for lossless in (True, False):
        c = Checker(gen, due, len(lines), lossless=lossless)
        for line in lines + lines[7:8]:
            c.string_value(line.encode())
        res = c.finish()
        assert res["dup"] == 1 and res["errors"] and res["failed"] == 1


def test_window_rows_must_match_the_oracle():
    want = [(0, "h", 3, 10), (60, "h", 3, 4)]
    assert compare_rows(list(reversed(want)), want, "w") == (0, [])
    n, msgs = compare_rows([(0, "h", 3, 10), (60, "h", 3, 5)], want, "w")
    assert n == 2 and msgs
