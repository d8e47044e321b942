"""Byte-golden tests for the Avro/Confluent and Protobuf wire encodings
(mirrors the reference's golden-byte test style, SURVEY §5).

Goldens below are hand-derived from the public specs:
- Avro: zigzag varints; [null,X] union index precedes each field; maps and
  arrays are block-encoded (count, items, 0 terminator).
- Proto2: key = (field_no << 3) | wire_type; strings length-delimited;
  repeated int64 unpacked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import SparkRuntimeException

from syslog_kafka_spark.encode.avro_binary import (
    confluent_frame,
    encode_logline,
    encode_logline_confluent,
    write_long,
    write_string,
    write_varint,
    zigzag,
)
from syslog_kafka_spark.encode.proto_wire import encode_logline_proto
from syslog_kafka_spark.encode.registry import SchemaRegistryClient
from syslog_kafka_spark.model import LOGLINE_AVSC


def test_varint_and_zigzag_spec_vectors():
    # Avro/protobuf spec examples
    assert write_varint(0) == b"\x00"
    assert write_varint(127) == b"\x7f"
    assert write_varint(128) == b"\x80\x01"
    assert write_varint(300) == b"\xac\x02"
    assert zigzag(0) == 0
    assert zigzag(-1) == 1
    assert zigzag(1) == 2
    assert zigzag(-2) == 3
    assert write_long(1) == b"\x02"
    assert write_long(-1) == b"\x01"
    assert write_long(64) == b"\x80\x01"


def test_avro_line_only_golden():
    # line="hello", all other fields null:
    # union 1 (0x02), len 5 (0x0a), "hello", then 4x null-union (0x00)
    assert encode_logline({"line": "hello"}) == b"\x02\x0ahello\x00\x00\x00\x00"


def test_avro_all_null_golden():
    assert encode_logline({}) == b"\x00" * 5


def test_avro_full_record_golden():
    rec = {
        "line": "a",
        "source": "web01",
        "tag": {"dc": "ams"},
        "logtypeid": 3,
        "timings": [{"eventName": "received", "value": 1}],
    }
    expected = (
        b"\x02" + b"\x02a"  # line: union 1, len 1, 'a'
        + b"\x02" + b"\x0aweb01"  # source
        + b"\x02" + b"\x02" + b"\x04dc" + b"\x06ams" + b"\x00"  # tag map: 1 entry + end
        + b"\x02" + b"\x06"  # logtypeid: union 1, zigzag(3)=6
        + b"\x02" + b"\x02" + b"\x10received" + b"\x02" + b"\x00"  # timings: 1 item + end
    )
    assert encode_logline(rec) == expected


def test_confluent_framing_golden():
    # magic 0x00 + schema id 7 BE + body (go-kafka-avro framing)
    assert confluent_frame(7, b"\x02a") == b"\x00\x00\x00\x00\x07\x02a"
    assert encode_logline_confluent({"line": "a"}, 1)[:5] == b"\x00\x00\x00\x00\x01"


def test_proto_line_only_golden():
    # field 1 (key 0x0a), len 5, "hello"
    assert encode_logline_proto({"line": "hello"}) == b"\x0a\x05hello"


def test_proto_full_record_golden():
    rec = {
        "line": "a",
        "source": "s",
        "tag": {"k": "v"},
        "logtypeid": 7,
        "timings": [1, 300],
    }
    expected = (
        b"\x0a\x01a"  # line
        + b"\x12\x01s"  # source
        + b"\x1a\x06" + b"\x0a\x01k" + b"\x12\x01v"  # tag message
        + b"\x20\x07"  # logtypeid varint
        + b"\x28\x01" + b"\x28\xac\x02"  # timings unpacked
    )
    assert encode_logline_proto(rec) == expected


def test_proto_requires_line():
    with pytest.raises(ValueError):
        encode_logline_proto({"source": "x"})


def test_registry_client_caches_and_uses_value_subject():
    calls = []

    def fake_http(method, url, payload):
        calls.append((method, url))
        if method == "POST":
            return {"id": 42}
        return {"schema": "{}"}

    client = SchemaRegistryClient("http://registry:8081/", http=fake_http)
    sid = client.register(LOGLINE_AVSC["name"], LOGLINE_AVSC)
    assert sid == 42
    assert client.register(LOGLINE_AVSC["name"], LOGLINE_AVSC) == 42  # cached
    assert len([c for c in calls if c[0] == "POST"]) == 1
    # Reference parity: subject = schema name + "-value" → "logLine-value"
    # (avro_encoder_decoder.go:56, avro/logline.go:43-44).
    assert calls[0][1] == "http://registry:8081/subjects/logLine-value/versions"


def test_logline_avsc_matches_reference_naming():
    # avro/logline.go:41-45 embeds namespace "avro", name "logLine".
    assert LOGLINE_AVSC["namespace"] == "avro"
    assert LOGLINE_AVSC["name"] == "logLine"


def test_transformers_end_to_end(spark):
    from syslog_kafka_spark.encode.transformers import (
        avro_transform,
        proto_transform,
        string_transform,
        with_fnv1a_partition,
    )

    msgs = spark.createDataFrame(
        [("GET / 200", "collector01", "2024-01-01 00:00:00")],
        ["line", "source", "received_ts"],
    ).withColumn("received_ts", F.col("received_ts").cast("timestamp"))

    srow = string_transform(msgs, "logs").collect()[0]
    assert srow.value == b"GET / 200"
    assert srow.topic == "logs"

    arow = avro_transform(msgs, "logs", schema_id=5, tags={"dc": "ams"}, logtypeid=9).collect()[0]
    assert arow.value[:5] == b"\x00\x00\x00\x00\x05"
    # decode enough to confirm line round-trips: union 1 + len + bytes
    body = arow.value[5:]
    assert body[0] == 0x02 and body[1] == 2 * len(b"GET / 200")
    assert body[2 : 2 + 9] == b"GET / 200"

    prow = proto_transform(msgs, "logs", tags={"dc": "ams"}).collect()[0]
    assert prow.value.startswith(b"\x0a\x09GET / 200")
    # two timings fields (received, sent) present: field 5 key 0x28 twice
    assert prow.value.count(b"\x28") >= 2

    parted = with_fnv1a_partition(
        string_transform(msgs, "logs").withColumn("key", F.lit("GET / 200")), "key", 8
    ).collect()[0]
    import ctypes

    def fnv(s):
        h = 2166136261
        for b in s.encode():
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
        return abs(ctypes.c_int32(h).value) % 8

    assert parted.partition == fnv("GET / 200")


def test_decode_udfs_batch(spark):
    """Decode UDFs over a batch frame (the same expression the Kafka
    source applies to its value column)."""
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
    from syslog_kafka_spark.encode.proto_wire import encode_logline_proto
    from syslog_kafka_spark.sources.kafka_source import decode_confluent_udf, decode_proto_udf

    rec = {
        "line": "GET / 200",
        "source": "web01",
        "tag": {"dc": "ams"},
        "logtypeid": 3,
        "timings": [{"eventName": "received", "value": 123}],
    }
    avro_df = spark.createDataFrame(
        [(bytearray(encode_logline_confluent(rec, 9)),)], ["value"]
    )
    out = avro_df.select(decode_confluent_udf("value").alias("l")).select("l.*").collect()[0]
    assert out.schema_id == 9 and out.line == "GET / 200"
    assert out.tag == {"dc": "ams"} and out.timings[0].value == 123

    prec = {"line": "x", "source": None, "tag": None, "logtypeid": None, "timings": [1, 2]}
    proto_df = spark.createDataFrame([(bytearray(encode_logline_proto(prec)),)], ["value"])
    pout = proto_df.select(decode_proto_udf("value").alias("l")).select("l.*").collect()[0]
    assert pout.line == "x" and list(pout.timings) == [1, 2]


# Timestamps Spark can hold: 0001-01-01 .. 9999-12-31 23:59:59.999 UTC.
_MS_MIN, _MS_MAX = -62_135_596_800_000, 253_402_300_799_999
_text = st.text(alphabet=st.characters(exclude_categories=("Cs",)), max_size=40)
_long_line = st.builds(lambda ch, n: ch * n, st.sampled_from("aé語"), st.integers(16_400, 17_000))
_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.just(""), _text, _long_line),
        st.one_of(st.none(), st.just(""), _text),
        # 0, ±1, the 1-byte zigzag edge 63/64, negatives (10-byte proto
        # varints), year 1 and year 9999
        st.one_of(
            st.sampled_from([0, 1, -1, 63, 64, -64, -65, _MS_MIN, _MS_MAX]),
            st.integers(_MS_MIN, _MS_MAX),
        ),
    ),
    min_size=1,
    max_size=12,
)
_tags = st.one_of(
    st.none(), st.just({}), st.dictionaries(st.text(min_size=1, max_size=8), _text, min_size=1, max_size=4)
)
_logtypeid = st.one_of(
    st.none(), st.sampled_from([0, -1, -(2**63), 2**63 - 1]), st.integers(-(2**63), 2**63 - 1)
)


def _messages(spark, rows):
    return spark.createDataFrame(rows, "line string, source string, ms bigint").select(
        "line", "source", F.timestamp_millis("ms").alias("received_ts")
    )


def test_transforms_match_the_python_encoders(spark):
    """avro_transform / proto_transform bytes equal encode_logline_confluent
    / encode_logline_proto row for row. Proto is compared up to the 'sent'
    timing, which is the batch's current_timestamp."""
    from syslog_kafka_spark.encode.transformers import avro_transform, proto_transform

    edges = [
        (None, None, 0), ("", "", 1), ("é語\x00", "host", -1), ("a" * 16_400, "", 63),
        ("語" * 5_500, None, 64), ("x", "y", -65), ("x", "y", _MS_MIN), ("x", "y", _MS_MAX),
    ]

    @settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(rows=_rows, tags=_tags, logtypeid=_logtypeid, schema_id=st.integers(0, 2**31 - 1))
    @example(rows=edges, tags=None, logtypeid=None, schema_id=0)
    @example(rows=edges, tags={}, logtypeid=0, schema_id=1)
    @example(rows=edges, tags={"dc": "ams", "é": "", "a": "語"}, logtypeid=-(2**63), schema_id=2**31 - 1)
    def check(rows, tags, logtypeid, schema_id):
        msgs = _messages(spark, rows)
        got = avro_transform(msgs, "t", schema_id, tags, logtypeid).collect()
        for (line, source, ms), row in zip(rows, got, strict=True):
            rec = {"line": line, "source": source, "tag": tags, "logtypeid": logtypeid,
                   "timings": [{"eventName": "received", "value": ms}]}
            assert row.value == encode_logline_confluent(rec, schema_id), rec

        proto_rows = [r for r in rows if r[0] is not None]
        if not proto_rows:
            return
        got = proto_transform(_messages(spark, proto_rows), "t", tags, logtypeid).collect()
        for (line, source, ms), row in zip(proto_rows, got, strict=True):
            rec = {"line": line, "source": source, "tag": tags, "logtypeid": logtypeid, "timings": [ms]}
            want = encode_logline_proto(rec)
            assert row.value[: len(want)] == want, rec
            assert row.value[len(want)] == 0x28  # then field 5 again: the sent timing

    check()


@pytest.mark.parametrize("encoding", ["avro", "proto"])
def test_null_received_ts_fails_the_query(spark, encoding):
    from syslog_kafka_spark.encode.transformers import avro_transform, proto_transform

    msgs = spark.createDataFrame([("x", "s", None)], "line string, source string, received_ts timestamp")
    out = avro_transform(msgs, "t", 1) if encoding == "avro" else proto_transform(msgs, "t")
    with pytest.raises(SparkRuntimeException, match="received_ts is required"):
        out.collect()


def test_null_proto_line_fails_the_query(spark):
    from syslog_kafka_spark.encode.transformers import proto_transform

    with pytest.raises(SparkRuntimeException, match="line is required"):
        proto_transform(_messages(spark, [(None, "s", 0)]), "t").collect()


def test_null_avro_line_and_source_encode_as_union_0(spark):
    from syslog_kafka_spark.encode.transformers import avro_transform

    (row,) = avro_transform(_messages(spark, [(None, None, 1)]), "t", 7).collect()
    # header, line 0x00, source 0x00, tag 0x00, logtypeid 0x00, timings
    assert row.value == b"\x00\x00\x00\x00\x07" + b"\x00" * 4 + b"\x02\x02\x10received\x02\x00"


def test_transform_plans_have_no_python_eval(spark):
    """Both binary encoders stay one Catalyst projection: no Python UDF
    node may come back into their executed plans."""
    from syslog_kafka_spark.encode.transformers import avro_transform, proto_transform

    msgs = _messages(spark, [("x", "s", 0)])
    for out in (avro_transform(msgs, "t", 1, {"dc": "ams"}, 3), proto_transform(msgs, "t", {"dc": "ams"}, 3)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
