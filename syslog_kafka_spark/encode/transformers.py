"""Message transformers: SyslogMessage rows → Kafka-sink projections.

Reference parity, one function per transformer:
- string_transform  = simpleTransformFunc (syslog/syslog_producer.go:209-211)
- avro_transform    = avroTransformer (syslog.go:146-161): LogLine{line,
  source, static tag map, optional logtypeid, timings=[{"received", ms}]},
  Confluent-framed Avro value.
- proto_transform   = protobufTransformer (syslog.go:163-182): proto
  LogLine with timings=[received_ms, sent_ms] (two bare longs,
  syslog.go:174) and repeated Tag pairs.

Both binary encoders are one Catalyst projection: a ``concat`` of literal
byte segments (everything fixed per query — framing, tags, logtypeid —
written once by avro_binary / proto_wire, which alone define the formats)
around the per-row parts, which are only strings and varints. Nothing
leaves the JVM, so whole-stage codegen covers the sink path. Output schema
is the Kafka sink row contract: key BINARY, value BINARY, topic STRING
[, partition INT].
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from syslog_kafka_spark.encode.avro_binary import (
    confluent_frame,
    write_long,
    write_map,
    write_string,
)
from syslog_kafka_spark.encode.proto_wire import _key, _varint_field, encode_tags
from syslog_kafka_spark.functions.hashes import fnv1a32_partition

_AVRO_NULL, _AVRO_SOME = write_long(0), write_long(1)  # [null, X] union index


def _signed64(u: int) -> int:
    """The bigint literal holding the 64 bits of ``u``."""
    return u - (1 << 64) if u >> 63 else u


# _uvarint packs a varint's first eight bytes into one bigint, all with
# their continuation bit set. Indexed by the bit length (1-64) of the
# value: the varint's length in hex digits, and the continuation bit to
# clear in that bigint (none when the varint is longer than eight bytes).
_CONTINUATION_BITS = _signed64(0x8080808080808080)
_VARINT_BYTES = [-(-bits // 7) for bits in range(1, 65)]
_HEX_DIGITS = [2 * n for n in _VARINT_BYTES]
_LAST_CONTINUATION_BIT = [_signed64(0x80 << (64 - 8 * n)) if n <= 8 else 0 for n in _VARINT_BYTES]


def _uvarint(v: Column) -> Column:
    """write_varint of a bigint read as 64 unsigned bits.

    The varint is printed as hex and unhexed. Bytes 1-8 are the 7-bit
    groups of ``v`` packed into one bigint with every continuation bit
    set, then the last byte's bit cleared; bytes 9-10 go into a second,
    small bigint. The varint's length and that last bit are looked up by
    the bit length of ``v``. The expression is kept small on purpose: the
    JIT leaves a generated method over 8 KB of bytecode interpreted,
    which made the encode several times slower."""
    v = v.cast("bigint")
    bit_length = F.length(F.bin(v))  # 1-64; 64 for negative v
    groups = [F.shiftleft(F.shiftrightunsigned(v, 7 * i).bitwiseAND(0x7F), 56 - 8 * i) for i in range(8)]
    head = reduce(Column.bitwiseOR, groups, F.lit(_CONTINUATION_BITS))
    head = head.bitwiseXOR(F.element_at(F.lit(_LAST_CONTINUATION_BIT), bit_length))
    # top = v >>> 63 is byte 10 and also byte 9's continuation bit (the JVM
    # takes shift counts mod 64, so byte 9 cannot test v >>> 70)
    top = F.shiftrightunsigned(v, 63)
    tail = F.shiftrightunsigned(v, 56).bitwiseAND(0x7F).bitwiseOR(F.shiftleft(top, 7))
    digits = F.concat(
        F.lpad(F.hex(head), 16, "0"), F.lpad(F.hex(F.shiftleft(tail, 8).bitwiseOR(top)), 4, "0")
    )
    return F.unhex(F.left(digits, F.element_at(F.lit(_HEX_DIGITS), bit_length)))


def _avro_long(n: Column) -> Column:
    """write_long: zigzag, then varint."""
    n = n.cast("bigint")
    return _uvarint(F.shiftleft(n, 1).bitwiseXOR(F.shiftright(n, 63)))


def _avro_opt_string(c: Column) -> Column:
    """A [null, string] union field."""
    return F.when(c.isNull(), F.lit(_AVRO_NULL)).otherwise(
        # the length is never negative, so its zigzag is 2 * length
        F.concat(F.lit(_AVRO_SOME), _uvarint(F.shiftleft(F.octet_length(c), 1)), c.cast("binary"))
    )


def _proto_string(field_no: int, c: Column) -> Column:
    """_len_delimited of a UTF-8 string column."""
    return F.concat(F.lit(_key(field_no, 2)), _uvarint(F.octet_length(c)), c.cast("binary"))


def _required(c: Column, name: str) -> Column:
    """``c``, failing the query on a null instead of letting concat turn
    the whole value null."""
    return F.when(c.isNull(), F.raise_error(F.lit(f"LogLine {name} is required"))).otherwise(c)


def _epoch_ms(ts: Column) -> Column:
    return _required(F.unix_millis(ts.cast("timestamp")), "received_ts")


def _kafka_rows(messages: DataFrame, topic: str, value: Column) -> DataFrame:
    return messages.select(
        F.lit(None).cast("binary").alias("key"),
        value.alias("value"),
        F.lit(topic).alias("topic"),
    )


def string_transform(messages: DataFrame, topic: str) -> DataFrame:
    """R5: value = raw line bytes (StringSerializer parity)."""
    return _kafka_rows(messages, topic, F.col("line").cast("binary"))


def avro_transform(
    messages: DataFrame,
    topic: str,
    schema_id: int,
    tags: dict[str, str] | None = None,
    logtypeid: int | None = None,
) -> DataFrame:
    """R6: Confluent-framed Avro LogLine values, byte-identical to
    encode_logline_confluent of the same record (``tags={}`` is an empty
    map, not a null one). A null line or source encodes as union 0; a null
    received_ts fails the query."""
    tag = _AVRO_NULL if tags is None else _AVRO_SOME + write_map(tags)
    ltid = _AVRO_NULL if logtypeid is None else _AVRO_SOME + write_long(logtypeid)
    # timings: union 1, one-item block of {"received", ms}, end marker
    timings_head = _AVRO_SOME + write_long(1) + write_string("received")
    value = F.concat(
        F.lit(confluent_frame(schema_id, b"")),
        _avro_opt_string(F.col("line")),
        _avro_opt_string(F.col("source")),
        F.lit(tag + ltid + timings_head),
        _avro_long(_epoch_ms(F.col("received_ts"))),
        F.lit(write_long(0)),
    )
    return _kafka_rows(messages, topic, value)


def proto_transform(
    messages: DataFrame,
    topic: str,
    tags: dict[str, str] | None = None,
    logtypeid: int | None = None,
) -> DataFrame:
    """R7: bare proto.Marshal LogLine values (no registry framing),
    byte-identical to encode_logline_proto with timings [received ms, sent
    ms], sent being the batch's current_timestamp. A null source omits
    field 2; a null line or received_ts fails the query."""
    fixed = encode_tags(tags) + (b"" if logtypeid is None else _varint_field(4, logtypeid))
    source = F.col("source")
    value = F.concat(
        _proto_string(1, _required(F.col("line"), "line")),
        F.when(source.isNull(), F.lit(b"")).otherwise(_proto_string(2, source)),
        F.lit(fixed + _key(5, 0)),
        _uvarint(_epoch_ms(F.col("received_ts"))),
        F.lit(_key(5, 0)),
        _uvarint(F.unix_millis(F.current_timestamp())),
    )
    return _kafka_rows(messages, topic, value)


def with_fnv1a_partition(records: DataFrame, key_col: str, num_partitions: int) -> DataFrame:
    """R11 parity: explicit partition column = abs(int32(fnv1a32(key))) % n
    so the Kafka sink routes exactly like the reference's HashPartitioner."""
    return records.withColumn("partition", fnv1a32_partition(key_col, num_partitions).cast("int"))


def with_random_partition(
    records: DataFrame, num_partitions: int, seed: int | None = None
) -> DataFrame:
    """R12 parity: RandomPartitioner (reference partitioner.go:46-55,
    rand.Int31n(len(partitions))) — a uniform random partition per record.
    ``seed`` pins the stream for deterministic tests; production use leaves
    it None (Spark picks a random seed per query, like the reference's
    time-seeded rand)."""
    if num_partitions <= 0:
        raise ValueError(f"num_partitions must be positive, got {num_partitions}")
    rnd = F.rand(seed) if seed is not None else F.rand()
    return records.withColumn(
        "partition", F.floor(rnd * num_partitions).cast("int")
    )


def kafka_writer_options(
    *,
    brokers: str,
    acks: int = 1,
    linger_ms: int = 1000,
    batch_size: int = 1000,
    acks_timeout_ms: int | None = None,
    compression: str | None = None,
) -> dict[str, str]:
    """The Kafka sink option map for the reference's producer knob set
    (kafka_producer.go:57-67: acks / timeout.ms / linger / batch.size /
    compression.type / bootstrap.servers). Split out from the writer so the
    contract can be asserted in tests without a broker."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "kafka.acks": str(acks),
        "kafka.linger.ms": str(linger_ms),
        "kafka.batch.size": str(batch_size),
    }
    if acks_timeout_ms is not None:
        # reference AckTimeoutMs / timeout.ms → producer request.timeout.ms
        opts["kafka.request.timeout.ms"] = str(acks_timeout_ms)
    if compression:
        opts["kafka.compression.type"] = compression
    return opts


def write_kafka_stream(
    records: DataFrame,
    *,
    brokers: str,
    checkpoint: str,
    acks: int = 1,
    linger_ms: int = 1000,
    batch_size: int = 1000,
    acks_timeout_ms: int | None = None,
    compression: str | None = None,
):
    """R14-R16 parity via the Kafka sink's own producer options: batching
    (batch.size), group-commit (linger.ms), ack level + timeout — the knobs
    the reference exposes as --required.acks / --acks.timeout. Returns the
    StreamingQuery.

    Not exercised against a live broker in tests (none in this
    environment); the projection feeding it is byte-golden-tested and the
    option map is contract-tested via kafka_writer_options."""
    writer = records.writeStream.format("kafka").option("checkpointLocation", checkpoint)
    for k, v in kafka_writer_options(
        brokers=brokers,
        acks=acks,
        linger_ms=linger_ms,
        batch_size=batch_size,
        acks_timeout_ms=acks_timeout_ms,
        compression=compression,
    ).items():
        writer = writer.option(k, v)
    return writer.start()
