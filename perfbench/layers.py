"""Layer block: each layer of the collector timed alone over the same seeded
lines, best of ``REPS`` passes, in lines per second.

- frame: ``spark.read.text`` of the lines into the ``noop`` sink
- transformers: string / Avro / proto transform of a cached frame into ``noop``
- syslog_parse: ``parsed_messages`` and ``sd_map_expr`` into ``noop``
- sink: the string-encoded frame written as parquet
- kernels: ``avro_binary.encode_logline_confluent`` and
  ``proto_wire.encode_logline_proto`` in plain Python, µs per line

Run alone, it prints the layer table of ROADMAP.md:

    python3 perfbench/layers.py --seed 1 --lines 204000
"""

from __future__ import annotations

import argparse
import os
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.getcwd())

from perfbench.gen import LineGen, dialect_shares  # noqa: E402

REPS = 3  # passes per layer; the fastest counts


def _best(fn, tracer, name: str) -> float:
    best = float("inf")
    for _ in range(REPS):
        t = time.perf_counter()
        with tracer.span(name):
            fn()
        best = min(best, time.perf_counter() - t)
    return best


def layer_block(spark, seed: int, n_lines: int, work: str, tracer) -> dict[str, float]:
    import pyspark.sql.functions as F

    from perfbench.workloads import LOGTYPEID, SCHEMA_ID, TAGS
    from syslog_kafka_spark.encode.avro_binary import encode_logline_confluent
    from syslog_kafka_spark.encode.proto_wire import encode_logline_proto
    from syslog_kafka_spark.encode.transformers import avro_transform, proto_transform, string_transform
    from syslog_kafka_spark.sources.syslog_parse import sd_map_expr
    from syslog_kafka_spark.streaming.pipeline import parsed_messages

    gen = LineGen(seed)
    lines = [gen.line(s, 0) for s in range(n_lines)]
    os.makedirs(work, exist_ok=True)
    text_path = os.path.join(work, "lines.txt")
    with open(text_path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    raw = spark.read.text(text_path).withColumnRenamed("value", "line")
    messages = raw.select(
        "line", F.lit("layer-host").alias("source"), F.current_timestamp().alias("received_ts")
    ).cache()
    if messages.count() != n_lines:
        raise RuntimeError("layer block: frame lost lines")
    avro = avro_transform(messages, "t", SCHEMA_ID, TAGS, LOGTYPEID)
    proto = proto_transform(messages, "t", TAGS, LOGTYPEID)
    string = string_transform(messages, "t")
    parquet_path = os.path.join(work, "sink.parquet")

    def lps(df_or_fn, name):
        fn = df_or_fn if callable(df_or_fn) else noop(df_or_fn)
        return n_lines / _best(fn, tracer, name)

    out = {
        "frame.text_lps": lps(raw, "frame.text"),
        "transformers.string_lps": lps(string, "transformers.string"),
        "transformers.avro_lps": lps(avro, "transformers.avro"),
        "transformers.proto_lps": lps(proto, "transformers.proto"),
        "syslog_parse.lps": lps(parsed_messages(messages), "syslog_parse.parse"),
        "syslog_parse.sd_lps": lps(messages.select(sd_map_expr("line").alias("sd")), "syslog_parse.sd"),
        "sink.parquet_lps": lps(
            lambda: string.write.mode("overwrite").parquet(parquet_path), "sink.parquet"
        ),
    }
    for name, df in (("avro", avro), ("proto", proto)):
        total = df.agg(F.sum(F.length("value"))).first()[0]
        out[f"transformers.{name}_bytes_per_line"] = total / n_lines
    parsed = parsed_messages(messages).agg(F.count("pri")).first()[0]
    out["syslog_parse.parsed_ratio"] = parsed / n_lines
    messages.unpersist()

    received = int(time.time() * 1000)
    avro_recs = [{"line": s, "source": "layer-host", "tag": TAGS, "logtypeid": LOGTYPEID,
                  "timings": [{"eventName": "received", "value": received}]} for s in lines]
    proto_recs = [{"line": s, "source": "layer-host", "tag": TAGS, "logtypeid": LOGTYPEID,
                   "timings": [received, received]} for s in lines]
    t = _best(lambda: [encode_logline_confluent(r, SCHEMA_ID) for r in avro_recs],
              tracer, "avro_binary.encode")
    out["avro_binary.encode_us_per_line"] = t / n_lines * 1e6
    t = _best(lambda: [encode_logline_proto(r) for r in proto_recs], tracer, "proto_wire.encode")
    out["proto_wire.encode_us_per_line"] = t / n_lines * 1e6
    return out


def main(argv: list[str] | None = None) -> int:
    from perfbench.run import prepare_env

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--lines", type=int, default=204000)
    args = p.parse_args(argv)
    work = prepare_env(f"layers-{args.seed}-{os.getpid()}")
    import shutil

    from perfbench.trace import Tracer
    from perfbench.workloads import CPUS
    from syslog_kafka_spark.session import get_spark

    spark = get_spark("perfbench-layers")
    try:
        res = layer_block(spark, args.seed, args.lines, work, Tracer(False))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"cpus: local[{CPUS}] on a {os.cpu_count()}-cpu host; {args.lines} lines, best of {REPS}")
    shares = dialect_shares(LineGen(args.seed), args.lines)
    print("dialect mix: " + ", ".join(f"{d} {v:.1%}" for d, v in shares.items()))
    print(f"{'layer':<40} {'value':>12}")
    for k, v in res.items():
        print(f"{k:<40} {v:>12.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
