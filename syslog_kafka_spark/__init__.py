"""syslog_kafka_spark — a PySpark-native log-analytics engine.

A from-scratch rebuild of the *capabilities* of elodina/syslog-kafka
(reference: /root/reference, Go) on Apache Spark:

- syslog ingestion (TCP/UDP streaming source, RFC3164/RFC5424 parsing)
- LogLine data model (Avro / Protobuf / string wire encodings, Confluent
  Schema Registry framing) and Kafka sink projections
- a full relational analytics surface over the ingested data model
  (DataFrame/SQL: joins, aggregation, windows, set ops, scalar functions)
- LLM-data-pipeline operators: dedup (exact/MinHash/SimHash/Jaccard),
  embedding similarity search, text analysis, multimodal column plumbing

Architecture is Spark-first: logical plans are declared with the
DataFrame/SQL API and optimized by Catalyst. The Avro and proto wire
encoders are Catalyst projections too; Python UDFs appear only where
built-ins cannot express the semantics (wire decode, multimodal decode),
and then always as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from syslog_kafka_spark.session import get_spark  # noqa: F401


def sql(spark, sf_dir: str, query: str):
    """Run ad-hoc SQL over the standard tables — the one-liner a reference
    user reaches for first.

    Registers every standard table of ``sf_dir`` as a temp view (``region``,
    ``nation``, ..., ``documents``, ``embeddings``) and returns the result
    DataFrame of ``query``. Views are plain lazy parquet scans, so Catalyst
    pushdown/pruning applies end to end.

    >>> import syslog_kafka_spark as sks
    >>> sks.sql(spark, "/root/testdata/sf0.01",
    ...         "SELECT lang, count(*) FROM documents GROUP BY lang")
    """
    from syslog_kafka_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(query)
