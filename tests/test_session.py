"""Session build: a failed Python-worker warm-up is reported, not hidden."""

from __future__ import annotations

import logging

from syslog_kafka_spark.session import _warm_python_workers


class _BrokenSession:
    """Just enough of a SparkSession for the warm-up to fail its first job."""

    class sparkContext:  # noqa: N801 — mirrors the SparkSession attribute
        defaultParallelism = 2

    def range(self, *args):
        raise RuntimeError("no Python workers")


def test_failed_warmup_logs_the_step(monkeypatch, caplog):
    monkeypatch.delenv("SPARK_GRAFT_WARM_PYTHON", raising=False)
    with caplog.at_level(logging.WARNING, logger="syslog_kafka_spark"):
        _warm_python_workers(_BrokenSession())
    (record,) = caplog.records
    assert "mapInArrow worker pool" in record.getMessage()
    assert "no Python workers" in caplog.text
