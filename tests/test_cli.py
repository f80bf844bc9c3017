"""The CLI entry (``__main__``, the ``App.main`` analog): usage errors and
bad config fail before a JVM starts."""

import pytest
from pyspark.sql import SparkSession

from flink_audit_sessions_example_spark.__main__ import main


@pytest.fixture
def no_jvm(monkeypatch):
    def fail(self):
        raise AssertionError("a SparkSession was requested")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fail)


def test_usage_without_properties_file(no_jvm, capsys):
    assert main([]) == 2
    assert capsys.readouterr().err.startswith(
        "usage: python -m flink_audit_sessions_example_spark"
    )


def test_bad_config_fails_before_spark_starts(no_jvm, tmp_path):
    p = tmp_path / "bad.properties"
    p.write_text("audit.path=/data/audit\nsession.output=print\n")
    with pytest.raises(ValueError, match="session.checkpoint"):
        main([str(p)])
