"""Config loader parity with the reference's properties surface
(``App.java:112-124,141``; ``readme.md:5-13``)."""

import pytest

from flink_audit_sessions_example_spark.config import AppConfig, load_properties
from flink_audit_sessions_example_spark.operators.sessionize import (
    WATERMARK_DELAY,
)

EXAMPLE = """\
# example config (readme.md:5-13)
audit.path=/data/ranger/audit
audit.poll=240
audit.min_date=20210401
session.duration=600
session.output=kafka
kafka.topic=audit-sessions
kafka.bootstrap.servers=broker:9093
kafka.security.protocol=SASL_SSL
session.checkpoint=/data/ckpt/audit-sessions
"""


def test_load_properties(tmp_path):
    p = tmp_path / "app.properties"
    p.write_text(EXAMPLE)
    props = load_properties(p)
    assert props["audit.path"] == "/data/ranger/audit"
    assert props["kafka.security.protocol"] == "SASL_SSL"
    assert "# example config (readme.md:5-13)" not in props


@pytest.mark.parametrize(
    "line, key, value",
    [
        # whitespace separates key and value (java.util.Properties.load)
        ("audit.path /data/audit", "audit.path", "/data/audit"),
        ("audit.path\t/data/audit", "audit.path", "/data/audit"),
        # the first separator ends the key; a later '=' or ':' is value
        (
            'kafka.sasl.jaas.config:org.Foo required user="a=b";',
            "kafka.sasl.jaas.config",
            'org.Foo required user="a=b";',
        ),
        (
            "session.checkpoint hdfs://nn:8020/ckpt",
            "session.checkpoint",
            "hdfs://nn:8020/ckpt",
        ),
        # whitespace, then at most one separator, then whitespace
        ("kafka.topic  :=t", "kafka.topic", "=t"),
    ],
    ids=["space", "tab", "colon_before_equals", "space_before_colon", "one_sep"],
)
def test_load_properties_separators(tmp_path, line, key, value):
    p = tmp_path / "app.properties"
    p.write_text(line + "\n")
    assert load_properties(p) == {key: value}


def test_app_config(tmp_path):
    p = tmp_path / "app.properties"
    p.write_text(EXAMPLE)
    cfg = AppConfig.from_properties_file(p)
    assert cfg.audit_path == "/data/ranger/audit"
    assert cfg.audit_poll_seconds == 240
    assert cfg.audit_min_date == "20210401"
    assert cfg.session_gap_seconds == 600
    assert cfg.session_output == "kafka"
    assert cfg.kafka_topic == "audit-sessions"
    # kafka.* passthrough keeps the prefix (Spark option convention)
    assert cfg.kafka_options == {
        "kafka.bootstrap.servers": "broker:9093",
        "kafka.security.protocol": "SASL_SSL",
    }
    # hard-coded in the reference (App.java:57), not a properties key
    assert WATERMARK_DELAY == "2 days"
    assert cfg.checkpoint_dir == "/data/ckpt/audit-sessions"


def test_defaults():
    cfg = AppConfig.from_properties(
        {"audit.path": "/x", "kafka.topic": "t", "session.checkpoint": "/c"}
    )
    assert cfg.audit_poll_seconds == 240
    assert cfg.session_gap_seconds == 600
    # reference default: params.get(PARAM_SESSION_OUTPUT, "kafka"), App.java:150
    assert cfg.session_output == "kafka"
    assert cfg.audit_min_date is None


@pytest.mark.parametrize(
    "key, value",
    [
        ("audit.path", None),  # was a bare KeyError
        ("audit.path", ""),
        ("audit.poll", "4m"),  # int() errors did not name the key
        ("session.duration", "10.5"),
        ("audit.min_date", "2024-03-28"),
        ("audit.min_date", "20241399"),
        ("audit.min_date", "2024328"),  # strptime alone accepts unpadded
        ("audit.poll", "0"),
        ("audit.poll", "-240"),
        ("session.duration", "0"),
        ("session.duration", "-600"),
        ("session.output", "elastic"),
        ("kafka.topic", None),  # kafka output (the default) with no topic
        ("session.checkpoint", None),  # no shared default checkpoint
    ],
)
def test_bad_config_is_rejected_at_load(key, value):
    props = {
        "audit.path": "/x",
        "audit.min_date": "20240328",
        "session.output": "kafka",
        "kafka.topic": "t",
        "session.checkpoint": "/c",
    }
    AppConfig.from_properties(props)  # the baseline itself is valid
    props[key] = value
    with pytest.raises(ValueError, match=key):
        AppConfig.from_properties(
            {k: v for k, v in props.items() if v is not None}
        )
