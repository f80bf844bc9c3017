"""Config loader parity with the reference's properties surface
(``App.java:112-124,141``; ``readme.md:5-13``)."""

import pytest

from flink_audit_sessions_example_spark.config import AppConfig, load_properties

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
"""


def test_load_properties(tmp_path):
    p = tmp_path / "app.properties"
    p.write_text(EXAMPLE)
    props = load_properties(p)
    assert props["audit.path"] == "/data/ranger/audit"
    assert props["kafka.security.protocol"] == "SASL_SSL"
    assert "# example config (readme.md:5-13)" not in props


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
    assert cfg.watermark_delay == "2 days"


def test_defaults():
    cfg = AppConfig.from_properties({"audit.path": "/x", "kafka.topic": "t"})
    assert cfg.audit_poll_seconds == 240
    assert cfg.session_gap_seconds == 600
    # reference default: params.get(PARAM_SESSION_OUTPUT, "kafka"), App.java:150
    assert cfg.session_output == "kafka"
    assert cfg.audit_min_date is None


@pytest.mark.parametrize(
    "key, value",
    [
        ("audit.min_date", "2024-03-28"),
        ("audit.min_date", "20241399"),
        ("audit.min_date", "2024328"),  # strptime alone accepts unpadded
        ("audit.poll", "0"),
        ("audit.poll", "-240"),
        ("session.duration", "0"),
        ("session.duration", "-600"),
        ("session.output", "elastic"),
        ("kafka.topic", None),  # kafka output (the default) with no topic
    ],
)
def test_bad_config_is_rejected_at_load(key, value):
    props = {
        "audit.path": "/x",
        "audit.min_date": "20240328",
        "session.output": "kafka",
        "kafka.topic": "t",
    }
    AppConfig.from_properties(props)  # the baseline itself is valid
    props[key] = value
    with pytest.raises(ValueError, match=key):
        AppConfig.from_properties(
            {k: v for k, v in props.items() if v is not None}
        )
