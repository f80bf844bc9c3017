"""Config plumbing — Java-properties files, reference-compatible.

The reference drives everything from a properties file
(``ParameterTool.fromPropertiesFile``, ``App.java:141``) with keys described
in ``readme.md:5-13``; all ``kafka.``-prefixed keys are forwarded verbatim
to the Kafka producer (``App.java:112-124``). Spark's Kafka connector
conveniently uses the same ``kafka.`` option prefix, so the pass-through is
a dict copy.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path


def load_properties(path: str | Path) -> dict[str, str]:
    """Parse a Java ``.properties`` file into a dict.

    Parity with ``java.util.Properties.load``, which
    ``ParameterTool.fromPropertiesFile`` (``App.java:141``) uses: ``#``/``!``
    comments and blank lines are skipped; the key ends at the first ``=``,
    ``:`` or whitespace, and the value starts after any whitespace and at
    most one ``=``/``:`` that follow it. Backslash escapes and line
    continuations are not supported.
    """
    props: dict[str, str] = {}
    for raw in Path(path).read_text().splitlines():
        line = raw.strip()
        if not line or line.startswith(("#", "!")):
            continue
        key, value = _PROPERTY.fullmatch(line).groups()
        props[key] = value
    return props


_PROPERTY = re.compile(r"([^=:\s]*)\s*[=:]?\s*(.*)")


@dataclass
class AppConfig:
    """The reference's config surface (``App.java:23-28``, ``readme.md:5-13``)."""

    audit_path: str
    audit_poll_seconds: int = 240
    audit_min_date: str | None = None  # YYYYMMDD (BASIC_ISO_DATE)
    session_gap_seconds: int = 600
    session_output: str = "kafka"  # "kafka" | "print" (reference default
    # is kafka: ``params.get(PARAM_SESSION_OUTPUT, "kafka")``, App.java:150)
    kafka_topic: str | None = None
    kafka_options: dict[str, str] = field(default_factory=dict)
    #: Spark addition (no reference analog — Flink savepoints are cluster
    #: config): streaming checkpoint location, key ``session.checkpoint``;
    #: ``validate`` requires it.
    checkpoint_dir: str | None = None

    @classmethod
    def from_properties(cls, props: dict[str, str]) -> "AppConfig":
        kafka_options = {
            k: v
            for k, v in props.items()
            if k.startswith("kafka.") and k != "kafka.topic"
        }
        cfg = cls(
            audit_path=props.get("audit.path", ""),
            audit_poll_seconds=_seconds(props, "audit.poll", "240"),
            audit_min_date=props.get("audit.min_date"),
            session_gap_seconds=_seconds(props, "session.duration", "600"),
            session_output=props.get("session.output", "kafka"),
            kafka_topic=props.get("kafka.topic"),
            kafka_options=kafka_options,
            checkpoint_dir=props.get("session.checkpoint"),
        )
        cfg.validate()
        return cfg

    def validate(self) -> None:
        """Reject a config the job cannot run, so it fails before a JVM
        starts; ``from_properties`` and ``start_session_query`` call it."""
        if not self.audit_path:
            raise ValueError("audit.path is required")
        if self.audit_min_date is not None and not _is_basic_iso_date(
            self.audit_min_date
        ):
            # DateFileFilter.java parses with BASIC_ISO_DATE; any other
            # spelling would compare as a string and keep every date dir
            raise ValueError(
                "audit.min_date must be a real YYYYMMDD date, "
                f"got {self.audit_min_date!r}"
            )
        for key, seconds in (
            ("audit.poll", self.audit_poll_seconds),
            ("session.duration", self.session_gap_seconds),
        ):
            if seconds <= 0:
                raise ValueError(f"{key} must be positive, got {seconds}")
        if self.session_output not in ("kafka", "print"):
            raise ValueError(
                "session.output must be 'kafka' or 'print', "
                f"got {self.session_output!r}"
            )
        if self.session_output == "kafka" and not self.kafka_topic:
            raise ValueError("kafka.topic is required for kafka output")
        if not self.checkpoint_dir:
            # a shared default would let a second job resume the first
            # job's file offsets and session state
            raise ValueError("session.checkpoint is required")

    @classmethod
    def from_properties_file(cls, path: str | Path) -> "AppConfig":
        return cls.from_properties(load_properties(path))


def _seconds(props: dict[str, str], key: str, default: str) -> int:
    """An integer property, parsed like ``Integer.parseInt``; a bad value
    names its key instead of surfacing as ``int()``'s bare error."""
    value = props.get(key, default)
    if not re.fullmatch(r"[+-]?[0-9]+", value):
        raise ValueError(f"{key} must be an integer, got {value!r}")
    return int(value)


def _is_basic_iso_date(value: str) -> bool:
    """``YYYYMMDD`` with exactly 8 ASCII digits forming a real date
    (``strptime`` alone also accepts unpadded fields such as ``2024328``)."""
    if not re.fullmatch(r"[0-9]{8}", value):
        return False
    try:
        datetime.strptime(value, "%Y%m%d")
    except ValueError:
        return False
    return True
