"""Typed record schemas.

The reference declares its schema as POJO fields (``Audit.java:14-37``); the
Spark-native equivalent is an explicit ``StructType`` handed to
``from_json`` / ``spark.read``. Schema inference is deliberately not used:
the reference's schema is fixed-in-code, and explicit schemas are also the
only scalable choice on a 100 TB JSON-lines corpus (inference would scan
data twice).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: The Ranger audit record — 23 fields, mirroring ``Audit.java:14-37``.
#: ``evtTime`` is parsed from the JSON string pattern
#: ``yyyy-MM-dd HH:mm:ss.SSS`` (``Audit.java:17-18``) — callers must pass
#: :data:`AUDIT_JSON_OPTIONS` to ``from_json`` to preserve that.
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("repoType", T.IntegerType()),
        T.StructField("repo", T.StringType()),
        T.StructField("reqUser", T.StringType()),
        T.StructField("evtTime", T.TimestampType()),
        T.StructField("access", T.StringType()),
        T.StructField("resource", T.StringType()),
        T.StructField("resType", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("result", T.IntegerType()),
        T.StructField("agent", T.StringType()),
        T.StructField("policy", T.IntegerType()),
        T.StructField("policy_version", T.IntegerType()),
        T.StructField("enforcer", T.StringType()),
        T.StructField("cliIP", T.StringType()),
        T.StructField("reqData", T.StringType()),
        T.StructField("agentHost", T.StringType()),
        T.StructField("logType", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("seq_num", T.IntegerType()),
        T.StructField("event_count", T.IntegerType()),
        T.StructField("event_dur_ms", T.IntegerType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("cluster_name", T.StringType()),
    ]
)

#: ``from_json`` options approximating the reference's lenient Jackson parse
#: (``Audit.java:39-47``): PERMISSIVE mode ignores unknown keys and yields a
#: null struct for malformed lines; the timestamp format matches
#: ``Audit.java:17``, read in UTC as Jackson does (its ``@JsonFormat``
#: default zone), not in ``spark.sql.session.timeZone``. Not exact: a field
#: of the wrong type keeps the record with only that field null (Jackson
#: drops the record), quoted or float scalars are not coerced, and a
#: numeric ``evtTime`` reads as epoch seconds, not millis (ROADMAP item 2).
AUDIT_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSS",
    "timeZone": "UTC",
    "mode": "PERMISSIVE",
}
