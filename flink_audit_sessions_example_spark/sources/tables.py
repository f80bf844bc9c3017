"""Parquet table loader for the driver's synthetic tables.

One wrinkle: the driver writes ``events.ts`` as parquet ``TIMESTAMP(NANOS)``
(pandas/arrow default), which Spark's vectorized reader rejects outright
(``PARQUET_TYPE_ILLEGAL``). The scalable fix — no data rewrite, stays fully
on the codegen path — is Spark's ``nanosAsLong`` escape hatch plus an
explicit ns→µs conversion expression:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` makes the scan read the
  raw int64 nanos as ``LongType`` (vectorized, zero-copy);
- ``timestamp_micros(col div 1000)`` rebuilds a proper ``TimestampType``.
  Integer ``div`` (not ``/``) matters: epoch-nanos ≈ 1.7e18 exceeds a
  double's 53-bit mantissa, so float division would corrupt timestamps.

Which columns need it is read from the parquet footer (pyarrow, metadata
only — no data scan), so the loader works unchanged if the driver ever
switches to µs/ms units.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Column names stored as timestamp[ns] in the parquet footer."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load ``{sf_dir}/{name}.parquet`` with nanos-timestamp repair."""
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df
