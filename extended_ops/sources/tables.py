"""Table loader for the extended operators.

Wraps :func:`flink_audit_sessions_example_spark.sources.tables.load_table`
with the ``spread`` option the compute-heavy operators rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_audit_sessions_example_spark.sources.tables import (
    load_table as _load_table,
)

#: Tables whose downstream operators are compute-bound per row (Arrow
#: tokenizer passes, BLAS scoring, per-doc text expressions). Their
#: parquet files are small enough at test SFs to arrive as a SINGLE scan
#: split, which would serialize every mapInPandas / codegen pass on one
#: core of a local[32] runner — so `load_table` spreads them to cluster
#: parallelism. At production scale the input already has ≥ parallelism
#: splits and the spread is a no-op (no exchange is added).
_COMPUTE_HEAVY = ("documents", "embeddings")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool | None = None
) -> DataFrame:
    """Load ``{sf_dir}/{name}.parquet`` with nanos-timestamp repair.

    ``spread`` (default: True for compute-heavy tables) repartitions a
    coarser-than-cluster scan up to ``defaultParallelism`` — one tiny
    round-robin exchange that unlocks full-core execution of the
    per-document compute that follows. Pass ``spread=False`` for plans
    that are pure scan-side aggregation where the extra exchange would
    outweigh the parallelism (or when asserting scan-pushdown plan
    shapes).
    """
    df = _load_table(spark, sf_dir, name)
    if spread is None:
        spread = name in _COMPUTE_HEAVY
    if spread:
        parallelism = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < parallelism:
            df = df.repartition(parallelism)
    return df
