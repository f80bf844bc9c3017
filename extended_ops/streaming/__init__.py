"""Extended streaming operators: the CDC/SCD materializer over the
built-in file source."""

from .cdc import (
    make_cdc_batch_applier,
    materialize_cdc_stream,
    read_materialized,
)

__all__ = [
    "make_cdc_batch_applier",
    "materialize_cdc_stream",
    "read_materialized",
]
