"""Extended streaming operators: hand-written state machines and
streaming joins, sketches and detectors over the built-in file source."""

from .attribution import stream_first_touch
from .backlog import stream_backlog
from .cdc import (
    make_cdc_batch_applier,
    materialize_cdc_stream,
    read_materialized,
)
from .custom_state import audit_denied_sessions_custom_state
from .dedup_stream import stream_minhash_candidates
from .enrichment import stream_pit_enrich
from .funnel import stream_funnel_stages
from .gap_sessions import stream_gap_sessions
from .heavy_hitters import stream_heavy_hitters
from .joins import denied_near_allowed, stream_interval_join
from .cusum import stream_cusum
from .quantile_sketch import stream_quantile_sketch
from .time_decay import stream_time_decay
from .transitions import stream_transitions

__all__ = [
    "stream_quantile_sketch",
    "stream_cusum",
    "stream_backlog",
    "audit_denied_sessions_custom_state",
    "stream_first_touch",
    "stream_heavy_hitters",
    "stream_minhash_candidates",
    "stream_funnel_stages",
    "stream_gap_sessions",
    "stream_pit_enrich",
    "stream_time_decay",
    "stream_transitions",
    "denied_near_allowed",
    "stream_interval_join",
    "make_cdc_batch_applier",
    "materialize_cdc_stream",
    "read_materialized",
]
