from .asof import asof_join
from .intervals import overlap_join, state_durations, threshold_episodes
from .layout import apply_zorder_layout, zorder_key
from .rolling import (
    bucket_quantiles,
    counter_increase,
    downsample_m4,
    ewma,
    rolling_stats,
    seasonal_baseline,
    signal_corr,
    value_histogram,
)
from .sessions import conversation_shape, session_stats, sessionize
from .static import join_static_spec
from .temporal import process_temporal_spec
from .timedelta import join_timedelta_spec

__all__ = [
    "apply_zorder_layout",
    "asof_join",
    "bucket_quantiles",
    "conversation_shape",
    "counter_increase",
    "downsample_m4",
    "ewma",
    "join_static_spec",
    "join_timedelta_spec",
    "overlap_join",
    "process_temporal_spec",
    "rolling_stats",
    "seasonal_baseline",
    "session_stats",
    "sessionize",
    "signal_corr",
    "state_durations",
    "threshold_episodes",
    "value_histogram",
    "zorder_key",
]
