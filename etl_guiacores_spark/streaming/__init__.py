from etl_guiacores_spark.streaming.acquisition import (
    daily_acquisition_stream,
    read_daily_acquisition,
)
from etl_guiacores_spark.streaming.discovery import discover_until_idle
from etl_guiacores_spark.streaming.drawdown import (
    max_drawdown_stream,
    read_max_drawdown,
)
from etl_guiacores_spark.streaming.drift import cusum_drift_stream
from etl_guiacores_spark.streaming.dwell import (
    read_state_dwell,
    state_dwell_stream,
)
from etl_guiacores_spark.streaming.smooth import holt_smooth_stream
from etl_guiacores_spark.streaming.snapshots import compact_snapshots
from etl_guiacores_spark.streaming.windows import (
    ohlc_bars,
    session_agg,
    sliding_counts,
    stream_dedupe,
    tumbling_counts,
)

__all__ = [
    "compact_snapshots",
    "cusum_drift_stream",
    "daily_acquisition_stream",
    "discover_until_idle",
    "read_daily_acquisition",
    "holt_smooth_stream",
    "max_drawdown_stream",
    "read_max_drawdown",
    "read_state_dwell",
    "state_dwell_stream",
    "ohlc_bars",
    "session_agg",
    "sliding_counts",
    "stream_dedupe",
    "tumbling_counts",
]
