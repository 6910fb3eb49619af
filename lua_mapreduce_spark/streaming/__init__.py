from lua_mapreduce_spark.streaming.stateful import (
    drain_stream,
    stream_dedup_events,
    stream_sliding_counts,
    stream_user_totals_stateful,
)
from lua_mapreduce_spark.streaming.windows import (
    read_events_stream,
    stream_session_windows,
    stream_tumbling_counts,
)

__all__ = [
    "drain_stream",
    "read_events_stream",
    "stream_dedup_events",
    "stream_session_windows",
    "stream_sliding_counts",
    "stream_tumbling_counts",
    "stream_user_totals_stateful",
]
