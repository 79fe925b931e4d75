from .dedup import neardup_reference_kept, stream_neardup_dedup
from .joins import (
    click_purchase_attribution,
    enrich_stream,
    stage_with_watermark_sentinels,
)
from .observe import ProgressCapture, capture_progress
from .sinks import (
    stream_tx_append,
    stream_upsert_sink,
    write_stream_exactly_once,
)
from .stateful import running_user_max, running_user_totals, tws_available
from .windows import (
    read_events_stream,
    run_stream_to_batch,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)

__all__ = [
    "ProgressCapture",
    "capture_progress",
    "stage_with_watermark_sentinels",
    "click_purchase_attribution",
    "enrich_stream",
    "neardup_reference_kept",
    "stream_neardup_dedup",
    "read_events_stream",
    "run_stream_to_batch",
    "running_user_max",
    "running_user_totals",
    "tws_available",
    "session_window_agg",
    "stream_upsert_sink",
    "stream_tx_append",
    "sliding_window_agg",
    "tumbling_window_agg",
    "write_stream_exactly_once",
]
