"""Structured Streaming layer (SURVEY.md §2.9 T1-T9, J1 streaming form,
M2/T6 stateful online forecast)."""

from .replay import replay_dir, write_replay_chunks  # noqa: F401
from .sinks import start_capture_sink, start_jsonl_sink  # noqa: F401
from .stateful import online_forecast  # noqa: F401
from .windowed import (  # noqa: F401
    dedupe_stream,
    hopping_window_counts,
    sessionize_stream,
    stream_stream_interval_join,
)
from .heavy_hitters import streaming_heavy_hitters  # noqa: F401
from .debounce import debounce_stream  # noqa: F401
from .dedup_stream import (  # noqa: F401
    dedup_verdict_batch_writer,
    start_dedup_verdict_sink,
)
from .observe import observed, progress_frame  # noqa: F401
