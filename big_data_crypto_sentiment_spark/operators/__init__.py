"""Reusable operator library: the windowed dual-stream join, TA
indicators, and multimodal binary plumbing."""

from .multimodal import (  # noqa: F401
    extract_audio_features,
    extract_media_features,
    sample_frame_pixels,
    sample_frames,
)
from .ta import sma_vwap, ta_indicators  # noqa: F401
from .windowed_join import prices_with_tweets  # noqa: F401
