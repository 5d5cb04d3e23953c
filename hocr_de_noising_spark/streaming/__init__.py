"""Structured Streaming surface (SURVEY.md §2.9)."""

from hocr_de_noising_spark.streaming.incremental import (
    incremental_denoise_stream,
    make_denoise_sink,
)

__all__ = ["incremental_denoise_stream", "make_denoise_sink"]
