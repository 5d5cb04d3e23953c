"""DataFrame operators: the de-noising pipeline stages (SURVEY.md §2)."""

from hocr_de_noising_spark.operators.pipeline import (
    denoise_exploded,
    denoise_fused,
)

__all__ = ["denoise_exploded", "denoise_fused"]
