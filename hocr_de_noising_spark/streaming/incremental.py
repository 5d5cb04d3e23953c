"""ST1, ST6 — incremental / streaming processing (SURVEY.md §2.9).

The production resumability story is the checkpoint manifest
(checkpoint.py); this module provides the Structured Streaming parity
path: file-source incremental ingest of new span documents into an
idempotent foreachBatch sink.

The stream uses Trigger.AvailableNow (process-everything-then-stop),
so each call drains the new files and returns while exercising the
real streaming engine (offset tracking, checkpointed file source).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

from hocr_de_noising_spark.operators.pipeline import denoise_fused
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.sources.catalog import DOCS_STRUCT


def make_denoise_sink(
    output_dir: str, lexicon_tokens: "list[str] | Broadcast", params: Params
) -> Callable[[DataFrame, int], None]:
    """Idempotent foreachBatch sink: each micro-batch overwrites its own
    ``batch_id=N`` directory, so a batch retried after a partial write
    replaces its output instead of appending duplicates — this is what
    upgrades foreachBatch's at-least-once re-delivery to exactly-once
    OUTPUT (the offset log in the checkpoint already makes the input
    side exactly-once). Readers see batch_id as a partition column.
    ``lexicon_tokens`` is passed to ``denoise_fused`` as is: a
    ``Broadcast`` is shared by every micro-batch, a list is broadcast
    again on each one."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = denoise_fused(batch_df, lexicon_tokens, params)
        out.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"batch_id={batch_id}")
        )

    return sink


def incremental_denoise_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    lexicon_tokens: list[str],
    params: Params | None = None,
):
    """ST1+ST6: readStream file source → exactly-once de-noising.

    New parquet files dropped into ``input_dir`` are picked up
    incrementally (offset log in ``checkpoint_dir`` — the streaming
    twin of the S7 manifest anti-join); each micro-batch is de-noised
    with the same frozen rule and written by foreachBatch, overwriting
    its own ``batch_id=N`` directory (``make_denoise_sink``).
    The lexicon is broadcast once per call and destroyed when the
    stream ends. Returns the finished StreamingQuery.
    """
    p = params or Params()
    stream = spark.readStream.schema(DOCS_STRUCT).parquet(input_dir)
    bc = spark.sparkContext.broadcast(list(lexicon_tokens))
    try:
        q = (
            stream.writeStream.foreachBatch(make_denoise_sink(output_dir, bc, p))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        # the driver keeps each broadcast's pickled value in a file
        # under the SparkContext's temp dir until destroy()
        bc.destroy()

