"""Bounded observation reads (hocr_de_noising_spark/obs.py) — the
primitive the batch job's manifest metrics ride on."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from hocr_de_noising_spark.obs import observation_metrics


def test_metrics_after_action(spark):
    o = Observation()
    df = spark.range(100).observe(o, F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    m = observation_metrics(o)
    assert m == {"s": 4950, "n": 100}


def test_no_action_times_out_quickly(spark):
    import time

    o = Observation()
    spark.range(10).observe(o, F.sum("id").alias("s"))  # never actioned
    t0 = time.time()
    assert observation_metrics(o, timeout_s=0.5) is None
    assert time.time() - t0 < 5  # bounded — never blocks like Observation.get


def test_empty_row_reads_as_zero_not_timeout():
    """A node that reported an empty row (pruned branch) reads as {} —
    every count a true zero — while a node that never reports reads as
    None, so callers can refuse to commit unknown counts."""
    from types import SimpleNamespace as NS

    def classic(row_size):  # Observation shape: bounded JVM read via _jo
        opt = NS(isDefined=lambda: row_size is not None, get=lambda: NS(size=lambda: row_size))
        return NS(_jo=NS(getRowOrEmpty=lambda: opt))

    assert observation_metrics(classic(0), timeout_s=0.5) == {}
    assert observation_metrics(classic(None), timeout_s=0.2) is None
