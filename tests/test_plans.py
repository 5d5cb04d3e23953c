"""Physical-plan shape assertions (SURVEY.md §4): the exploded pipeline
keeps exactly one wide exchange, hot stages stay in whole-stage codegen,
and the text keys stay map-side."""

from __future__ import annotations

import os
import re

from hocr_de_noising_spark.operators.pipeline import denoise_exploded
from hocr_de_noising_spark.queries import QUERIES


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_exploded_pipeline_has_single_wide_exchange(spark, unit_dir):
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    out = denoise_exploded(docs, lexicon)
    p = plan_str(out)
    # one hash partitioning by doc_id for stats window; every later
    # window/groupBy reuses it. (The tiny OOV-distinct side job adds
    # exchanges on the lexicon/token side, not on the docs path.)
    doc_exchanges = re.findall(r"Exchange hashpartitioning\(doc_id", p)
    assert len(doc_exchanges) == 1, p
    # lexicon reaches the words via broadcast, not shuffle
    assert "BroadcastHashJoin" in p


def test_denoise_patterns_keep_whole_stage_codegen(spark, sf001_dir):
    # the flag/filter/project stages compile to whole-stage codegen
    # (windows themselves never codegen; the surrounding stages must)
    df = QUERIES["wconf_filter"]["fn"](spark, sf001_dir)
    p = formatted(df)
    assert "WholeStageCodegen" in p or "codegen id" in p, p


def test_r6_text_keys_plan_shape(spark, sf001_dir):
    """html_main_content and html_main_content_dom strip boilerplate in
    one map-side projection: one scan, no exchange, no join, no
    Python."""
    for k in ("html_main_content", "html_main_content_dom"):
        html = QUERIES[k]["fn"](spark, sf001_dir)
        ph = plan_str(html)
        assert "Exchange" not in ph and "Join" not in ph, ph
        assert ph.count("Scan parquet") == 1, ph
        assert "Python" not in ph and "Arrow" not in ph, ph


def test_url_canonicalize_is_map_side(spark, sf001_dir):
    """url_canonicalize: pure map-side projection (no exchange/join/
    Python)."""
    uc = QUERIES["url_canonicalize"]["fn"](spark, sf001_dir)
    pu = plan_str(uc)
    assert "Exchange" not in pu and "Join" not in pu, pu
    assert pu.count("Scan parquet") == 1, pu
    assert "Python" not in pu and "Arrow" not in pu, pu
