"""X6 + X7 — early-modern normalization and dictionary / edit-distance.

X6 is a pure Column expression chain (JVM-side). X7 is two-tier:

- exact membership: broadcast hash join against the (small) lexicon —
  J1 of SURVEY.md §2.4; no shuffle.
- edit-distance ≤ 1 fallback for OOV tokens: an Arrow-batched iterator
  pandas UDF over a symmetric-delete index (rules_np.Lexicon) built
  once per python worker. Only rows that missed the exact join reach
  the Python path (the column is nulled otherwise), so Python work is
  bounded by the OOV rate. No shuffle, exact parity with the numpy
  golden rule.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from hocr_de_noising_spark.rules_np import LIGATURES, LONG_S, Lexicon


def normalize_col(token: Column) -> Column:
    """X6: ligature expansion + ſ→s, as a chain of literal replaces."""
    out = token
    for lig, exp in LIGATURES.items():
        out = F.replace(out, F.lit(lig), F.lit(exp))
    return F.replace(out, F.lit(LONG_S), F.lit("s"))


def with_dictionary_check(df: DataFrame, lexicon_df: DataFrame) -> DataFrame:
    """Adds norm_token, f_dict_hit, f_dict_miss columns."""
    df = df.withColumn("norm_token", F.when(F.col("parse_ok"), normalize_col(F.col("token"))))
    lex = F.broadcast(lexicon_df.select(F.col("token").alias("lex_token")).distinct())
    df = df.join(lex, df["norm_token"] == lex["lex_token"], "left")
    df = df.withColumn("f_exact_hit", F.col("lex_token").isNotNull()).drop("lex_token")

    # no distinct(): the collect runs INSIDE the caller's timed region
    # per query, a distinct adds a shuffle job for nothing — Lexicon
    # dedups via set(tokens) (r8)
    tokens = [r.token for r in lexicon_df.select("token").collect()]
    bc = df.sparkSession.sparkContext.broadcast(tokens)
    fuzzy = _fuzzy_membership_udf(bc)
    oov = F.when(F.col("parse_ok") & ~F.col("f_exact_hit"), F.col("norm_token"))
    df = df.withColumn("f_fuzzy_hit", F.coalesce(fuzzy(oov), F.lit(False)))

    df = df.withColumn("f_dict_hit", F.col("f_exact_hit") | F.col("f_fuzzy_hit"))
    return df.withColumn(
        "f_dict_miss", F.col("parse_ok") & ~F.col("f_dict_hit")
    )


def _fuzzy_membership_udf(lex_tokens):
    """Iterator pandas UDF: token within edit distance 1 of the lexicon.

    ``lex_tokens`` is a ``sparkContext.broadcast`` handle: tasks pull
    the token list from the broadcast store once per executor instead
    of shipping it in every task closure
    (VERDICT r2 item 7). The symmetric-delete index is built once per
    worker invocation and amortized over all Arrow batches (SURVEY.md
    §2.10 iterator form).
    """
    @F.pandas_udf(BooleanType())
    def fuzzy(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        lex = Lexicon(lex_tokens.value)
        for s in batches:
            mask = s.notna()
            out = pd.Series(False, index=s.index, dtype="boolean")
            if mask.any():
                # dedupe before the index probe (r8): OCR tokens repeat
                # heavily within a batch and within_one() generates the
                # full deletion neighborhood per call — probe each
                # DISTINCT token once and broadcast via isin (the
                # rules_vec batch engine's own shape)
                vals = s[mask]
                hits = {t for t in vals.unique() if lex.within_one(t)}
                out.loc[mask] = vals.isin(hits)
            yield out

    return fuzzy
