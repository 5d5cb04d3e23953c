"""Large-scale training-data pipeline operators over the driver tables.

Exact dedup (normalized-text md5), document fingerprinting, train/eval
decontamination, the cross-document boilerplate signal, and text
analysis (language-ID, quality score, token counting, repetition, PII
scrubbing, the train/val/test split). Outputs are engine-portable: md5
gives identical hex in Spark and DuckDB, and where Spark hashes shingles
with xxhash64 for speed only equality of shingles reaches an output, so
the DuckDB oracle verifies values, not just shapes.

Scale notes (100 TB design):
- shingle explosion is bounded per doc, and the token array is split
  once per doc (``let_sql``);
- every per-shingle quantity (document frequency, train membership)
  comes from a hash aggregate with map-side partials, never a window
  partitioned by shingle, so a boilerplate shingle shared by a large
  share of the corpus cannot pin one task.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.util import let_sql, load, register

# ---------------------------------------------------------------- dedup --

@register(
    "dedup_exact",
    """SELECT md5(lower(trim(text))) AS text_hash,
              min(doc_id) AS keep_doc, count(*) AS n_dups
       FROM documents WHERE text IS NOT NULL
       GROUP BY md5(lower(trim(text)))""",
)
def dedup_exact(spark, sf):
    """Exact dedup: normalize → md5 → hash-groupBy, keep min doc_id."""
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("text_hash", F.md5(F.lower(F.trim("text"))))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingles(spark, sf, n: int):
    """Distinct word n-gram shingles per document (JVM HOFs only).

    The token array is let-bound (``let_sql``) so the text is split
    once per document, not once per shingle — the inlined form paid
    O(tokens²) characters of re-splitting inside the slice lambda
    (r8: 3.6x on this expression at sf0.1)."""
    toks = F.split("text", " ")
    shingle_arr = let_sql(
        "split(text, ' ')",
        "t",
        f"array_distinct(transform(sequence(1, size(t) - {n - 1}),"
        f" i -> concat_ws(' ', slice(t, i, {n}))))",
    )
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.size(toks) >= n))
        .select("doc_id", F.explode(F.expr(shingle_arr)).alias("shingle"))
    )


# ---------------------------------------------------------- text analysis --

# Shared Column-expression builders for the corpus gate operators,
# factored out of the registry functions (VERDICT r3 item 1) so a
# caller can stack every gate expression over ONE documents scan —
# Catalyst does NOT collapse self-equi-joins of the same table.


def lang_exprs(text: str = "text") -> dict:
    """lang_id's computed columns keyed by their registry aliases."""
    n_e = F.length(text) - F.length(F.replace(F.col(text), F.lit("e"), F.lit("")))
    ratio = n_e.cast("double") / F.length(text)
    return {
        "e_ratio": F.round(ratio, 4),
        "pred_lang": F.when(ratio > 0.08, "en").otherwise("other"),
    }


def quality_exprs(text: str = "text") -> dict:
    """quality_score's computed columns keyed by their registry aliases."""
    keep = F.length(F.regexp_replace(text, r"[^\p{L} ]", ""))
    punct_ratio = F.lit(1.0) - keep.cast("double") / F.length(text)
    n_tokens = F.size(F.split(text, " "))
    quality = 0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.5 * (
        keep.cast("double") / F.length(text)
    )
    return {
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct_ratio, 4),
        "quality": F.round(quality, 4),
    }


def scrub_exprs(text: str = "text") -> dict:
    """text_scrub's computed columns keyed by their registry aliases."""
    masked = F.regexp_replace(text, "[0-9]+", "<NUM>")
    return {
        "scrubbed": F.trim(F.regexp_replace(masked, " +", " ")),
        "n_masked": F.size(F.expr(f"regexp_extract_all({text}, '[0-9]+', 0)")),
    }


@register(
    "lang_id",
    """SELECT doc_id, lang,
              round(CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE)
                    / length(text), 4) AS e_ratio,
              CASE WHEN CAST(length(text) - length(replace(text, 'e', '')) AS DOUBLE)
                        / length(text) > 0.08 THEN 'en' ELSE 'other' END AS pred_lang
       FROM documents WHERE text IS NOT NULL AND length(text) > 0""",
)
def lang_id(spark, sf):
    """Language-ID n-gram heuristic (character-frequency score)."""
    e = lang_exprs()
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", "lang", *[c.alias(n) for n, c in e.items()])
    )


@register(
    "quality_score",
    """SELECT doc_id,
              len(string_split(text, ' ')) AS n_tokens,
              round(1.0 - CAST(length(regexp_replace(text, '[^\\pL ]', '', 'g')) AS DOUBLE)
                          / length(text), 4) AS punct_ratio,
              round(0.5 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                    + 0.5 * (CAST(length(regexp_replace(text, '[^\\pL ]', '', 'g')) AS DOUBLE)
                             / length(text)), 4) AS quality
       FROM documents WHERE text IS NOT NULL AND length(text) > 0""",
)
def quality_score(spark, sf):
    """Quality scoring: length + punctuation-ratio heuristics."""
    e = quality_exprs()
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", *[c.alias(n) for n, c in e.items()])
    )


@register(
    "token_count",
    """SELECT doc_id,
              len(string_split(text, ' ')) AS n_ws_tokens,
              len(list_filter(string_split(text, ' '),
                              x -> regexp_full_match(x, '[a-zA-Z]+'))) AS n_alpha_tokens,
              CAST(list_sum(list_transform(string_split(text, ' '),
                                           x -> ceil(length(x) / 4.0))) AS BIGINT)
                  AS n_subtokens
       FROM documents WHERE text IS NOT NULL""",
)
def token_count(spark, sf):
    """Token counting: whitespace tokens + alpha tokens + a BPE-ish
    subtoken estimate (ceil(len/4) pieces per token)."""
    toks = F.split("text", " ")
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(toks).alias("n_ws_tokens"),
            F.expr("size(filter(split(text, ' '), x -> x rlike '^[a-zA-Z]+$'))").alias(
                "n_alpha_tokens"
            ),
            F.expr(
                "cast(aggregate(transform(split(text, ' '), x -> ceil(length(x) / 4.0)),"
                " 0D, (acc, x) -> acc + x) AS bigint)"
            ).alias("n_subtokens"),
        )
    )


_REPETITION_SQL = """
SELECT doc_id,
       len(t) AS n_words,
       round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
           AS dup_word_frac,
       CASE WHEN len(t) >= 3
            THEN round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                             / (len(t) - 2), 4)
            ELSE 0.0 END AS dup_3gram_frac
FROM (SELECT doc_id, t,
             list_transform(generate_series(1, len(t) - 2),
                            i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE text IS NOT NULL AND length(text) > 0))
"""


@register("quality_repetition", _REPETITION_SQL)
def quality_repetition(spark, sf):
    """Intra-document repetition metrics (the Gopher-rule shape for
    filtering degenerate/boilerplate docs from a training corpus —
    Rae et al. 2021, public): duplicate-word fraction and duplicate
    word-3-gram fraction. Pure JVM array HOFs over one scan — zero
    shuffle, map-side only; short docs (<3 words) get 0.0 by guard
    (Spark's sequence(1, n) is DESCENDING for n<1, so the 3-gram
    branch must not evaluate for them)."""
    toks = F.split("text", " ")
    n = F.size(toks)
    dup_word = F.round(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n, 4
    )
    # let-bound token array: split once per doc, not once per 3-gram
    dup3 = F.expr(
        let_sql(
            "split(text, ' ')",
            "t",
            "CASE WHEN size(t) >= 3 THEN "
            "round(1.0D - cast(size(array_distinct(transform("
            "sequence(1, size(t) - 2),"
            " i -> concat_ws(' ', slice(t, i, 3))))) AS double)"
            " / cast(size(t) - 2 AS double), 4) "
            "ELSE 0.0D END",
        )
    )
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            n.alias("n_words"),
            dup_word.alias("dup_word_frac"),
            dup3.alias("dup_3gram_frac"),
        )
    )


# Document-frequency cap of the decontamination check: a 5-gram shared
# by more than this many docs is a stop-phrase or boilerplate, not a
# leaked passage, so it is dropped before the train/eval overlap count.
# This also bounds the per-shingle fan-out of the overlap join.
DECON_DF_CAP = 100

_DECON_SQL = f"""
WITH sh0 AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS shingle
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 5))
),
hv AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
    FROM sh0
),
sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
        FROM hv) WHERE df <= {DECON_DF_CAP}
),
sp AS (
    SELECT doc_id, shingle,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split
    FROM sh
),
train AS (SELECT DISTINCT shingle FROM sp WHERE split = 'train')
SELECT e.doc_id, e.split, count(DISTINCT e.shingle) AS n_shared
FROM sp e JOIN train t ON e.shingle = t.shingle
WHERE e.split <> 'train'
GROUP BY e.doc_id, e.split
"""


def decon_overlap(spark, sf):
    """Core of the decontamination check.

    Skew-proof stats+semi-join shape (r7, VERDICT r6 item 2 — replaces
    the r6 fused window): the r6 form computed df and has_train with
    ``count()/max() OVER (PARTITION BY shingle)``, and WindowExec
    materializes each shingle's posting list in ONE task with no
    map-side partial aggregation — a boilerplate 5-gram in 1% of a
    web corpus puts ~10^10 rows through a single task before the
    df-cap filter can discard them. Here every per-shingle quantity
    comes from ONE hash aggregate with map-side partials (a hot
    shingle contributes at most one partial (count, max) row per map
    task to the shuffle), the qualifying shingle set (df <= cap AND
    has a train member) is left-semi-joined back onto ONLY the
    eval shingle stream (per-key build fan-out exactly 1, so AQE
    skew-split can carve a hot probe partition — unlike a window),
    and the final (doc_id, split) count is unchanged. split is
    computed per DOCUMENT before the explode (the r6 form paid the
    md5 nibble per exploded row — ~100x more calls at
    ~100 shingles/doc), which is also why the second scan reads only
    eval docs (~25% of the corpus under the md5-nibble split). Two
    scans by design: sharing the exploded subtree via localCheckpoint
    measured 2.7x SLOWER at 1M docs (deserialized row storage
    dominates — BENCH ab_decon_skewfix), while the second bounded
    scan lands the whole rewrite at ~1.2x the r6 window with the
    skew class eliminated. df stays defined over the FULL corpus."""
    n = 5
    toks = F.split("text", " ")
    d = load(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.size(toks) >= n)
    )
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    d = d.withColumn(
        "split",
        F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test"),
    )
    # let-bound token array: split once per doc, not once per shingle
    shingle_arr = F.expr(
        let_sql(
            "split(text, ' ')",
            "t",
            f"array_distinct(transform(sequence(1, size(t) - {n - 1}),"
            f" i -> xxhash64(concat_ws(' ', slice(t, i, {n})))))",
        )
    )
    tk = (F.col("split") == "train").cast("int")
    stats = (
        d.select(tk.alias("tk"), F.explode(shingle_arr).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.max("tk").alias("ht"))
    )
    good = stats.filter(
        (F.col("df") <= DECON_DF_CAP) & (F.col("ht") == 1)
    ).select("shingle")
    ev = d.filter(F.col("split") != "train").select(
        "doc_id", "split", F.explode(shingle_arr).alias("shingle")
    )
    return (
        ev.join(good, "shingle", "left_semi")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register("decontaminate_overlap", _DECON_SQL)
def decontaminate_overlap(spark, sf):
    """Train/eval decontamination: flag val/test docs (sample_split's
    own md5-nibble rule) that share at least one 5-gram shingle with
    the train split, with the count of shared shingles — the standard
    n-gram-overlap benchmark-leakage check run before training. Scale
    shape: shingles are df-capped (DECON_DF_CAP) BEFORE the join, so
    the per-shingle fan-out is bounded and no stop-phrase can explode
    the equi join; the train side is a distinct shingle set (joined,
    not broadcast — it scales with the corpus)."""
    return decon_overlap(spark, sf)


_FPRINT_SQL = """
WITH sh AS (
    SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS shingle
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 5))
)
SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
"""


@register("doc_fingerprint", _FPRINT_SQL)
def doc_fingerprint(spark, sf):
    """Document fingerprint: winnowing-style min-hash over 5-gram
    shingles (rolling window via JVM transform/slice)."""
    sh = _shingles(spark, sf, 5)
    return sh.groupBy("doc_id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


@register(
    "text_scrub",
    """SELECT doc_id,
              trim(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                                  ' +', ' ', 'g')) AS scrubbed,
              CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_masked
       FROM documents WHERE text IS NOT NULL""",
)
def text_scrub(spark, sf):
    """Training-data scrubbing pass: mask digit runs (the PII-redaction
    shape — swap the pattern for emails/SSNs/URLs in a real corpus),
    collapse whitespace, and count masked sites. Pure JVM regexp —
    one map-side pass, no shuffle."""
    e = scrub_exprs()
    return (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", *[c.alias(n) for n, c in e.items()])
    )


# a shingle is "boilerplate" when it appears in at least this many
# DISTINCT documents — the cross-corpus duplicated-span signal of
# [Lee et al., "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499 — public paper]; within-doc repetition is
# quality_repetition's job. NB the skew-proof complement formulation
# in quality_boilerplate relies on this being exactly 2.
BOILERPLATE_DF = 2

_BP_SQL = """
WITH sh AS (
    SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS shingle
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 5))
),
d AS (
    SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM sh
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df >= {bp} THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(CAST(sum(CASE WHEN df >= {bp} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) + 0.0 AS shared_frac
FROM d GROUP BY doc_id
""".format(bp=BOILERPLATE_DF)


@register("quality_boilerplate", _BP_SQL)
def quality_boilerplate(spark, sf):
    """Cross-doc duplicated-span signal: the fraction of a document's
    distinct 5-gram shingles that also occur in other documents
    (corpus shingle df >= BOILERPLATE_DF) — the boilerplate /
    template-text quality filter that within-doc quality_repetition
    cannot see.

    Skew-proof complement formulation (r7, VERDICT r6 item 2): unlike
    decon, every row reaches the output here, so dropping over-cap
    shingles cannot bound a ``count() OVER (PARTITION BY
    shingle)`` window — one boilerplate shingle would still pin one
    task. But with BOILERPLATE_DF == 2, "shared" is the complement of
    "corpus-unique" (df == 1), and a df==1 shingle's single owner is
    ``min(doc_id)`` — so ``n_shared = n_shingles - n_unique`` comes
    entirely from combiner-friendly hash aggregates: a hot shingle
    contributes at most one partial (count, min) row per map task to
    the (shingle) shuffle, and the final per-doc join is 1-row-per-key
    on both sides. Shingle keys are 8-byte ints (xxhash64 Spark-side;
    the oracle counts its own raw strings): only equality of shingles
    reaches the output, so the counts do not depend on the hash
    function, up to collisions (~n²/2^64, about 10⁻⁶ at oracle scale).
    The lazy
    localCheckpoint shares the shingle subtree between the totals and
    uniqueness passes."""
    sh = _shingles(spark, sf, 5).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    ).localCheckpoint(eager=False)
    totals = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    uniq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") < BOILERPLATE_DF)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    shared = F.col("n_shingles") - F.coalesce(F.col("n_unique"), F.lit(0))
    return totals.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        shared.alias("n_shared"),
        F.round(shared.cast("double") / F.col("n_shingles"), 4).alias(
            "shared_frac"
        ),
    )


# PII masking patterns — RE2 (DuckDB) and java.util.regex (Spark)
# compatible subset: no backrefs, no lookaround; character classes with
# the literal dash LAST. Emails mask first, then IPv4, then phone-ish
# digit runs (the aggressive trainprep default: over-masking beats
# leaking), and each count is taken on the PREVIOUS stage's text so a
# digit-bearing email is never double-counted as a phone.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4 = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
PII_PHONE = "\\+?[0-9][0-9() -]{6,}[0-9]"
# precision mode: a phone must be 3+ digit GROUPS joined by single
# space/dot/dash separators (>=8 digits total either way) — the
# aggressive run-of-digits pattern above also eats ISBNs, year ranges
# and coordinate strings, which this shape structurally cannot: a
# 1-digit ISBN group breaks the chain, "1990-1998" has only 2 groups,
# "2026-08-17" fails both group-width alternatives, "40.7128, -74.0060"
# never links 3 groups. Still no lookaround (RE2 ∩ java.regex subset;
# dash LAST in classes).
PII_PHONE_STRICT = (
    "\\+?\\(?[0-9]{2,4}\\)?([ .-][0-9]{2,4}){3}"
    "|\\+?\\(?[0-9]{3,4}\\)?[ .-][0-9]{3,4}[ .-][0-9]{2,4}"
)


def _pii_sql(phone: str) -> str:
    return f"""
SELECT doc_id,
       regexp_replace(t2, '{phone}', '[PHONE]', 'g') AS pii_scrubbed,
       n_email, n_ip,
       CAST(len(regexp_extract_all(t2, '{phone}')) AS INTEGER) AS n_phone
FROM (
    SELECT doc_id, regexp_replace(t1, '{PII_IPV4}', '[IP]', 'g') AS t2,
           n_email,
           CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS INTEGER) AS n_ip
    FROM (
        SELECT doc_id,
               regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g') AS t1,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INTEGER)
                   AS n_email
        FROM documents WHERE text IS NOT NULL
    )
)
"""


def _pii_scrub_impl(spark, sf, strict_phone: bool = False):
    phone = PII_PHONE_STRICT if strict_phone else PII_PHONE
    t = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    t1 = F.regexp_replace("text", PII_EMAIL, "[EMAIL]")
    out = t.select(
        "doc_id",
        t1.alias("t1"),
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0))).alias(
            "n_email"
        ),
    )
    t2 = F.regexp_replace("t1", PII_IPV4, "[IP]")
    out = out.select(
        "doc_id",
        t2.alias("t2"),
        "n_email",
        F.size(F.regexp_extract_all("t1", F.lit(PII_IPV4), F.lit(0))).alias("n_ip"),
    )
    return out.select(
        "doc_id",
        F.regexp_replace("t2", phone, "[PHONE]").alias("pii_scrubbed"),
        "n_email",
        "n_ip",
        F.size(F.regexp_extract_all("t2", F.lit(phone), F.lit(0))).alias(
            "n_phone"
        ),
    )


def pii_scrub_spans(
    df: "DataFrame", spans_col: str = "spans", strict_phone: bool = False
):
    """PII redaction over the north-rule interleaved spans shape
    (spans: array<struct<kind,text,media_ref,offset>>): text spans are
    masked IN PLACE with the same staged email -> IPv4 -> phone rule
    as the flat ``pii_scrub``; image/media spans pass through
    byte-identical, and (kind, media_ref, offset, order) are untouched
    everywhere — the span-sequence-equality invariant holds at every
    position where no PII matched. Adds typed per-doc counts
    (n_email/n_ip/n_phone), each counted on the previous stage's text
    so masks never double-fire (the pii_scrub staging rule).

    Pure map-side JVM array HOFs (transform/aggregate) — one scan,
    zero shuffle, zero Python; composes before or after the denoise
    pipeline since both preserve the spans schema."""
    phone = PII_PHONE_STRICT if strict_phone else PII_PHONE

    def is_text(s):
        return (s["kind"] == F.lit("text")) & s["text"].isNotNull()

    def t1(s):
        return F.regexp_replace(s["text"], PII_EMAIL, "[EMAIL]")

    def t2(s):
        return F.regexp_replace(t1(s), PII_IPV4, "[IP]")

    def n_of(fn, pat):
        return F.aggregate(
            F.col(spans_col),
            F.lit(0),
            lambda acc, s: acc
            + F.when(
                is_text(s),
                F.size(F.regexp_extract_all(fn(s), F.lit(pat), F.lit(0))),
            ).otherwise(F.lit(0)),
        )

    scrubbed = F.transform(
        F.col(spans_col),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(is_text(s), F.regexp_replace(t2(s), phone, "[PHONE]"))
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return (
        df.withColumn("n_email", n_of(lambda s: s["text"], PII_EMAIL))
        .withColumn("n_ip", n_of(t1, PII_IPV4))
        .withColumn("n_phone", n_of(t2, phone))
        .withColumn(spans_col, scrubbed)
    )


@register("pii_scrub", _pii_sql(PII_PHONE))
def pii_scrub(spark, sf):
    """PII redaction pass for training corpora: mask emails, IPv4
    addresses and phone-shaped digit runs with typed placeholders and
    count each (the standard pre-training privacy scrub; patterns are
    the engine-portable regex subset). Pure map-side JVM regexp — one
    scan, zero shuffle, composes with text_scrub's digit masking.
    pii_scrub_strict is the same pass with a phone pattern that trades
    recall for precision."""
    return _pii_scrub_impl(spark, sf)


@register("pii_scrub_strict", _pii_sql(PII_PHONE_STRICT))
def pii_scrub_strict(spark, sf):
    """pii_scrub with the precision phone pattern: >=3 separator-joined
    digit groups so ISBNs, year ranges, dates and coordinates survive
    unmasked (planted false-positive corpus in tests/test_ops.py pins
    exactly that). Same email/IPv4 stages, same staging rule (each
    count on the previous stage's text)."""
    return _pii_scrub_impl(spark, sf, strict_phone=True)


@register(
    "sample_split",
    """SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
)
def sample_split(spark, sf):
    """Deterministic train/val/test assignment by content-independent
    doc_id hash (~75/12.5/12.5 by first md5 hex nibble) — the standard
    leakage-free corpus split: stable across reruns and cluster sizes,
    no sampling state, no shuffle (pure map-side)."""
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return load(spark, sf, "documents").select(
        "doc_id",
        F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test").alias("split"),
    )
