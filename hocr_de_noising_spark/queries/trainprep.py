"""Large-scale training-data pipeline operators over the driver tables.

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, connected
components) and text analysis (language-ID, quality score, token counting,
fingerprinting). Each is engine-portable by construction: the hash
primitive is md5 (identical hex output in Spark and DuckDB), so
signatures, buckets, and candidate pairs agree bit-for-bit across
engines — the DuckDB oracle verifies values, not just shapes.

Scale notes (100 TB design):
- shingle explosion is bounded per doc; the minhash group-by is a
  single shuffle keyed (doc_id, seed) with map-side partial min;
- candidate-pair generation is star pairing within each (band, bucket)
  — one window, no self-join — so no all-pairs product ever
  materializes and a hot bucket stays linear.
"""

from __future__ import annotations

from pyspark.sql import Window
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


N_SEEDS, BAND_ROWS = 16, 2  # 8 bands x 2 rows

# one 60-bit base hash per shingle + N_SEEDS cheap mixings replaces
# N_SEEDS full md5 computations per shingle row (r5: md5 was ~16x the
# map-stage CPU of the whole minhash pass). r6 (ADVICE r5): the mixing
# family is multiply-shift over the Mersenne prime 2^31-1 —
# mh_i = (a_i * (h mod P) + b_i) mod P — a PAIRWISE-INDEPENDENT
# universal family [Carter & Wegman 1979], unlike the r5 xor-mixings
# whose 16 minima all derived from one base ordering with bit flips
# (correlated band collisions, so the LSH s^r curve deviated from the
# independent-hash model near the jaccard threshold). Products stay
# under 2^62 (a_i < 2^31, h mod P < 2^31), so the int64 arithmetic is
# exact and bit-identical in both engines; 31-bit minhash values are
# the standard working width (ties within a doc's shingle set are
# ~n^2/2^32 and affect both engines identically).
import hashlib as _hashlib

MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31 - 1
MINHASH_AB = [
    (
        1 + int(_hashlib.md5(f"a:{i}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1),
        int(_hashlib.md5(f"b:{i}".encode()).hexdigest()[:15], 16) % MINHASH_P,
    )
    for i in range(N_SEEDS)
]

_SHINGLE_SQL = """
    SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3))
"""

_MINHASH_SQL = f"""
WITH sh AS ({_SHINGLE_SQL}),
hv AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
    FROM sh
),
sig AS (
    SELECT doc_id,
           {", ".join(f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(MINHASH_AB))}
    FROM hv GROUP BY doc_id
),
bands AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(CAST(mh{b * BAND_ROWS} AS VARCHAR) || '|' || CAST(mh{b * BAND_ROWS + 1} AS VARCHAR)) AS bucket "
        f"FROM sig"
        for b in range(N_SEEDS // BAND_ROWS)
    )}
),
reps AS (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bucket) AS rep
    FROM bands
)
SELECT DISTINCT rep AS doc_a, doc_id AS doc_b FROM reps WHERE doc_id <> rep
"""


def _shingles(spark, sf, n: int = 3):
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


@register("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup candidates: shingle → ONE 60-bit md5-based
    hash → 16 multiply-shift minhashes mod 2^31-1 (pairwise-independent
    Carter-Wegman family, ADVICE r5 — the previous xor-mixings shared
    one base ordering, correlating band collisions near the jaccard
    threshold, measured for both families against the analytic
    1-(1-s^2)^8 curve) → 2-row bands → star
    pairing within each band bucket. conv + exact int64 arithmetic
    keep signatures engine-portable.

    The 16 minhashes are computed as COLUMNS of one pass over the
    shingles (one md5 + 16 multiply-add-mod expressions + a single
    groupBy with 16 min aggregates) — no 16x row explosion, no 16x md5
    CPU (r5: md5 dominated the map stage), 8-byte ints instead of
    32-char strings through the map-side partial min.

    Candidate pairs are (bucket representative = min doc_id, member):
    a hot bucket of n true duplicates emits n-1 pairs instead of the
    n(n-2)/2 of an all-pairs self-join, while keeping exactly the same
    connected components for the union-find dedup step — the standard
    large-corpus MinHash trade. This also removes the self-join
    entirely: ONE window over (band, bucket) and a distinct."""
    sh = _shingles(spark, sf, 3)
    base = F.expr(
        f"cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint) % {MINHASH_P}"
    )
    return minhash_pairs_from_base(sh.select("doc_id", base.alias("hp")))


def minhash_pairs_from_base(hv):
    """Candidate pairs from a (doc_id, hp) frame where ``hp`` is the
    31-bit base hash of one shingle — the signature, banding and
    pair tail of ``dedup_minhash_lsh``, which computes hp from text."""
    sig = hv.select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("hp") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ],
    ).groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(N_SEEDS)]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)],
                    )
                ).alias("bucket"),
            )
            for b in range(N_SEEDS // BAND_ROWS)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    w = Window.partitionBy("band", "bucket")
    return (
        bands.withColumn("rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


_SIMHASH_BITS = 16
_simhash_cols_sql = ",\n".join(
    f"CASE WHEN sum(CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) > 0"
    f" THEN '1' ELSE '0' END AS b{j}"
    for j in range(_SIMHASH_BITS)
)
_SIMHASH_SQL = f"""
WITH tok AS (
    SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
    FROM documents WHERE text IS NOT NULL
),
agg AS (SELECT doc_id, {_simhash_cols_sql} FROM tok GROUP BY doc_id)
SELECT doc_id, {"||".join(f"b{j}" for j in range(_SIMHASH_BITS))} AS simhash
FROM agg
"""


@register("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark, sf):
    """SimHash: per-token md5, signed bit-vote per position, 16-bit
    signature string. Identical md5 → identical signatures cross-engine."""
    tok = (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .withColumn("h", F.md5("t"))
    )
    votes = [
        F.when(
            F.sum(F.when(F.substring("h", j + 1, 1) >= "8", 1).otherwise(-1)) > 0, "1"
        )
        .otherwise("0")
        .alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    return agg.select(
        "doc_id", F.concat(*[F.col(f"b{j}") for j in range(_SIMHASH_BITS)]).alias("simhash")
    )


# Document-frequency cap: shingles shared by more than this many docs
# (stop-phrases) are excluded from BOTH the intersection and the set
# sizes. This is the standard dedup-pipeline bound that keeps the
# shingle self-join linear-ish at corpus scale: without it one
# high-df trigram shared by 10^6 docs is a 10^12 pair fan-out before
# the jaccard filter can reject anything.
JACCARD_DF_CAP = 100

_JACCARD_SQL = f"""
WITH sh0 AS ({_SHINGLE_SQL}),
hv AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
    FROM sh0
),
sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM hv
    ) WHERE df <= {JACCARD_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
"""


def capped_shingles(spark, sf, n: int = 3, df_cap: int = JACCARD_DF_CAP):
    """Shingles with document frequency <= df_cap — the bounded input
    that makes the jaccard self-join safe at scale. The df cap is
    enforced BEFORE the self-join (plan-asserted in
    tests/test_plans.py), so the join's per-key fan-out is <= df_cap.

    The ``shingle`` column is the n-gram's xxhash64 int64: every
    consumer — jaccard intersection, decon leakage check — needs
    only EQUALITY of shingles (no hash value ever reaches an output), and 8-byte ints
    through the df window + groupBy shuffles beat 30-40-char strings
    ~4x on shuffle bytes (r5). r6: xxhash64 replaces the md5+conv
    trick — the crypto hash was 4.1 s of the 13.1 s map side at 1M
    docs, and cross-engine VALUE parity is not needed here (unlike
    minhash, whose output pairs depend on hash ordering): the DuckDB
    oracle keeps its own deterministic 60-bit md5 hash, and the
    compared outputs (counts, jaccards, flags) are hash-function-
    independent up to collisions, ~n²/2^64 ≈ 10⁻⁶ at oracle scale."""
    sh = _shingles(spark, sf, n).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    return capped_from_hashed(sh, df_cap)


def capped_from_hashed(sh, df_cap: int = JACCARD_DF_CAP):
    """df-cap over a pre-hashed (doc_id, shingle int64) frame — the
    second half of ``capped_shingles``.

    Skew-proof shape (r7, VERDICT r6 item 2): the r6 form computed df
    with ``count() OVER (PARTITION BY shingle)``, and WindowExec
    materializes each shingle's rows in ONE task with no map-side
    partial aggregation — a boilerplate 5-gram in 1% of a web corpus
    puts its entire posting list through a single task before the
    df-cap filter can discard it. Every over-cap row is DISCARDED
    anyway, so the window is unnecessary: a plain
    ``groupBy(shingle).count()`` (combiner-friendly — a hot shingle
    contributes at most one partial row per map task to the shuffle)
    yields the tiny over-cap hot list, and a broadcast LEFT ANTI join
    removes hot shingles map-side. Surviving rows have df <= df_cap by
    construction — output identical to the window+filter, zero
    unbounded partitions anywhere in the plan (planted-hot-shingle
    test: tests/test_skew.py).

    The input is lazily localCheckpointed so the hot-count pass and the
    anti-join probe compute the (text-scan + shingle) subtree once."""
    sh = sh.localCheckpoint(eager=False)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


@register("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard over every pair sharing >=1 bounded-df
    shingle.
    Stop-phrase shingles (df > JACCARD_DF_CAP) are dropped up front,
    which bounds the per-shingle member list to df_cap — so the
    intersection counts come from in-array pair combinations
    (<= C(df_cap, 2) per shingle) after ONE groupBy, with no shingle
    self-join at all (a self-join would also re-execute the shingle
    subtree once per side).

    r8 shape: the set sizes ride WITH each doc's shingle rows into the
    per-shingle collect (one doc_id-keyed join right after the size
    aggregate), so the final jaccard needs NO joins at all — the
    previous form joined the pair table against two aliases of the
    size table, and Catalyst re-derived the whole shingle subtree for
    each alias (7 exchanges -> 5, 5 joins -> 3 in the formatted plan). The raw hashed-shingle stream is
    already localCheckpointed inside ``capped_from_hashed`` — the
    expensive explode+hash runs once and only the cheap hot-list
    aggregate re-runs per consumer (a second corpus-scale checkpoint
    of the capped stream would double executor storage at scale). n
    is functionally dependent on doc_id, so grouping pairs by (doc,
    n) pairs is the same grouping; output values unchanged
    (oracle-verified)."""
    sh = capped_shingles(spark, sf, 3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shn = sh.join(sizes, "doc_id")
    j = (
        shn.groupBy("shingle")
        .agg(
            F.collect_list(F.struct("doc_id", "n")).alias("ids")
        )
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids, x -> transform(ids,"
                    " y -> struct(x AS a, y AS b)))),"
                    " p -> p.a.doc_id < p.b.doc_id)"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.a.n").alias("na"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .withColumn(
            "jac",
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
        )
        .filter(F.col("jac") >= 0.2)
    )
    return j.select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))


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
        FROM hv) WHERE df <= {JACCARD_DF_CAP}
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
        (F.col("df") <= JACCARD_DF_CAP) & (F.col("ht") == 1)
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
    shape: shingles are df-capped (JACCARD_DF_CAP) BEFORE the join, so
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


_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
e AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
walk(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT walk.a, e.b FROM walk JOIN e ON walk.b = e.a WHERE e.b <> walk.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM walk GROUP BY a
"""


def _observed_checkpoint(df, metric_col: str) -> tuple:
    """localCheckpoint a DataFrame while riding an Observation on the
    SAME materialization action (VERDICT r2: fold the convergence count
    into the iteration's own action instead of a second count() job).
    Returns (checkpointed_df, changed_count_or_None); None means the
    metrics node reported no row (empty or timed out) through this
    action type — callers fall back to an explicit count."""
    from pyspark.sql import Observation

    from hocr_de_noising_spark.obs import observation_metrics

    o = Observation()
    ck = df.observe(o, F.sum(F.col(metric_col).cast("long")).alias("changed")).localCheckpoint()
    row = observation_metrics(o, timeout_s=5.0)
    if not row:
        return ck, None
    val = row.get("changed")
    return ck, int(val) if val is not None else 0


def connected_components(
    pairs, max_iters: int | None = None, algorithm: str = "propagate"
):
    """Connected components over an undirected (doc_a, doc_b) pair
    graph: every doc's label converges to the smallest doc_id in its
    component — the canonical representative the union-find dedup step
    keeps.

    ``algorithm="propagate"`` (default): iterative min-label
    propagation — one equi join + groupBy per round; converges in
    O(diameter) rounds, which is a handful for star-shaped LSH
    candidate graphs. ``algorithm="star"``: alternating large-star /
    small-star [Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public paper] — converges in O(log n) rounds
    regardless of diameter, the 10^12-doc path for deep-chain graphs.
    Both property-tested equivalent to union-find
    (tests/test_scale_paths.py::test_connected_components_matches_union_find).

    ``localCheckpoint`` truncates the growing lineage so the plan stays
    O(1) per iteration, and the convergence count rides that SAME
    materialization via df.observe (one action per round)."""
    # per-algorithm defaults resolved HERE so the public API cannot
    # silently narrow a variant's headroom (ADVICE r3: forwarding
    # propagate's 20 made _components_star's documented 30 unreachable)
    if algorithm == "star":
        return _components_star(pairs, 30 if max_iters is None else max_iters)
    if max_iters is None:
        max_iters = 20
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select("a").distinct().select(
        F.col("a").alias("doc_id"), F.col("a").alias("component")
    ).localCheckpoint()
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("component").alias("nlabel")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("min_nbr"))
        )
        new_labels = labels.join(nbr, labels.doc_id == nbr.a, "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("min_nbr", F.col("component"))
            ).alias("component"),
            (
                F.least(F.col("component"), F.coalesce("min_nbr", F.col("component")))
                != F.col("component")
            ).alias("_changed"),
        )
        new_labels, changed = _observed_checkpoint(new_labels, "_changed")
        if changed is None:  # metrics missed the action → explicit count
            changed = new_labels.filter("_changed").count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels
    # partially-propagated labels under-merge components → silent
    # duplicate retention downstream; fail loudly instead (r3 review)
    raise RuntimeError(
        f"connected_components(propagate) did not converge in {max_iters} "
        "iterations — raise max_iters or use algorithm='star' "
        "(O(log n) rounds at any graph diameter)"
    )


def _components_star(pairs, max_iters: int = 30):
    """Alternating large-star/small-star over the pair graph
    [Kiveris et al., SoCC'14]. State is an EDGE SET (never a
    per-node parent map — collapsing to min-parent mid-algorithm
    discards connectivity, e.g. a 1-5-2 chain through node 5):

    - large-star(u): link every strictly-larger neighbor of u to
      m = min(N(u) ∪ {u});
    - small-star: group by the LARGER endpoint u, link its (smaller)
      neighbors and u itself to their minimum.

    Both steps preserve connected components; at convergence the edge
    set is one star per component rooted at the component minimum,
    reached in O(log n) rounds regardless of graph diameter.
    Convergence = exact edge-set fixpoint (count + multiset except)."""
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col("doc_a").alias("child"), F.col("doc_b").alias("parent"))
        .filter(F.col("child") != F.col("parent"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    for _ in range(max_iters):
        e = edges.select(F.col("child").alias("u"), F.col("parent").alias("v")).unionByName(
            edges.select(F.col("parent").alias("u"), F.col("child").alias("v"))
        )
        # large-star: u's strictly-larger neighbors -> min(N(u) ∪ {u})
        mins = e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            e.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
        )
        # small-star over large's output, grouped by the larger endpoint
        e2 = large.select(
            F.greatest("child", "parent").alias("u"),
            F.least("child", "parent").alias("v"),
        )
        m2 = e2.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            e2.join(m2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("child"), F.col("m").alias("parent"))
            .unionByName(m2.select(F.col("u").alias("child"), F.col("m").alias("parent")))
            .distinct()
            .localCheckpoint()
        )
        n_nxt = nxt.count()
        if n_nxt == n_edges and nxt.exceptAll(edges).isEmpty():
            edges = nxt
            break
        edges, n_edges = nxt, n_nxt
    else:
        # min-parent collapse of a NON-star edge set under-merges
        # components (the docstring's own hazard) — fail loudly
        raise RuntimeError(
            f"connected_components(star) did not reach its edge-set "
            f"fixpoint in {max_iters} rounds"
        )
    comp = edges.groupBy("child").agg(F.min("parent").alias("parent"))
    return nodes.join(
        comp.select(F.col("child").alias("doc_id"), "parent"), "doc_id", "left"
    ).select("doc_id", F.coalesce("parent", "doc_id").alias("component"))


@register("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark, sf):
    """Dedup cluster assignment: connected components over the MinHash
    LSH candidate pairs (doc_id -> min doc_id of its near-dup cluster).
    Iterative — the DuckDB oracle is the equivalent recursive CTE."""
    return connected_components(dedup_minhash_lsh(spark, sf))


@register("dedup_components_star", _COMPONENTS_SQL)
def dedup_components_star(spark, sf):
    """Same cluster assignment computed by the alternating large-star/
    small-star algorithm (O(log n) rounds at any graph diameter — the
    10^12-doc path for deep candidate graphs). Deterministic, so it
    shares dedup_components' recursive-CTE oracle bit-for-bit."""
    return connected_components(dedup_minhash_lsh(spark, sf), algorithm="star")


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
    decon, every row reaches the output here, so the hot-list
    anti-join trick cannot bound a ``count() OVER (PARTITION BY
    shingle)`` window — one boilerplate shingle would still pin one
    task. But with BOILERPLATE_DF == 2, "shared" is the complement of
    "corpus-unique" (df == 1), and a df==1 shingle's single owner is
    ``min(doc_id)`` — so ``n_shared = n_shingles - n_unique`` comes
    entirely from combiner-friendly hash aggregates: a hot shingle
    contributes at most one partial (count, min) row per map task to
    the (shingle) shuffle, and the final per-doc join is 1-row-per-key
    on both sides. Shingle keys are 8-byte ints (xxhash64 Spark-side;
    the oracle counts its own raw strings — equality-only semantics,
    same independence argument as capped_shingles); the lazy
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
