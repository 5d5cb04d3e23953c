"""Media NEAR-duplicate detection (VERDICT r4 item 3).

The media stage's exact dedup (sha256 over bytes) misses re-encoded
copies — same underlying content, different byte stream (quality
re-encode, container rewrite, trailing-metadata change). This module
adds a perceptual-fingerprint near-dup path built from public
techniques:

- **Signature** (aHash/blockhash family — average-hash over coarse
  blocks, public): the decoded payload's first ``PSIG_PREFIX`` units
  are split into ``PSIG_BAND``-unit bands; each band's value is the
  integer mean of its unit values floor-divided by ``PSIG_Q`` (16
  quantization levels for byte payloads). Small payload perturbations
  move band means by fractions of a quantization step, so re-encodes
  land on equal-or-adjacent signatures while distinct content lands
  far apart.
- **Bucketing** (banded LSH, OR-amplified — same scheme as
  ``ann_lsh_bucketed``): each of ``PSIG_TABLES`` tables keys on a
  3-value OVERLAPPING window of the signature (starts
  ``PSIG_TABLE_STARTS``); any shared (n_bands, table, v0, v1, v2)
  bucket makes a candidate pair. Three values per key give a 16³
  bucket space per table — measured at 50k media items, the original
  2-value keys (16² space) drove every bucket past the cap and the
  salting split 38% of true near-pairs apart (recall 0.62); 3-value
  keys keep buckets ~9 deep at that scale with recall restored by the
  overlapping-window OR. Hot buckets are STILL salted into sub-buckets
  of ``PSIG_BUCKET_CAP`` rows by the SAME md5 row-number rule as the
  ANN cap, so in-bucket fan-out stays bounded by cap² — no quadratic
  corner at 100 TB.
- **Verification**: L1 distance over the full signature ≤
  ``PSIG_L1_MAX`` (signatures in a shared bucket have equal length by
  construction — n_bands is part of the bucket key).

Everything is integer arithmetic on deterministic inputs, so the
DuckDB oracle reproduces Spark bit-for-bit. The pair generation is
join-free: signatures ride inside the bucket's ``collect_list`` and
pairs + L1 are produced by array HOFs, so the plan is one scan of the
signature source, one exchange for the cap window (reused by the
groupBy — (tbl, bucket) partitioning satisfies the (tbl, bucket, sub)
clustering), and one for the cross-table distinct. No self-join ever
re-executes the signature subtree (Catalyst does not share subtrees).

The registry key ``dedup_media_near`` runs the operator over a media
table synthesized deterministically from ``documents`` (payload :=
text, ref := 'm'||doc_id) so the driver's DuckDB oracle can check it
on the standard tables; ``jobs/run_trainprep.media_stage`` applies the
SAME core to real decoded binary payloads via the ``psig`` column that
``operators/multimodal.decode_media`` computes byte-wise.

Precision note (measured at the 20k and 50k scale runs): like every
aHash-family method, the signature assumes DECODED media is locally
structured (pixel rows, PCM windows). On adversarially UNSTRUCTURED
payloads (band values drawn uniform-random from content hashes)
signature collisions produce a sub-percent false-merge floor — 4/3,000
unique items (0.13%) at the 20k smoke, 241/37,500 (0.64%) at the 50k
scale run — while recall on planted re-encodes is 100% (12,500/12,500
collapsed at 50k). Real codec output is structured; for archival-grade
pipelines, add a byte-level verify pass on near-pairs before
collapsing.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hocr_de_noising_spark.operators.multimodal import VSIG_SUM_TOL_PER_BAND
from hocr_de_noising_spark.queries.util import let_sql, load, register

PSIG_PREFIX = 256  # payload units (bytes / chars) covered by the signature
PSIG_BAND = 32  # units per band -> up to 8 bands
PSIG_TABLES = 4  # LSH tables: overlapping 3-value windows of the signature
PSIG_TABLE_STARTS = (0, 2, 4, 5)  # 0-based window starts over 8 bands
PSIG_BUCKET_CAP = 64  # ann_lsh_bucketed's cap/salt rule
PSIG_L1_MAX = 4  # verified near-dup threshold on full-signature L1

# Quantization divisor on the integer band mean, scaled to the unit
# value range so the signature discriminates: decoded BYTE payloads
# span 0-255 (16 levels at q=16 — classic aHash coarseness), while
# natural-language CHARACTER payloads concentrate in a ~30-code-point
# band around lowercase ASCII, where q=16 would collapse every doc
# onto one value (measured: 21% of ALL sf0.01 pairs pass; q=2 -> 0.9%).
PSIG_Q_BYTES = 16
PSIG_Q_TEXT = 2


def psig_sql_expr(payload: str, q: int = PSIG_Q_TEXT) -> str:
    """Spark SQL expression: array<int> perceptual signature of a STRING
    payload (character code points as the unit values). Integer-only:
    band value = sum(codes) div (band_len * q), identical to
    floor(floor(mean)/q) for positive ints.

    The prefix is split to a char array ONCE and each band slices it —
    per-index ``substring`` calls instead cost an O(i) UTF-8 seek each,
    O(prefix²) per doc (measured 1.42x slower at sf0.1, bit-identical
    output)."""
    plen = f"least(length({payload}), {PSIG_PREFIX})"
    blen = f"least({PSIG_BAND}, {plen} - b * {PSIG_BAND})"
    # let-bound code-point array (r8): the band lambda referenced
    # split(substring(payload)) directly, so the prefix was re-split
    # (and re-ascii'd) once PER BAND — 16x. Binding the full code
    # array once per row leaves each band a pure slice+sum.
    codes = f"slice(cs, b*{PSIG_BAND}+1, {blen})"
    return let_sql(
        f"transform(split(substring({payload}, 1, {PSIG_PREFIX}), ''),"
        f" c -> ascii(c))",
        "cs",
        f"transform(sequence(0, (({plen}+{PSIG_BAND - 1}) div {PSIG_BAND}) - 1),"
        f" b -> cast(aggregate({codes}, 0, (acc, x) -> acc + x)"
        f" div ({blen} * {q}) as int))",
    )


def psig_near_pairs(sigs):
    """Near-dup pairs over a (media_ref string, psig array<int>) frame.

    Join-free banded-LSH core: explode PSIG_TABLES overlapping 3-value
    signature windows, bucket on (n_bands, tbl, v0, v1, v2), salt hot
    buckets to PSIG_BUCKET_CAP, generate in-bucket pairs from the
    grouped member array with signatures inline, verify
    L1 <= PSIG_L1_MAX. Output: (media_a, media_b, l1), deduped across
    tables.

    If ``sigs`` carries a ``vsig`` column (the fine unquantized
    band-sum signature ``operators/multimodal.decode_media`` emits),
    every candidate pair is ADDITIONALLY gated on the byte-derived
    verify chain (VERDICT r5 item 4): per-band |sum diff| over the
    common prefix bands must stay within VSIG_SUM_TOL_PER_BAND. A
    genuine re-encode drifts each band sum by <= band_len * delta and
    passes; an unrelated payload that collides in the coarse 16³
    bucket space (the measured density-dependent false-merge floor)
    fails with overwhelming probability. The vsig rides the same
    collect_list as the psig — still join-free, same plan shape."""
    verify = "vsig" in sigs.columns
    starts = F.array(*[F.lit(s) for s in PSIG_TABLE_STARTS])
    bands = (
        sigs.select(
            "media_ref",
            "psig",
            *(["vsig"] if verify else []),
            F.explode(starts).alias("s"),
        )
        .filter(F.expr("s + 1 <= size(psig)"))
        .withColumn("tbl", F.col("s"))
        .withColumn(
            "bucket",
            F.expr(
                "concat_ws(':', size(psig), element_at(psig, s+1),"
                " if(s+2 <= size(psig), element_at(psig, s+2), -1),"
                " if(s+3 <= size(psig), element_at(psig, s+3), -1))"
            ),
        )
    )
    w = Window.partitionBy("tbl", "bucket").orderBy(F.md5("media_ref"))
    capped = bands.withColumn(
        "sub", F.floor((F.row_number().over(w) - 1) / PSIG_BUCKET_CAP)
    )
    member = F.struct("media_ref", "psig", *(["vsig"] if verify else []))
    pairs = (
        capped.groupBy("tbl", "bucket", "sub")
        .agg(F.collect_list(member).alias("ms"))
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ms, x -> transform(ms,"
                    " y -> struct(x AS a, y AS b)))),"
                    " p -> p.a.media_ref < p.b.media_ref)"
                )
            ).alias("p")
        )
    )
    if verify:
        # common-prefix bands only (slice to the shorter vsig): the
        # coarse bucket already pins the 256-byte-prefix band count,
        # but payload lengths may differ past it
        pairs = pairs.filter(
            F.expr(
                "forall(zip_with("
                " slice(p.a.vsig, 1, least(size(p.a.vsig), size(p.b.vsig))),"
                " slice(p.b.vsig, 1, least(size(p.a.vsig), size(p.b.vsig))),"
                f" (x, y) -> abs(x - y) <= {VSIG_SUM_TOL_PER_BAND}), v -> v)"
            )
        )
    return (
        pairs.select(
            F.col("p.a.media_ref").alias("media_a"),
            F.col("p.b.media_ref").alias("media_b"),
            F.expr(
                "cast(aggregate(zip_with(p.a.psig, p.b.psig,"
                " (x, y) -> abs(x - y)), 0, (acc, v) -> acc + v) as bigint)"
            ).alias("l1"),
        )
        .filter(F.col("l1") <= PSIG_L1_MAX)
        .distinct()
    )


def _band_sql(payload: str, q: int = PSIG_Q_TEXT) -> str:
    """DuckDB mirror of :func:`psig_sql_expr` (1-based substring, //
    floor division, list_transform/list_sum)."""
    plen = f"least(length({payload}), {PSIG_PREFIX})"
    blen = f"least({PSIG_BAND}, {plen} - b * {PSIG_BAND})"
    codes = (
        f"list_transform(range(b*{PSIG_BAND}+1, b*{PSIG_BAND}+{blen}+1),"
        f" i -> ascii(substring({payload}, CAST(i AS INT), 1)))"
    )
    return (
        f"list_transform(range(0, ({plen}+{PSIG_BAND - 1}) // {PSIG_BAND}),"
        f" b -> CAST(list_sum({codes}) // ({blen} * {q}) AS INT))"
    )


_MEDIA_NEAR_SQL = f"""
WITH m AS (
    SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_ref, text AS payload
    FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
sig AS (
    SELECT media_ref, {_band_sql("payload")} AS psig FROM m
),
bands AS (
    SELECT media_ref, psig, t.s AS tbl,
           CAST(len(psig) AS VARCHAR) || ':' ||
           CAST(psig[t.s+1] AS VARCHAR) || ':' ||
           CAST(coalesce(psig[t.s+2], -1) AS VARCHAR) || ':' ||
           CAST(coalesce(psig[t.s+3], -1) AS VARCHAR) AS bucket
    FROM sig, (SELECT unnest([{", ".join(str(s) for s in PSIG_TABLE_STARTS)}]) AS s) t
    WHERE t.s + 1 <= len(psig)
),
capped AS (
    SELECT media_ref, psig, tbl, bucket,
           (row_number() OVER (PARTITION BY tbl, bucket
                               ORDER BY md5(media_ref)) - 1)
               // {PSIG_BUCKET_CAP} AS sub
    FROM bands
),
pairs AS (
    SELECT DISTINCT a.media_ref AS media_a, b.media_ref AS media_b,
           CAST(list_sum(list_transform(range(1, len(a.psig)+1),
                i -> abs(a.psig[i] - b.psig[i]))) AS BIGINT) AS l1
    FROM capped a JOIN capped b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.sub = b.sub
         AND a.media_ref < b.media_ref
)
SELECT media_a, media_b, l1 FROM pairs WHERE l1 <= {PSIG_L1_MAX}
"""


@register("dedup_media_near", _MEDIA_NEAR_SQL)
def dedup_media_near(spark, sf):
    """Perceptual near-dup pairs over a media table synthesized
    deterministically from documents (payload := text, ref :=
    'm'||doc_id). The signature/bucket/cap/verify core is shared with
    the real binary-media path in run_trainprep.media_stage."""
    sigs = (
        load(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_ref"),
            F.expr(psig_sql_expr("text")).alias("psig"),
        )
    )
    return psig_near_pairs(sigs)
