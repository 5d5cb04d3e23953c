"""Operator queries vs DuckDB oracle — mirrors the driver's check
(row count + schema-ish + order-insensitive value comparison) at
sf0.001 for speed; the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from hocr_de_noising_spark.queries import QUERIES
from hocr_de_noising_spark.queries.util import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

SQL_KEYS = sorted(k for k, v in QUERIES.items() if v["sql"] is not None)
ROWS_ONLY_KEYS = sorted(k for k, v in QUERIES.items() if v["sql"] is None)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif s.dtype == object:
            df[c] = s.astype("string")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def assert_frames_match(sdf: pd.DataFrame, ddf: pd.DataFrame, name: str):
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs {len(ddf)}"
    a, b = _normalize(sdf), _normalize(ddf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av, bv = a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float)
            ok = np.isclose(av, bv, atol=1e-8, rtol=0, equal_nan=True)
            assert ok.all(), f"{name}.{c}: {int((~ok).sum())} float mismatches, first: {av[~ok][:3]} vs {bv[~ok][:3]}"
        else:
            eq = (a[c].fillna("\0NULL") == b[c].fillna("\0NULL")) if a[c].dtype != "boolean" else (
                a[c].astype("object").fillna("\0NULL") == b[c].astype("object").fillna("\0NULL")
            )
            assert eq.all(), f"{name}.{c}: {int((~eq).sum())} mismatches, first: {a[c][~eq][:3].tolist()} vs {b[c][~eq][:3].tolist()}"


@pytest.mark.parametrize("name", SQL_KEYS)
def test_query_vs_oracle(spark, duck, name):
    spec = QUERIES[name]
    sdf = spec["fn"](spark, SF_DIR).toPandas()
    ddf = duck.execute(spec["sql"]).df()
    assert_frames_match(sdf, ddf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name]["fn"](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


_NASTY_TEXTS = [
    (1, None),  # null text
    (2, ""),  # empty
    (3, " "),  # single space
    (4, "   "),  # only spaces
    (5, "a"),  # single char
    (6, "a  b"),  # double space -> empty token in split
    (7, "one two"),  # below 3-gram threshold
    (8, "one two three"),  # exactly at 3-gram threshold
    (9, "tab\tand\nnewline inside the text body here"),
    (10, "café entrée naïve résumé 中文 words"),
    (11, "12345 67890 222 33 4"),  # digits only (scrub masks all)
    (12, "w" * 300),  # one very long word
    (13, "ends with spaces   "),
    (14, "the the the the the the the the"),  # max repetition
    (15, "every clever weaver sewed seven green sleeves here"),
    # planted PII (pii_scrub coverage — the sf tables contain none)
    (16, "contact bob.smith+x@ex-ample.co.uk or alice@a.io today"),
    (17, "server at 10.0.0.1 and 192.168.255.254 but not 999.1.2"),
    (18, "call +44 (0) 1234 567890 or 555-867-5309 x22"),
    (19, "mixed a1@b.cd from 8.8.8.8 dialing 0123456789 end"),
]


def test_text_keys_on_adversarial_corpus(spark, tmp_path):
    """Bit-level Spark-vs-DuckDB parity for the text/gate keys on a
    corpus of adversarial strings the sf tables may never contain:
    nulls, empties, double spaces (empty split tokens), intra-text
    tabs/newlines, non-ASCII, digit-only, 300-char words, trailing
    spaces, degenerate repetition. Protects the driver-correctness
    surface against synthetic-corpus drift."""
    sdir = tmp_path / "adv"
    sdir.mkdir()
    docs = spark.createDataFrame(
        [(i, t, "en", "adv", len(t) if t else 0) for i, t in _NASTY_TEXTS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(sdir / "documents.parquet"))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sdir}/documents.parquet/*.parquet'"
    )
    keys = [
        "lang_id", "quality_score", "text_scrub", "token_count",
        "quality_repetition", "doc_fingerprint", "dedup_exact",
        "sample_split", "decontaminate_overlap", "pii_scrub",
        "pii_scrub_strict", "quality_boilerplate",
        "html_main_content", "dedup_lines", "vocab_topk",
        "quality_perplexity", "url_canonicalize", "bpe_pair_topk",
        "sample_stratified", "shard_token_budget",
        "html_main_content_dom", "pack_sequences", "dsir_select",
    ]
    for name in keys:
        sdf = QUERIES[name]["fn"](spark, str(sdir)).toPandas()
        ddf = con.execute(QUERIES[name]["sql"]).df()
        assert_frames_match(sdf, ddf, f"adversarial:{name}")


def test_quality_repetition_matches_python_reference(spark, tmp_path):
    """Randomized differential: the JVM array-HOF repetition metrics
    must equal an independent pure-Python computation on 60 random
    texts (seeded), including short docs, repeated words and empty
    tokens from double spaces."""
    import random

    rng = random.Random(42)
    vocab = ["the", "evening", "keeper", "records", "weather", "tide",
             "pier", "letters", "envoy", "embers", "a", "b"]
    texts = []
    for i in range(60):
        n = rng.randint(1, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        t = " ".join(words)
        if rng.random() < 0.2:
            t = t.replace(" ", "  ", 1)  # double space -> empty token
        texts.append((i, t))

    def r4(x):
        # Spark/DuckDB round() is half-up; Python's is banker's
        return math.floor(x * 10000 + 0.5) / 10000

    def ref(t):
        toks = t.split(" ")  # NB: keeps empty tokens, like F.split
        n = len(toks)
        dw = r4(1.0 - len(set(toks)) / n)
        if n >= 3:
            grams = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
            dg = r4(1.0 - len(set(grams)) / (n - 2))
        else:
            dg = 0.0
        return n, dw, dg

    sdir = tmp_path / "rnd"
    sdir.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "r", len(t)) for i, t in texts],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sdir / "documents.parquet"))
    got = {
        r.doc_id: (r.n_words, r.dup_word_frac, r.dup_3gram_frac)
        for r in QUERIES["quality_repetition"]["fn"](spark, str(sdir)).collect()
    }
    for i, t in texts:
        n, dw, dg = ref(t)
        gn, gdw, gdg = got[i]
        assert gn == n, (i, t)
        assert abs(gdw - dw) < 1e-9, (i, t, gdw, dw)
        assert abs(gdg - dg) < 1e-9, (i, t, gdg, dg)


def test_pii_strict_phone_precision(spark, tmp_path):
    """VERDICT r6 item 7: the aggressive phone pattern eats ISBNs,
    year ranges, dates and coordinates; strict_phone is the measured
    precision knob. Planted corpus pins exactly that: every
    false-positive shape must survive strict mode UNMASKED while real
    phone shapes are still caught, and aggressive mode must mask the
    digit runs (proving the two modes actually differ on these)."""
    false_positives = [
        (1, "cited as ISBN 0-306-40615-2 in the appendix"),
        (2, "catalogued under ISBN 978-0-306-40615-7 last year"),
        (3, "active 1990 - 1998 then dormant"),
        (4, "published 2026-08-17 in the gazette"),
        # DMS coordinates: a space-joined digit run the aggressive
        # pattern eats ("51 30 26") but only 2-digit groups x3, which
        # strict's 4-group / 3-wide-group alternatives both reject
        (5, "anchored at 51 30 26 N, 0 7 39 W on the chart"),
    ]
    true_phones = [
        (6, "call 555-867-5309 after five"),
        (7, "reach us at 212 555 0123 weekdays"),
        (8, "office (020) 7946 0958 ext 4"),
        # NB: dash form — the dotted French style "06.12.34.56.78" is
        # (correctly) consumed by the earlier IPv4 stage
        (9, "mobile 06-12-34-56-78 anytime"),
    ]
    sdir = tmp_path / "pii"
    sdir.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "pii", len(t)) for i, t in false_positives + true_phones],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(sdir / "documents.parquet"))
    strict = {
        r.doc_id: (r.pii_scrubbed, r.n_phone)
        for r in QUERIES["pii_scrub_strict"]["fn"](spark, str(sdir)).collect()
    }
    loose = {
        r.doc_id: (r.pii_scrubbed, r.n_phone)
        for r in QUERIES["pii_scrub"]["fn"](spark, str(sdir)).collect()
    }
    for i, t in false_positives:
        assert strict[i] == (t, 0), (i, t, strict[i])
        # aggressive mode must actually mask these — otherwise the
        # "precision knob" claim is vacuous on this corpus
        assert loose[i][1] >= 1, (i, t, loose[i])
    for i, t in true_phones:
        assert strict[i][1] >= 1 and "[PHONE]" in strict[i][0], (
            i, t, strict[i])


def test_html_main_content_planted_boilerplate(spark):
    """Library-surface check on hand-built pages with KNOWN block
    roles: body paragraphs survive, nav/sidebar/footer (short +
    link-dense) are dropped, script/style/comment subtrees vanish
    entirely (their text must not leak into any block), and the
    link-density rule kills a long-but-all-links block that the word
    count alone would keep."""
    from hocr_de_noising_spark.queries.web_extract import (
        extract_main_content,
    )

    body = " ".join(f"word{i}" for i in range(30))
    linkfarm = " ".join(
        f'<a href="/l{i}">anchor{i} text{i}</a>' for i in range(15)
    )
    pages = [
        (
            1,
            "<html><head><script>var secret = 'LEAK';</script>"
            "<style>.hidden{content:'LEAK'}</style></head><body>"
            "<!-- LEAK comment -->"
            '<div id="nav"><a href="/">Home</a> <a href="/a">About</a></div>'
            f"<p>{body}</p>"
            f"<div>{linkfarm}</div>"
            '<div id="footer">(c) example <a href="/t">terms</a></div>'
            "</body></html>",
        ),
        # degenerate: no block tags at all -> one block, kept iff long
        (2, f"plain text with no markup {body}"),
        (3, ""),  # empty page
    ]
    out = {
        r.doc_id: r
        for r in extract_main_content(
            spark.createDataFrame(pages, "doc_id long, html string")
        ).collect()
    }
    assert out[1].main_text == body  # ONLY the body paragraph survives
    assert "LEAK" not in out[1].main_text
    assert "Home" not in out[1].main_text
    assert "anchor0" not in out[1].main_text  # link farm dropped
    assert out[1].n_kept == 1
    # link farm + nav + footer + body are the non-empty blocks
    assert out[1].n_blocks == 4
    assert out[2].main_text.endswith(body) and out[2].n_kept == 1
    assert out[3].main_text == "" and out[3].n_blocks == 0


def test_embedding_keys_on_adversarial_vectors(spark, tmp_path):
    """r4 probe found a real crash: a zero-norm embedding (the failed-
    embedding row every real corpus contains) made the bare cosine
    division THROW under ANSI mode. Cosines now go through
    nullif(denominator, 0) on BOTH engines → NULL, and ranking is
    explicitly NULLS LAST. Covers zero vectors, identical/antiparallel
    pairs, denormal-small and huge norms."""
    import random

    random.seed(7)
    rows = [
        (0, 0, [0.0] * 8),  # zero norm
        (1, 0, [float(x) for x in range(1, 9)]),
        (2, 0, [float(x) for x in range(1, 9)]),  # identical -> 1.0
        (3, 0, [-float(x) for x in range(1, 9)]),  # antiparallel -> -1.0
        (4, 1, [1e-30] * 8),
        (5, 1, [1e30] * 8),
    ] + [
        (i, i % 3, [random.uniform(-1, 1) for _ in range(8)])
        for i in range(6, 16)
    ]
    sdir = tmp_path / "adv_emb"
    sdir.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<float>"
    ).write.parquet(str(sdir / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sdir}/embeddings.parquet/*.parquet'"
    )
    for name in ("dedup_embed_cosine", "knn_bruteforce"):
        sdf = QUERIES[name]["fn"](spark, str(sdir)).toPandas()
        ddf = con.execute(QUERIES[name]["sql"]).df()
        assert_frames_match(sdf, ddf, f"adversarial:{name}")
    pairs = QUERIES["dedup_embed_cosine"]["fn"](spark, str(sdir)).toPandas()
    by_pair = {(r.vec_a, r.vec_b): r.cosine for r in pairs.itertuples()}
    assert by_pair[(1, 2)] == 1.0
    assert by_pair[(1, 3)] == -1.0
    assert pd.isna(by_pair[(0, 1)])  # zero-norm pair -> NULL, not crash


def test_approx_distinct_semantic_contract(spark):
    """Rows-only key contract (SURVEY §2): the HLL estimate must land
    within tolerance of the exact distinct count per group — the exact
    side is the oracle-checked `agg_distinct` twin, so this transitively
    anchors the sketch to the DuckDB oracle."""
    exact = {
        r.l_returnflag: r.n_parts
        for r in QUERIES["agg_distinct"]["fn"](spark, SF_DIR).collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in QUERIES["agg_approx_distinct"]["fn"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        # rsd=0.02 → 3-sigma ≈ 6%; allow 10% plus small-count slack
        assert abs(approx[k] - n) <= max(0.10 * n, 5), (k, approx[k], n)


def test_approx_percentile_semantic_contract(spark):
    """Rows-only key contract (SURVEY §2): the quantile sketch (accuracy
    10k) must track the exact interpolated percentiles from the
    oracle-checked `agg_percentile` twin within 2% relative error."""
    exact = {
        r.l_returnflag: (r.p50, r.p95)
        for r in QUERIES["agg_percentile"]["fn"](spark, SF_DIR).collect()
    }
    approx = {
        r.l_returnflag: (r.p50_price, r.p95_price)
        for r in QUERIES["agg_approx_percentile"]["fn"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            assert abs(a - e) <= 0.02 * abs(e), (k, a, e)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "sum_qty", "count_order"}


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_rotation_policy_invariants():
    """The driver caps CORRECTNESS at 50 rows; whatever the ordering
    cuts must have a green row from the immediately previous round, and
    keys changed since their last green row must lead the window."""
    import json

    import __spark_entry__ as entry_mod

    import glob

    order = list(entry_mod.queries())
    latest = sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))
    )[-1]
    prev_green = set(json.load(open(latest)))
    cut = order[50:]
    assert all(k in prev_green for k in cut), f"cut keys lack a fresh row: {cut}"
    n = len(entry_mod._CHANGED_SINCE_GREEN)
    assert set(order[:n]) == set(entry_mod._CHANGED_SINCE_GREEN), (
        "changed-since-green keys must lead the window"
    )
    # a key deleted from the registry must leave the rotation too
    assert set(entry_mod._LAST_GREEN) <= set(QUERIES)


def test_dedup_job_end_to_end(spark, tmp_path):
    """jobs/run_dedup.py composition: candidate -> cluster -> keepers,
    with the invariants a dedup pipeline must hold: every cluster keeps
    exactly one representative, keepers + clustered non-reps == corpus."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_dedup import run_dedup_job

    out = str(tmp_path / "dedup")
    # threshold 0.05: the sf0.001 corpus has weaker near-dups than
    # sf0.01; verification must still prune some candidates
    s = run_dedup_job(spark, SF_DIR, out, jaccard_threshold=0.05)
    assert s["candidate_pairs"] > 0 and s["clustered_docs"] > 0
    assert 0 < s["verified_pairs"] <= s["candidate_pairs"]
    comps = spark.read.parquet(os.path.join(out, "components"))
    # each component's representative is its own min member
    import pyspark.sql.functions as F

    bad = comps.groupBy("component").agg(F.min("doc_id").alias("m")).filter(
        "component <> m"
    )
    assert bad.count() == 0
    n_docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    n_dropped = comps.filter("doc_id <> component").count()
    assert s["keepers"] == n_docs - n_dropped


def test_trainprep_job_end_to_end(spark, tmp_path):
    """jobs/run_trainprep.py composition: scrub -> quality/lang gates ->
    dedup -> split. Invariants: monotone shrinking counts, only gated
    languages survive, digits are masked, splits assigned, no doc kept
    twice."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    import pyspark.sql.functions as F

    out = str(tmp_path / "prep")
    s = run_trainprep_job(
        spark, SF_DIR, out, min_quality=0.4, langs=("en",), jaccard_threshold=0.05
    )
    assert s["n_input"] >= s["n_after_gates"] >= s["n_final"] > 0
    assert s["gated_out"] > 0  # the sf corpus plants non-en/low-quality docs
    assert s["dedup_removed"] == s["n_after_gates"] - s["n_final"]
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == s["n_final"]
    assert {r.lang for r in corpus.select("lang").distinct().collect()} == {"en"}
    assert {r.split for r in corpus.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
    assert corpus.groupBy("doc_id").count().filter("count > 1").count() == 0
    # scrub ran: no digit runs survive in the final text
    assert corpus.filter(F.col("text").rlike("[0-9]")).count() == 0


def test_dedup_job_star_components_identical(spark, tmp_path):
    """components_algorithm='star' (O(log n) rounds) must produce a
    bit-identical components table to the default propagate loop."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_dedup import run_dedup_job

    a = str(tmp_path / "prop")
    b = str(tmp_path / "star")
    run_dedup_job(spark, SF_DIR, a, jaccard_threshold=0.05)
    run_dedup_job(
        spark, SF_DIR, b, jaccard_threshold=0.05, components_algorithm="star"
    )
    ca = spark.read.parquet(os.path.join(a, "components"))
    cb = spark.read.parquet(os.path.join(b, "components"))
    assert ca.exceptAll(cb).isEmpty() and cb.exceptAll(ca).isEmpty()
    assert ca.count() > 0


def test_trainprep_decontaminate_stage(spark, tmp_path):
    """--decontaminate writes a report of SURVIVING val/test docs that
    share a 5-gram shingle with the train split; every reported doc
    must be a keeper outside the train split, and the corpus itself is
    left intact (report-only)."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    out = str(tmp_path / "prep")
    s = run_trainprep_job(
        spark, SF_DIR, out, min_quality=0.4, langs=("en",),
        jaccard_threshold=0.05, decontaminate=True,
    )
    assert "n_contaminated" in s
    rep = spark.read.parquet(os.path.join(out, "decon"))
    assert rep.count() == s["n_contaminated"]
    assert set(rep.columns) == {"doc_id", "split", "n_shared"}
    keepers = spark.read.parquet(os.path.join(out, "dedup", "keepers"))
    assert rep.filter("split = 'train'").count() == 0
    assert rep.join(keepers, "doc_id", "left_anti").count() == 0
    # corpus untouched by the report
    assert s["n_final"] == spark.read.parquet(os.path.join(out, "corpus")).count()


def test_trainprep_decon_ignores_dedup_removed_train_docs(spark, tmp_path):
    """r4 review: a train doc that dedup REMOVED must not raise a false
    leakage flag. Doc 0 (eval split by md5 nibble) is an exact dup of
    doc 4 (train split); dedup keeps 0 and removes 4, so 0 must NOT be
    reported. Doc 1 (eval) genuinely shares a 5-gram with surviving
    train doc 6 and MUST be reported."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    shared = "the weavers repaired the enormous tapestry"
    dup = (
        "beneath the eaves the restless swallows assembled their nests "
        "while the keeper swept the terrace every evening before the bells"
    )
    fill = [
        "eleven green lanterns were lighted beside the eastern gate when "
        "the evening ferry delivered the letters to the sleepy village",
        "the engineers measured the riverbed then erected the temporary "
        "bridge before the weather turned and the levels receded again",
        "every merchant weighed the peppercorns twice because the ledger "
        "demanded evidence of each measure entered beside the seal",
    ]
    rows = [
        (0, dup),  # eval, exact dup of 4 -> kept, must NOT be flagged
        (1, shared + " " + fill[0]),  # eval, overlaps train doc 6 -> flagged
        (4, dup),  # train, removed by dedup
        (6, shared + " " + fill[1]),  # train, survives
        (7, fill[2]),  # train, no overlap
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = tmp_path / "in"
    src.mkdir()
    docs.write.parquet(str(src / "documents.parquet"))
    out = str(tmp_path / "prep")
    run_trainprep_job(
        spark, str(src), out, min_quality=0.2, langs=("en",),
        jaccard_threshold=0.2, decontaminate=True,
    )
    keepers = {r.doc_id for r in spark.read.parquet(
        os.path.join(out, "dedup", "keepers")).collect()}
    assert 0 in keepers and 4 not in keepers
    flagged = {r.doc_id for r in spark.read.parquet(
        os.path.join(out, "decon")).collect()}
    assert 1 in flagged
    assert 0 not in flagged  # its only train overlap was removed by dedup


def test_trainprep_resume_invalidated_by_gate_params(spark, tmp_path):
    """r4 review: rerunning a manifested trainprep with DIFFERENT gate
    params rewrites filtered/ at the same path — the dedup sub-job's
    stages must re-run (its hash folds in the upstream gate hash), not
    silently reuse keepers computed against the old corpus."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    run_trainprep_job(
        spark, SF_DIR, out, manifest_dir=man, run_id="rv",
        min_quality=0.4, langs=("en",), jaccard_threshold=0.05,
    )
    s2 = run_trainprep_job(
        spark, SF_DIR, out, manifest_dir=man, run_id="rv",
        min_quality=0.3, langs=("en",), jaccard_threshold=0.05,
    )
    assert s2["stages_skipped"] == []  # gate hash changed -> all re-run
    assert s2["dedup"]["stages_skipped"] == []  # upstream hash propagated


def test_stage_manifest_unit(tmp_path):
    """Atomic commits, lineage scoping: different run_id, job or params
    hash must not leak completions across runs."""
    from hocr_de_noising_spark.stage_manifest import StageManifest, params_hash

    m = StageManifest(str(tmp_path / "man"))
    h = params_hash(input="/x", jaccard_threshold=0.2)
    m.commit("r1", "dedup", "exact", 100, 1.5, h)
    m.commit("r1", "dedup", "lsh_candidates", 40, 2.0, h)
    assert m.completed("r1", "dedup", h) == {"exact", "lsh_candidates"}
    assert m.completed("r2", "dedup", h) == set()
    assert m.completed("r1", "trainprep", h) == set()
    other = params_hash(input="/x", jaccard_threshold=0.3)
    assert m.completed("r1", "dedup", other) == set()


def test_trainprep_stage_resume(spark, tmp_path):
    """VERDICT r3 item 8 (stretch): kill/restart on the composed
    trainprep job must skip completed stages. A crash is injected after
    the dedup sub-job's lsh_candidates stage commits; the restarted run
    must skip the gate stage and the first two dedup stages, run the
    rest, and produce the same final corpus as an un-crashed run."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    kwargs = dict(min_quality=0.4, langs=("en",), jaccard_threshold=0.05)
    with _pytest.raises(RuntimeError, match="injected crash"):
        run_trainprep_job(
            spark, SF_DIR, out, manifest_dir=man, run_id="rv",
            fail_after_stage="lsh_candidates", **kwargs,
        )
    s2 = run_trainprep_job(spark, SF_DIR, out, manifest_dir=man, run_id="rv", **kwargs)
    assert s2["stages_skipped"] == ["scrub_and_gates"]
    assert s2["dedup"]["stages_skipped"] == [
        "exact", "raw_shingles", "lsh_candidates",
    ]
    assert set(s2["dedup"]["stages_run"]) == {
        "shingles", "jaccard_verify", "components", "keepers_split",
    }
    # resumed output equals an un-crashed fresh run
    s3 = run_trainprep_job(spark, SF_DIR, str(tmp_path / "prep2"), **kwargs)
    assert s2["n_final"] == s3["n_final"]
    assert s2["n_after_gates"] == s3["n_after_gates"]
    a = spark.read.parquet(os.path.join(out, "corpus"))
    b = spark.read.parquet(str(tmp_path / "prep2" / "corpus"))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_stage_runner_skipped_sentinel(tmp_path):
    """ADVICE r4: a stage skipped on resume must be distinguishable from
    fn() legitimately returning None — it returns the falsy SKIPPED
    sentinel, never None."""
    from hocr_de_noising_spark.stage_manifest import (
        SKIPPED, StageManifest, StageRunner, params_hash,
    )

    m = StageManifest(str(tmp_path / "man"))
    h = params_hash(x=1)
    r1 = StageRunner(m, "rid", "job", h)
    assert r1.run("s1", lambda: None) is None  # ran, fn returned None
    r2 = StageRunner(m, "rid", "job", h)
    out = r2.run("s1", lambda: None)
    assert out is SKIPPED and out is not None and not out
    assert repr(out) == "<stage skipped on resume>"


def test_barrier_fails_fast_on_dead_child(tmp_path):
    """ADVICE r4: a worker that dies before writing its ready file must
    fail the barrier immediately, not after the full timeout."""
    import sys
    import time as _time

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from proc_barrier import release

    class _DeadProc:
        returncode = 3

        def poll(self):
            return 3

        def kill(self):
            self.killed = True

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    dead = _DeadProc()
    t0 = _time.time()
    with _pytest.raises(RuntimeError, match="died pre-ready"):
        release(bdir, 2, [dead], timeout_s=60.0)
    assert _time.time() - t0 < 5  # fast, not the 60 s timeout
    assert getattr(dead, "killed", False)


def test_barrier_tolerates_post_ready_death(tmp_path):
    """ADVICE r5: a worker that exits just AFTER writing its ready file
    while peers are still arriving must NOT abort the barrier — the
    barrier releases once the straggler goes ready."""
    import sys
    import threading
    import time as _time

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from proc_barrier import release

    class _DeadProc:
        returncode = 0

        def poll(self):
            return 0

        def kill(self):
            self.killed = True

    class _LiveProc:
        returncode = None

        def poll(self):
            return None

        def kill(self):
            self.killed = True

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    # worker w0 went ready, then exited; w1 arrives 0.5 s later
    open(os.path.join(bdir, "ready-w0"), "w").write("ok")
    dead, live = _DeadProc(), _LiveProc()

    def _late_ready():
        _time.sleep(0.5)
        open(os.path.join(bdir, "ready-w1"), "w").write("ok")

    t = threading.Thread(target=_late_ready)
    t.start()
    release(bdir, 2, [dead, live], timeout_s=30.0, ids=["w0", "w1"])
    t.join()
    assert os.path.exists(os.path.join(bdir, "go"))
    assert not getattr(dead, "killed", False)

    # and WITHOUT ids the count-conservative path also tolerates it
    bdir2 = str(tmp_path / "b2")
    os.makedirs(bdir2)
    open(os.path.join(bdir2, "ready-w0"), "w").write("ok")
    dead2, live2 = _DeadProc(), _LiveProc()

    def _late_ready2():
        _time.sleep(0.5)
        open(os.path.join(bdir2, "ready-w1"), "w").write("ok")

    t2 = threading.Thread(target=_late_ready2)
    t2.start()
    release(bdir2, 2, [dead2, live2], timeout_s=30.0)
    t2.join()
    assert os.path.exists(os.path.join(bdir2, "go"))


def test_trainprep_semantic_stage_and_resume(spark, tmp_path):
    """VERDICT r5 item 8: the SemDeDup stage prunes a planted
    cosine-near embedding pair among the dedup keepers (keeping the
    min-doc_id representative), commits as its own manifest stage, and
    a crash right after it resumes with the stage skipped and the same
    final corpus."""
    import hashlib as _hashlib
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import pyspark.sql.functions as F
    from run_trainprep import run_trainprep_job

    kwargs = dict(min_quality=0.4, langs=("en",), jaccard_threshold=0.05)

    # baseline run (no semantic stage) to learn the surviving doc ids
    base = run_trainprep_job(spark, SF_DIR, str(tmp_path / "base"), **kwargs)
    survivors = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "base" / "corpus"))
        .select("doc_id")
        .collect()
    )
    assert len(survivors) >= 2
    near_a, near_b = survivors[0], survivors[1]

    # custom input dir: same documents + embeddings with doc_id — two
    # survivors share a near-identical embedding, everyone else gets a
    # deterministic pseudo-random (mutually far) vector
    inp = str(tmp_path / "inp")
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).write.parquet(
        os.path.join(inp, "documents.parquet")
    )

    def vec(doc_id) -> list[float]:
        h = _hashlib.md5(str(doc_id).encode()).digest() * 4
        return [float(b) - 127.5 for b in h[:64]]

    rows = []
    for r in spark.read.parquet(os.path.join(inp, "documents.parquet")).select("doc_id").collect():
        d = r.doc_id
        if d == near_b:
            v = [x + 0.01 for x in vec(near_a)]  # cosine ~1 vs near_a
        else:
            v = vec(d)
        rows.append((d, v))
    spark.createDataFrame(rows, "doc_id long, embedding array<float>").write.parquet(
        os.path.join(inp, "embeddings.parquet")
    )

    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    with _pytest.raises(RuntimeError, match="injected crash"):
        run_trainprep_job(
            spark, inp, out, manifest_dir=man, run_id="rs",
            fail_after_stage="semantic_dedup", semantic_dedup=True, **kwargs,
        )
    s2 = run_trainprep_job(
        spark, inp, out, manifest_dir=man, run_id="rs",
        semantic_dedup=True, **kwargs,
    )
    assert "semantic_dedup" in s2["stages_skipped"]
    assert s2["semantic_pruned"] >= 1
    prune = {
        r.doc_id: r.sem_rep
        for r in spark.read.parquet(
            os.path.join(out, "semantic", "prune_map")
        ).collect()
    }
    assert prune.get(near_b) == near_a  # min-id representative kept
    corpus_ids = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "corpus"))
        .select("doc_id")
        .collect()
    }
    assert near_a in corpus_ids and near_b not in corpus_ids
    assert s2["n_final"] == base["n_final"] - s2["semantic_pruned"]

    # fresh (non-resumed) run agrees
    s3 = run_trainprep_job(
        spark, inp, str(tmp_path / "prep2"), semantic_dedup=True, **kwargs
    )
    assert s3["semantic_pruned"] == s2["semantic_pruned"]
    assert s3["n_final"] == s2["n_final"]


def test_trainprep_decon_stage_resume(spark, tmp_path):
    """VERDICT r4 item 8: the decontamination report is its own
    manifest stage — a crash after it commits must let the restarted
    run skip it (and everything before it) and still produce the same
    summary counts."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    kwargs = dict(
        min_quality=0.4, langs=("en",), jaccard_threshold=0.05,
        decontaminate=True,
    )
    with _pytest.raises(RuntimeError, match="injected crash"):
        run_trainprep_job(
            spark, SF_DIR, out, manifest_dir=man, run_id="rd",
            fail_after_stage="decontaminate", **kwargs,
        )
    s2 = run_trainprep_job(spark, SF_DIR, out, manifest_dir=man, run_id="rd", **kwargs)
    assert "decontaminate" in s2["stages_skipped"]
    assert "scrub_and_gates" in s2["stages_skipped"]
    assert s2["dedup"]["stages_skipped"] == [
        "exact", "raw_shingles", "lsh_candidates", "shingles",
        "jaccard_verify", "components", "keepers_split",
    ]
    # the skipped stage's report is read from disk, so the count holds
    s3 = run_trainprep_job(spark, SF_DIR, str(tmp_path / "prep2"), **kwargs)
    assert s2["n_contaminated"] == s3["n_contaminated"]
    assert s2["n_final"] == s3["n_final"]


def test_trainprep_line_dedup_stage(spark, tmp_path):
    """--line-dedup (r7): the CCNet-style line-level stage strips
    cross-doc boilerplate lines BEFORE document dedup, drops docs
    emptied by the strip, and is resumable with line_df_cap in the
    param lineage."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    bp = "subscribe to the evening newsletter delivered every week"
    fills = [
        "eleven green lanterns were lighted beside the eastern gate",
        "the engineers measured the riverbed then erected the bridge",
        "every merchant weighed the peppercorns twice for the ledger",
        "the keeper swept the terrace every evening before the bells",
        "the evening ferry delivered the letters to the sleepy village",
        "the restless swallows assembled their nests beneath the eaves",
    ]
    rows = [(i, f"{t}\n{bp}") for i, t in enumerate(fills)]
    rows.append((6, bp))  # all-boilerplate doc -> emptied -> dropped
    rows.append((7, "the severed engine generated embers near the temple"))
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = tmp_path / "in"
    src.mkdir()
    docs.write.parquet(str(src / "documents.parquet"))
    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    kwargs = dict(
        min_quality=0.2, langs=("en",), jaccard_threshold=0.2,
        line_dedup=True, line_df_cap=2,
    )
    s = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ld", **kwargs
    )
    assert "line_dedup" in s["stages_run"]
    assert s["n_after_line_dedup"] == 7  # doc 6 emptied and dropped
    assert s["docs_emptied_by_line_dedup"] == 1
    assert s["lines_removed"] == 6  # one bp line per doc 0-5
    corpus = {
        r.doc_id: r.text
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    }
    assert 6 not in corpus
    for i, t in enumerate(fills):
        assert corpus[i] == t  # bp line stripped, content intact
    assert corpus[7] == rows[7][1]
    # resume skips the committed line stage; counts still reported
    s2 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ld", **kwargs
    )
    assert "line_dedup" in s2["stages_skipped"]
    assert s2["lines_removed"] == 6
    # a different cap is a different lineage: everything re-runs
    s3 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ld",
        **{**kwargs, "line_df_cap": 3},
    )
    assert "line_dedup" in s3["stages_run"]


def test_html_dom_heuristic_drops_unlikely_candidates(spark):
    """dom_heuristics=True (r7): a verbose link-SPARSE container whose
    class matches the Readability negative set is dropped even though
    the word rules would keep it; content without such markers is
    untouched; removal is subtree-wide (its inner text leaks into no
    block)."""
    from hocr_de_noising_spark.queries.web_extract import (
        extract_main_content,
    )

    body = " ".join(f"word{i}" for i in range(30))
    promo = " ".join(f"promo{i}" for i in range(20))  # 20 words, 0 links
    page = (
        "<html><body>"
        f'<div class="promo-box">{promo}</div>'
        f"<p>{body}</p>"
        f'<section id="related-items">also read these {promo}</section>'
        "</body></html>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    rules = extract_main_content(df).first()
    dom = extract_main_content(df, dom_heuristics=True).first()
    # the word rules keep all three long blocks; the DOM heuristic
    # keeps only the unmarked paragraph
    assert rules.n_kept == 3 and "promo0" in rules.main_text
    assert dom.main_text == body and dom.n_kept == 1
    assert "promo0" not in dom.main_text and "also read" not in dom.main_text


def test_trainprep_shard_budget(spark, tmp_path):
    """--shard-budget (r7): the final corpus carries an equal-token
    shard assignment — shard boundaries must equal the global
    exclusive-prefix rule over the SURVIVING docs in doc_id order, and
    the column is part of the resume lineage."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    out = str(tmp_path / "prep")
    s = run_trainprep_job(
        spark, SF_DIR, out, min_quality=0.4, langs=("en",),
        jaccard_threshold=0.05, shard_budget=500,
    )
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert "shard" in corpus.columns
    rows = sorted(
        corpus.select("doc_id", "text", "shard").collect(),
        key=lambda r: r.doc_id,
    )
    assert len(rows) == s["n_final"]
    cum, expected_ok = 0, True
    for r in rows:
        expected_ok &= r.shard == cum // 500
        cum += len(r.text.split(" "))
    assert expected_ok
    assert rows[-1].shard > 0  # the corpus actually spans shards


def test_trainprep_dsir_stage(spark, tmp_path):
    """--dsir-target/--dsir-keep (r7): the DSIR selection stage keeps
    the top-k surviving docs by hashed-n-gram importance toward the
    target corpus, commits (doc_id, n_feats, score) for audit, is
    resumable with both knobs in the param lineage, and a missing
    target table warns loudly instead of silently no-opping."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    quantum = [
        "the quantum detector measured entangled photon states in the laboratory",
        "entangled photon pairs reached the quantum detector through the interferometer",
        "laboratory benchmarks aligned the quantum interferometer with entangled photon states",
    ]
    junk = [
        "lottery jackpot seekers entered the betting emporium every evening",
        "discount voucher codes expire midnight hurry shoppers before closing",
        "celebrity gossip roundup features dresses parties yachts and champagne",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(quantum + junk)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = tmp_path / "in"
    src.mkdir()
    docs.write.parquet(str(src / "documents.parquet"))
    tgt_path = str(tmp_path / "target.parquet")
    spark.createDataFrame(
        [(100, "quantum detector entangled photon states laboratory"
               " interferometer measurements"),
         (101, "entangled photon states laboratory quantum detector"
               " interferometer calibration"),
         (102, "the quantum detector recorded entangled photon states"
               " for the interferometer"),
         (103, "interferometer laboratory detector quantum entangled"
               " photon states archive")],
        "doc_id long, text string",
    ).write.parquet(tgt_path)

    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    kwargs = dict(
        min_quality=0.1, langs=("en",), jaccard_threshold=0.2,
        dsir_target_dir=tgt_path, dsir_keep=3,
    )
    s = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ds", **kwargs
    )
    assert "dsir_select" in s["stages_run"]
    assert s["dsir_selected"] == 3 and s["n_final"] == 3
    corpus_ids = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    }
    assert corpus_ids == {0, 1, 2}  # the quantum docs, not the junk
    sel = spark.read.parquet(os.path.join(out, "dsir", "selected"))
    assert set(sel.columns) == {"doc_id", "n_feats", "score"}
    # resume skips the committed stage; counts persist from the output
    s2 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ds", **kwargs
    )
    assert "dsir_select" in s2["stages_skipped"]
    assert s2["dsir_selected"] == 3 and s2["n_final"] == 3
    # a different keep budget is a different lineage: stage re-runs
    s3 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ds",
        **{**kwargs, "dsir_keep": 5},
    )
    assert "dsir_select" in s3["stages_run"]
    assert s3["dsir_selected"] == 5 and s3["n_final"] == 5
    # fast-hash flip is a different lineage: the stage re-runs (and on
    # this planted corpus selects the same quantum docs)
    s3b = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="ds",
        **{**kwargs, "dsir_fast_hash": True},
    )
    assert "dsir_select" in s3b["stages_run"]
    assert {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    } >= {0, 1, 2}
    # missing target table: loud warning, stage skipped, corpus whole
    s4 = run_trainprep_job(
        spark, str(src), str(tmp_path / "prep2"),
        **{**kwargs, "dsir_target_dir": str(tmp_path / "nope.parquet")},
    )
    assert "dsir_select" not in s4["stages_run"]
    assert "dsir_selected" not in s4 and s4["n_final"] == 6


def test_trainprep_pack_manifest_stage(spark, tmp_path):
    """--pack-seq-len (r7): the packing stage emits a (seq_id, doc_id,
    doc_offset, n_tokens) manifest over the WRITTEN corpus — per-doc
    contributions reassemble each surviving doc exactly, every
    non-final sequence holds exactly L tokens, and the stage resumes
    without recomputing the corpus."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    texts = [
        "eleven green lanterns were lighted beside the eastern gate",
        "the engineers measured the riverbed then erected the bridge",
        "every merchant weighed the peppercorns twice for the ledger",
        "the keeper swept the terrace every evening before the bells",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    src = tmp_path / "in"
    src.mkdir()
    docs.write.parquet(str(src / "documents.parquet"))
    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    kwargs = dict(min_quality=0.1, langs=("en",), jaccard_threshold=0.2,
                  pack_seq_len=7)
    s = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="pk", **kwargs
    )
    assert "pack_manifest" in s["stages_run"]
    corpus = {
        r.doc_id: r.text
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    }
    manifest = spark.read.parquet(os.path.join(out, "pack", "manifest")).collect()
    # per-doc contributions cover each surviving doc exactly
    per_doc: dict[int, int] = {}
    per_seq: dict[int, int] = {}
    for r in manifest:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_tokens"]
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["n_tokens"]
    assert per_doc == {
        i: len(t.split(" ")) for i, t in corpus.items()
    }
    last = max(per_seq)
    assert s["n_sequences"] == last + 1
    for k, v in per_seq.items():
        assert v == 7 or k == last
    # resume: the stage skips, the count persists
    s2 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="pk", **kwargs
    )
    assert "pack_manifest" in s2["stages_skipped"]
    assert s2["n_sequences"] == s["n_sequences"]
    # different L = different lineage: stage re-runs
    s3 = run_trainprep_job(
        spark, str(src), out, manifest_dir=man, run_id="pk",
        **{**kwargs, "pack_seq_len": 11},
    )
    assert "pack_manifest" in s3["stages_run"]


def test_pii_scrub_spans_preserves_interleaving(spark):
    """pii_scrub_spans (r7): PII masked inside text spans IN PLACE;
    media spans byte-identical; (kind, media_ref, offset, order)
    untouched; typed counts follow the flat pii_scrub staging rule;
    strict mode leaves year ranges unmasked."""
    from hocr_de_noising_spark.queries.trainprep import pii_scrub_spans

    spans = [
        ("text", "contact alice@a.io or bob@b.org today", None, 0),
        ("image", None, "m/1.png", 1),
        ("text", "server 10.0.0.1 answered", None, 2),
        ("text", "call 555-867-5309 now", None, 3),
        ("figure", "caption stays verbatim 1990 - 1998", "m/2.png", 4),
        ("text", None, None, 5),  # null-text text span
        ("text", "range 1990 - 1998 is not a phone", None, 6),
    ]
    df = spark.createDataFrame(
        [(7, spans)],
        "doc_id long, spans array<struct<kind string, text string,"
        " media_ref string, offset int>>",
    )
    (row,) = pii_scrub_spans(df).collect()
    out = row["spans"]
    # order, kinds, media_refs, offsets all untouched
    assert [(s["kind"], s["media_ref"], s["offset"]) for s in out] == [
        (k, m, o) for k, _, m, o in spans
    ]
    assert out[0]["text"] == "contact [EMAIL] or [EMAIL] today"
    assert out[1]["text"] is None          # image span byte-identical
    assert out[2]["text"] == "server [IP] answered"
    assert out[3]["text"] == "call [PHONE] now"
    assert out[4]["text"] == spans[4][1]   # non-text kind NOT masked
    assert out[5]["text"] is None
    # aggressive default phone pattern eats the year range (documented)
    assert out[6]["text"] == "range [PHONE] is not a phone"
    assert (row["n_email"], row["n_ip"], row["n_phone"]) == (2, 1, 2)
    # strict mode: the year range survives, the real phone is masked
    (srow,) = pii_scrub_spans(df, strict_phone=True).collect()
    assert srow["spans"][6]["text"] == spans[6][1]
    assert srow["spans"][3]["text"] == "call [PHONE] now"
    assert srow["n_phone"] == 1
    # zero shuffle, zero Python in the plan
    p = pii_scrub_spans(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Python" not in p


def test_trainprep_semantic_imi_flag(spark, tmp_path):
    """--semantic-imi (r7): the product-codebook quantizer drives the
    semantic stage when nlist is set — the planted cosine-near pair is
    still pruned to its min-id representative, and flipping the flag
    is a different param lineage (stage re-runs)."""
    import hashlib as _hashlib
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    from run_trainprep import run_trainprep_job

    kwargs = dict(min_quality=0.4, langs=("en",), jaccard_threshold=0.05)
    base = run_trainprep_job(spark, SF_DIR, str(tmp_path / "base"), **kwargs)
    survivors = sorted(
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "base" / "corpus"))
        .select("doc_id")
        .collect()
    )
    near_a, near_b = survivors[0], survivors[1]
    inp = str(tmp_path / "inp")
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).write.parquet(
        os.path.join(inp, "documents.parquet")
    )

    def vec(doc_id) -> list[float]:
        h = _hashlib.md5(str(doc_id).encode()).digest() * 4
        return [float(b) - 127.5 for b in h[:64]]

    ids = [
        r.doc_id
        for r in spark.read.parquet(os.path.join(inp, "documents.parquet"))
        .select("doc_id")
        .collect()
    ]
    rows = [
        (d, [x + 0.01 for x in vec(near_a)] if d == near_b else vec(d))
        for d in ids
    ]
    spark.createDataFrame(rows, "doc_id long, embedding array<float>").write.parquet(
        os.path.join(inp, "embeddings.parquet")
    )
    out = str(tmp_path / "prep")
    man = str(tmp_path / "man")
    s = run_trainprep_job(
        spark, inp, out, manifest_dir=man, run_id="imi",
        semantic_dedup=True, semantic_nlist=16, semantic_imi=True, **kwargs,
    )
    assert s["semantic_pruned"] >= 1
    prune = {
        r.doc_id: r.sem_rep
        for r in spark.read.parquet(
            os.path.join(out, "semantic", "prune_map")
        ).collect()
    }
    assert prune.get(near_b) == near_a  # min-id representative kept
    # flag flip = new lineage: the stage re-runs instead of resuming
    s2 = run_trainprep_job(
        spark, inp, out, manifest_dir=man, run_id="imi",
        semantic_dedup=True, semantic_nlist=16, semantic_imi=False, **kwargs,
    )
    assert "semantic_dedup" in s2["stages_run"]
