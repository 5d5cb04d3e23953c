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
        "html_main_content", "vocab_topk", "url_canonicalize",
        "html_main_content_dom",
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
