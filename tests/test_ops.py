"""Operator queries vs DuckDB oracle — mirrors the driver's check
(row count + schema-ish + order-insensitive value comparison) at
sf0.001 for speed; the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from hocr_de_noising_spark.queries import QUERIES
from hocr_de_noising_spark.queries.util import TABLES


@pytest.fixture(scope="module")
def duck(sf001_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf001_dir}/{t}.parquet'"
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
                a[c].astype("string").fillna("\0NULL") == b[c].astype("string").fillna("\0NULL")
            )
            assert eq.all(), f"{name}.{c}: {int((~eq).sum())} mismatches, first: {a[c][~eq][:3].tolist()} vs {b[c][~eq][:3].tolist()}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, duck, name, sf001_dir):
    spec = QUERIES[name]
    sdf = spec["fn"](spark, sf001_dir).toPandas()
    ddf = duck.execute(spec["sql"]).df()
    assert_frames_match(sdf, ddf, name)


_NASTY_TEXTS = [
    (1, None),  # null text
    (2, ""),  # empty
    (3, " "),  # single space
    (4, "   "),  # only spaces
    (5, "a"),  # single char
    (6, "a  b"),  # double space -> empty token in split
    (7, "one two"),
    (8, "one two three"),
    (9, "tab\tand\nnewline inside the text body here"),
    (10, "café entrée naïve résumé 中文 words"),
    (11, "12345 67890 222 33 4"),  # digits only
    (12, "w" * 300),  # one very long word
    (13, "ends with spaces   "),
    (14, "the the the the the the the the"),
    (15, "every clever weaver sewed seven green sleeves here"),
    # e-mail, IP and phone-number shapes the sf tables contain none of
    (16, "contact bob.smith+x@ex-ample.co.uk or alice@a.io today"),
    (17, "server at 10.0.0.1 and 192.168.255.254 but not 999.1.2"),
    (18, "call +44 (0) 1234 567890 or 555-867-5309 x22"),
    (19, "mixed a1@b.cd from 8.8.8.8 dialing 0123456789 end"),
]


def test_text_keys_on_adversarial_corpus(spark, tmp_path):
    """Bit-level Spark-vs-DuckDB parity for the HTML/URL text keys on a
    corpus of adversarial strings the sf tables may never contain:
    nulls, empties, double spaces (empty split tokens), intra-text
    tabs/newlines, non-ASCII, digit-only, 300-char words, trailing
    spaces, one word repeated. Protects the driver-correctness
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
    keys = ["html_main_content", "url_canonicalize", "html_main_content_dom"]
    for name in keys:
        sdf = QUERIES[name]["fn"](spark, str(sdir)).toPandas()
        ddf = con.execute(QUERIES[name]["sql"]).df()
        assert_frames_match(sdf, ddf, f"adversarial:{name}")


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


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["lang", "n_docs", "denoise_rate"]


def test_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # every key has an oracle: a key registered without one fails here
    assert set(oracles) == set(qs)
    # registry order, every key exactly once, and within the driver's
    # 50-row CORRECTNESS cap: a key past 50 would get no driver row
    assert list(qs) == list(QUERIES)
    assert len(qs) <= 50
    # every table the oracle fixture creates is read by some oracle, so
    # a table left behind by its last deleted key fails here
    unread = [t for t in TABLES if not any(re.search(rf"\b{t}\b", q) for q in oracles.values())]
    assert not unread, unread


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
