"""Property-based invariants of the frozen rule (SURVEY.md §5.3).

Run against rules_np — the exact code the fused pipeline executes —
over the deterministic generator's seed space; the exploded Spark
variant is held to the same behavior by the golden tests.
"""

from __future__ import annotations

import numpy as np

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.fixtures.spans import gen_doc
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import (
    Lexicon,
    denoise_doc,
    normalize_token,
)

LEX_TOKENS = [t for t, _ in gen_lexicon(1000, seed=7)]
LEX = Lexicon(LEX_TOKENS)
PARAMS = Params()


def _docs(n=60, seed=11):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        n_spans = int(rng.integers(1, 120))
        spans, _ = gen_doc(f"p{i:04d}", n_spans, rng, LEX_TOKENS)
        out.append(spans)
    return out


DOCS = _docs()


def test_repeated_application_shrinks_monotonically():
    """The page-adaptive rule is intentionally NOT idempotent (a second
    pass recomputes page statistics over the survivors, so the envelope
    tightens — inherent to page-adaptive classification [AAAI15]).
    The true invariants: repeated application never grows the doc, and
    media spans are never lost by re-application."""
    for spans in DOCS:
        once = denoise_doc(spans, PARAMS, LEX)
        twice = denoise_doc(once, PARAMS, LEX)
        assert len(twice) <= len(once)
        media_once = [s["media_ref"] for s in once if s["kind"] != "text"]
        media_twice = [s["media_ref"] for s in twice if s["kind"] != "text"]
        assert sorted(media_twice) == sorted(media_once)


def test_media_preserved_verbatim_and_in_relative_order():
    for spans in DOCS:
        out = denoise_doc(spans, PARAMS, LEX)
        media_in = [s["media_ref"] for s in spans if s["kind"] != "text"]
        media_out = [s["media_ref"] for s in out if s["kind"] != "text"]
        assert sorted(media_out) == sorted(media_in)  # none lost, none invented
        # media that share an anchor keep input relative order; global
        # multiset equality plus per-anchor order is covered by goldens —
        # here assert kinds/refs survive untouched
        kinds_in = sorted(s["kind"] for s in spans if s["kind"] != "text")
        kinds_out = sorted(s["kind"] for s in out if s["kind"] != "text")
        assert kinds_in == kinds_out


def test_offsets_contiguous_from_zero():
    for spans in DOCS:
        out = denoise_doc(spans, PARAMS, LEX)
        assert [s["offset"] for s in out] == list(range(len(out)))


def test_raising_tau_never_increases_survivors():
    for spans in DOCS[:20]:
        prev = None
        for tau in (0, 20, 35, 60, 101):
            n = len(denoise_doc(spans, Params(tau_wconf=tau), LEX))
            if prev is not None:
                assert n <= prev
            prev = n


def test_rewrite_mode_never_drops_more_than_drop_mode():
    for spans in DOCS[:30]:
        n_drop = len(denoise_doc(spans, Params(mode="drop"), LEX))
        n_rw = len(denoise_doc(spans, Params(mode="rewrite"), LEX))
        assert n_rw >= n_drop


def test_rewrite_never_changes_kind():
    for spans in DOCS[:30]:
        out = denoise_doc(spans, Params(mode="rewrite"), LEX)
        assert all(s["kind"] in ("text", "image", "figure") for s in out)


def test_normalize_inverts_early_modern_forms():
    for tok in LEX_TOKENS[:500]:
        em = tok.replace("fi", "ﬁ", 1).replace("fl", "ﬂ", 1)
        if "s" in em[:-1]:
            em = em[:-1].replace("s", "ſ") + em[-1]
        assert normalize_token(em) == tok


def _brute_lev_le1(a: str, b: str) -> bool:
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return a == b or sum(1 for x, y in zip(a, b) if x != y) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # a shorter by 1: one deletion from b
    return any(b[:i] + b[i + 1 :] == a for i in range(lb))


def test_symmetric_delete_matches_brute_levenshtein():
    rng = np.random.default_rng(3)
    lex_small = Lexicon(LEX_TOKENS[:200])
    probes = []
    for t in LEX_TOKENS[:50]:
        probes += [t, t[1:], t + "x", t[:2] + "q" + t[3:], t[::-1]]
    probes += ["", "q", ";;;", "abcd"]
    for t in probes:
        expect = any(_brute_lev_le1(t, w) for w in LEX_TOKENS[:200])
        assert lex_small.within_one(t) == expect, t
