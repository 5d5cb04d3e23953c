"""rules_vec (Arrow/numpy batch engine) ≡ rules_np (reference), over
the generator space, adversarial inputs, and both modes, through its
one entry point, ``denoise_arrow_batch`` (the record batches the fused
operator runs on). Pure Python — no Spark session needed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.fixtures.spans import gen_doc
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc
from hocr_de_noising_spark.rules_vec import (
    code_points,
    denoise_arrow_batch,
    has_repeat_run,
    letter_counts,
)
from hocr_de_noising_spark.sources.catalog import SPAN_STRUCT

LEX_TOKENS = [t for t, _ in gen_lexicon(1000, seed=7)]
LEX = Lexicon(LEX_TOKENS)


def _batch(n=80, seed=19):
    rng = np.random.default_rng(seed)
    ids, spans = [], []
    for i in range(n):
        ids.append(f"v{i:04d}")
        spans.append(gen_doc(f"v{i:04d}", int(rng.integers(1, 150)), rng, LEX_TOKENS)[0])
    return ids, spans


def _record_batch(ids, spans_lists):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.string()), pa.array(spans_lists, pa.list_(SPAN_STRUCT))],
        names=["doc_id", "spans"],
    )


@pytest.mark.parametrize("mode", ["drop", "rewrite"])
def test_vec_equals_np_on_generator_space(mode):
    ids, spans_lists = _batch()
    p = Params(mode=mode)
    vec = denoise_arrow_batch(_record_batch(ids, spans_lists), p, LEX).column(1).to_pylist()
    ref = [denoise_doc(s, p, LEX) for s in spans_lists]
    assert vec == ref


def test_vec_equals_np_without_dictionary():
    ids, spans_lists = _batch(n=30, seed=23)
    p = Params()
    vec = denoise_arrow_batch(_record_batch(ids, spans_lists), p, None).column(1).to_pylist()
    assert vec == [denoise_doc(s, p, None) for s in spans_lists]


def test_vec_adversarial_inputs():
    p = Params()
    adversarial = [
        [],  # empty doc
        [{"kind": "text", "text": None, "media_ref": None, "offset": 0}],
        [{"kind": None, "text": None, "media_ref": None, "offset": 0}],
        [{"kind": "image", "text": None, "media_ref": None, "offset": 0}],
        [
            {"kind": "weird", "text": None, "media_ref": "m://x", "offset": 0},
            {
                "kind": "text",
                "text": "good;bbox 200 300 280 340;x_wconf 90;line 0;col 0",
                "media_ref": None,
                "offset": 1,
            },
        ],
        [  # media-only doc with several anchors
            {"kind": "image", "text": None, "media_ref": "m://1", "offset": 0},
            {"kind": "figure", "text": None, "media_ref": "m://2", "offset": 1},
        ],
    ]
    ids = [f"a{i}" for i in range(len(adversarial))]
    vec = denoise_arrow_batch(_record_batch(ids, adversarial), p, LEX).column(1).to_pylist()
    ref = [denoise_doc(s, p, LEX) for s in adversarial]
    assert vec == ref


def test_vec_batch_of_empty_docs():
    p = Params()
    out = denoise_arrow_batch(_record_batch(["a", "b"], [[], []]), p, LEX)
    assert out.column(1).to_pylist() == [[], []]


def test_alpha_count_predicate_parity():
    """The code-point letter count must agree with str.isalpha
    (reference) over the full fixture alphabet and over characters
    that are numeric but not letters, where a regex letter class such
    as [^\\W\\d_] disagrees: superscripts, fractions, Roman
    numerals, circled and non-ASCII decimal digits, combining marks."""
    from hocr_de_noising_spark.fixtures.spans import GARBAGE_CHARS

    probe = (
        "".join(GARBAGE_CHARS)
        + "abcXYZ ſﬁﬂﬀﬃﬄﬆ 0123456789 _-;|'"
        + "²³½¾ⅫⅻⅠ①٣१ªǅ\u0301\x00"
        + "".join(LEX_TOKENS[:50])
    )
    chars = list(dict.fromkeys(probe))
    got = letter_counts(*code_points(pa.array(chars, pa.string())))
    for ch, n in zip(chars, got):
        assert n == int(ch.isalpha()), repr(ch)
    tokens = ["", "½½x", "Ⅻ²a", "ſﬁab", None, "a1b2"]
    got = letter_counts(*code_points(pa.array(tokens, pa.string())))
    assert got.tolist() == [sum(c.isalpha() for c in t or "") for t in tokens]


def test_vec_equals_np_on_numeric_non_letters():
    """Tokens built from characters that are numeric but not letters
    (½, Ⅻ, ²) are mostly non-alphabetic by str.isalpha, so rules_np
    drops them; the batch engine must drop them too."""
    p = Params()
    tokens = ["½½x", "Ⅻ²a", "x½", "ⅫⅫⅫab", "abcd", "²a", "ſtraße", "Ⅻ"]
    docs = [
        [
            {
                "kind": "text",
                "text": f"{t};bbox {100 + 60 * i} 300 {140 + 60 * i} 340;x_wconf 90;line 0;col 0",
                "media_ref": None,
                "offset": i,
            }
            for i, t in enumerate(tokens)
        ]
    ]
    ref = [denoise_doc(s, p, None) for s in docs]
    assert denoise_arrow_batch(_record_batch(["n0"], docs), p, None).column(1).to_pylist() == ref
    assert [s["text"].split(";")[0] for s in ref[0]] == ["x½", "abcd", "²a", "ſtraße"]


def _text(token, x0, wconf=90, digits=str):
    """A text span payload; ``digits`` renders each number."""
    nums = [x0, 300, x0 + 40, 340]
    return (
        f"{token};bbox {' '.join(digits(v) for v in nums)}"
        f";x_wconf {digits(wconf)};line 0;col 0"
    )


def _span(kind, text=None, media_ref=None):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": 0}


def _arabic_indic(v):
    return "".join(chr(0x0660 + int(c)) for c in str(v))


def _arrow_adversarial_docs():
    words = LEX_TOKENS[:6]
    return [
        [],
        [_span("text", None), _span(None), _span(None, _text(words[0], 200))],
        [  # payloads only _PAYLOAD_RE (not RE2) accepts, among plain ones
            _span("text", _text(words[0], 100)),
            _span("text", _text(words[1], 160, digits=_arabic_indic)),
            _span("image", media_ref="m://a"),
            _span("text", _text(words[2], 220) + "\n"),
            _span("text", _text(words[3], 280, wconf=20, digits=_arabic_indic)),
            _span("text", _text(words[4], 340)),
            _span("text", _text(words[5], 400) + "\n\n"),
        ],
        [  # a text span's media_ref and a media span's text are not emitted
            _span("text", _text(words[0], 100), media_ref="m://stray"),
            _span("figure", "stray text", "m://f"),
            _span("text", _text(words[1], 160)),
        ],
        [_span("image", media_ref="m://only")],
        [],
    ]


@pytest.mark.parametrize("mode", ["drop", "rewrite"])
def test_arrow_batch_equals_np_on_sliced_adversarial_batch(mode):
    """The production entry point, on a record batch sliced out of a
    larger one (list offsets that do not start at 0) that mixes
    generator docs with empty docs, null text, null kind, and payloads
    with Arabic-Indic digits or a trailing newline. A column beside
    ``spans`` (the job's ``bucket``) comes back unchanged."""
    ids, gen_spans = _batch(n=30, seed=31)
    adversarial = _arrow_adversarial_docs()
    spans_lists = gen_spans[:10] + adversarial + gen_spans[10:]
    ids = ids[:10] + [f"a{i}" for i in range(len(adversarial))] + ids[10:]
    full = _record_batch(ids, spans_lists)
    bucket = pa.array(np.arange(len(ids)) % 16, pa.int32())
    rb = full.append_column("bucket", bucket).slice(4, 25)
    assert rb.column(1).offsets[0].as_py() > 0
    p = Params(mode=mode)
    out = denoise_arrow_batch(rb, p, LEX)
    assert out.column(0).to_pylist() == ids[4:29]
    assert out.column(2).equals(rb.column(2))
    ref = [denoise_doc(s, p, LEX) for s in spans_lists[4:29]]
    assert out.column(1).to_pylist() == ref


def test_arrow_batch_parses_unicode_digits_and_trailing_newline():
    """rules_np keeps the spans whose payload uses Arabic-Indic digits
    or ends in a newline; so must the production entry point."""
    p = Params()
    docs = _arrow_adversarial_docs()
    ref = [denoise_doc(s, p, LEX) for s in docs]
    kept = [s["text"] for s in ref[2] if s["kind"] == "text"]
    assert any("١" in t for t in kept) and any(t.endswith("\n") for t in kept)
    out = denoise_arrow_batch(_record_batch([f"a{i}" for i in range(len(docs))], docs), p, LEX)
    assert out.column(1).to_pylist() == ref


def test_has_repeat_run_matches_backref_regex():
    """The numpy run detector must agree with the re backref on
    adversarial strings: runs at start/middle/end, embedded NULs,
    empties, NaNs, unicode (incl. long-s), and near-miss runs."""
    import re

    cases = [
        "aaaa", "aaab", "abaaaa", "xaaaay", "aaa", "", "a", "ab",
        "aabbccdd", "aabbbbcc", "ſſſſ", "ſſſ", "œœœœz", "ab\x00\x00ab",
        "zzzz" * 3, "abcd" * 10, "x" * 40, "xy" * 20, None, "    ",
        "a-aaa-a", "....", "..", "1111", "no repeats here",
    ]
    for k in (2, 3, 4, 5):
        rx = re.compile(r"(.)\1{%d,}" % (k - 1))
        got = has_repeat_run(*code_points(pa.array(cases, pa.string())), k)
        want = np.array([bool(rx.search(c)) if c is not None else False for c in cases])
        assert (got == want).all(), (k, [c for c, g, w in zip(cases, got, want) if g != w])


def test_has_repeat_run_random_parity():
    import random
    import re

    rng = random.Random(99)
    alpha = "abſc. -"
    cases = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))) for _ in range(2000)]
    rx = re.compile(r"(.)\1{3,}")
    got = has_repeat_run(*code_points(pa.array(cases, pa.string())), 4)
    want = np.array([bool(rx.search(c)) for c in cases])
    assert (got == want).all()
