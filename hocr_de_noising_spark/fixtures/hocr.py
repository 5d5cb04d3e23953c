"""hOCR XHTML page fixtures (FIXTURES.md §4).

Generates full hOCR pages (the format Tesseract emits with
tessedit_create_hocr=1, per the public hocr-spec 1.x):

    div.ocr_page > div.ocr_carea > p.ocr_par > span.ocr_line
        > span.ocrx_word (title="bbox x0 y0 x1 y1; x_wconf NN")

from the same seeded layout as the spans corpus, plus the expected
parsed word records (constructive ground truth), plus 3 malformed
pages that must parse tolerantly.
"""

from __future__ import annotations

import numpy as np

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon

PAGE_W, PAGE_H = 2480, 3508


def gen_hocr_page(
    doc_id: str,
    rng: np.random.Generator,
    lex_tokens: list[str],
    lines_rng: tuple[int, int] = (1, 6),
    words_rng: tuple[int, int] = (1, 7),
):
    """One well-formed page; returns (hocr_xml, expected_word_records).

    ``lines_rng``/``words_rng`` size the page: the defaults give small
    unit-test pages; the bench uses realistic Tesseract-scale pages
    (~300 words, tens of KB)."""
    n_careas = int(rng.integers(1, 3))
    words_expected = []
    carea_html = []
    order = 0
    for ci in range(n_careas):
        cx0 = 200 + ci * 1130
        lines_html = []
        n_lines = int(rng.integers(*lines_rng))
        for li in range(n_lines):
            y0 = 300 + 52 * li
            x = cx0
            words_html = []
            n_words = int(rng.integers(*words_rng))
            for wi in range(n_words):
                tok = lex_tokens[int(rng.integers(0, len(lex_tokens)))]
                tok_html = tok
                # ~1 word in 12 carries an XML entity, the way Tesseract
                # escapes &/< /> in word text (ADVICE r2) — tok is the
                # DECODED ground truth, tok_html the escaped page text
                ent_roll = int(rng.integers(0, 12))
                if ent_roll == 0:
                    tok, tok_html = tok + "&", tok + "&amp;"
                elif ent_roll == 1:
                    tok, tok_html = "<" + tok + ">", "&lt;" + tok + "&gt;"
                w = max(30, 22 * len(tok))
                h = int(rng.integers(38, 43))
                wconf = int(rng.integers(10, 99))
                bbox = (x, y0, x + w, y0 + h)
                words_html.append(
                    f'<span class="ocrx_word" id="word_{ci}_{li}_{wi}" '
                    f'title="bbox {bbox[0]} {bbox[1]} {bbox[2]} {bbox[3]}; '
                    f'x_wconf {wconf}">{tok_html}</span>'
                )
                words_expected.append(
                    {
                        "doc_id": doc_id,
                        "carea_id": ci,
                        "par_id": 0,
                        "line_id": li,
                        "word_id": wi,
                        "order": order,
                        "token": tok,
                        "x0": bbox[0],
                        "y0": bbox[1],
                        "x1": bbox[2],
                        "y1": bbox[3],
                        "wconf": wconf,
                        "baseline_a": 0.005,
                        "baseline_b": -18.0,
                        "x_size": 42.0,
                    }
                )
                order += 1
                x += w + 18
            lines_html.append(
                f'<span class="ocr_line" id="line_{ci}_{li}" '
                f'title="bbox {cx0} {y0} {x} {y0 + 42}; baseline 0.005 -18; '
                f'x_size 42; x_descenders 9; x_ascenders 11">'
                + " ".join(words_html)
                + "</span>"
            )
        carea_html.append(
            f'<div class="ocr_carea" id="carea_{ci}" '
            f'title="bbox {cx0} 300 {cx0 + 950} 3300">'
            f'<p class="ocr_par" id="par_{ci}_0" lang="eng">'
            + "".join(lines_html)
            + "</p></div>"
        )
    hocr = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head><title></title>\n'
        '<meta name="ocr-system" content="tesseract"/></head><body>\n'
        f'<div class="ocr_page" id="page_1" '
        f'title="image &quot;{doc_id}.png&quot;; bbox 0 0 {PAGE_W} {PAGE_H}; ppageno 0">'
        + "".join(carea_html)
        + "</div></body></html>"
    )
    return hocr, words_expected


MALFORMED = [
    # unclosed span
    '<html><body><div class="ocr_page"><span class="ocrx_word" '
    'title="bbox 1 2 3 4; x_wconf 50">oops</body></html>',
    # stray ampersand + broken title
    '<html><body><div class="ocr_page"><span class="ocrx_word" '
    'title="bbox 1 2 3">&broken</span></div></body></html>',
    # empty page
    "",
]


def gen_hocr_corpus(n_docs: int = 30, seed: int = 42, realistic: bool = False):
    """Returns (pages, expected): pages = [(doc_id, hocr)], expected =
    flat list of word records for the well-formed pages."""
    rng = np.random.default_rng(seed)
    lex_tokens = [t for t, _ in gen_lexicon(500, seed=seed)]
    sizes = (
        {"lines_rng": (14, 22), "words_rng": (6, 11)} if realistic else {}
    )
    pages, expected = [], []
    for i in range(n_docs - len(MALFORMED)):
        doc_id = f"h{i:06d}"
        hocr, words = gen_hocr_page(doc_id, rng, lex_tokens, **sizes)
        pages.append((doc_id, hocr))
        expected.extend(words)
    for j, bad in enumerate(MALFORMED):
        pages.append((f"hbad{j:04d}", bad))
    return pages, expected
