"""Constructive generator for the interleaved text+media span corpus.

Implements FIXTURES.md §2/§3: deterministic (seed 42) documents of
shape (doc_id, spans array<struct<kind,text,media_ref,offset>>) with
planted noise, plus the golden expected output derived at generation
time by the frozen rule (rules_np) — NOT by running the Spark pipeline.

Page layout: 2480x3508 px, two columns x-ranges [200,1150] and
[1330,2280], line pitch 52 px from y=300, word height 38..42 px,
word width 22*len(token) clipped to [30,400]. Reading order ground
truth = (col asc, line asc, x0 asc).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.params import DEFAULT_PARAMS
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc, noise_class, parse_payload, doc_flags
from hocr_de_noising_spark.sources.catalog import DOCS_SCHEMA

PAGE_W, PAGE_H = 2480, 3508
COLS = [(200, 1150), (1330, 2280)]
LINE_Y0, LINE_PITCH, LINES_PER_COL = 300, 52, 57
GARBAGE_CHARS = list(";;:~¬|'`·*^#%&$§¶†‡¤=+<>{}[]()!?.,0123456789")
NOISE_CLASSES = ["lowconf", "garbage", "repeat", "speck", "margin"]
LIG_PATTERNS = ["ffi", "ffl", "ff", "fi", "fl", "st"]
_LIG_FOR = {"ffi": "ﬃ", "ffl": "ﬄ", "ff": "ﬀ", "fi": "ﬁ", "fl": "ﬂ", "st": "ﬆ"}

FLAT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("pos", pa.int32()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
    ]
)
LABELS_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("offset", pa.int32()), ("noise_class", pa.string()), ("rule_class", pa.string())]
)

SIZES = {"unit": 200, "correctness": 5000}


def payload(token: str, x0: int, y0: int, x1: int, y1: int, wconf: int, line: int, col: int) -> str:
    return f"{token};bbox {x0} {y0} {x1} {y1};x_wconf {wconf};line {line};col {col}"


def _apply_em_forms(token: str, rng: np.random.Generator) -> str:
    """Ligature substitution (first matching pattern, p=0.5) then s→ſ non-finally."""
    if rng.random() < 0.5:
        for pat in LIG_PATTERNS:
            if pat in token:
                token = token.replace(pat, _LIG_FOR[pat], 1)
                break
    if "s" in token[:-1]:
        token = token[:-1].replace("s", "ſ") + token[-1]
    return token


def _garbage_token(rng: np.random.Generator) -> str:
    """Non-alpha ratio >= 0.7 by construction (safe margin above 0.5)."""
    n = int(rng.integers(4, 11))
    n_sym = max(int(np.ceil(0.7 * n)), n - 2)
    chars = [GARBAGE_CHARS[int(rng.integers(0, len(GARBAGE_CHARS)))] for _ in range(n_sym)]
    chars += [chr(ord("a") + int(rng.integers(0, 26))) for _ in range(n - n_sym)]
    perm = rng.permutation(n)
    return "".join(chars[i] for i in perm)


def _repeat_token(rng: np.random.Generator) -> str:
    c = chr(ord("a") + int(rng.integers(0, 26)))
    k = int(rng.integers(4, 8))
    suffix = "".join(chr(ord("a") + int(rng.integers(0, 26))) for _ in range(int(rng.integers(0, 3))))
    return c * k + suffix


def gen_doc(
    doc_id: str,
    n_spans: int,
    rng: np.random.Generator,
    lex_tokens: list[str],
    noise_p: float = 0.25,
    shuffle_p: float = 0.3,
) -> tuple[list[dict], list[str | None]]:
    """Generate one doc; returns (spans_in_emitted_order, planted_class_per_pos)."""
    kind_draw = rng.random(n_spans)
    kinds = np.where(kind_draw < 0.85, "text", np.where(kind_draw < 0.97, "image", "figure"))
    n_text = int((kinds == "text").sum())

    # layout cursor
    col_i, line_i = 0, 0
    x = COLS[0][0]
    text_spans: list[dict] = []
    planted: list[str | None] = []
    for _ in range(n_text):
        is_noise = rng.random() < noise_p
        ncls = NOISE_CLASSES[int(rng.integers(0, 5))] if is_noise else None

        if ncls == "garbage":
            token = _garbage_token(rng)
        elif ncls == "repeat":
            token = _repeat_token(rng)
        else:
            token = lex_tokens[int(rng.integers(0, len(lex_tokens)))]
            if ncls is None and rng.random() < 0.2:
                token = _apply_em_forms(token, rng)

        w = int(np.clip(22 * len(token), 30, 400))
        h = int(rng.integers(38, 43))
        # advance layout
        cx0, cx1 = COLS[col_i % 2]
        if x + w > cx1:
            line_i += 1
            x = cx0
            if line_i >= LINES_PER_COL and col_i % 2 == 0:
                col_i += 1
                line_i = 0
                x = COLS[1][0]
        # line index grows unboundedly for giant docs; y wraps on the page
        y0 = LINE_Y0 + LINE_PITCH * (line_i % LINES_PER_COL)
        x0 = x
        x += w + 18
        li, ci = line_i, col_i % 2

        wconf = int(rng.integers(35, 99))
        if ncls == "lowconf":
            wconf = int(rng.integers(5, 35))
        elif ncls == "garbage":
            wconf = int(rng.integers(35, 81))

        bx0, by0, bx1, by1 = x0, y0, x0 + w, y0 + h
        if ncls == "speck":
            variant = int(rng.integers(0, 3))
            if variant == 0:
                by1 = by0 + 6  # h=6 << 0.25*median(~40)
            elif variant == 1:
                by1 = by0 + 200  # h=200 >> 4*median
            else:
                bh = by1 - by0
                bx1 = bx0 + 15 * bh  # aspect 15 > 12
        elif ncls == "margin":
            variant = int(rng.integers(0, 4))
            if variant == 0:
                off = int(rng.integers(10, 61))
                bx1 = off + (bx1 - bx0)
                bx0 = off
            elif variant == 1:
                bx0 = 2380
                bx1 = 2380 + w
            elif variant == 2:
                by0 = int(rng.integers(10, 101))
                by1 = by0 + h
            else:
                by0 = 3400 + int(rng.integers(0, 41))
                by1 = by0 + h

        text_spans.append(
            {
                "kind": "text",
                "text": payload(token, bx0, by0, bx1, by1, wconf, li, ci),
                "media_ref": None,
            }
        )
        planted.append(ncls)

    # interleave: text spans fill the 'text' slots in kind order (reading
    # order), media spans fill the rest
    spans: list[dict] = []
    classes: list[str | None] = []
    ti = mi = 0
    for k in kinds:
        if k == "text":
            spans.append(text_spans[ti])
            classes.append(planted[ti])
            ti += 1
        else:
            spans.append({"kind": str(k), "text": None, "media_ref": f"media://{doc_id}/{mi}.png"})
            classes.append(None)
            mi += 1

    if rng.random() < shuffle_p:
        perm = rng.permutation(len(spans))
        spans = [spans[i] for i in perm]
        classes = [classes[i] for i in perm]

    for i, s in enumerate(spans):
        s["offset"] = i
    return spans, classes


def gen_corpus(
    n_docs: int,
    seed: int = 42,
    skew: bool = False,
    with_golden: bool = True,
):
    """Generate the corpus; returns dict of pyarrow tables.

    Keys: docs, lexicon, and (with_golden) golden, golden_flat, labels.
    """
    lexicon = gen_lexicon()
    lex_tokens = [t for t, _ in lexicon]
    lex = Lexicon(lex_tokens) if with_golden else None
    rng = np.random.default_rng(seed)

    doc_ids, docs_spans = [], []
    golden_ids, golden_spans = [], []
    flat_rows: list[tuple] = []
    label_rows: list[tuple] = []

    for idx in range(n_docs):
        doc_id = f"d{idx:08d}"
        n_spans = int(np.clip(np.round(rng.lognormal(3.0, 0.8)), 1, 400))
        if skew and idx < 3:
            n_spans = 100_000
        spans, classes = gen_doc(doc_id, n_spans, rng, lex_tokens)
        doc_ids.append(doc_id)
        docs_spans.append(spans)

        if with_golden:
            out = denoise_doc(spans, DEFAULT_PARAMS, lex)
            golden_ids.append(doc_id)
            golden_spans.append(out)
            for s in out:
                flat_rows.append((doc_id, s["offset"], s["kind"], s["text"], s["media_ref"]))
            # diagnostics: planted intent + rule-assigned class
            text_idx = [i for i, s in enumerate(spans) if s["kind"] == "text"]
            parsed = [parse_payload(spans[i]["text"]) for i in text_idx]
            flags = doc_flags(parsed, DEFAULT_PARAMS, lex)
            rule_cls = {i: noise_class(f) for i, f in zip(text_idx, flags)}
            for i, c in enumerate(classes):
                if c is not None or rule_cls.get(i) is not None:
                    label_rows.append((doc_id, i, c, rule_cls.get(i)))

    def _docs_table(ids, spans_col):
        return pa.Table.from_pydict({"doc_id": ids, "spans": spans_col}, schema=DOCS_SCHEMA)

    out = {
        "docs": _docs_table(doc_ids, docs_spans),
        "lexicon": pa.Table.from_pydict(
            {"token": [t for t, _ in lexicon], "freq": [f for _, f in lexicon]},
            schema=pa.schema([("token", pa.string()), ("freq", pa.int32())]),
        ),
    }
    if with_golden:
        out["golden"] = _docs_table(golden_ids, golden_spans)
        out["golden_flat"] = pa.Table.from_pydict(
            {
                "doc_id": [r[0] for r in flat_rows],
                "pos": [r[1] for r in flat_rows],
                "kind": [r[2] for r in flat_rows],
                "text": [r[3] for r in flat_rows],
                "media_ref": [r[4] for r in flat_rows],
            },
            schema=FLAT_SCHEMA,
        )
        out["labels"] = pa.Table.from_pydict(
            {
                "doc_id": [r[0] for r in label_rows],
                "offset": [r[1] for r in label_rows],
                "noise_class": [r[2] for r in label_rows],
                "rule_class": [r[3] for r in label_rows],
            },
            schema=LABELS_SCHEMA,
        )
    return out


def write_corpus(out_dir: str, size: str = "unit") -> str:
    """Write docs_spans/golden/lexicon parquet for a named size; cached
    by size (seed 42, default params)."""
    n_docs = SIZES[size]
    skew = size == "correctness"
    d = os.path.join(out_dir, size)
    marker = os.path.join(d, "_DONE")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    tables = gen_corpus(n_docs, skew=skew)
    for name, tbl in tables.items():
        # small row groups keep the file splittable: Spark's scan stage
        # can then parallelize by row-group byte ranges (one giant row
        # group would serialize the whole scan into a single task)
        if name == "docs" and skew:
            # pathological docs each get their OWN row group in a
            # separate part file, so each giant is its own scan task
            # instead of one straggler task holding all three
            part_dir = os.path.join(d, f"{name}.parquet")
            os.makedirs(part_dir, exist_ok=True)
            pq.write_table(tbl.slice(0, 3), os.path.join(part_dir, "part-giants.parquet"), row_group_size=1)
            pq.write_table(tbl.slice(3), os.path.join(part_dir, "part-normal.parquet"), row_group_size=500)
        else:
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"), row_group_size=500)
    with open(marker, "w") as f:
        f.write("ok")
    return d
