"""X1 (full path) — tolerant hOCR XHTML tokenization (SURVEY.md §2.3).

Parses raw Tesseract hOCR pages (public hocr-spec 1.x) into one record
per ocrx_word with full ancestry (carea/par/line), geometry, confidence
and line metrics. Runs as an Arrow-batched ``mapInPandas`` stage using
stdlib ``html.parser`` (tolerant: malformed pages yield 0 words, never
a crash — no lxml in this environment, SURVEY.md §7.4).

``hocr_words_to_spans`` bridges parsed words into the flat span payload
format, so a raw-hOCR corpus feeds the main de-noising pipeline.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hocr_de_noising_spark.pyworker import lazy_zip_invalidation

WORDS_SCHEMA = (
    "doc_id string, carea_id int, par_id int, line_id int, word_id int, "
    "order int, token string, x0 int, y0 int, x1 int, y1 int, wconf int, "
    "baseline_a double, baseline_b double, x_size double"
)


def _parse_title(title: str) -> dict:
    """hOCR title attribute: semicolon-separated key/value groups."""
    out: dict = {}
    for part in (title or "").split(";"):
        fields = part.strip().split()
        if not fields:
            continue
        key, vals = fields[0], fields[1:]
        if key == "bbox" and len(vals) == 4:
            try:
                out["bbox"] = tuple(int(v) for v in vals)
            except ValueError:
                pass
        elif key == "x_wconf" and vals:
            try:
                out["wconf"] = int(vals[0])
            except ValueError:
                pass
        elif key == "baseline" and len(vals) == 2:
            try:
                out["baseline"] = (float(vals[0]), float(vals[1]))
            except ValueError:
                pass
        elif key == "x_size" and vals:
            try:
                out["x_size"] = float(vals[0])
            except ValueError:
                pass
    return out


class _HocrParser(HTMLParser):
    """Streaming tolerant parser; collects ocrx_word records."""

    def __init__(self, doc_id: str):
        super().__init__(convert_charrefs=True)
        self.doc_id = doc_id
        self.words: list[dict] = []
        self.carea = -1
        self.par = -1
        self.line = -1
        self.word_in_line = 0
        self.order = 0
        self.cur_line_meta: dict = {}
        self.cur_word: dict | None = None
        self.cur_text: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        cls = a.get("class", "")
        if "ocr_carea" in cls:
            self.carea += 1
            self.par = -1
        elif "ocr_par" in cls:
            self.par += 1
            self.line = -1
        elif "ocr_line" in cls or "ocr_header" in cls or "ocr_caption" in cls:
            self.line += 1
            self.word_in_line = 0
            self.cur_line_meta = _parse_title(a.get("title", ""))
        elif "ocrx_word" in cls:
            self._flush_word()  # tolerate unclosed previous word
            meta = _parse_title(a.get("title", ""))
            if "bbox" in meta:
                self.cur_word = meta
                self.cur_text = []

    def handle_data(self, data):
        if self.cur_word is not None:
            self.cur_text.append(data)

    def close(self):
        super().close()
        self._flush_word()  # tolerate word left open at EOF

    def handle_endtag(self, tag):
        if tag == "span":
            self._flush_word()

    def _flush_word(self):
        if self.cur_word is not None:
            token = "".join(self.cur_text).strip()
            bbox = self.cur_word["bbox"]
            base = self.cur_line_meta.get("baseline", (None, None))
            self.words.append(
                {
                    "doc_id": self.doc_id,
                    "carea_id": max(self.carea, 0),
                    "par_id": max(self.par, 0),
                    "line_id": max(self.line, 0),
                    "word_id": self.word_in_line,
                    "order": self.order,
                    "token": token,
                    "x0": bbox[0],
                    "y0": bbox[1],
                    "x1": bbox[2],
                    "y1": bbox[3],
                    "wconf": self.cur_word.get("wconf"),
                    "baseline_a": base[0],
                    "baseline_b": base[1],
                    "x_size": self.cur_line_meta.get("x_size"),
                }
            )
            self.word_in_line += 1
            self.order += 1
            self.cur_word = None


def parse_doc(doc_id: str, hocr: str) -> list[dict]:
    """Tolerantly parse one page; malformed input → as many words as
    recoverable (possibly zero), never an exception."""
    p = _HocrParser(doc_id)
    try:
        p.feed(hocr or "")
        p.close()
    except Exception:
        pass
    return p.words


def parse_hocr(df: DataFrame) -> DataFrame:
    """X1: (doc_id, hocr) → word records, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lazy_zip_invalidation()
        cols = [f.split(" ")[0] for f in WORDS_SCHEMA.split(", ")]
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, hocr in zip(pdf["doc_id"], pdf["hocr"]):
                rows.extend(parse_doc(doc_id, hocr))
            # column-wise build (r8): DataFrame-from-list-of-dicts does
            # a per-dict key probe per column; one comprehension per
            # column over the same dicts is ~2x cheaper at these widths
            yield pd.DataFrame(
                {c: [r[c] for r in rows] for c in cols}
            ) if rows else pd.DataFrame({c: [] for c in cols})

    return df.mapInPandas(run, schema=WORDS_SCHEMA)


def hocr_words_to_spans(words: DataFrame) -> DataFrame:
    """Bridge parsed words into the flat span-payload corpus shape, so
    raw hOCR pages flow into the main de-noising pipeline (S2 → S1)."""
    payload = F.concat_ws(
        ";",
        F.col("token"),
        F.concat(F.lit("bbox "), F.concat_ws(" ", "x0", "y0", "x1", "y1")),
        F.concat(F.lit("x_wconf "), F.col("wconf").cast("string")),
        F.concat(F.lit("line "), F.col("line_id").cast("string")),
        F.concat(F.lit("col "), F.col("carea_id").cast("string")),
    )
    span = F.struct(
        F.lit("text").alias("kind"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.col("order").cast("int").alias("offset"),
    )
    return (
        words.withColumn("span", span)
        .groupBy("doc_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(order, span))), x -> x.span)").alias(
                "spans"
            )
        )
    )
