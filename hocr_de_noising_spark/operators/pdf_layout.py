"""PDF / layout parse — the north-rule's "PDF/layout parse" clause as
a first-class operator with a stubbed codec. No PDF library is a
dependency, so the byte-level decode reads a deterministic fake
container format in place of pdfminer/PyMuPDF. ALL the Spark-side
plumbing — schema, Arrow binary transfer, mapInPandas batch shape, the
layout heuristics downstream of the decode — is real and tested.

Fake PDF container (deterministic, for fixtures):

    b"FPDF" + n_pages uint16 BE
    per page:  n_blocks uint16 BE
    per block: x0 y0 x1 y1 int16 BE + text_len uint16 BE + utf-8 text

Downstream layout heuristic (real, engine-side): two-column reading
order — blocks sort by (page, column band from the x-midpoint, y0, x0),
the same column/line reconstruction family the hOCR pipeline applies
to word boxes (operators/assemble.py), expressed over page blocks.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MAGIC = b"FPDF"

BLOCKS_SCHEMA = (
    "doc_ref string, page int, block_idx int, x0 int, y0 int, "
    "x1 int, y1 int, text string, parse_ok boolean"
)

PAGE_WIDTH = 1200  # fixture page coordinate space
COLUMN_BANDS = 2  # two-column layout heuristic


def encode_fake_pdf(doc_ref: str, pages: list[list[tuple]]) -> bytes:
    """Deterministic fake-PDF bytes: ``pages`` is a list of pages, each
    a list of ((x0, y0, x1, y1), text) blocks."""
    out = [_MAGIC, struct.pack(">H", len(pages))]
    for blocks in pages:
        out.append(struct.pack(">H", len(blocks)))
        for (x0, y0, x1, y1), text in blocks:
            t = text.encode("utf-8")
            out.append(struct.pack(">hhhhH", x0, y0, x1, y1, len(t)))
            out.append(t)
    return b"".join(out)


def _parse_one(content: bytes):
    """Parse the fake container; returns (blocks, ok) where blocks is
    [(page, idx, x0, y0, x1, y1, text)]. Tolerant: any truncation or
    bad magic yields ([], False) instead of raising (the malformed-PDF
    reality of a web crawl)."""
    try:
        if content is None or len(content) < 6 or content[:4] != _MAGIC:
            return [], False
        (n_pages,) = struct.unpack(">H", content[4:6])
        pos, blocks = 6, []
        for page in range(n_pages):
            (n_blocks,) = struct.unpack(">H", content[pos : pos + 2])
            pos += 2
            for idx in range(n_blocks):
                x0, y0, x1, y1, tl = struct.unpack(
                    ">hhhhH", content[pos : pos + 10]
                )
                pos += 10
                text = content[pos : pos + tl].decode("utf-8")
                if len(content[pos : pos + tl]) < tl:
                    return [], False  # truncated block
                pos += tl
                blocks.append((page, idx, x0, y0, x1, y1, text))
        return blocks, True
    except (struct.error, UnicodeDecodeError):
        return [], False


def parse_pdf_layout(df: DataFrame) -> DataFrame:
    """(doc_ref, content binary) -> one row per layout block
    (BLOCKS_SCHEMA). Map-side mapInPandas over the binary column — the
    block table lands partitioned like its source scan, exactly like
    the hOCR ingest; unparseable documents yield a single
    parse_ok=false row so corrupt inputs are countable, not silent."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["doc_ref"], pdf["content"]):
                b = bytes(content) if content is not None else None
                blocks, ok = _parse_one(b)
                if not ok:
                    rows.append((ref, None, None, None, None, None, None, None, False))
                for page, idx, x0, y0, x1, y1, text in blocks:
                    rows.append((ref, page, idx, x0, y0, x1, y1, text, True))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_ref", "page", "block_idx", "x0", "y0",
                    "x1", "y1", "text", "parse_ok",
                ],
            )

    return df.mapInPandas(run, schema=BLOCKS_SCHEMA)


def blocks_reading_order(blocks: DataFrame) -> DataFrame:
    """Column-aware reading order over parsed layout blocks: within a
    document, order by (page, column band of the block's x-midpoint,
    y0, x0) — the two-column scholarly-page heuristic the hOCR
    pipeline applies to word boxes, lifted to page blocks. The window
    partitions by doc_ref (bounded by a document's own block count,
    never corpus-wide), so the operator scales with documents, not the
    corpus."""
    band = F.floor(
        ((F.col("x0") + F.col("x1")) / 2) / (PAGE_WIDTH / COLUMN_BANDS)
    ).cast("int")
    w = Window.partitionBy("doc_ref").orderBy(
        "page", band.asc(), "y0", "x0"
    )
    return blocks.filter("parse_ok").withColumn(
        "read_order", F.row_number().over(w)
    )
