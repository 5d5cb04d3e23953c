"""Vectorized (Arrow/numpy) batch implementation of the frozen rule.

Semantically identical to rules_np.denoise_doc applied to every doc of
a batch, but vectorized across the whole Arrow batch: one RE2 extract
for all spans, code-point arithmetic for the string flags, one
groupby-quantile for the page stats, and numpy sorts for reading order
and anchoring. Its one entry point, :func:`denoise_arrow_batch`, is
what ``denoise_fused`` executes per ``mapInArrow`` batch; equality with
rules_np is property-tested through it (tests/test_vectorized.py) and
both are held to the constructive goldens.

Parity notes (verified by tests):
- the payload is parsed by ``pc.extract_regex`` with an RE2 form of
  ``_PAYLOAD_RE`` (``[0-9]`` digits, ``$`` at end of text only). It
  accepts a strict subset of what ``_PAYLOAD_RE`` accepts, with the
  same groups, so only the text rows it rejects are matched again by
  ``_PAYLOAD_RE`` itself: Unicode digits and a trailing newline parse
  exactly as in rules_np;
- letters are counted through a per-batch code-point table built from
  ``str.isalpha``, rules_np's own predicate; token lengths are
  code-point counts, i.e. Python ``len``;
- pandas ``groupby.quantile(interpolation='linear')`` == numpy
  percentile 'linear' == Spark ``percentile``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import (
    Lexicon,
    _PAYLOAD_RE,
    _rewrite_payload,
    normalize_token,
)

_PAYLOAD_RE2 = _PAYLOAD_RE.pattern.replace(r"\d", "[0-9]")


def code_points(strings: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The code points of every row of a string array, concatenated,
    and the ``len + 1`` row offsets into them. One UTF-8 decode for the
    whole array; a null row spans its (normally empty) byte range."""
    off_type = np.int64 if pa.types.is_large_string(strings.type) else np.int32
    _, off_buf, data_buf = strings.buffers()
    boffs = np.frombuffer(off_buf, off_type)[
        strings.offset : strings.offset + len(strings) + 1
    ].astype(np.int64)
    lo, hi = int(boffs[0]), int(boffs[-1])
    raw = np.frombuffer(data_buf, np.uint8)[lo:hi] if hi > lo else np.zeros(0, np.uint8)
    # every byte that is not a UTF-8 continuation byte starts a code point
    cp_at = np.zeros(hi - lo + 1, dtype=np.int64)
    np.cumsum((raw & 0xC0) != 0x80, out=cp_at[1:])
    cps = np.frombuffer(raw.tobytes().decode("utf-8").encode("utf-32-le"), np.uint32)
    return cps, cp_at[boffs - lo]


def letter_counts(cps: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Per row of ``code_points`` output: how many characters are
    letters by ``str.isalpha``, rules_np's predicate, asked once per
    distinct code point of the batch."""
    seen = np.zeros(int(cps.max(initial=0)) + 1, dtype=bool)
    seen[cps] = True
    present = np.flatnonzero(seen)
    is_letter = np.zeros(len(seen), dtype=bool)
    is_letter[present] = [chr(c).isalpha() for c in present.tolist()]
    before = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum(is_letter[cps], out=before[1:])
    return before[offs[1:]] - before[offs[:-1]]


def has_repeat_run(cps: np.ndarray, offs: np.ndarray, k: int) -> np.ndarray:
    """Per row of ``code_points`` output: does it hold >= k identical
    consecutive characters, the backref regex ``(.)\\1{k-1,}`` that
    RE2 cannot express? One pass over the batch's code points: AND
    together k-1 shifted equality masks, with the pairs that straddle
    two rows cleared."""
    out = np.zeros(len(offs) - 1, dtype=bool)
    w = k - 1  # run of k chars == k-1 consecutive equal-neighbor pairs
    if len(cps) <= w:
        return out
    eq = cps[1:] == cps[:-1]
    bounds = offs[1:-1]
    eq[bounds[(bounds > 0) & (bounds < len(cps))] - 1] = False
    run = eq[: len(eq) - w + 1].copy()
    for j in range(1, w):
        run &= eq[j : len(eq) - w + 1 + j]
    # a hit belongs to the last row starting at or before it (empty
    # rows share their start with the next row)
    out[np.searchsorted(offs, np.flatnonzero(run), side="right") - 1] = True
    return out


def denoise_arrow_batch(rb, params: Params, lexicon: Lexicon | None):
    """De-noise the ``spans`` column of one Arrow record batch and return
    the batch with that column replaced — the zero-dict boundary the
    fused operator runs per ``mapInArrow`` batch. Every other column
    passes through unchanged, one row per input row, and the output
    spans keep the input's span type, so the output schema is the input
    schema.

    The span columns are read FLAT off the list array's offsets/values
    buffers and the output list array is rebuilt from the flat survivor
    columns + a bincount of per-doc lengths: no per-span Python object
    in either direction."""
    i_spans = rb.schema.get_field_index("spans")
    spans_arr = rb.column(i_spans)
    span_type = spans_arr.type.value_type
    n_docs = rb.num_rows
    offs = spans_arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    # values is the UNSLICED child array: positions offs[0]..offs[-1]
    # cover this batch's lists contiguously (offsets are monotone)
    vals = spans_arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    offs = offs - offs[0]
    lengths = np.diff(offs)
    total = int(offs[-1])

    if total == 0:
        spans_out = pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1, dtype=np.int32), type=pa.int32()),
            pa.array([], type=span_type),
        )
        return rb.set_column(i_spans, "spans", spans_out)

    didx = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    pos = np.arange(total, dtype=np.int64) - offs[:-1][didx]
    out_didx, kinds, texts, refs = _denoise_flat(
        didx,
        pos,
        vals.field("kind"),
        vals.field("text"),
        vals.field("media_ref"),
        params,
        lexicon,
    )

    counts = np.bincount(out_didx, minlength=n_docs)
    out_offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=out_offs[1:])
    within = np.arange(len(out_didx), dtype=np.int64) - out_offs[:-1][out_didx]
    struct_out = pa.StructArray.from_arrays(
        [kinds, texts, refs, pa.array(within.astype(np.int32), type=pa.int32())],
        fields=list(span_type),
    )
    spans_out = pa.ListArray.from_arrays(
        pa.array(out_offs.astype(np.int32), type=pa.int32()), struct_out
    )
    return rb.set_column(i_spans, "spans", spans_out)


def _page_stat(didx: np.ndarray, per_doc: pd.Series) -> np.ndarray:
    """Broadcast a per-doc statistic (indexed by didx) back to the rows;
    NaN for docs without any parseable span."""
    full = np.full(int(didx[-1]) + 1, np.nan)
    full[per_doc.index.to_numpy()] = per_doc.to_numpy(dtype=np.float64)
    return full[didx]


def _denoise_flat(
    didx: np.ndarray,
    pos: np.ndarray,
    kind: pa.Array,
    text: pa.Array,
    media_ref: pa.Array,
    params: Params,
    lexicon: Lexicon | None,
) -> tuple[np.ndarray, pa.Array, pa.Array, pa.Array]:
    """The vectorized rule over flat span columns whose rows are in
    (didx, pos) order. Returns the SURVIVING spans as (didx, kind, text,
    media_ref) in final emission order — (didx, anchor,
    text-before-media, input pos) — so callers assign contiguous
    offsets by enumeration order."""
    p = params
    n = len(didx)
    is_text_a = pc.fill_null(pc.equal(kind, "text"), False)
    is_text = is_text_a.to_numpy(zero_copy_only=False)

    # media spans emit no text and text spans no media_ref (rules_np).
    # The null side is an array: against a null scalar, pyarrow 16's
    # if_else corrupts the offsets of a sliced string array.
    out_text = pc.if_else(is_text_a, text, pa.nulls(n, text.type))
    out_ref = pc.if_else(is_text_a, pa.nulls(n, media_ref.type), media_ref)

    parsed = pc.extract_regex(out_text, _PAYLOAD_RE2)
    groups = dict(zip((f.name for f in parsed.type), parsed.flatten()))
    token = groups.pop("token")
    parse_ok = token.is_valid().to_numpy(zero_copy_only=False)
    geom = {
        c: pc.cast(a, pa.float64()).to_numpy(zero_copy_only=False, writable=True)
        for c, a in groups.items()
    }
    retry = np.flatnonzero(is_text & ~parse_ok)
    if len(retry):
        found = [
            (i, m)
            for i, t in zip(retry.tolist(), text.take(retry).to_pylist())
            if t is not None and (m := _PAYLOAD_RE.match(t))
        ]
        if found:
            rows = np.array([i for i, _ in found], dtype=np.int64)
            mask = np.zeros(n, dtype=bool)
            mask[rows] = True
            token = pc.replace_with_mask(
                token, mask, pa.array([m["token"] for _, m in found], token.type)
            )
            for c in geom:
                geom[c][rows] = [int(m[c]) for _, m in found]
            parse_ok = parse_ok | mask
    x0, y0, x1, y1 = geom["x0"], geom["y0"], geom["x1"], geom["y1"]
    h = y1 - y0
    w_px = x1 - x0

    # --- page-adaptive stats over parse_ok rows ---
    ok_idx = np.flatnonzero(parse_ok)
    g = pd.DataFrame(
        {
            "didx": didx[ok_idx],
            "h": h[ok_idx],
            "x0": x0[ok_idx],
            "x1": x1[ok_idx],
            "y0": y0[ok_idx],
            "y1": y1[ok_idx],
        }
    ).groupby("didx")
    lo, hi = p.envelope_lo_pct, p.envelope_hi_pct
    med_h = _page_stat(didx, g["h"].quantile(0.5))
    p_lo_x0 = _page_stat(didx, g["x0"].quantile(lo))
    p_hi_x1 = _page_stat(didx, g["x1"].quantile(hi))
    p_lo_y0 = _page_stat(didx, g["y0"].quantile(lo))
    p_hi_y1 = _page_stat(didx, g["y1"].quantile(hi))

    # --- garbage-string flags ---
    cps, cp_offs = code_points(token)
    tok_len = np.diff(cp_offs)
    n_letters = letter_counts(cps, cp_offs)
    with np.errstate(invalid="ignore", divide="ignore"):
        nonalpha_ratio = np.where(tok_len == 0, 1.0, 1.0 - n_letters / tok_len)
    f_wconf = parse_ok & (geom["w"] < p.tau_wconf)
    f_nonalpha = parse_ok & (nonalpha_ratio > p.max_nonalpha_ratio)
    f_repeat = parse_ok & has_repeat_run(cps, cp_offs, p.repeat_run_len)
    f_toolong = parse_ok & (tok_len > p.max_token_len)
    with np.errstate(invalid="ignore", divide="ignore"):
        aspect_bad = (h > 0) & (w_px / h > p.max_aspect)
    f_geom = parse_ok & (
        (h < p.speck_h_frac * med_h) | (h > p.blob_h_frac * med_h) | aspect_bad
    )
    tol = float(p.envelope_tol_px)
    f_margin = parse_ok & (
        (x0 < p_lo_x0 - tol)
        | (x1 > p_hi_x1 + tol)
        | (y0 < p_lo_y0 - tol)
        | (y1 > p_hi_y1 + tol)
    )

    # --- dictionary: normalize and look up once per distinct token ---
    if lexicon is not None:
        enc = pc.dictionary_encode(token)
        norms = [normalize_token(t) for t in enc.dictionary.to_pylist()]
        # a null token (parse failure) takes the trailing miss entry
        hit_of = np.array([lexicon.within_one(t) for t in norms] + [False], dtype=bool)
        codes = pc.fill_null(enc.indices, len(norms)).to_numpy(zero_copy_only=False)
        dict_hit = hit_of[codes]
        f_dict_miss = parse_ok & ~dict_hit
    else:
        dict_hit = np.zeros(n, dtype=bool)
        f_dict_miss = np.zeros(n, dtype=bool)

    is_noise = is_text & (
        ~parse_ok | f_wconf | f_nonalpha | f_repeat | f_toolong | f_geom | f_margin | f_dict_miss
    )

    # --- rewrite mode ---
    if p.mode == "rewrite":
        only_wconf = (
            parse_ok
            & f_wconf
            & ~(f_nonalpha | f_repeat | f_toolong | f_geom | f_margin | f_dict_miss)
        )
        rewritten = is_noise & only_wconf & dict_hit
    else:
        rewritten = np.zeros(n, dtype=bool)
    drop = is_noise & ~rewritten

    if rewritten.any():
        rows = np.flatnonzero(rewritten)
        new = [
            _rewrite_payload(t, norms[c])
            for t, c in zip(text.take(rows).to_pylist(), codes[rows].tolist())
        ]
        out_text = pc.replace_with_mask(out_text, rewritten, pa.array(new, out_text.type))

    # --- reading order among surviving text spans ---
    # (a noise-free text span always has parse_ok; keep the conjunction
    # explicit so unparseable rows can never enter the order)
    t_idx = np.flatnonzero(is_text & ~drop & parse_ok)
    t_idx = t_idx[
        np.lexsort(
            tuple(a[t_idx] for a in (pos, y0, x0, geom["li"], geom["ci"], didx))
        )
    ]
    d_sorted = didx[t_idx]
    rank = np.full(n, -1, dtype=np.int64)
    rank[t_idx] = np.arange(len(t_idx)) - np.searchsorted(d_sorted, d_sorted)

    # --- media anchoring: the rank of the nearest preceding surviving
    # text span of the same doc, in input order, else -1 ---
    last = np.maximum.accumulate(np.where(rank >= 0, np.arange(n), 0))
    anchor = np.where(didx[last] == didx, rank[last], -1)

    keep = np.flatnonzero(~drop & kind.is_valid().to_numpy(zero_copy_only=False))
    order = keep[np.lexsort((pos[keep], ~is_text[keep], anchor[keep], didx[keep]))]
    idx = pa.array(order)
    return didx[order], kind.take(idx), out_text.take(idx), out_ref.take(idx)
