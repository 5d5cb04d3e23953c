"""Numpy/pure-Python reference implementation of the frozen de-noise rule.

This module is the single source of truth for the de-noising semantics
(SURVEY.md §2 X2-X10). It is used three ways:

1. ``fixtures/spans.py`` derives the constructive golden outputs from it
   at generation time (the reference repo's own fixtures are
   unavailable — SURVEY.md §0 — so golden = this rule, by construction).
2. ``rules_vec`` vectorizes it over Arrow batches for
   ``operators/pipeline.py:denoise_fused`` and is property-tested
   against it (tests/test_vectorized.py).
3. The exploded-relational Spark variant (pure Catalyst expressions) is
   cross-validated against it by the golden tests — two independent
   implementations of the same frozen rule.

Everything here must stay float64/int exact so the Catalyst
implementation can match it bit-for-bit: percentiles use linear
interpolation on (n-1)p positions (numpy 'linear' == Spark
``percentile``), thresholds are powers of two where multiplication
matters, and all comparisons are strict in the same direction on both
sides.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

import numpy as np

from hocr_de_noising_spark.params import Params

# --- X6: early-modern normalization tables -------------------------------

LIGATURES = {
    "ﬀ": "ff",   # ﬀ
    "ﬁ": "fi",   # ﬁ
    "ﬂ": "fl",   # ﬂ
    "ﬃ": "ffi",  # ﬃ
    "ﬄ": "ffl",  # ﬄ
    "ﬅ": "st",   # ﬅ (long-s t)
    "ﬆ": "st",   # ﬆ
}
LONG_S = "ſ"  # ſ

_PAYLOAD_RE = re.compile(
    r"^(?P<token>[^;]*);bbox (?P<x0>\d+) (?P<y0>\d+) (?P<x1>\d+) (?P<y1>\d+)"
    r";x_wconf (?P<w>\d+);line (?P<li>\d+);col (?P<ci>\d+)$"
)

_REPEAT_RE = re.compile(r"(.)\1{3,}")


def normalize_token(token: str) -> str:
    """ſ→s and ligature expansion (X6). Deterministic, involution-free."""
    for lig, exp in LIGATURES.items():
        if lig in token:
            token = token.replace(lig, exp)
    if LONG_S in token:
        token = token.replace(LONG_S, "s")
    return token


def parse_payload(text: str) -> dict | None:
    """Parse the flat word-record serialization (FIXTURES.md §2).

    ``"{token};bbox {x0} {y0} {x1} {y1};x_wconf {c};line {li};col {ci}"``
    Returns None when the payload does not match (treated as garbage by
    the rule: unparseable text spans are noise).
    """
    m = _PAYLOAD_RE.match(text) if text is not None else None
    if not m:
        return None
    return {
        "token": m.group("token"),
        "x0": int(m.group("x0")),
        "y0": int(m.group("y0")),
        "x1": int(m.group("x1")),
        "y1": int(m.group("y1")),
        "wconf": int(m.group("w")),
        "line": int(m.group("li")),
        "col": int(m.group("ci")),
    }


def alpha_ratio_nonalpha(token: str) -> float:
    """1 - (unicode letters)/len; empty token → 1.0 (fully non-alpha)."""
    if not token:
        return 1.0
    letters = sum(1 for ch in token if ch.isalpha())
    return 1.0 - letters / len(token)


def has_repeat_run(token: str, run_len: int = 4) -> bool:
    if run_len != 4:
        return re.search(r"(.)\1{%d,}" % (run_len - 1), token) is not None
    return _REPEAT_RE.search(token) is not None


# --- X7: distance-1 lexicon structures (SymSpell-style deletes) ----------


class Lexicon:
    """Edit-distance <= 1 membership over a token list.

    Distance-1 test via the symmetric-delete method: lev(t, w) <= 1 iff
    t == w, or t is w minus one char, or w is t minus one char, or t and
    w differ by one substitution (equal after deleting the same index).
    O(len(t)) per query — no full scan, mirrors the Spark side's
    length-banded broadcast join semantics exactly.
    """

    def __init__(self, tokens: Iterable[str]):
        self.exact = set(tokens)
        self.del_variants: set[str] = set()
        self.del_at: set[tuple[int, str]] = set()
        for w in self.exact:
            for i in range(len(w)):
                d = w[:i] + w[i + 1 :]
                self.del_variants.add(d)
                self.del_at.add((i, d))

    def within_one(self, token: str) -> bool:
        if token in self.exact:
            return True
        # token is a lexicon word with one char inserted (deletion from token)
        for i in range(len(token)):
            d = token[:i] + token[i + 1 :]
            if d in self.exact:          # deletion in token
                return True
            if (i, d) in self.del_at:    # substitution at index i
                return True
        # token is a lexicon word minus one char (insertion fixes it)
        if token in self.del_variants:
            return True
        return False


# --- X2-X8: per-document flag computation --------------------------------


def doc_flags(
    parsed: Sequence[dict | None],
    params: Params,
    lexicon: Lexicon | None,
) -> list[dict]:
    """Compute the full flag set for one document's text spans.

    ``parsed`` is the list of parse_payload results for the doc's TEXT
    spans in input order. Page statistics (median height, margin
    envelope percentiles) are computed over ALL parseable text spans of
    the doc, including the noisy ones — the rule is page-adaptive, as in
    the published eMOP algorithm [AAAI15].
    """
    hs, x0s, x1s, y0s, y1s = [], [], [], [], []
    for p in parsed:
        if p is not None:
            hs.append(p["y1"] - p["y0"])
            x0s.append(p["x0"])
            x1s.append(p["x1"])
            y0s.append(p["y0"])
            y1s.append(p["y1"])
    if hs:
        h_arr = np.asarray(hs, dtype=np.float64)
        median_h = float(np.percentile(h_arr, 50.0, method="linear"))
        lo = params.envelope_lo_pct * 100.0
        hi = params.envelope_hi_pct * 100.0
        p5_x0 = float(np.percentile(np.asarray(x0s, np.float64), lo))
        p95_x1 = float(np.percentile(np.asarray(x1s, np.float64), hi))
        p5_y0 = float(np.percentile(np.asarray(y0s, np.float64), lo))
        p95_y1 = float(np.percentile(np.asarray(y1s, np.float64), hi))
    else:
        median_h = p5_x0 = p95_x1 = p5_y0 = p95_y1 = float("nan")

    tol = float(params.envelope_tol_px)
    out = []
    for p in parsed:
        if p is None:
            out.append(
                {
                    "parse_fail": True,
                    "wconf_low": False,
                    "nonalpha": True,
                    "repeat": False,
                    "too_long": False,
                    "geom": False,
                    "margin": False,
                    "dict_hit": False,
                    "dict_miss": True,
                    "is_noise": True,
                    "norm_token": None,
                }
            )
            continue
        token = p["token"]
        norm = normalize_token(token)
        w = float(p["x1"] - p["x0"])
        h = float(p["y1"] - p["y0"])
        wconf_low = p["wconf"] < params.tau_wconf
        nonalpha = alpha_ratio_nonalpha(token) > params.max_nonalpha_ratio
        repeat = has_repeat_run(token, params.repeat_run_len)
        too_long = len(token) > params.max_token_len
        geom = (
            h < params.speck_h_frac * median_h
            or h > params.blob_h_frac * median_h
            or (h > 0 and w / h > params.max_aspect)
        )
        margin = (
            p["x0"] < p5_x0 - tol
            or p["x1"] > p95_x1 + tol
            or p["y0"] < p5_y0 - tol
            or p["y1"] > p95_y1 + tol
        )
        if lexicon is not None:
            dict_hit = lexicon.within_one(norm)
            dict_miss = not dict_hit
        else:
            dict_hit = False
            dict_miss = False
        is_noise = (
            wconf_low or nonalpha or repeat or too_long or geom or margin or dict_miss
        )
        out.append(
            {
                "parse_fail": False,
                "wconf_low": wconf_low,
                "nonalpha": nonalpha,
                "repeat": repeat,
                "too_long": too_long,
                "geom": geom,
                "margin": margin,
                "dict_hit": dict_hit,
                "dict_miss": dict_miss,
                "is_noise": is_noise,
                "norm_token": norm,
            }
        )
    return out


def noise_class(flag: dict) -> str | None:
    """First matching rule name, for diagnostics/metrics (X8 cascade order)."""
    if not flag["is_noise"]:
        return None
    for name in (
        "parse_fail",
        "wconf_low",
        "nonalpha",
        "repeat",
        "too_long",
        "geom",
        "margin",
        "dict_miss",
    ):
        if flag[name]:
            return name
    return None


# --- X9 + X10: reading order, media anchoring, reassembly ----------------


def denoise_doc(
    spans: Sequence[dict],
    params: Params,
    lexicon: Lexicon | None,
) -> list[dict]:
    """De-noise one document: the full frozen pipeline on plain dicts.

    Input/output span dicts: {kind, text, media_ref, offset}. Output
    spans are renumbered contiguously; media spans are preserved
    verbatim, each placed immediately after its anchor — the nearest
    PRECEDING surviving text span in input (array) order; media with no
    anchor go before all text, in input order (SURVEY.md §2 X10,
    FIXTURES.md §3).
    """
    # Input order = array position (offset column records it too).
    text_idx = [i for i, s in enumerate(spans) if s["kind"] == "text"]
    parsed = [parse_payload(spans[i]["text"]) for i in text_idx]
    flags = doc_flags(parsed, params, lexicon)

    survivors_text = []  # (input_pos, sort keys, emitted_text)
    for j, i in enumerate(text_idx):
        f, p = flags[j], parsed[j]
        if f["is_noise"]:
            if params.mode == "rewrite" and _rewritable(f, lexicon):
                emitted = _rewrite_payload(spans[i]["text"], f["norm_token"])
            else:
                continue
        else:
            emitted = spans[i]["text"]
        survivors_text.append((i, (p["col"], p["line"], p["x0"], p["y0"], i), emitted))

    # Reading-order rank over surviving text spans.
    order = sorted(range(len(survivors_text)), key=lambda k: survivors_text[k][1])
    rank_by_input_pos: dict[int, int] = {}
    for rnk, k in enumerate(order):
        rank_by_input_pos[survivors_text[k][0]] = rnk
    text_by_pos = {i: t for i, _, t in survivors_text}

    # Media anchoring by input order.
    keyed: list[tuple[tuple, dict]] = []
    last_rank = -1
    for i, s in enumerate(spans):
        if s["kind"] == "text":
            if i in rank_by_input_pos:
                last_rank = rank_by_input_pos[i]
                keyed.append(
                    (
                        (last_rank, 0, i),
                        {
                            "kind": "text",
                            "text": text_by_pos[i],
                            "media_ref": None,
                        },
                    )
                )
        elif s["kind"] is not None:  # null-kind spans are invalid: drop
            keyed.append(
                (
                    (last_rank, 1, i),
                    {
                        "kind": s["kind"],
                        "text": None,
                        "media_ref": s["media_ref"],
                    },
                )
            )
    keyed.sort(key=lambda kv: kv[0])
    return [
        {**span, "offset": pos} for pos, (_, span) in enumerate(keyed)
    ]


def _rewritable(flag: dict, lexicon: Lexicon | None) -> bool:
    """Rewrite mode keeps spans whose ONLY failure is low confidence and
    whose normalized token is dictionary-recoverable."""
    only_wconf = flag["wconf_low"] and not any(
        flag[k] for k in ("parse_fail", "nonalpha", "repeat", "too_long", "geom", "margin", "dict_miss")
    )
    return only_wconf and flag["dict_hit"]


def _rewrite_payload(text: str, norm_token: str) -> str:
    head, sep, rest = text.partition(";")
    return norm_token + sep + rest
