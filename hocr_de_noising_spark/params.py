"""Frozen de-noising parameters (SURVEY.md §2 X8, §7.3 item 4).

The reference's exact constants are unrecoverable (reference repo empty,
SURVEY.md §0), so this project freezes ITS OWN deterministic rule
cascade here. The golden fixtures are generated constructively against
these same constants (fixtures/spans.py), so correctness never depends
on recovering reference-internal values. The hash of the params is
recorded in the checkpoint manifest lineage (checkpoint.py) so a run is
reproducible bit-for-bit.

All thresholds are chosen to match the published eMOP page-denoising
heuristics in spirit [AAAI15]: confidence thresholding, non-alpha
ratio, repeated-character runs, size/aspect outliers vs the page
median, and margin-envelope rejection.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Params:
    """Tunable surface of the de-noiser; defaults are the frozen v1 rule."""

    # X4 — word-confidence threshold: x_wconf < tau_wconf → noise.
    tau_wconf: int = 35

    # X5 — garbage-string classifiers.
    max_nonalpha_ratio: float = 0.5   # 1 - alpha/len > this → noise
    repeat_run_len: int = 4           # >= this many identical chars in a row
    max_token_len: int = 40           # longer than this → noise

    # X2 — geometry outliers vs per-page median word height.
    speck_h_frac: float = 0.25        # h < frac * median_h → speck
    blob_h_frac: float = 4.0          # h > frac * median_h → blob
    max_aspect: float = 12.0          # w/h beyond this → tall-thin rule noise

    # X3 — margin envelope: p5..p95 of word coords per page ± tolerance px.
    envelope_lo_pct: float = 0.05
    envelope_hi_pct: float = 0.95
    # Tolerance exceeds the 52 px fixture line pitch so boundary lines
    # of a page never false-positive as margin noise.
    envelope_tol_px: int = 60

    # X10 — rewrite mode: "drop" removes noise spans; "rewrite" keeps the
    # normalized token for dictionary-recoverable words, drops the rest.
    mode: str = "drop"

    # J5 / S5 — scale machinery.
    n_buckets: int = 256
    salt: int = 42
    max_spans_per_doc: int = 50_000   # spans above which a doc is a giant

    def to_dict(self) -> dict:
        return asdict(self)


def params_hash(params: Params) -> str:
    """Stable hash of the parameter set, recorded in manifest lineage."""
    blob = json.dumps(params.to_dict(), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_PARAMS = Params()
