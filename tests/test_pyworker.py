"""pyworker: lazy_zip_invalidation makes importlib.invalidate_caches()
re-read no zip archive directory, leaves no importer holding a shadowed
copy of one, still sees a zip rewritten after an invalidation, and
leaves Python 3.12+ as it is (run in a subprocess so the test process
keeps the stock zipimporter). lexicon() reuses a Lexicon only for an
equal token list, also across denoise_fused calls in reused workers."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from hocr_de_noising_spark import pyworker
from hocr_de_noising_spark.operators.pipeline import denoise_fused
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import gc, importlib, json, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from hocr_de_noising_spark.pyworker import lazy_zip_invalidation

zpath = {zpath!r}
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("pkg/__init__.py", "")
    z.writestr("pkg/m1.py", "X = 1\\n")
sys.path.append(zpath)
import pkg.m1

def holding_files():
    return sum(
        "_files" in vars(o) for o in gc.get_objects()
        if isinstance(o, zipimport.zipimporter)
    )

held_before = holding_files()
stock = dict(vars(zipimport.zipimporter))
lazy_zip_invalidation()
patched = dict(vars(zipimport.zipimporter))
held_after = holding_files()
lazy_zip_invalidation()

reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

importlib.invalidate_caches()
inval_reads = len(reads)
with zipfile.ZipFile(zpath, "a") as z:
    z.writestr("pkg/m2.py", "Y = 2\\n")
importlib.invalidate_caches()
import pkg.m2
print("RESULT " + json.dumps({{
    "inval_reads": inval_reads,
    "total_reads": len(reads),
    "m2": pkg.m2.Y,
    "unchanged": stock == patched,
    "idempotent": patched == dict(vars(zipimport.zipimporter)),
    "held_before": held_before,
    "held_after": held_after,
    "held_end": holding_files(),
}}))
"""


def test_lazy_zip_invalidation(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, zpath=str(tmp_path / "probe.zip"))],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [s for s in r.stdout.splitlines() if s.startswith("RESULT ")]
    assert line, r.stdout[-2000:]
    got = json.loads(line[0][len("RESULT "):])
    assert got["inval_reads"] == 0, got
    assert got["m2"] == 2, got
    # the two importers (archive root and pkg/) share one re-read
    assert got["total_reads"] == 1, got
    assert got["idempotent"], got
    if sys.version_info >= (3, 12):
        assert got["unchanged"], got
    else:
        # the archive root and pkg/ importers held a directory before
        assert got["held_before"] >= 2, got
        assert got["held_after"] == 0 and got["held_end"] == 0, got


def test_lexicon_reused_only_for_an_equal_token_list():
    a = pyworker.lexicon(["alpha", "beta"])
    assert pyworker.lexicon(["alpha", "beta"]) is a
    b = pyworker.lexicon(["gamma"])
    assert b is not a and b.exact == {"gamma"}
    again = pyworker.lexicon(["alpha", "beta"])
    assert again is not b and again.exact == {"alpha", "beta"}


def test_fused_lexicon_follows_each_call(spark, unit_dir):
    """The session's workers are reused across calls and keep their last
    Lexicon: lists A, B, A over the same docs each give rules_np's output
    for their own list, never a lexicon left from an earlier call."""
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet")).repartition(4)
    tokens_a = [
        r.token for r in spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
        .select("token").collect()
    ]
    tokens_b = tokens_a[::2]
    spans = {r.doc_id: [s.asDict() for s in r.spans] for r in docs.collect()}

    def golden(tokens):
        lex = Lexicon(tokens)
        return {d: denoise_doc(s, Params(), lex) for d, s in spans.items()}

    def fused(tokens):
        return {
            r.doc_id: [s.asDict() for s in r.spans]
            for r in denoise_fused(docs, tokens).collect()
        }

    gold_a, gold_b = golden(tokens_a), golden(tokens_b)
    assert gold_a != gold_b
    for tokens, gold in ((tokens_a, gold_a), (tokens_b, gold_b), (tokens_a, gold_a)):
        assert fused(tokens) == gold
