"""Scale-path guarantees: bounded fan-out in the dedup joins and
the approx-percentile pipeline mode (the 100 TB defaults VERDICT r1
asked for). These tests plant the degenerate inputs that would go
quadratic without the caps."""

from __future__ import annotations

import os

import pytest

from hocr_de_noising_spark.operators.pipeline import denoise_exploded
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.queries import QUERIES
from hocr_de_noising_spark.queries.trainprep import JACCARD_DF_CAP

SF = "/root/testdata/sf0.001"


def test_jaccard_pair_generation_is_bounded(spark):
    """The document-frequency cap must run BEFORE pair generation, and
    intersections must come from in-array combinations of the grouped
    per-shingle member lists (<= C(df_cap, 2) each) — no shingle
    self-join in the plan at all."""
    df = QUERIES["dedup_ngram_jaccard"]["fn"](spark, SF)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in p
    # r7 skew-proof cap: over-cap shingles are removed by a hot-list
    # anti-join (df > cap filter + LeftAnti) before pair generation
    assert f"> {JACCARD_DF_CAP}" in p, p
    assert "LeftAnti" in p, p
    assert "collect_list" in p
    # the only joins left attach the two per-doc size relations
    assert p.count("Join Inner") <= 2, p


@pytest.mark.usefixtures("unit_dir")
def test_approx_stats_pipeline_mode(spark, unit_dir):
    """Params.approx_stats swaps exact percentile for the sketch; the
    pipeline must run end-to-end and agree with exact mode on the vast
    majority of documents (sketch returns elements, exact interpolates,
    and the 60 px envelope tolerance absorbs most of that gap)."""
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    exact = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in denoise_exploded(docs, lexicon, Params()).collect()
    }
    approx = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in denoise_exploded(docs, lexicon, Params(approx_stats=True)).collect()
    }
    assert set(exact) == set(approx)
    # measured on the unit corpus: ~70% of docs byte-identical, ~87%
    # of spans shared — the gap is the documented element-vs-interpolated
    # percentile difference at sparse margin coordinates
    same = sum(1 for d in exact if exact[d] == approx[d])
    assert same / len(exact) >= 0.6, f"only {same}/{len(exact)} docs identical"
    n_exact = sum(len(v) for v in exact.values())
    n_common = sum(len(set(exact[d]) & set(approx[d])) for d in exact)
    assert n_common / n_exact >= 0.8, f"span overlap {n_common}/{n_exact}"


@pytest.mark.parametrize("algorithm", ["propagate", "star"])
def test_connected_components_matches_union_find(spark, algorithm):
    """Property check: BOTH component algorithms (min-label propagation
    and alternating large-star/small-star) == a plain union-find on
    random graphs (chains force multiple propagation rounds)."""
    import random

    from hocr_de_noising_spark.queries.trainprep import connected_components

    rng = random.Random(17)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(i, i + 1) for i in range(150, 170)]  # a 21-node chain

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, algorithm=algorithm).collect()
    }
    assert got == want


def test_star_components_converge_on_deep_chain(spark):
    """A 400-node path graph has diameter 400: min-label propagation
    moves the min ONE hop per round (would need 400 rounds), while
    large-star/small-star contracts in O(log n) — the 10^12-doc scale
    path for high-diameter candidate graphs (VERDICT r2 item 8)."""
    from hocr_de_noising_spark.queries.trainprep import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    got = connected_components(pairs, algorithm="star", max_iters=12).collect()
    assert len(got) == 401
    assert all(r.component == 0 for r in got)
