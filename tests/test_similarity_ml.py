"""IVF ANN semantic contract: results are a subset of valid neighbors,
ranked by rounded cosine, and recall vs brute force is reasonable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.queries import QUERIES
from hocr_de_noising_spark.queries.similarity_ml import ivf_build_and_search
from hocr_de_noising_spark.queries.util import load

SF = "/root/testdata/sf0.001"


def test_ivf_shape_and_ranks(spark):
    out = ivf_build_and_search(load(spark, SF, "embeddings")).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rnk for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rnk)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_ivf_recall_vs_bruteforce(spark):
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_build_and_search(
            load(spark, SF, "embeddings"), nlist=8, nprobe=4
        ).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["knn_bruteforce"]["fn"](spark, SF).collect()
    }
    # probing half the cells should recover a decent share of the true
    # top-3 (IVF trades recall for pruning; this bounds the trade)
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_fixed_assignment_and_plan(spark):
    """ann_ivf_fixed (VERDICT r5 item 7): deterministic output shape
    (10 queries x k ranks, rnk 1..k, no self-hits), every neighbor
    shares a probed cell with its query, assignment is map-side (no
    join/shuffle in the assignment subtree) and the candidate join is
    a BROADCAST of the probe side, never a sort-merge."""
    from hocr_de_noising_spark.queries.similarity_ml import (
        IVF_K,
        IVF_NPROBE,
        IVF_QUERIES,
        ann_ivf_fixed,
    )

    sf = "/root/testdata/sf0.01"
    df = ann_ivf_fixed(spark, sf)
    rows = df.collect()
    assert len(rows) == IVF_QUERIES * IVF_K
    by_q = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(IVF_QUERIES))
    for q, rs in by_q.items():
        assert sorted(x.rnk for x in rs) == list(range(1, IVF_K + 1))
        cos = [x.cosine for x in sorted(rs, key=lambda x: x.rnk)]
        assert cos == sorted(cos, reverse=True)

    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_semantic_array_assignment_matches_case_path(spark):
    """The scalable array-argmax cell assignment must agree with the
    8-cell literal-CASE oracle path on every sf0.01 vector (including
    tie-break), and dedup_semantic's pairs must be identical through
    either path."""
    from pyspark.sql import functions as F

    from hocr_de_noising_spark.queries.similarity_ml import (
        IVF_NLIST,
        SEM_COS_MIN_ORACLE,
        _assign_cells_array,
        _ivf_cell_case,
        _ivf_dot_exprs,
        semantic_pairs,
    )
    from hocr_de_noising_spark.queries.util import load

    e = load(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    )
    case_cells = (
        e.select(
            "vec_id",
            "v",
            *[
                F.expr(d).alias(f"d{i}")
                for i, d in enumerate(
                    _ivf_dot_exprs(lambda i: f"element_at(v, {i})")
                )
            ],
        )
        .select("vec_id", F.expr(_ivf_cell_case()).alias("cell"))
    )
    arr_cells = _assign_cells_array(e, IVF_NLIST, 64).select("vec_id", "cell")
    diff = case_cells.join(arr_cells, "vec_id").filter(
        case_cells.cell != arr_cells.cell
    )
    assert diff.count() == 0

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    p1 = {
        (r.doc_a, r.doc_b)
        for r in semantic_pairs(emb, SEM_COS_MIN_ORACLE).collect()
    }
    p2 = {
        (r.doc_a, r.doc_b)
        for r in semantic_pairs(
            emb, SEM_COS_MIN_ORACLE, nlist=IVF_NLIST
        ).collect()
    }
    assert p1 == p2 and len(p1) > 0


def test_semantic_prune_block_local_matches_star(spark):
    """The n_assign=1 fast path (union-find inside the block UDF) must
    emit exactly the rows the general star-components path does —
    components cannot cross (cell, sub) blocks under single
    assignment, so the two are equivalent by construction, and this
    pins that construction."""
    from hocr_de_noising_spark.queries.similarity_ml import (
        SEM_COS_MIN_ORACLE,
        semantic_prune,
    )
    from hocr_de_noising_spark.queries.util import load

    emb = load(spark, "/root/testdata/sf0.01", "embeddings")
    fast = {
        (r.vec_id, r.sem_rep)
        for r in semantic_prune(
            emb, SEM_COS_MIN_ORACLE, vectorized=True
        ).collect()
    }
    star = {
        (r.vec_id, r.sem_rep)
        for r in semantic_prune(
            emb, SEM_COS_MIN_ORACLE, vectorized=False
        ).collect()
    }
    assert fast == star and len(fast) > 0


def test_semantic_empty_embeddings_no_crash(spark):
    """nlist-set assignment reads the vector dim from the data; an
    empty embeddings frame must yield empty results, not an
    AttributeError on .first()."""
    from pyspark.sql import types as T

    from hocr_de_noising_spark.queries.similarity_ml import (
        semantic_pairs,
        semantic_prune,
    )

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField(
                    "embedding", T.ArrayType(T.FloatType())
                ),
            ]
        ),
    )
    assert semantic_pairs(empty, 0.9, nlist=16).count() == 0
    assert semantic_prune(empty, 0.9, nlist=16, n_assign=2).count() == 0
    assert semantic_prune(empty, 0.9, nlist=16).count() == 0


def test_semantic_imi_quantizer_recall_and_cost_shape(spark):
    """quantizer="imi" (r7): the product-codebook assignment preserves
    the SemDeDup collision property — planted near-identical pairs
    land in a shared cell and semantic_prune recalls them — while the
    per-vector assignment work is O(G1+G2) ~ 2·sqrt(nlist) dot
    products instead of nlist (the flat matmul's quadratic term under
    nlist ∝ n sizing)."""
    import numpy as np

    from hocr_de_noising_spark.queries.similarity_ml import (
        _assign_cells_imi,
        semantic_prune,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n, dim, nlist = 2000, 64, 256
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    planted = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 10 == 0:  # 200 planted near-dups: tiny perturbation
            p = v + 0.015 * rng.standard_normal(dim)
            p /= np.linalg.norm(p)
            rows.append((100000 + i, [float(x) for x in p]))
            planted.append((i, 100000 + i))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # determinism + id range of the raw assignment
    e = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS double))").alias("v")
    )
    cells = {
        r.vec_id: r.cell
        for r in _assign_cells_imi(e, nlist, dim).collect()
    }
    assert min(cells.values()) >= 0 and len(cells) == len(rows)
    # single-assignment collision is the PRODUCT of two per-codebook
    # survival rates — lower than flat's single argmax by design; the
    # scale path cures it with n_assign=2 exactly as the flat
    # quantizer does. Pin the measured base rate so a regression is
    # visible.
    share = sum(cells[a] == cells[b] for a, b in planted)
    assert share >= 0.65 * len(planted), f"{share}/{len(planted)}"

    # end-to-end at the scale-path setting (n_assign=2 -> top-2 per
    # codebook, 4 OR-amplified cells): semantic_prune under imi
    # recalls the planted pairs
    prune = semantic_prune(emb, 0.98, nlist=nlist, n_assign=2, quantizer="imi")
    rep = {r.vec_id: r.sem_rep for r in prune.collect()}
    recalled = sum(
        1 for a, b in planted
        if rep.get(a, a) == rep.get(b, b)
    )
    assert recalled >= 0.9 * len(planted), f"{recalled}/{len(planted)}"
    # unplanted vectors overwhelmingly keep themselves (no false mass)
    self_reps = sum(1 for i, _ in enumerate(base) if rep.get(i, i) == i)
    assert self_reps >= 0.97 * n
