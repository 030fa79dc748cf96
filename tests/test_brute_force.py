"""Brute-force kNN vs NumPy oracle — mirrors the reference's
``python/cuvs/cuvs/tests/test_brute_force.py`` parameter grid
(metrics × k × paths) with its exact-match criterion."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_spark.operators import knn, knn_self, refine, select_k


def np_knn(X, Q, k, metric="sqeuclidean"):
    if metric == "sqeuclidean":
        D = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
        asc = True
    elif metric == "inner_product":
        D = Q @ X.T
        asc = False
    elif metric == "cosine":
        D = 1 - (Q @ X.T) / (np.linalg.norm(Q, axis=1)[:, None]
                             * np.linalg.norm(X, axis=1)[None, :])
        asc = True
    order = np.argsort(D if asc else -D, axis=1, kind="stable")[:, :k]
    return order


@pytest.mark.parametrize("metric", ["sqeuclidean", "cosine", "inner_product"])
@pytest.mark.parametrize("method", ["expr", "blas"])
def test_knn_matches_numpy(spark, vectors_df, queries_df, tiny_vectors,
                           tiny_queries, metric, method):
    k = 5
    got = (knn(vectors_df, queries_df, k, metric, method=method)
           .orderBy("qid", "rank").collect())
    X = tiny_vectors.astype(np.float64)
    Q = tiny_queries.astype(np.float64)
    exp = np_knn(X, Q, k, metric)
    for row in got:
        assert row["nid"] == exp[row["qid"]][row["rank"] - 1]


def test_knn_prefilter(spark, vectors_df, queries_df, tiny_vectors, tiny_queries):
    got = knn(vectors_df, queries_df, 5, "sqeuclidean",
              prefilter=F.col("id") % 2 == 0).collect()
    assert all(r["nid"] % 2 == 0 for r in got)
    X = tiny_vectors[::2].astype(np.float64)
    ids = np.arange(0, len(tiny_vectors), 2)
    exp = ids[np_knn(X, tiny_queries.astype(np.float64), 5)]
    for r in got:
        assert r["nid"] == exp[r["qid"]][r["rank"] - 1]


def test_knn_allow_pairs(spark, vectors_df, queries_df):
    allow = (queries_df.select("qid")
             .crossJoin(vectors_df.select("id"))
             .filter((F.col("qid") + F.col("id")) % 2 == 0))
    got = knn(vectors_df, queries_df, 5, "sqeuclidean", allow_pairs=allow).collect()
    assert got and all((r["qid"] + r["nid"]) % 2 == 0 for r in got)


def test_knn_self_excludes_self(spark, vectors_df):
    got = knn_self(vectors_df, 3).collect()
    assert all(r["qid"] != r["nid"] for r in got)
    per = {}
    for r in got:
        per.setdefault(r["qid"], []).append(r)
    assert all(len(v) == 3 for v in per.values())


def test_select_k_strategies(spark, vectors_df, queries_df):
    a = knn(vectors_df, queries_df, 4, "sqeuclidean")
    pairs = a.drop("rank")
    w = select_k(pairs, "qid", "distance", 2, tie_cols=["nid"], strategy="window")
    g = select_k(pairs, "qid", "distance", 2, tie_cols=["nid"], strategy="agg")
    assert (sorted(map(tuple, w.select("qid", "nid", "rank").collect()))
            == sorted(map(tuple, g.select("qid", "nid", "rank").collect())))


def test_select_k_reserved_names(spark):
    """A caller column named like select_k's internal ``_rn`` rides
    through untouched; an input that already has ``rank_col`` is
    rejected by name on every strategy instead of yielding two columns
    of that name."""
    df = spark.createDataFrame(
        [(1, 10, 0.5, 7), (1, 11, 0.25, 8), (1, 12, 0.75, 9), (2, 10, 1.0, 6)],
        "qid long, nid long, distance double, _rn long")
    out = select_k(df, "qid", "distance", 2, tie_cols=["nid"],
                   strategy="window")
    assert out.columns == ["qid", "nid", "distance", "_rn", "rank"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 10, 0.5, 7, 2), (1, 11, 0.25, 8, 1), (2, 10, 1.0, 6, 1)]
    ranked = df.withColumnRenamed("_rn", "rank")
    for strategy in ("window", "agg", "partial", "auto"):
        with pytest.raises(ValueError, match="'rank'"):
            select_k(ranked, "qid", "distance", 2, strategy=strategy)
    with pytest.raises(ValueError, match="'_rn'"):
        select_k(df, "qid", "distance", 2, rank_col="_rn")
    # rank_col=None emits no rank column, so an input "rank" is data
    kept = select_k(ranked, "qid", "distance", 1, rank_col=None)
    assert kept.columns == ranked.columns


def test_refine_recovers_exact(spark, vectors_df, queries_df, tiny_vectors,
                               tiny_queries):
    """FIXTURES.md T6: candidates = true top-k ∪ noise → refine returns
    the true top-k (refine.pyx:34 contract)."""
    exact = np_knn(tiny_vectors.astype(float), tiny_queries.astype(float), 5)
    rows = []
    for qid in range(len(tiny_queries)):
        cand = set(exact[qid].tolist()) | {(qid * 7 + j) % 100 for j in range(20)}
        rows += [(qid, c) for c in cand]
    cand_df = spark.createDataFrame(rows, "qid long, id long")
    got = (refine(vectors_df, queries_df, cand_df, 5, "sqeuclidean")
           .orderBy("qid", "rank").collect())
    for r in got:
        assert r["nid"] == exact[r["qid"]][r["rank"] - 1]


def test_lsh_knn_recall_and_structure(spark, vectors_df, queries_df):
    """Random-hyperplane LSH: bucket keys are deterministic functions
    of (vec, seed); candidates share a (table, bucket); exact re-rank
    gives distances equal to brute force on the returned pairs; recall
    clears the bar at probe params; multi-probe only adds candidates."""
    from cuvs_spark.operators.brute_force import knn
    from cuvs_spark.operators.lsh import lsh_buckets, lsh_knn, lsh_planes

    planes = lsh_planes(8, 4, 6, seed=7)
    b1 = lsh_buckets(vectors_df, planes).collect()
    b2 = lsh_buckets(vectors_df.repartition(7), planes).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
    assert len(b1) == vectors_df.count() * 6

    got = lsh_knn(vectors_df, queries_df, 5, n_planes=4, n_tables=6,
                  n_probe_bits=2, metric="cosine", seed=7)
    exact = knn(vectors_df, queries_df, 5, "cosine")
    e = {(r["qid"], r["nid"]): r["distance"] for r in exact.collect()}
    g = {(r["qid"], r["nid"]): r["distance"] for r in got.collect()}
    hits = set(g) & set(e)
    assert len(hits) / len(e) >= 0.6
    for key in hits:  # exact re-rank: same metric values as brute force
        assert abs(g[key] - e[key]) < 1e-12

    base = lsh_knn(vectors_df, queries_df, 5, n_planes=4, n_tables=6,
                   n_probe_bits=0, metric="cosine", seed=7)
    b = {(r["qid"], r["nid"]) for r in base.collect()}
    eb = {k for k in b if k in e}
    assert len(eb) <= len(hits) + 1  # probing never loses candidates
