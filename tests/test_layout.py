"""Physical-plan guarantees: bucketed joins don't shuffle; IVF search
probes prune partitions; dtype-variant vectors (int8) work through the
same distance expressions (reference §1.2 dtype grid)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cuvs_spark.operators import knn
from cuvs_spark.plans.layout import plan_has_exchange, write_bucketed

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # managed tables land in ./spark-warehouse (gitignored); clear any
    # leftovers from aborted runs
    import shutil
    for t in ("t_left", "t_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select(F.col("vec_id").alias("id"), "label"))
    write_bucketed(emb, "t_left", "id", 8)
    write_bucketed(emb.withColumn("label2", F.col("label") + 1),
                   "t_right", "id", 8)
    # disable auto-broadcast so the join strategy (not table size)
    # decides whether an exchange appears
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left, right = spark.table("t_left"), spark.table("t_right")
        joined = left.join(right, "id")
        assert not plan_has_exchange(joined), "bucketed equi-join must co-locate"
        assert joined.count() == emb.count()
        # un-bucketed baseline does shuffle
        raw = (spark.read.parquet(f"{SF}/embeddings.parquet")
               .select(F.col("vec_id").alias("id"), "label"))
        assert plan_has_exchange(
            raw.join(raw.withColumnRenamed("label", "l2"), "id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE t_left")
        spark.sql("DROP TABLE t_right")


def test_int8_vectors_same_neighbors(spark):
    """int8/uint8 dtype variants (cagra.pyx:560-563 grid): the distance
    expressions are dtype-agnostic — integer-valued vectors stored as
    array<smallint> rank identically to their float twins."""
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
           .select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("vec")))
    as_i8 = emb.select(
        "id", F.expr("transform(vec, x -> CAST(floor(x * 100) AS SMALLINT))")
        .alias("vec"))
    as_f = emb.select(
        "id", F.expr("transform(vec, x -> CAST(CAST(floor(x * 100) AS SMALLINT) AS FLOAT))")
        .alias("vec"))
    q8 = as_i8.limit(5).select(F.col("id").alias("qid"),
                               F.col("vec").alias("qv"))
    qf = as_f.limit(5).select(F.col("id").alias("qid"),
                              F.col("vec").alias("qv"))
    r8 = knn(as_i8, q8, 5, "sqeuclidean", qvec_col="qv")
    rf = knn(as_f, qf, 5, "sqeuclidean", qvec_col="qv")
    assert (sorted(map(tuple, r8.collect())) == sorted(map(tuple, rf.collect())))


def test_quantized_search_plan_shape(spark):
    """The quantized-index fine stages must join the (small) probe set
    INTO the codes table by broadcast — the codes/assignment lineage
    may shuffle only for the final top-k, never for the join itself."""
    import numpy as np
    from cuvs_spark.operators.ivf_rabitq import (ivf_rabitq_build,
                                                 ivf_rabitq_search)
    from cuvs_spark.operators.scann import scann_build, scann_search
    from cuvs_spark.plans.layout import count_exchanges
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("vec")).cache())
    cent = np.array([r["vec"] for r in
                     emb.filter(F.col("id") < 16).orderBy("id").collect()],
                    dtype=float)
    q = (emb.filter(F.col("id") < 5)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))

    ridx = ivf_rabitq_build(emb, 16, centroids=cent)
    plan = ivf_rabitq_search(ridx, q, 5, 4, qvec_col="qv")
    shuffles, bcasts = count_exchanges(plan)
    assert bcasts >= 1, "probe/query side must broadcast into the codes scan"
    # codes lineage: assign join + final top-k window are the only
    # allowed shuffles (small relations); budget them
    assert shuffles <= 4, f"rabitq search plan grew to {shuffles} shuffles"

    sidx = scann_build(emb, 16, centroids=cent)
    plan2 = scann_search(sidx, q, 5, 4, qvec_col="qv")
    shuffles2, bcasts2 = count_exchanges(plan2)
    assert bcasts2 >= 1
    # the un-persisted index keeps the SOAR build lineage (argmin groupBy
    # + spill union) inside this plan; 7 = build (4) + probes + candidate
    # dedupe + final top-k
    assert shuffles2 <= 7, f"scann search plan grew to {shuffles2} shuffles"


def test_ivf_search_plan_broadcasts_probes(spark):
    """The IVF fine stage's scale guarantee: the probe set reaches the
    codes/lists side via broadcast (no shuffle of the big table) and no
    cartesian product appears anywhere in the plan."""
    import numpy as np
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    from cuvs_spark.plans.layout import plan_string

    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("vec")))
    cent = np.array([r["vec"] for r in
                     emb.filter(F.col("id") < 8).orderBy("id").collect()],
                    dtype=float)
    idx = ivf_flat_build(emb, 8, centroids=cent)
    q = (emb.filter(F.col("id") < 5)
         .select(F.col("id").alias("qid"), F.col("vec").alias("qv")))
    plan = plan_string(ivf_flat_search(idx, q, 5, 4, qvec_col="qv"))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, "probe set must broadcast"


def test_classifier_plan_broadcasts_weights(spark):
    """classifier_score's 100 TB shape: the model table reaches the
    exploded feature stream via broadcast (the corpus never shuffles
    for the join; the only exchange is the doc_id aggregation)."""
    from cuvs_spark.pipeline.classify import classifier_score, synthetic_weights
    from cuvs_spark.plans.layout import plan_string

    docs = spark.createDataFrame(
        [(i, f"some words {i}") for i in range(50)],
        "doc_id long, text string")
    out = classifier_score(docs, synthetic_weights(spark, 1024),
                           n_buckets=1024)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, "weights must broadcast"


def test_substring_dedup_plan_shuffle_bound(spark):
    """substring_dedup must stay at its designed shuffle budget: window
    hash ranking + removed-set distinct/regroup + reassembly join — and
    never go cartesian."""
    from cuvs_spark.pipeline.dedup import substring_dedup
    from cuvs_spark.plans.layout import count_exchanges, plan_string

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(40)],
        "doc_id long, text string")
    out = substring_dedup(docs, window=8)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    shuffles, _ = count_exchanges(out)
    assert shuffles <= 5, plan
    # first-occurrence = min(struct(doc_id,pos)) groupBy, which MUST
    # partially aggregate map-side before the hash exchange (a per-hash
    # row_number window has no partial step and melts on hot keys)
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_paragraph_dedup_plan_partial_agg(spark):
    """paragraph_dedup's first-occurrence keeper must be a map-side
    partial aggregation, never a per-hash sort window (hot boilerplate
    paragraphs put billions of rows in one hash partition at 100 TB)."""
    from cuvs_spark.pipeline.dedup import paragraph_dedup
    from cuvs_spark.plans.layout import plan_string

    docs = spark.createDataFrame(
        [(i, f"header\npara {i}\nfooter") for i in range(40)],
        "doc_id long, text string")
    plan = plan_string(paragraph_dedup(docs))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan


def test_count_exchanges_counts_tree_nodes_once(spark):
    """The formatted plan prints every node twice (tree + detail
    section); one broadcast join is ONE broadcast exchange."""
    from cuvs_spark.plans.layout import count_exchanges, plan_string
    big = spark.range(100).withColumn("v", F.col("id") * 2)
    small = spark.range(10).withColumnRenamed("id", "k")
    joined = big.join(F.broadcast(small), big["id"] == small["k"])
    assert plan_string(joined).count("BroadcastExchange") >= 2
    assert count_exchanges(joined) == (0, 1)
