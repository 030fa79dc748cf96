"""IVF-Flat: inverted-file index via coarse k-means partitioning.

Reference: ``python/cuvs/cuvs/neighbors/ivf_flat/ivf_flat.pyx``
(build :41-115 — ``n_lists=1024``, ``kmeans_n_iters=20``,
``kmeans_trainset_fraction=0.5``, ``add_data_on_build``,
``adaptive_centers``; search :265-295 — ``n_probes``; extend :467);
impl ``cpp/src/neighbors/ivf_flat/ivf_flat_build.cuh`` (kmeans predict
:222), ``ivf_flat_search.cuh:41``.

Spark design (SURVEY.md §2.5): the index IS a partitioning.

* **build** — balanced k-means over a seeded trainset fraction gives
  ``n_lists`` centroids; the assignment table ``(id, list_id, vec)`` is
  the inverted file. Persisted ``partitionBy(list_id)`` so searches
  prune at the *file listing* level.
* **search** — one skeleton for every IVF family (IVF-Flat/PQ/SQ/BQ,
  RaBitQ, ScaNN), the reference's ``select_clusters`` + per-list scan.
  :func:`probe_lists` is the coarse stage: a map-only fold of each query
  against the literal centroids keeps its ``n_probes`` nearest lists.
  :func:`fine_topk` is the fine stage: each probed list meets exactly
  the queries probing it (cogroup, or broadcast probing queries when
  the lists dwarf the batch), a per-family scorer turns the list into a
  score tile, a local top-k cuts it, and ``knn_merge_parts`` merges.
  Only the scorer differs between families. The oracle-exact
  ``method="expr"`` paths broadcast the probe set into the lists table
  instead and score with JVM expressions; either way only probed lists
  are scanned and the dataset side never shuffles for the join. At
  1000 executors the scan reads ``n_probes / n_lists`` of the data —
  same asymptotic win as the GPU.
* **extend** — append + assign to nearest existing center
  (``ivf_flat.pyx:467``): a union plus one broadcast join.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuvs_spark.cluster.kmeans import (KMeansModel, assign,
                                       coarse_sorted_sql, kmeans_fit)
from cuvs_spark.functions.distance import distance_sql_spark, is_min_close
from cuvs_spark.operators.select_k import select_k


@dataclass
class IVFFlatIndex:
    centroids: np.ndarray            # (n_lists, dim) float64
    lists: DataFrame                 # (id, list_id, vec) — the inverted file
    metric: str = "sqeuclidean"

    @property
    def n_lists(self) -> int:
        return len(self.centroids)


def ivf_flat_build(dataset: DataFrame, n_lists: int = 64, *,
                   metric: str = "sqeuclidean", kmeans_n_iters: int = 20,
                   trainset_fraction: float = 0.5, seed: int = 42,
                   id_col: str = "id", vec_col: str = "vec",
                   centroids: np.ndarray | None = None,
                   add_data_on_build: bool = True) -> IVFFlatIndex:
    """Train the coarse quantizer and materialize the inverted file.

    ``centroids`` short-circuits training (the reference's Array init) —
    used by the deterministic oracle path and by ``extend``.
    """
    d = dataset.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).alias("vec"))
    fixed = centroids is not None
    if centroids is None:
        train = d.sample(fraction=min(1.0, trainset_fraction), seed=seed)
        model = kmeans_fit(train, n_lists, max_iter=kmeans_n_iters,
                           seed=seed, metric=metric, balanced=True)
        centroids = model.centroids
    lists = None
    if add_data_on_build:
        if fixed:
            # oracle-exact expr path (gate queries pin the centroids).
            # r14: label via the map-only literal-fold argmin — the old
            # assign + join-back (BroadcastNestedLoopJoin + exchange +
            # 2 SortAggregates + a second join) is now one Project.
            cs = coarse_sorted_sql("vec", centroids)
            lists = d.select(
                "id", F.expr(f"element_at({cs}, 1).l").alias("list_id"),
                "vec")
        else:
            # trained path: one map-only pass emits (id, list_id, vec) —
            # GEMM argmin AND the vector carry, no label re-join shuffle
            lists = _assign_with_vec(d, np.asarray(centroids, float))
    return IVFFlatIndex(centroids=np.asarray(centroids, float), lists=lists,
                        metric=metric)


def _assign_with_vec(d: DataFrame, C: np.ndarray) -> DataFrame:
    import pandas as pd

    spark = d.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def argmin(batches):
        C = bc.value
        cn = (C * C).sum(1)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            lab = (cn - 2.0 * (X @ C.T)).argmin(1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "list_id": lab.astype(np.int32),
                                "vec": pdf["vec"].to_numpy()})

    return d.mapInPandas(argmin,
                         schema="id long, list_id int, vec array<float>")


def ivf_flat_search(index: IVFFlatIndex, queries: DataFrame, k: int = 10,
                    n_probes: int = 8, *, qid_col: str = "qid",
                    qvec_col: str = "vec", metric: str | None = None,
                    method: str = "expr",
                    prefilter: Column | None = None) -> DataFrame:
    """Partition-pruned ANN search → ``(qid, nid, distance, rank)``.

    :func:`probe_lists` picks each query's lists; the fine stage scores
    the probed rows. ``method="expr"`` scores them with the JVM distance
    expression (oracle-exact). ``method="blas"`` and
    ``method="broadcast"`` run :func:`fine_topk` with a NumPy GEMM tile
    per list — the cogroup path, or the collect-and-broadcast path that
    never shuffles the inverted file (2.6× the cogroup at the 200k
    probe, when the inverted file dwarfs the query batch)."""
    metric = metric or index.metric
    # bitset-filter analog (filters.pyx works across index types): a
    # boolean Column over the inverted file (id / list_id / vec),
    # applied BEFORE any distance math, shared by all three methods —
    # Catalyst pushes id-predicates into the (partition-pruned) scan
    lists = index.lists if prefilter is None else index.lists.filter(prefilter)
    probes = probe_lists(index.centroids, _query_frame(queries, qid_col,
                                                       qvec_col), n_probes)
    if method in ("blas", "broadcast"):
        return fine_topk(lists, probes.select("list_id", "qid", "_qv"),
                         _flat_scorer(metric), k, is_min_close(metric),
                         broadcast=method == "broadcast")
    # fine: broadcast the (qid, list_id, qv) probe set against the
    # inverted file — only probed lists are scanned, dataset side never
    # shuffles.
    fine = lists.join(F.broadcast(probes), "list_id")
    fdist = F.expr(distance_sql_spark(metric, "_qv", "vec"))
    pairs = fine.select("qid", F.col("id").alias("nid"),
                        fdist.alias("distance"))
    return select_k(pairs, "qid", "distance", k,
                    select_min=is_min_close(metric), tie_cols=["nid"])


# ---------------------------------------------------------------------------
# The IVF search skeleton shared by IVF-Flat/PQ/SQ/BQ, RaBitQ and ScaNN
# ---------------------------------------------------------------------------

def _query_frame(queries: DataFrame, qid_col: str,
                 qvec_col: str) -> DataFrame:
    """``(qid long, _qv)`` spread over the cores: the coarse literal
    fold is per-query heavy compute, so a narrow query batch is
    repartitioned (no-op when already split)."""
    from cuvs_spark.plans.layout import spread_narrow
    return spread_narrow(
        queries.select(F.col(qid_col).cast("long").alias("qid"),
                       F.col(qvec_col).alias("_qv")), "qid")


def probe_lists(centroids: np.ndarray, q: DataFrame,
                n_probes: int) -> DataFrame:
    """Coarse stage (``select_clusters``): each query's ``n_probes``
    nearest lists under the quantizer's sqeuclidean geometry →
    ``(qid, list_id int, _cent, _qv, *other q columns)``.

    A map-only literal slice of the best-first sorted centroid fold —
    ties break to the lowest list id, as the oracle's ``ORDER BY d, l``.
    The probed center (``_cent``) and the query vector ride along, so no
    fine stage joins the centroids or the queries back; consumers that
    do not read a column prune it at no cost."""
    cs = coarse_sorted_sql("_qv", centroids)
    return (q.select(
        "*", F.explode(F.expr(f"slice({cs}, 1, {n_probes})")).alias("_s"))
        .select("qid", F.col("_s.l").alias("list_id"),
                F.col("_s.cv").alias("_cent"),
                *[c for c in q.columns if c != "qid"]))


def _keyed_like(probes: DataFrame, table: DataFrame) -> DataFrame:
    """Cast the probes' ``list_id`` to the type of the probed table's
    (``long`` for rabitq/scann and expr-built IVF-PQ, ``int`` for the
    rest). A cogroup needs it: an ``int`` and a ``long`` key hash to
    different partitions, so mismatched sides lose lists. A no-op cast
    is optimized away."""
    return probes.withColumn(
        "list_id", F.col("list_id").cast(table.schema["list_id"].dataType))


def _matrix(col) -> np.ndarray:
    """An Arrow array column as a float64 matrix."""
    return np.vstack(col.to_numpy()).astype(np.float64)


def _flat_scorer(metric: str):
    from cuvs_spark.operators.brute_force import _pairwise_np

    def score(list_id, rows, qs):
        return _pairwise_np(_matrix(qs["_qv"]), _matrix(rows["vec"]), metric)
    return score


def _local_topk(qids, ids, D: np.ndarray, k: int, minimize: bool):
    """The per-list local top-k: the best ``min(k, m)`` columns of each
    row of the ``(p, m)`` score tile (unordered) as ``(qid, nid,
    distance)`` rows."""
    import pandas as pd
    kk = min(k, D.shape[1])
    part = np.argpartition(D if minimize else -D, kk - 1, axis=1)[:, :kk]
    return pd.DataFrame({
        "qid": np.repeat(np.asarray(qids, np.int64), kk),
        "nid": np.take_along_axis(np.broadcast_to(
            np.asarray(ids, np.int64), D.shape), part, axis=1).ravel(),
        "distance": np.take_along_axis(D, part, axis=1).ravel()})


def fine_topk(lists: DataFrame, probing_q: DataFrame, score, k: int,
              minimize: bool, *, broadcast: bool = False,
              dedupe: bool = False) -> DataFrame:
    """The IVF fine stage (``ivfflat_interleaved_scan`` analog) →
    ``(qid, nid, distance, rank)``.

    ``lists`` is the probed table (``list_id``, ``id`` and the family's
    payload columns); ``probing_q`` holds ``list_id``, ``qid`` and the
    query-side columns the scorer reads. ``score(list_id, rows_pdf,
    q_pdf)`` returns the ``(len(q_pdf), len(rows_pdf))`` score tile of
    one list — the only per-family part. Each list keeps a local top-k
    and ``knn_merge_parts`` merges them.

    By default each list cogroups with exactly the queries probing it.
    ``broadcast=True`` collects the probing query sets per list
    (small-side-by-contract, like the brute-force query matrix) and
    broadcasts them, so every ``lists`` partition scores its own lists
    in place and the table never shuffles — only the ``n_parts × q × k``
    merge does. ``dedupe=True`` collapses a row probed through several
    lists (ScaNN's spilled assignment) to its single distance."""
    import pandas as pd

    from cuvs_spark.operators.select_k import knn_merge_parts

    schema = "qid long, nid long, distance double"
    if broadcast:
        qcols = [c for c in probing_q.columns if c != "list_id"]
        by_list = {int(r["list_id"]): pd.DataFrame(r["qs"], columns=qcols)
                   for r in probing_q.groupBy("list_id")
                   .agg(F.collect_list(F.struct(*qcols)).alias("qs"))
                   .collect()}
        bc = lists.sparkSession.sparkContext.broadcast(by_list)

        def score_parts(batches):
            for pdf in batches:
                outs = [_local_topk(qs["qid"], rows["id"],
                                    score(int(lid), rows, qs), k, minimize)
                        for lid, rows in pdf.groupby("list_id")
                        if (qs := bc.value.get(int(lid))) is not None]
                if outs:
                    yield pd.concat(outs)

        local = (lists.select("list_id",
                              *[c for c in lists.columns if c != "list_id"])
                 .mapInPandas(score_parts, schema))
    else:
        scorer = score   # the cogroup UDF below is named ``score`` in plans

        def score(key, rows, qs):
            if rows.empty or qs.empty:
                return pd.DataFrame(columns=["qid", "nid", "distance"])
            return _local_topk(qs["qid"], rows["id"],
                               scorer(int(key[0]), rows, qs), k, minimize)

        local = (lists.groupBy("list_id")
                 .cogroup(_keyed_like(probing_q, lists).groupBy("list_id"))
                 .applyInPandas(score, schema=schema))
    if dedupe:
        local = (local.groupBy("qid", "nid")
                 .agg(F.min("distance").alias("distance")))
    return knn_merge_parts(local, k, select_min=minimize)


def ivf_flat_extend(index: IVFFlatIndex, new_rows: DataFrame, *,
                    id_col: str = "id", vec_col: str = "vec",
                    adaptive_centers: bool = False) -> IVFFlatIndex:
    """``extend(new_vectors, new_indices)`` (ivf_flat.pyx:467): assign
    new rows to their nearest existing center and append.

    ``adaptive_centers=True`` (ivf_flat.pyx:78-88) drifts each center to
    the mean of its (now larger) list — one posexplode aggregation over
    the updated inverted file, k×dim rows to the driver."""
    d = new_rows.select(F.col(id_col).cast("long").alias("id"),
                        F.col(vec_col).alias("vec"))
    cs = coarse_sorted_sql("vec", index.centroids)
    add = d.select("id", F.expr(f"element_at({cs}, 1).l").alias("list_id"),
                   "vec")
    lists = index.lists.unionByName(add)
    centroids = index.centroids
    if adaptive_centers:
        rows = (lists.select("list_id", F.posexplode("vec").alias("dim", "x"))
                .groupBy("list_id", "dim")
                .agg(F.avg(F.col("x").cast("double")).alias("m"))
                .collect())
        centroids = np.array(index.centroids, copy=True)
        for r in rows:
            centroids[r["list_id"], r["dim"]] = r["m"]
    return IVFFlatIndex(centroids=centroids, lists=lists,
                        metric=index.metric)

def ivf_list_sizes(index: IVFFlatIndex) -> DataFrame:
    """Per-list occupancy of the inverted file → ``(list_id,
    list_size)`` for every list INCLUDING empties — the direct analog
    of the reference index's per-list size array
    (``ivf_flat::index::list_sizes``, exposed on every IVF variant),
    and the balance audit behind probe-latency tails: a 10× oversized
    hot list makes every query that probes it 10× slower, which is why
    the reference trains with ``balanced`` k-means and why
    ``n_probes`` tuning starts from this table.

    Engine parity: pure BIGINT counts (empty lists via a
    range-generated left join, 0 not NULL).

    Scale shape: one map-side-combined groupBy on list_id over the
    inverted file; the n_lists-row frame joins broadcast."""
    spark = index.lists.sparkSession
    occ = (index.lists.groupBy(F.col("list_id").cast("long")
                               .alias("list_id"))
           .agg(F.count("*").alias("_n")))
    all_lists = spark.range(index.n_lists).select(
        F.col("id").alias("list_id"))
    return (all_lists.join(occ, "list_id", "left")
            .select("list_id",
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("list_size")))


def ivf_list_sizes_sql(dataset_sql: str, cent_sql: str) -> str:
    """DuckDB twin of :func:`ivf_list_sizes` for the fixed-centroid
    build: assignment via the shared argmin template
    (``plans/oracle.assign_sql``), then the same zero-including
    rollup."""
    from cuvs_spark.plans.oracle import assign_sql
    return f"""
WITH asg AS ({assign_sql(dataset_sql, cent_sql).strip()}),
occ AS (SELECT label AS list_id, count(*) AS _n FROM asg GROUP BY label),
alll AS (SELECT DISTINCT CAST(label AS BIGINT) AS list_id
         FROM ({cent_sql}))
SELECT alll.list_id,
       CAST(COALESCE(occ._n, 0) AS BIGINT) AS list_size
FROM alll LEFT JOIN occ ON alll.list_id = occ.list_id
"""
