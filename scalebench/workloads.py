"""The benchmark's workloads.

Each workload is a closed loop with one client in one process: every
call waits for the previous one. Each call into a layer forces its
result (``collect`` or an eager ``localCheckpoint``) inside its own
timer and span, and hands the materialized frame to the next layer, so
no layer's time includes re-running its upstream. The forcing is the
same with tracing on or off.

The two workloads split the library by data type, so that every layer
family has one workload that loads it and one that never calls it:

* ``ann_batch`` — every vector layer: the IVF index life cycle the cuVS
  harness judges (trained IVF-Flat build, IVF-PQ build on its centroids,
  tiered ingest with a compaction through ``ivf_flat_extend``, save and
  load, closed-loop query batches through IVF-Flat, IVF-PQ + ``refine``
  and the loaded tiered index) and the all-pairs graph build
  (``kmeans_fit`` -> ``all_neighbors_build`` -> ``cagra_optimize``).
  No ``pipeline`` code runs.
* ``corpus_curate`` — the text pipeline: ``curate_corpus`` ->
  ``tfidf_keywords`` / ``top_ngrams`` over the kept docs, then
  closed-loop ``bm25_search`` query batches. No ``cluster``,
  ``sources`` or vector operator runs (``bm25_search`` uses the
  ``select_k`` helper only).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scalebench import gen

# Sizes. Every run starts a fresh JVM and pays its JIT and codegen, so
# they are set by the run budget (about a minute a run), not by scale.
# n_centers (latent clusters) is chosen per k so that balanced k-means
# never needs an extra rebalance pass: how many it runs would otherwise
# change from seed to seed and swamp a build-time comparison.
ANN = dict(n=8000, dim=64, n_centers=12, n_lists=16, kmeans_iters=3,
           probes=3, pq_dim=8, pq_bits=4, pq_iters=2, refine_k=60, batch=50,
           n_batches=8, insert_rows=1000, min_batches=4,
           flat_recall=0.8, pq_recall=0.65, tiered_recall=0.8)
GRAPH = dict(n=4000, dim=64, n_centers=8, n_clusters=8, kmeans_iters=3,
             k=16, degree=16, sample=200, recall=0.9)
CORPUS = dict(n_docs=3000, batch=20, n_batches=8, min_batches=6,
              bm25_recall=0.99)

# setup_s is the median of this many input set-ups in one run
SETUP_REPS = 3
K = 10


@dataclass
class Run:
    """Counters and samples of one run."""
    spark: object
    tracer: object
    seed: int
    seconds: float
    workdir: str
    cores: int
    attempted: int = 0
    failed: set = field(default_factory=set)
    setup_s: list = field(default_factory=list)
    build_s: float = 0.0
    batch_s: list = field(default_factory=list)
    queries: int = 0
    write_rows: int = 0
    write_s: float = 0.0
    recalls: dict = field(default_factory=dict)   # kind -> [recall]
    headline: tuple = ()        # the kinds recall_at_10 averages
    measured_s: float = 0.0

    def call(self, layer: str, fn):
        """One operation: ``fn()`` must force its result. Returns
        ``(result, seconds)``."""
        self.attempted += 1
        with self.tracer.span(layer):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        return out, dt

    def recall(self, kind: str, value: float) -> None:
        self.recalls.setdefault(kind, []).append(value)

    def check(self, name: str, ok: bool, detail: str = "",
              op: int | None = None) -> None:
        """Mark operation ``op`` (default: the latest) failed unless
        ``ok``."""
        if not ok:
            self.failed.add(op or self.attempted)
            print(f"check failed: {name} {detail}", file=sys.stderr)


# ---------------------------------------------------------------------------
# input loading
# ---------------------------------------------------------------------------

def _vec_col(V: np.ndarray) -> pa.Array:
    offsets = np.arange(0, V.size + 1, V.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets),
                                    pa.array(V.ravel(), pa.float32()))


def _load(spark, path: str, table: pa.Table, parts: int = 0):
    """``table`` written to ``path`` and read back; with ``parts``, spread
    over that many partitions and cached. Small tables (queries, rows to
    insert) are read from the file by each call that uses them."""
    pq.write_table(table, path)
    df = spark.read.parquet(path)
    if parts:
        df = df.repartition(parts).cache()
        df.count()
    return df


def _vectors(spark, path, ids, V, parts=0, id_col="id"):
    return _load(spark, path, pa.table({id_col: pa.array(ids, pa.int64()),
                                        "vec": _vec_col(V)}), parts)


def _setup(run: Run, make):
    """Runs ``make(rep_dir)`` (generate, load, cache, ground truth)
    ``SETUP_REPS`` times and keeps the last inputs; the median time goes
    to ``setup_s``. ``make`` returns ``(inputs, cached frames)``."""
    times, inputs, frames = [], None, []
    for rep in range(SETUP_REPS):
        for df in frames:
            df.unpersist()
        rep_dir = os.path.join(run.workdir, f"inputs{rep}")
        os.makedirs(rep_dir)
        t0 = time.perf_counter()
        inputs, frames = make(rep_dir)
        times.append(time.perf_counter() - t0)
    run.setup_s.append(statistics.median(times))
    return inputs


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


def _search_loop(run: Run, n_batches: int, min_batches: int, step) -> None:
    """Closed loop over query batches ``step(0), step(1), ...`` (cycling
    through ``n_batches``) for ``run.seconds`` from now, with at least
    ``min_batches``. ``step`` returns ``(seconds, queries answered)``."""
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < min_batches or time.perf_counter() < deadline:
        dt, nq = step(i % n_batches)
        run.batch_s.append(dt)
        run.queries += nq
        i += 1


def _with_lists(ix):
    return replace(ix, lists=_checkpoint(ix.lists))


def _with_codes(ix):
    return replace(ix, codes=_checkpoint(ix.codes))


def _topk_ids(rows, qcol="qid", ncol="nid") -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(int(r[qcol]), []).append(int(r[ncol]))
    return out


# ---------------------------------------------------------------------------
# ann_batch
# ---------------------------------------------------------------------------

def ann_batch(run: Run) -> None:
    from cuvs_spark.cluster.kmeans import kmeans_fit
    from cuvs_spark.operators.graph import all_neighbors_build, cagra_optimize
    from cuvs_spark.operators.ivf_flat import ivf_flat_build, ivf_flat_search
    from cuvs_spark.operators.ivf_pq import ivf_pq_build, ivf_pq_search
    from cuvs_spark.operators.pairwise import refine
    from cuvs_spark.operators.tiered import (TieredIndex, tiered_extend,
                                             tiered_search)
    from cuvs_spark.sources.index_store import load_index, save_index
    from pyspark.sql import functions as F

    p, g, spark, tr = ANN, GRAPH, run.spark, run.tracer
    run.headline = ("ivf_flat", "ivf_pq+refine", "tiered", "graph")
    n, nb, bq, ni = p["n"], p["n_batches"], p["batch"], p["insert_rows"]

    def make(d):
        vs = gen.vector_set(run.seed, n, nb * bq, 3 * ni, dim=p["dim"],
                            n_centers=p["n_centers"])
        gs = gen.vector_set(run.seed, g["n"], 0, dim=g["dim"],
                            n_centers=g["n_centers"])
        rng = np.random.default_rng([run.seed, 3])
        sample = np.sort(rng.choice(g["n"], g["sample"], replace=False))
        inputs = dict(
            gt=gen.exact_topk(vs.base, vs.queries, K),
            gt_all=gen.exact_topk(np.vstack([vs.base, vs.inserts]),
                                  vs.queries, K),
            sample=sample,
            graph_gt=gen.exact_topk(gs.base, gs.base[sample], K,
                                    self_rows=sample),
            ds=_vectors(spark, f"{d}/base.parquet", np.arange(n), vs.base,
                        run.cores),
            queries=_vectors(spark, f"{d}/queries.parquet",
                             np.arange(nb * bq), vs.queries, id_col="qid"),
            inserts=_vectors(spark, f"{d}/inserts.parquet",
                             np.arange(n, n + 3 * ni), vs.inserts),
            graph=_vectors(spark, f"{d}/graph.parquet", np.arange(g["n"]),
                           gs.base, run.cores))
        return inputs, [inputs["ds"], inputs["graph"]]

    inp = _setup(run, make)
    ds = inp["ds"]
    qb = [inp["queries"].where(F.col("qid").between(i * bq, (i + 1) * bq - 1))
          for i in range(nb)]

    t_start = time.perf_counter()
    with tr.span("phase.build"):
        flat, t1 = run.call(
            "operators.ivf_flat.ivf_flat_build",
            lambda: _with_lists(ivf_flat_build(
                ds, p["n_lists"], kmeans_n_iters=p["kmeans_iters"])))
        pqi, t2 = run.call(
            "operators.ivf_pq.ivf_pq_build",
            lambda: _with_codes(ivf_pq_build(
                ds, p["n_lists"], p["pq_dim"], p["pq_bits"],
                kmeans_n_iters=p["pq_iters"], centroids=flat.centroids,
                encode="residual", method="blas")))
        # passing kmeans_fit's centroids keeps all_neighbors_build on the
        # path it takes when it trains them itself
        km, t3 = run.call(
            "cluster.kmeans.kmeans_fit",
            lambda: kmeans_fit(inp["graph"], g["n_clusters"],
                               max_iter=g["kmeans_iters"], balanced=True))
        knn, t4 = run.call(
            "operators.graph.all_neighbors_build",
            lambda: _checkpoint(all_neighbors_build(
                inp["graph"], g["k"], n_clusters=g["n_clusters"],
                centroids=km.centroids, method="blas")))
        opt, t5 = run.call(
            "operators.graph.cagra_optimize",
            lambda: _checkpoint(cagra_optimize(knn.drop("rank"),
                                               g["degree"])))
        run.build_s = t1 + t2 + t3 + t4 + t5

    edges = opt.select("src", "dst").toPandas()
    max_deg = int(edges.groupby("src").size().max())
    loops = int((edges["src"] == edges["dst"]).sum())
    run.check("cagra_optimize out-degree <= graph_degree",
              max_deg <= g["degree"], str(max_deg))
    run.check("cagra_optimize has no self-loops", loops == 0, str(loops))
    sample = [int(s) for s in inp["sample"]]
    found = edges[edges["src"].isin(sample)].groupby("src")["dst"].apply(list)
    r = gen.recall(found.to_dict(), inp["graph_gt"], sample)
    run.check("graph recall floor", r >= g["recall"], str(r))
    run.recall("graph", r)

    # tiered ingest: the first append stays in the delta tier, the
    # second crosses min_ann_rows and compacts into the IVF-Flat tier,
    # the third leaves a delta that save/load must carry
    with tr.span("phase.ingest"):
        empty = spark.createDataFrame([], "id long, vec array<float>")
        tiered = TieredIndex(ann=flat, delta=empty, min_ann_rows=2 * ni)

        def extend(ix, rows_df):
            ix = tiered_extend(ix, rows_df)
            if ix.delta.isEmpty():
                return replace(ix, ann=_with_lists(ix.ann))
            return replace(ix, delta=_checkpoint(ix.delta))

        for j in range(3):
            rows_df = inp["inserts"].where(
                F.col("id").between(n + j * ni, n + (j + 1) * ni - 1))
            tiered, dt = run.call("operators.tiered.tiered_extend",
                                  lambda: extend(tiered, rows_df))
            run.write_rows += ni
            run.write_s += dt

    tiered_rows = {}

    def step(b, index, warm=False):
        """Query batch ``b`` through IVF-Flat, IVF-PQ + refine and the
        tiered ``index``. The warm-up batch skips IVF-PQ and probes every
        IVF-Flat list, which makes that search exact."""
        q_df, gt, gt_all = (qb[b], inp["gt"][b * bq:(b + 1) * bq],
                            inp["gt_all"][b * bq:(b + 1) * bq])
        qids = range(b * bq, (b + 1) * bq)
        rows, dt = run.call(
            "operators.ivf_flat.ivf_flat_search",
            lambda: ivf_flat_search(flat, q_df, K,
                                    p["n_lists"] if warm else p["probes"],
                                    method="blas").collect())
        r_flat = gen.recall(_topk_ids(rows), gt, qids)
        if warm:
            run.check("ivf_flat probing all lists == exact", r_flat == 1.0,
                      str(r_flat))
        else:
            run.check("ivf_flat recall floor", r_flat >= p["flat_recall"],
                      str(r_flat))
            run.recall("ivf_flat", r_flat)
            cand, t_pq = run.call(
                "operators.ivf_pq.ivf_pq_search",
                lambda: _checkpoint(ivf_pq_search(
                    pqi, q_df, p["refine_k"], p["probes"], method="blas")
                    .select("qid", F.col("nid").alias("id"))))
            rows, t_ref = run.call(
                "operators.pairwise.refine",
                lambda: refine(ds, q_df, cand, K).collect())
            cand.unpersist()
            r_pq = gen.recall(_topk_ids(rows), gt, qids)
            run.check("ivf_pq+refine recall floor", r_pq >= p["pq_recall"],
                      str(r_pq))
            run.recall("ivf_pq+refine", r_pq)
            dt += t_pq + t_ref
        rows, t_tier = run.call(
            "operators.tiered.tiered_search",
            lambda: tiered_search(index, q_df, K, p["probes"]).collect())
        r_tier = gen.recall(_topk_ids(rows), gt_all, qids)
        run.check("tiered recall floor", r_tier >= p["tiered_recall"],
                  str(r_tier))
        tiered_rows[b] = sorted((r["qid"], r["nid"]) for r in rows)
        if not warm:
            run.recall("tiered", r_tier)
        return dt + t_tier, 3 * bq

    with tr.span("phase.warm_up"):
        t0 = time.perf_counter()
        step(0, tiered, warm=True)
        run.setup_s.append(time.perf_counter() - t0)
        before_save = tiered_rows[0]

    with tr.span("phase.persist"):
        path = os.path.join(run.workdir, "tiered_index")
        _, dt = run.call("sources.index_store.save_index",
                         lambda: save_index(tiered, path))
        run.write_s += dt

        def load():
            ix = load_index(spark, path)
            return replace(ix, delta=_checkpoint(ix.delta),
                           ann=_with_lists(ix.ann))

        loaded, dt = run.call("sources.index_store.load_index", load)
        run.write_s += dt

    with tr.span("phase.search"):
        _search_loop(run, nb, p["min_batches"], lambda b: step(b, loaded))
        run.check("search after load_index == before save_index",
                  tiered_rows[0] == before_save)
    run.measured_s = time.perf_counter() - t_start


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

def corpus_curate(run: Run) -> None:
    from cuvs_spark.pipeline.curate import curate_corpus
    from cuvs_spark.pipeline.retrieval import bm25_search
    from cuvs_spark.pipeline.text import tfidf_keywords, top_ngrams
    from pyspark.sql import functions as F

    c, spark, tr = CORPUS, run.spark, run.tracer
    run.headline = ("bm25",)
    nb, bq = c["n_batches"], c["batch"]

    def make(d):
        cp = gen.corpus(run.seed, c["n_docs"], nb * bq)
        docs = pa.table({"doc_id": pa.array(cp.doc_id, pa.int64()),
                         "source": pa.array(cp.source),
                         "text": pa.array(cp.text)})
        inputs = dict(
            corpus=cp,
            docs=_load(spark, f"{d}/docs.parquet", docs, run.cores),
            queries=_load(spark, f"{d}/bm25_queries.parquet", pa.table({
                "qid": pa.array(np.arange(nb * bq), pa.int64()),
                "qtext": pa.array(cp.queries)})))
        return inputs, [inputs["docs"]]

    inp = _setup(run, make)
    cp = inp["corpus"]
    qb = [inp["queries"].where(F.col("qid").between(i * bq, (i + 1) * bq - 1))
          for i in range(nb)]

    t_start = time.perf_counter()
    with tr.span("phase.corpus"):
        cur, t_cur = run.call(
            "pipeline.curate.curate_corpus",
            lambda: _checkpoint(curate_corpus(
                inp["docs"], min_tokens=10, max_punct_ratio=0.2,
                near_dup_jaccard=0.8, max_dup_trigram_frac=0.3)))
        op_curate = run.attempted
        kept = _checkpoint(inp["docs"].join(
            cur.where(F.col("stage") == "kept").select("doc_id"),
            "doc_id", "left_semi"))
        _, t_tfidf = run.call("pipeline.text.tfidf_keywords",
                              lambda: _checkpoint(tfidf_keywords(kept, 5)))
        top, t_top = run.call("pipeline.text.top_ngrams",
                              lambda: top_ngrams(kept, n=2, k=50).collect())
        run.build_s = t_cur
        run.write_s = t_cur + t_tfidf + t_top
        run.write_rows = len(cp.text)

    stages = {r["stage"]: r["count"]
              for r in cur.groupBy("stage").count().collect()}
    run.check("exact_dup count == planted",
              stages.get("exact_dup", 0) == cp.n_exact_dups,
              f"{stages.get('exact_dup', 0)} != {cp.n_exact_dups}",
              op=op_curate)
    run.check("top_ngrams returned k grams", len(top) == 50, str(len(top)))
    kept_ids = [r["doc_id"] for r in kept.select("doc_id").collect()]
    text_of = dict(zip(cp.doc_id.tolist(), cp.text))
    bm25_gt = gen.bm25_topk({d: text_of[d] for d in kept_ids}, cp.queries, K)

    def step(b):
        rows, dt = run.call("pipeline.retrieval.bm25_search",
                            lambda: bm25_search(kept, qb[b], K).collect())
        r = gen.recall(_topk_ids(rows, "qid", "doc_id"),
                       bm25_gt[b * bq:(b + 1) * bq],
                       range(b * bq, (b + 1) * bq))
        run.check("bm25 recall floor", r >= c["bm25_recall"], str(r))
        run.recall("bm25", r)
        return dt, bq

    with tr.span("phase.warm_up"):
        t0 = time.perf_counter()
        step(0)
        run.setup_s.append(time.perf_counter() - t0)
    with tr.span("phase.search"):
        _search_loop(run, nb, c["min_batches"], step)
    run.measured_s = time.perf_counter() - t_start


WORKLOADS = {"ann_batch": ann_batch, "corpus_curate": corpus_curate}
