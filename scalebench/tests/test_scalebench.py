"""Unit tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest scalebench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from scalebench import gen  # noqa: E402
from scalebench.measure import tail, tail_rank, tree_pids  # noqa: E402
from scalebench.run import end_to_end  # noqa: E402
from scalebench.trace import (  # noqa: E402
    _METRIC, _PY_RUN, LAYERS, Span, Tracer, layer_metrics, parse_duration,
    self_times)
from scalebench.workloads import WORKLOADS, Run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- generators --------------------------------------------------------------

def test_vector_set_is_a_function_of_the_seed():
    a = gen.vector_set(7, 500, 40, 60)
    b = gen.vector_set(7, 500, 40, 60)
    c = gen.vector_set(8, 500, 40, 60)
    for x, y in ((a.base, b.base), (a.queries, b.queries),
                 (a.inserts, b.inserts)):
        assert x.tobytes() == y.tobytes()
    assert a.base.tobytes() != c.base.tobytes()
    assert a.base.shape == (500, 64) and a.base.dtype == np.float32


def test_queries_are_held_out_of_the_base():
    v = gen.vector_set(3, 2000, 100)
    base = {row.tobytes() for row in v.base}
    assert not any(q.tobytes() in base for q in v.queries)


def test_vectors_have_low_intrinsic_dimension():
    v = gen.vector_set(1, 3000, 0, latent=8)
    s = np.linalg.svd(v.base - v.base.mean(0), compute_uv=False)
    assert (s[:8] ** 2).sum() / (s ** 2).sum() > 0.99


def test_corpus_is_a_function_of_the_seed_and_plants_its_defects():
    a = gen.corpus(5, 800, 12)
    b = gen.corpus(5, 800, 12)
    assert a.text == b.text and a.source == b.source
    assert a.queries == b.queries
    assert gen.corpus(6, 800, 12).text != a.text
    seen, exact = set(), 0
    for t in a.text:
        exact += t in seen
        seen.add(t)
    assert exact == a.n_exact_dups > 0
    assert a.n_near_dups > 0 and a.n_low_quality > 0 and a.n_repetitive > 0
    assert len(set(a.source)) == 4
    assert len(a.text) == len(a.doc_id) == 800


def test_exact_topk_matches_a_full_sort():
    rng = np.random.default_rng(0)
    base = rng.standard_normal((300, 8)).astype(np.float32)
    q = rng.standard_normal((37, 8)).astype(np.float32)
    got = gen.exact_topk(base, q, 5, chunk=10)
    D = ((q[:, None, :].astype(np.float64) - base[None]) ** 2).sum(-1)
    assert (got == np.argsort(D, axis=1, kind="stable")[:, :5]).all()
    own = gen.exact_topk(base, base[:20], 3, self_rows=np.arange(20))
    assert not (own == np.arange(20)[:, None]).any()


def test_recall_counts_each_querys_exact_answer():
    truth = [[1, 2], [3, 4], []]
    assert gen.recall({0: [1, 2], 1: [3, 9]}, truth, [0, 1, 2]) == 0.75


def test_bm25_topk_prefers_rare_terms_and_breaks_ties_by_id():
    docs = {1: "a b c", 2: "a a d", 3: "b e", 4: "z"}
    assert gen.bm25_topk(docs, ["e"])[0] == [3]
    assert gen.bm25_topk(docs, ["a"])[0] == [2, 1]
    same = {1: "q", 2: "q"}
    assert gen.bm25_topk(same, ["q"])[0] == [1, 2]


# --- measurement ------------------------------------------------------------

@pytest.mark.parametrize("n,expect", [(10, None), (11, (100 / 11, 0)),
                                      (20, (50.0, 9)), (40, (75.0, 29)),
                                      (100, (90.0, 89))])
def test_tail_rank_leaves_ten_samples_beyond(n, expect):
    r = tail_rank(n)
    if expect is None:
        assert r is None
        return
    assert r[1] == expect[1] and r[0] == pytest.approx(expect[0])
    assert n - r[1] - 1 == 10


def test_tail_value_is_the_sorted_sample_at_the_rank():
    xs = list(range(40, 0, -1))
    assert tail(xs) == (75.0, 30)
    assert tail(xs[:10]) is None


def test_tree_pids_includes_self():
    assert os.getpid() in tree_pids(os.getpid())


# --- tracing ----------------------------------------------------------------

def _span(i, start, end, parent=None, name="x", **counters):
    return Span(id=i, name=name, parent=parent, run_id="r", group=f"r:{i}",
                start=start, end=end, counters=counters)


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0),
             _span(3, 7.0, 8.0, 0), _span(4, 9.5, 12.0, 0),
             _span(5, 1.5, 2.5, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[5] == pytest.approx(1.0)


def test_layer_metrics_sum_calls_and_zero_unused_layers():
    layer = LAYERS[2]
    spans = [_span(0, 0.0, 2.0, name=layer, jobs=3, run_s=4.0),
             _span(1, 5.0, 7.0, name=layer, jobs=2, run_s=4.0)]
    m = layer_metrics(spans, cores=4)
    assert m[f"{layer}.s"] == pytest.approx(4.0)
    assert m[f"{layer}.jobs"] == 5
    assert m[f"{layer}.busy_frac"] == pytest.approx(8.0 / 16.0)
    assert m[f"{LAYERS[3]}.s"] == 0 and m[f"{LAYERS[3]}.busy_frac"] == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("a"):
        pass
    assert tr.spans == [] and tr.overhead_s == 0.0


@pytest.mark.parametrize("text,seconds", [
    ("15 ms", 0.015), ("2.5 s", 2.5), ("1.2 m", 72.0),
    ("total (min, med, max (stageId: taskId))\n6.4 s (1.5 s, 1.6 s, "
     "1.7 s (stage 0.0: task 3))", 6.4),
    ("total (min, med, max (stageId: taskId))\n1,204 ms (0 ms, 1 ms, "
     "2 ms (stage 1.0: task 9))", 1.204)])
def test_parse_duration_reads_the_total(text, seconds):
    assert parse_duration(text) == pytest.approx(seconds)


def test_metric_list_parsing_finds_the_python_worker_metric():
    text = ("List(SQLPlanMetric(number of output rows,17,sum), "
            "SQLPlanMetric(time to run Python workers,18,timing), "
            "SQLPlanMetric(data sent to Python workers,19,size))")
    assert [a for n, a in _METRIC.findall(text) if n == _PY_RUN] == ["18"]


# --- the spec ---------------------------------------------------------------

def test_benchmark_json_meets_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["scalebench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and len(spec["per_layer"]) <= 128


def test_every_printed_metric_is_in_benchmark_json():
    spec = _spec()
    run = Run(spark=None, tracer=None, seed=1, seconds=1.0, workdir="",
              cores=4, setup_s=[1.0], build_s=2.0, batch_s=[0.5, 0.7],
              queries=20, write_rows=10, write_s=1.0,
              recalls={"a": [0.9], "b": [0.1]}, headline=("a",))
    e2e = end_to_end(run, session_s=3.0, peak_rss_mb=100.0)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    assert e2e["recall_at_10"] == 0.9
    per_layer = Tracer("r", enabled=True).per_layer(4, measured_s=1.0)
    listed = {m["name"] for m in spec["per_layer"]}
    assert listed <= set(per_layer)
    # a layer may drop only counters that cannot move, never its time
    assert {f"{layer}.s" for layer in LAYERS} <= listed


def test_each_layer_family_has_a_workload_that_never_calls_it():
    """The no-change control: every spanned layer family is called by
    one workload and not by the other."""
    import inspect
    families = {layer.split(".")[0] for layer in LAYERS} - {"session"}
    src = {w: inspect.getsource(f) for w, f in WORKLOADS.items()}
    for fam in families:
        calls = [w for w, code in src.items() if f"cuvs_spark.{fam}." in code]
        assert len(calls) == 1, (fam, calls)
