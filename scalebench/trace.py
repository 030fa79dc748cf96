"""Spans around the benchmark's calls into each layer, with Spark counters.

A span records name, start, end, parent, run id and the Spark job group
it ran under. Nothing inside the library is labelled, so each span sets
its own job group and, when it ends, reads the jobs of that group back
from the status store (which ``spark.ui.enabled=false`` still keeps):

* ``jobs``, ``tasks``, ``shuffle_bytes``, ``gc_s`` and executor run time
  come from the core status store (``AppStatusStore``);
* ``python_s`` is the SQL metric "time to run Python workers" of every
  SQL execution whose jobs ran in the span (``SQLAppStatusStore``).

Spans stay in memory and are written as one JSON file at the end. The
time spent on this bookkeeping is measured and reported as the tracing
overhead. With tracing off ``span`` does nothing at all.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# the layers the benchmark calls, named <module>.<function> under cuvs_spark
LAYERS = (
    "session.get_spark",
    "cluster.kmeans.kmeans_fit",
    "operators.ivf_flat.ivf_flat_build",
    "operators.ivf_flat.ivf_flat_search",
    "operators.ivf_pq.ivf_pq_build",
    "operators.ivf_pq.ivf_pq_search",
    "operators.pairwise.refine",
    "operators.tiered.tiered_extend",
    "operators.tiered.tiered_search",
    "sources.index_store.save_index",
    "sources.index_store.load_index",
    "pipeline.curate.curate_corpus",
    "pipeline.text.tfidf_keywords",
    "pipeline.text.top_ngrams",
    "pipeline.retrieval.bm25_search",
    "operators.graph.all_neighbors_build",
    "operators.graph.cagra_optimize",
)

# counter -> unit
COUNTERS = {
    "s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "python_s": "s",
    "gc_s": "s",
    "busy_frac": "fraction",
}

OVERHEAD_METRIC = "trace.overhead_frac"

_PY_RUN = "time to run Python workers"
_INTS = re.compile(r"\d+")
_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(\d+),")
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds in a Spark-formatted timing metric: either ``'15 ms'`` or
    the task summary ``'total (min, med, max ...)\\n6.4 s (1.5 s, ...)'``
    whose first figure after the line break is the total."""
    m = _DURATION.search(text.split("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    group: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(sp.id, ()), key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = (sp.end - sp.start) - covered
    return out


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """``<layer>.<counter>`` for every layer in :data:`LAYERS`, summed over
    its calls; a layer the run never called reads 0."""
    out = {}
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.name == layer]
        wall = sum(sp.end - sp.start for sp in mine)
        run_s = sum(sp.counters.get("run_s", 0.0) for sp in mine)
        for c in COUNTERS:
            if c == "s":
                v = wall
            elif c == "busy_frac":
                v = run_s / (wall * cores) if wall > 0 else 0.0
            else:
                v = sum(sp.counters.get(c, 0) for sp in mine)
            out[f"{layer}.{c}"] = v
    return out


class Tracer:
    """Collects spans for one run. Call :meth:`attach` once the session
    exists; spans that end before that record wall time only."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._spark = None
        self._seen_stages: set[int] = set()
        self._seen_accums: set[int] = set()

    def attach(self, spark) -> None:
        """Read Spark counters from now on; jobs launched after this count
        towards the innermost open span."""
        self._spark = spark
        if self.enabled and self._stack:
            self._set_group(self._stack[-1])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(id=len(self.spans), name=name,
                  parent=parent.id if parent else None, run_id=self.run_id,
                  group=f"{self.run_id}:{len(self.spans)}", start=0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        exec_from = self._executions()
        self._set_group(sp)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        sp.start = t1
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if self._spark is not None:
                sp.counters = self._counters(sp, exec_from)
            self.overhead_s += time.perf_counter() - sp.end

    def _executions(self) -> int:
        """SQL executions so far: where a span's own executions begin."""
        if self._spark is None:
            return 0
        return (self._spark._jsparkSession.sharedState().statusStore()
                .executionsCount())

    def _set_group(self, sp: Span | None) -> None:
        """Make ``sp`` the job group of jobs launched from here on."""
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.group, sp.name)

    def _counters(self, sp: Span, exec_from: int) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        job_ids = set(tracker.getJobIdsForGroup(sp.group))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = {"jobs": len(job_ids), "tasks": 0, "shuffle_bytes": 0,
             "gc_s": 0.0, "run_s": 0.0, "python_s": 0.0}
        # a stage reused from an earlier span shows up again as skipped
        # under its first id: count every stage once
        for sid in sorted(stage_ids - self._seen_stages):
            self._seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            c["tasks"] += st.numCompleteTasks()
            c["shuffle_bytes"] += (st.shuffleReadBytes()
                                   + st.shuffleWriteBytes())
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["run_s"] += st.executorRunTime() / 1e3
        if job_ids:
            c["python_s"] = self._python_s(job_ids, exec_from)
        return c

    def _python_s(self, job_ids: set, exec_from: int) -> float:
        # each py4j call is a socket round trip, so the execution's job
        # set and metric list are read as one string each and parsed here
        sql = self._spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        it = sql.executionsList(exec_from, 1 << 30).iterator()
        while it.hasNext():
            ex = it.next()
            jobs = _INTS.findall(ex.jobs().keySet().toString())
            if not {int(j) for j in jobs} & job_ids:
                continue
            metrics = _METRIC.findall(ex.metrics().toString())
            accs = [int(a) for name, a in metrics if name == _PY_RUN]
            values = sql.executionMetrics(ex.executionId())
            for acc in accs:
                # a cached or checkpointed plan re-lists its source's
                # metrics in every execution that reads it: count once
                if acc in self._seen_accums:
                    continue
                self._seen_accums.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    total += parse_duration(v.get())
        return total

    def per_layer(self, cores: int, measured_s: float) -> dict[str, float]:
        out = layer_metrics(self.spans, cores)
        out[OVERHEAD_METRIC] = (self.overhead_s / measured_s
                                if measured_s > 0 else 0.0)
        return out

    def dump(self, path: str, cores: int) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "cores": cores,
                       "overhead_s": self.overhead_s,
                       "spans": [dict(asdict(sp), self_s=selfs[sp.id])
                                 for sp in self.spans]}, f, indent=1)
