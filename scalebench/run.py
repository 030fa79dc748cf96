"""Scale benchmark for cuvs_spark: one workload, one seed, one process.

    python3 scalebench/run.py --workload ann_batch --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
the query loop runs for ``--seconds`` after the build and ingest. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer span counters with ``--trace 1`` (spans are also written
to ``.scalebench/traces/``). Earlier lines describe the host and the run.
Everything the run writes stays under ``.scalebench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WATCHDOG_S = 170
DRIVER_MEM = "2g"
MAX_CORES = 4


def _host_fit_env(workdir: str) -> None:
    """Session settings for a small shared host, made before NumPy or the
    JVM start: one BLAS thread per task, a fixed driver heap, workers
    that can import the package, no console progress bars, and every
    scratch file inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "CUVS_SPARK_BLAS_THREADS"):
        os.environ[v] = "1"
    os.environ["CUVS_SPARK_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM, spark-submit's launcher too, keeps its temp files in the
    # checkout and writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    # the heap is pinned and pre-touched so the JVM's resident size does
    # not depend on when G1 decides to grow it: peak memory then moves
    # with what the run allocates outside the heap and in Python
    java_opts = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell"])


def _host_info(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version")}


def _stop_spark() -> None:
    """Stop the session, then the gateway JVM, then wait until no process
    this run started is left (the JVM takes its Python workers down)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from scalebench.measure import tree_pids

    gw = SparkContext._gateway
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cuvs_spark", "__init__.py")):
        print(f"no cuvs_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from scalebench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".scalebench")
    workdir = os.path.join(base, "work", run_id)
    os.makedirs(workdir)
    _host_fit_env(workdir)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(WATCHDOG_S)
    try:
        result = _run(args, run_id, workdir, base)
    finally:
        signal.alarm(0)
        try:
            _stop_spark()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def end_to_end(run, session_s: float, peak_rss_mb: float) -> dict:
    """The end-to-end metrics of one untraced run (see BENCHMARK.json)."""
    return {
        "setup_s": session_s + sum(run.setup_s),
        "build_s": run.build_s,
        "search_qps": run.queries / sum(run.batch_s),
        "search_batch_s.p50": statistics.median(run.batch_s),
        "recall_at_10": statistics.fmean(
            v for k in run.headline for v in run.recalls[k]),
        "ingest_rows_per_s": run.write_rows / run.write_s,
        "peak_rss_mb": peak_rss_mb,
    }


def _run(args, run_id: str, workdir: str, base: str) -> dict:
    from scalebench.measure import PeakRss, tail
    from scalebench.trace import Tracer
    from scalebench.workloads import WORKLOADS, Run

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tracer = Tracer(run_id, bool(args.trace))
    with PeakRss() as rss:
        with tracer.span(f"run.{args.workload}"):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                from cuvs_spark.session import get_spark
                spark = get_spark("scalebench", cores=cores)
                tracer.attach(spark)
                spark.range(1).count()  # first job: JIT and class loading
            session_s = time.perf_counter() - t0
            run = Run(spark=spark, tracer=tracer, seed=args.seed,
                      seconds=args.seconds, workdir=workdir, cores=cores)
            WORKLOADS[args.workload](run)
    info = _host_info(spark)
    info.update(cores=cores, workload=args.workload, seed=args.seed)
    print("host " + json.dumps(info))
    t = tail(run.batch_s)
    summary = {
        "search_batches": len(run.batch_s),
        "search_batch_s.tail": (None if t is None else
                                {"percentile": round(t[0], 1),
                                 "value": t[1]}),
        "ops_failed_frac": len(run.failed) / max(run.attempted, 1),
        "recall": {k: sum(v) / len(v) for k, v in run.recalls.items()},
        "measured_s": run.measured_s,
    }
    print("run " + json.dumps(summary))
    if args.trace:
        metrics = tracer.per_layer(cores, run.measured_s)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{run_id}.json"), cores)
        units = _units("per_layer")
    else:
        metrics = end_to_end(run, session_s, rss.peak_mb)
        units = _units("end_to_end")
    # exactly the metrics BENCHMARK.json lists: counters that cannot
    # move on any workload (a session start shuffles nothing) are left out
    return {"correct": not run.failed, "attempted": run.attempted,
            "failed": len(run.failed),
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def _units(section: str) -> dict:
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
