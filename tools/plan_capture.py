"""Capture .explain("formatted") for every bench.py entry.

Usage: python tools/plan_capture.py <out_dir> [name-substr[,substr...]]

Writes <out_dir>/<entry>_<tag>.txt (tag from $PLAN_TAG, default
"plan") — the optimization-round evidence files (plans/r14/...).
Runs the same build_benches() as bench.py, so captured plans are
exactly what the timed sections execute. Index builds/caches execute
as side effects (untimed in bench.py too); explain itself runs no job.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r14"
    subs = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    tag = os.environ.get("PLAN_TAG", "plan")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from bench import build_benches
    from cuvs_spark import get_spark
    from cuvs_spark.plans.layout import count_exchanges

    spark = get_spark("cuvs_spark_plan_capture")
    spark.sparkContext.setLogLevel("ERROR")
    benches = build_benches(spark, sf_dir)
    for name, make in benches.items():
        if subs and not any(s in name for s in subs):
            continue
        df = make()
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        shuffles, bcasts = count_exchanges(df)
        print(f"{path}: {shuffles} shuffle / {bcasts} broadcast exchanges, "
              f"{len(txt.splitlines())} lines")


if __name__ == "__main__":
    main()
