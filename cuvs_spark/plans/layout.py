"""Physical layout helpers — the partitioning discipline that makes the
engine's joins cheap at 100 TB (SURVEY.md §4).

The reference's performance comes from data layout (inverted lists,
graph adjacency on-device); ours comes from the Spark equivalents:

* ``partitionBy(list_id)`` parquet for IVF tables → file-level pruning
  (done in ``sources/index_store.py``);
* **bucketing** for repeated equi-joins: two tables bucketed on the
  same key/count co-locate, so joins/self-joins run with NO exchange —
  the Spark analog of the reference's ``mg`` sharded clique, where each
  GPU owns a shard and merges results (``snmg.cuh:248``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 32,
                   *, sort_by: str | None = None) -> None:
    """Persist as a bucketed managed table; subsequent joins on ``key``
    between tables bucketed (key, n_buckets)-compatibly skip the
    shuffle entirely."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange — the
    assertion hook for co-location tests."""
    return count_exchanges(df)[0] > 0


def plan_string(df: DataFrame) -> str:
    """Formatted physical plan text — for plan-shape assertions (e.g.
    "this join must never be a CartesianProduct")."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def count_exchanges(df: DataFrame) -> tuple[int, int]:
    """(shuffle_exchanges, broadcast_exchanges) in the physical plan —
    the budget hook for plan-shape regression tests.

    Counts the plan TREE only: the formatted text lists every node a
    second time in its detail section, and ``ReusedExchange`` nodes
    are not new exchanges. Tree lines read ``+- Exchange (N)`` /
    ``:- BroadcastExchange (N)``."""
    import re

    plan = plan_string(df)
    return (len(re.findall(r"[+:]- Exchange \(", plan)),
            len(re.findall(r"[+:]- BroadcastExchange \(", plan)))


def spread_narrow(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition a NARROW input up to the session's default
    parallelism when the source has fewer than half that many
    partitions (r14, guide §2.5: "one huge unsplittable file →
    repartition immediately after the read").

    At scale an input table already carries >= parallelism splits and
    this is a NO-OP — the exchange only fires exactly when the source
    is too small to occupy the cores (a one-file table, a single
    cached partition), which is also when it is cheapest. Heavy
    per-row operators (winnowing, sketching, n-gram folds) are
    otherwise serialized onto one task regardless of cluster size.
    Hash partitioning on the row key keeps the row→partition map
    deterministic under task retries (the SPARK-38388 class of bugs —
    round-robin would also pay a sort-before-repartition pass).

    Inputs whose plan already carries a shuffle Exchange are returned
    untouched WITHOUT inspecting partition counts: their data is
    already redistributed to ``spark.sql.shuffle.partitions``, and —
    the sharp edge — ``df.rdd.getNumPartitions()`` under AQE
    materializes every upstream query stage to settle the final plan,
    i.e. it would EXECUTE the upstream aggregation/join once just to
    count partitions (measured: one full extra run of the pooled
    groupBy per maxsim candidate build). The rdd probe is only taken
    on exchange-free (pure scan + narrow) plans, where it is plain
    planning with no job."""
    from pyspark.sql import functions as F

    try:
        if plan_has_exchange(df):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if 2 * n <= target:
        return df.repartition(target, F.col(key_col))
    return df
