"""Parallelism repair for under-split inputs: ``fan_out``.

Key skew in sort-merge joins is left to AQE's skew-join splitting
(``spark.sql.adaptive.skewJoin``, pinned by tests/test_plans.py). What
AQE cannot repair is an input that scans as too few partitions for the
expansion-heavy operators downstream of it; ``fan_out`` repartitions such
an input up to cluster parallelism before the expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Repartition to cluster parallelism iff the input under-parallelizes.

    A parquet file cannot be split below row-group granularity, so a table
    written as one (or few) row groups scans as one (or few) tasks — and
    every expansion-heavy operator downstream (shingling, per-token
    explodes, Arrow matmul kernels, media decode) runs serialized on a
    handful of cores no matter how many the cluster has. This helper is the
    adaptive fix: if the plan's current partitioning is below
    ``defaultParallelism × multiplier``, round-robin repartition up to it;
    otherwise return the input untouched.

    On a production cluster where inputs arrive with thousands of splits
    the condition is false and this is a zero-cost no-op — the shuffle is
    only paid exactly when the layout would otherwise idle the cluster,
    and then on the small pre-expansion rows (docs before shingles, payload
    pointers before decode), never on the expanded data.
    """
    if df.isStreaming:  # no static partitioning to probe; leave untouched
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiplier
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
