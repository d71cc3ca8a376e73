"""Materialized range partitions: the pinned base of the distributed
two-pass prefix sums (SURVEY.md §2.6 F13).

The reference generates surrogate keys from the pandas index
(``Id = index + 1``, reference src/pipelines/etl.py:80) — an implicit,
single-process ordering. The distributed equivalent of such a running
count is a two-pass prefix sum over range-partitioned, sorted rows:
per-partition running values plus an exclusive scan of per-partition
totals. ``operators/packing.py`` runs it (``with_running_weight_before``,
``with_rank_and_running``); this module holds the partitioning step whose
layout both passes must share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialized_range_partitions(
    df: DataFrame, num_partitions: int, order_cols: list
) -> DataFrame:
    """Range-partition + sort + MATERIALIZE (localCheckpoint) — the safe
    base for two-pass prefix-sum algorithms.

    ``repartitionByRange`` samples its boundaries with a seed derived
    from the per-execution RDD id, so two executions of the same plan
    can split rows across partitions differently. Any algorithm that
    collects per-partition statistics in one job and applies them in a
    second MUST pin one materialized partitioning first, or the offsets
    describe a layout the second job no longer has (duplicate/shifted
    keys, mis-packed shards — review r8). The checkpoint's storage cost
    is the price of that consistency; both consumers (in packing.py)
    read it exactly twice.

    LAZY checkpoint (optimization r18): every caller's immediately-next
    action is its per-partition stats collect, which computes EVERY
    partition (a groupBy reads them all), so the checkpoint completes
    inside that job — one driver round-trip per call instead of two,
    with the identical pinned layout (localCheckpoint blocks are
    immutable once materialized, and Spark back-fills any partition a
    first job skipped before truncating lineage).

    CALLER CONTRACT (ADVICE r18): the lazy checkpoint only delivers the
    pinned-layout guarantee if the caller's FIRST action over the result
    computes every partition (the stats-collect-first pattern both
    current callers follow). A new consumer whose first action reads a
    subset (a limit, a single-partition probe) would leave the remaining
    partitions un-pinned until some later job computes them — pass the
    result through ``.localCheckpoint(eager=True)`` at such a call site
    instead of weakening the shared operator.
    """
    return df.repartitionByRange(num_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    ).localCheckpoint(eager=False)

