"""Token-budget shard packing: a distributed prefix sum over ordered docs.

A training-data job's last step before writing tensors is packing documents
into shards of ~equal token budget (sequential greedy packing is the
classic formulation). The deterministic relational equivalent: order docs
by a stable key, take the RUNNING token total before each doc, and assign
``shard = cum_before DIV budget``. That is a global prefix sum — naively a
single-partition window sort, the textbook scale-killer.

This operator computes it distributed, in two passes over one
``operators/keys.py::materialized_range_partitions`` layout:

1. range-partition by the order key + sort within partitions;
2. per-partition running totals via a partition-local window;
3. per-partition grand totals (one tiny ≤P-row collect) → exclusive scan
   on the driver → broadcast offset map added back.

No single-partition funnel: every pass is parallel in P, and the only
driver data is one row per partition. Same answer as the global-window
formulation for any partitioning (prefix sums are associative).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.operators.keys import materialized_range_partitions


def with_running_weight_before(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str,
) -> DataFrame:
    """Attach ``out_col`` = the running ``weight_col`` total BEFORE each
    row under the ``order_col`` total order — the distributed exclusive
    prefix sum both packers build on (module docstring: range partition
    → partition-local window → ≤P-row driver scan → broadcast offsets).
    Appends a transient ``__pid`` the caller must drop."""
    p = df.sparkSession.sparkContext.defaultParallelism
    # materialized: both passes MUST see one partitioning (see
    # materialized_range_partitions — re-sampled range boundaries would
    # shift rows between the counted and the keyed layout)
    ranged = materialized_range_partitions(df, p, [F.col(order_col)])
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    sizes = (
        with_pid.groupBy("__pid")
        .agg(F.sum(weight_col).alias("__w"))
        .orderBy("__pid")
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sizes:
        offsets[row["__pid"]] = acc
        acc += int(row["__w"] or 0)
    if offsets:
        offmap = F.coalesce(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
                F.col("__pid")
            ],
            F.lit(0),
        )
    else:  # empty input: no partition rows, no offsets
        offmap = F.lit(0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum(weight_col).over(w), F.lit(0))
    return with_pid.withColumn(out_col, (local_before + offmap).cast("long"))


def pack_shards(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Assign ``shard_col = (running weight before this row) DIV budget``.

    ``order_col`` must be a total order (unique); ``weight_col`` a
    non-negative integral weight (token count). A single document heavier
    than ``budget`` still lands in exactly one shard (its own cum range) —
    packing never splits a document.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    return (
        with_running_weight_before(df, order_col, weight_col, "__cum_before")
        # integer DIV, not float floor: exact at any corpus size
        .withColumn(shard_col, F.expr(f"__cum_before DIV {int(budget)}"))
        .drop("__pid", "__cum_before")
    )


def context_windows(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    context_len: int,
) -> DataFrame:
    """Concat-and-chunk packing INDEX — the GPT-pretraining shape
    ``pack_shards`` deliberately avoids: documents are concatenated in
    ``order_col`` order into one token stream and cut into consecutive
    fixed-length context windows of ``context_len`` tokens, SPLITTING
    documents at window boundaries (where pack_shards never splits).
    Returns one row per (window, document-slice):

    - ``seq_id``     — window index (token k lives in window k DIV L)
    - ``slice_start``— 0-based offset of the slice INSIDE the document
    - ``slice_len``  — slice length (> 0)
    - ``seq_offset`` — 0-based offset of the slice INSIDE the window

    plus the input's id columns — an exact materialization plan for the
    packed tensors (the writer gathers each window's slices by
    ``seq_offset`` and substrings each doc's tokens by
    ``slice_start/slice_len``). Zero-weight docs emit nothing. The last
    window is ragged (sum of its slice lengths < L); every other window
    tiles to exactly L by construction.

    ``weight_col`` must be non-negative integral (token counts — the
    same contract as ``pack_shards``): a negative weight would corrupt
    the running offsets of every LATER row, not just its own.

    Scale: the same distributed exclusive prefix sum as ``pack_shards``
    (no single-partition window), then each doc explodes to its
    overlapped window range — ≤ weight/L + 1 rows per doc, proportional
    to output size, never to corpus × windows."""
    if context_len <= 0:
        raise ValueError(f"context_len must be positive: {context_len}")
    started = with_running_weight_before(
        df, order_col, weight_col, "__start"
    )
    return window_slices(started, weight_col, context_len).drop(
        "__pid", "__start"
    )


def window_slices(
    df: DataFrame,
    weight_col: str,
    context_len: int,
    start_col: str = "__start",
) -> DataFrame:
    """The concat-and-chunk explode arithmetic of ``context_windows`` on
    rows that ALREADY carry the exclusive running-weight offset
    (``start_col``) — pure per-row expressions, no pass of its own.
    Factored out (optimization r19) so a producer whose rank pass already
    computed the running weight (``with_rank_and_running`` emits rank AND
    running sum in ONE range partitioning) can skip the separate
    ``with_running_weight_before`` pass ``context_windows`` pays; the
    training-batch composition is that producer. Keeps ``start_col`` on
    the output (callers drop it)."""
    L = int(context_len)
    started = df.filter(F.col(weight_col) > 0)
    first_w = F.expr(f"{start_col} DIV {L}")
    last_w = F.expr(f"({start_col} + {weight_col} - 1) DIV {L}")
    exploded = started.withColumn(
        "seq_id", F.explode(F.sequence(first_w, last_w))
    )
    win_start = F.col("seq_id") * L
    slice_abs_start = F.greatest(F.col(start_col), win_start)
    slice_abs_end = F.least(
        F.col(start_col) + F.col(weight_col), win_start + L
    )
    return (
        exploded.withColumn(
            "slice_start", (slice_abs_start - F.col(start_col)).cast("long")
        )
        .withColumn("slice_len", (slice_abs_end - slice_abs_start).cast("long"))
        .withColumn("seq_offset", (slice_abs_start - win_start).cast("long"))
    )


def with_rank_and_running(
    df: DataFrame,
    order_cols: list,
    weight_col: str,
    rank_col: str = "rk",
    running_col: str = "running",
) -> DataFrame:
    """Attach the global ``rank_col`` (1-based dense row_number) and the
    INCLUSIVE running ``weight_col`` total under the ``order_cols``
    total order — the pair every frontier/concentration statistic
    (Pareto running share, rank-weighted Gini) needs — computed
    DISTRIBUTED: one materialized range partitioning, per-partition
    windows, one ≤P-row collect of (count, weight) partition totals,
    two broadcast offset maps. The exact same values as a global-window
    formulation (prefix sums and ranks are associative), with no
    single-partition funnel — the coded escape hatch the Pareto/Gini
    queries' docstrings point to.

    ``order_cols`` may carry sort directions (``F.col(...).desc()``);
    they must define a TOTAL order or ranks are nondeterministic. The
    running sum preserves ``weight_col``'s type (decimal stays exact).
    Appends a transient ``__pid`` the caller must drop."""
    p = df.sparkSession.sparkContext.defaultParallelism
    ranged = materialized_range_partitions(df, p, order_cols)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    stats = (
        with_pid.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__c"), F.sum(weight_col).alias("__w"))
        .orderBy("__pid")
        .collect()
    )
    cnt_off: dict[int, int] = {}
    w_off: dict[int, object] = {}
    c_acc = 0
    w_acc = None
    for row in stats:
        cnt_off[row["__pid"]] = c_acc
        w_off[row["__pid"]] = w_acc
        c_acc += int(row["__c"])
        w_acc = row["__w"] if w_acc is None else w_acc + row["__w"]
    if cnt_off:
        cnt_map = F.coalesce(
            F.create_map(*[F.lit(x) for kv in cnt_off.items() for x in kv])[
                F.col("__pid")
            ],
            F.lit(0),
        )
        # weight offsets: first partition's offset is None (no literal
        # decimal-zero guessing — coalesce to the column's own zero via
        # weight*0 keeps the exact input type)
        w_map = F.coalesce(
            F.create_map(
                *[
                    x
                    for pid, off in w_off.items()
                    for x in (F.lit(pid), F.lit(off))
                ]
            )[F.col("__pid")],
            F.col(weight_col) * 0,
        )
    else:  # empty input
        cnt_map = F.lit(0)
        w_map = F.col(weight_col) * 0
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    running_local = F.sum(weight_col).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return with_pid.withColumn(
        rank_col, (F.row_number().over(w) + cnt_map).cast("long")
    ).withColumn(running_col, running_local + w_map)


def ntile_from_rank(rank_col: Column, n_col: Column, k: int) -> Column:
    """Exact integer ntile: the bucket (1-based) of the ``rank_col``-th
    row among ``n_col`` rows split into ``k`` equal-count buckets —
    bit-identical to SQL ntile(k) (the first n mod k buckets take
    ceil(n/k) rows, the rest floor(n/k)) but computed as pure integer
    expressions on a DISTRIBUTED rank, so no engine needs a global
    ntile window. Shared by the equi-depth batcher and the vocab-growth
    deciles; property-tested against a python reference over random
    (n, k). Callers must pass a 1-based total-order rank."""
    big = n_col % k  # buckets that take the extra row
    size_big = F.floor(n_col / k) + 1
    size_small = F.floor(n_col / k)
    boundary = big * size_big  # ranks 1..boundary live in big buckets
    return (
        F.when(rank_col <= boundary, F.floor((rank_col - 1) / size_big) + 1)
        .otherwise(big + F.floor((rank_col - boundary - 1) / size_small) + 1)
        .cast("long")
    )


def ntile_from_rank_py(rank: int, n: int, k: int) -> int:
    """Driver/twin reference of ``ntile_from_rank`` — the SQL ntile
    definition in plain integers."""
    big = n % k
    size_big = n // k + 1
    size_small = n // k
    boundary = big * size_big
    if rank <= boundary:
        return (rank - 1) // size_big + 1
    return big + (rank - boundary - 1) // size_small + 1
