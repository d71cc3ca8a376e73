"""SparkSession factory with scale-appropriate defaults.

The reference runs a single-threaded pandas pipeline (see
reference src/pipelines/etl.py:44-123); here every query is a distributed
Spark plan. The session defaults below are the ones that matter at both
local[] test scale and 1000-executor cluster scale:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join split).
- Arrow on for every Python<->JVM boundary (pandas UDFs, toPandas).
- Session timezone pinned to UTC so results are oracle-comparable (DuckDB
  timestamps are UTC-naive).
- Shuffle partitions default to local core count; at cluster scale this is
  expected to be overridden (AQE coalescing makes the exact number less
  critical than it used to be).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = max(os.cpu_count() or 8, 8)


class no_adaptive_execution:
    """Scope that disables AQE for a driver-side iteration loop
    (restored on exit — exception-safe).

    For ITERATIVE trainers whose per-iteration queries are model-sized
    (bounded aggregates over a cached/checkpointed slice, broadcasts
    made EXPLICIT by the caller), AQE's one-job-per-query-stage
    execution and runtime re-planning are pure overhead: measured r19,
    the multinomial logreg audit ran 561 driver jobs and 72 s with AQE
    on vs 51 s off at sf0.001, identical results. Scope it only around
    loops that (a) run many small actions and (b) do not rely on AQE's
    runtime join-strategy conversion — a loop that joins
    checkpoint-backed relations WITHOUT an explicit broadcast hint must
    keep AQE (the static planner sees unknown sizes and would pick a
    sort-merge join).

    Use it as a ``with`` block. It flips a SESSION-GLOBAL conf, so a
    query planned on another thread while the scope is open would also
    run without AQE, and overlapping scopes on two threads would restore
    each other's value: entering it from a second thread while another
    thread's scope is open raises ``RuntimeError``. Nesting on one thread
    is fine."""

    _lock = threading.Lock()
    _owner: int | None = None  # thread ident holding the open scope(s)
    _depth = 0

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        cls, me = no_adaptive_execution, threading.get_ident()
        with cls._lock:
            if cls._owner not in (None, me):
                raise RuntimeError(
                    "no_adaptive_execution is open on another thread; "
                    "the AQE conf is session-global"
                )
            cls._owner, cls._depth = me, cls._depth + 1
        self.prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev)
        cls = no_adaptive_execution
        with cls._lock:
            cls._depth -= 1
            if cls._depth == 0:
                cls._owner = None


def get_spark(
    app_name: str = "data_warehouse_product_mix_clustering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[N]`` from ``SPARK_GRAFT_CPUS`` (driver
    contract) or all cores; on a real cluster, pass ``master=None`` and
    launch through spark-submit, which wins over any builder setting.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: bigger batches, vectorized reader.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast joins for dimension tables (reference dims are tiny;
        # testdata dims are < 1 MB). 64 MB threshold is a production-ish pick.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
