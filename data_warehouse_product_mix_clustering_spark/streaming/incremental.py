"""Incremental warehouse ETL via foreachBatch + checkpointing.

The reference's only refresh mechanism is a monthly full-table replace
(reference Dockerfile:37, src/pipelines/etl.py:102-107). The production
Spark pattern is incremental: a file-source stream over the landing
directory, a foreachBatch sink appending only NEW files' rows into the
warehouse table, and a checkpoint making the pipeline exactly-once across
restarts — re-running it after no new data appends nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_warehouse_product_mix_clustering_spark.streaming.events import stream_events


def incremental_events_etl(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> int:
    """One incremental run: ingest unseen event files, append to parquet.

    Returns the number of micro-batches executed this run (0 when the
    checkpoint says everything was already ingested). Idempotent across
    reruns AND across at-least-once batch replays: foreachBatch can
    re-execute an uncommitted batch after a crash, so a plain append
    would duplicate its rows (the exact pattern runner.py forbids) —
    each batch instead overwrites its own ``__batch_id`` partition, the
    quarantine sink's idempotence discipline (review r8).
    """
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import BATCH_COL
    from data_warehouse_product_mix_clustering_spark.streaming.runner import run_available_now

    stream = stream_events(spark, sf_dir, watermark="0 seconds")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL)
            .parquet(out_dir)
        )

    return run_available_now(stream, sink, checkpoint_dir, timeout_sec)
