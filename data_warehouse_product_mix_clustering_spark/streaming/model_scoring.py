"""Streaming quality-model scoring: the serve path, continuously.

The fourth leg of the always-on feed story (CSV quarantine →
streaming/quarantine.py; embedding semantic dedup → streaming/ingest.py;
document gates → streaming/corpus_ingest.py; this: LEARNED-gate
scoring). A file-source stream over a landing directory of document
batches scores each micro-batch against a FROZEN persisted logistic-
regression artifact (ml/logreg.py::save_logreg) — loaded ONCE at stream
start through the meta-pinned, torn-write-guarded ``load_logreg`` — and
appends per-doc keep-probabilities plus a per-(batch, source) count log,
so keep-rate drift per source is observable incrementally without ever
re-reading scored batches.

Freezing the model per stream is the same invariant the semantic-ingest
codebook holds: re-training per micro-batch would both cost a corpus
pass per batch and make scores incomparable across batches (each batch
judged by a different boundary). Model refresh is a NEW stream over a
NEW artifact dir — deliberate, recorded in the artifact's meta, never
silent.

Idempotence discipline (the quarantine sink's): scoring is per-batch
PURE (no cross-batch state — unlike dedup there is nothing to read from
earlier batches), so at-least-once replay safety is exactly one
dynamic-partition overwrite per store, and a replayed batch rewrites
its own partitions with identical rows. Explicit-schema reads survive
file-less partitions (the r12 zero-survivor lesson).

Scale: per micro-batch one (id, bucket) feature shuffle of the BATCH,
one broadcast join with the KB-sized weight relation, one per-id
aggregation, and a |sources|-row count log. The corpus is never
re-read; the model is never re-fit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.streaming.corpus_ingest import DOC_SCHEMA  # noqa: F401
from data_warehouse_product_mix_clustering_spark.streaming.quarantine import BATCH_COL
from data_warehouse_product_mix_clustering_spark.streaming.runner import run_available_now

SCORE_SCHEMA = "doc_id bigint, source string, p_keep double, predicted boolean"
LOG_SCHEMA = "source string, n_docs bigint, n_keep bigint"

_SCORES = "scores"
_LOG = "score_log"


def _write_partition(df: DataFrame, batch_id: int, path: str) -> None:
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def _read_store(
    spark: SparkSession, out_dir: str, name: str, schema: str
) -> DataFrame:
    path = os.path.join(out_dir, name)
    if not os.path.exists(path):
        return spark.createDataFrame([], f"{schema}, {BATCH_COL} bigint")
    return spark.read.schema(f"{schema}, {BATCH_COL} bigint").parquet(path)


def read_scores(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read_store(spark, out_dir, _SCORES, SCORE_SCHEMA)


def read_score_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(batch, source) doc/keep counts — summing this log IS the
    corpus-wide keep-rate accounting; no scored batch is ever re-read."""
    return _read_store(spark, out_dir, _LOG, LOG_SCHEMA)


def score_batch(
    spark: SparkSession,
    out_dir: str,
    batch_id: int,
    batch_docs: DataFrame,
    w: dict[str, float],
) -> None:
    """Score one batch against frozen weights and land scores + log.

    Per-batch pure (the module invariant) — replaying a batch_id
    overwrites exactly its own partitions with identical rows."""
    from data_warehouse_product_mix_clustering_spark.ml.logreg import score_logreg
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _clf_features

    feats = _clf_features(batch_docs)
    ids = batch_docs.select(F.col("doc_id").alias("__id"))
    scored = (
        score_logreg(spark, feats, ids, w)
        .withColumnRenamed("__id", "doc_id")
        .join(batch_docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("p").alias("p_keep"),
            (F.col("p") >= 0.5).alias("predicted"),
        )
        .localCheckpoint(eager=True)  # read twice: scores store + log agg
    )
    _write_partition(scored, batch_id, os.path.join(out_dir, _SCORES))
    log = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("predicted").cast("long")).cast("long").alias("n_keep"),
    )
    _write_partition(log, batch_id, os.path.join(out_dir, _LOG))


def streaming_model_scoring(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    model_dir: str,
    expect_meta: dict | None = None,
) -> int:
    """Drain the landing directory through the scoring sink; returns the
    number of micro-batches executed. The model loads ONCE, before the
    first batch — a torn or meta-mismatched artifact fails the stream
    here, not per-row mid-batch."""
    from data_warehouse_product_mix_clustering_spark.ml.logreg import load_logreg

    w, _ = load_logreg(spark, model_dir, expect_meta=expect_meta)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        # one landing file per micro-batch — the family's sequential-
        # slice contract, and what makes a replayed batch_id rewrite
        # exactly one file's worth of rows
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        score_batch(spark, out_dir, batch_id, batch_df, w)

    return run_available_now(stream, sink, checkpoint_dir)
