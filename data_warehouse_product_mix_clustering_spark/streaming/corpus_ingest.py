"""Streaming GATED-corpus ingestion: continuous training-corpus
construction with per-gate attrition accounting.

The third leg of the repo's always-on feed story (CSV quarantine typing
→ streaming/quarantine.py; embedding semantic dedup →
streaming/ingest.py; this: DOCUMENT gates). A file-source stream over a
landing directory of document batches runs each micro-batch through the
training-corpus gate pipeline — exact dedup (batch-internal keep-lowest
+ anti-join against the fingerprints of every EARLIER-SEEN doc, via
``operators/dedup.py::incremental_dedup``), non-empty tokenization,
language, quality, token budget (the same shared expressions
``plans/text.py::gated_corpus`` binds) — appends the survivors, and
logs one row per (gate stage, source) — doc count AND whitespace-token
sum — so BOTH attrition waterfalls (corpus-wide and per-source) AND the
per-source token MIXTURE are maintained INCREMENTALLY (summing the
per-batch log reproduces the batch waterfalls; ``read_source_mixture``
reproduces ``source_mixture_weights`` from the log alone).

Why a SEEN-fingerprint store separate from survivors: batch semantics
keep the lowest-doc_id representative per fingerprint and THEN gate it —
a duplicate of a doc that was seen earlier but failed a gate must still
drop. Deduping against survivor fingerprints alone would resurrect it;
the seen store records every batch's post-batch-dedup fingerprints,
gated or not.

Idempotence discipline (the quarantine/semantic-ingest sinks'): all
three stores — survivors, seen fingerprints, gate log — land partitioned
by ``__batch_id`` with dynamic partition overwrite, and the sink reads
only STRICTLY EARLIER partitions; an at-least-once replay of a batch
recomputes from exactly the prefix its first attempt saw and overwrites
only its own partitions. The checkpoint makes committed batches never
replay. All stores read with explicit schemas (the r12 zero-survivor
lesson: a fully-filtered batch leaves a file-less partition directory
that schema inference cannot read).

Equivalence contract (audited end-to-end by
``plans/similarity.py``-style registered audit in plans/pipeline):
when landing files are doc_id-ordered slices, the streamed survivor
relation equals the batch ``gated_corpus`` over the union — the lowest
doc_id occurrence of every fingerprint lives in the earliest batch
containing it, so first-arrival dedup ≡ keep-lowest dedup (the
``dedup_incremental_exact`` argument).

Scale: per batch one fingerprint shuffle over the BATCH + one anti-join
against the fingerprint store (fingerprints only — corpus text is never
re-read), per-row gate expressions, and a 6-scalar stage aggregate.
Never a corpus scan, never a corpus self-join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.streaming.quarantine import BATCH_COL
from data_warehouse_product_mix_clustering_spark.streaming.runner import run_available_now

DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
SURVIVOR_SCHEMA = (
    "doc_id bigint, lang string, n_tokens bigint, quality_score double"
)
SEEN_SCHEMA = "fingerprint string"
# One row per (batch, gate stage, source): doc count AND whitespace-token
# sum of the docs standing at that stage — the token column is what makes
# the mixture (per-source token shares) incrementally maintainable from
# the log alone (``read_source_mixture``), with no corpus re-scan.
GATE_LOG_SCHEMA = (
    "stage string, stage_order bigint, source string, n_docs bigint, "
    "n_tokens bigint"
)

# Telescoping stage names, in gate order (mirrors gated_corpus's plan:
# dedup → non-empty tokenization → lang → quality → token budget).
GATE_STAGES = ["ingested", "deduped", "tokenized", "lang", "quality", "token_budget"]


def _store(corpus_dir: str, name: str) -> str:
    return os.path.join(corpus_dir, name)


def _read_store(
    spark: SparkSession, corpus_dir: str, name: str, schema: str,
    before_batch: int | None = None,
) -> DataFrame:
    """One partitioned store, explicit schema, optionally restricted to
    strictly-earlier batches (the replay-safe prefix view)."""
    path = _store(corpus_dir, name)
    if not os.path.exists(path):
        return spark.createDataFrame([], f"{schema}, {BATCH_COL} bigint")
    df = spark.read.schema(f"{schema}, {BATCH_COL} bigint").parquet(path)
    if before_batch is not None:
        df = df.filter(F.col(BATCH_COL) < before_batch)
    return df


def read_gated_corpus(
    spark: SparkSession, corpus_dir: str, before_batch: int | None = None
) -> DataFrame:
    """The survivor relation (gated corpus-so-far)."""
    return _read_store(
        spark, corpus_dir, "survivors", SURVIVOR_SCHEMA, before_batch
    ).select("doc_id", "lang", "n_tokens", "quality_score")


def read_gate_waterfall(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The incrementally-maintained attrition waterfall: per-batch stage
    counts summed across every ingested batch — one row per gate stage,
    reproducing what a batch waterfall over the union input computes."""
    log = _read_store(spark, corpus_dir, "gate_log", GATE_LOG_SCHEMA)
    return (
        log.groupBy("stage", "stage_order")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .select("stage", F.col("stage_order").cast("long"), "n_docs")
    )


def read_gate_waterfall_by_source(
    spark: SparkSession, corpus_dir: str
) -> DataFrame:
    """The per-SOURCE attrition breakdown, incrementally maintained —
    the streamed twin of ``corpus_filter_waterfall_by_source``: which
    feed is losing docs at which gate, kept current batch by batch
    (the log carries source from day one, so this is a regroup of the
    same store, not a second accounting)."""
    log = _read_store(spark, corpus_dir, "gate_log", GATE_LOG_SCHEMA)
    return (
        log.groupBy("source", "stage", "stage_order")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .select("source", "stage", F.col("stage_order").cast("long"), "n_docs")
    )


def read_source_mixture(
    spark: SparkSession, corpus_dir: str, stage: str = "deduped"
) -> DataFrame:
    """Per-source mixture accounting derived from the incrementally-
    maintained gate log — the streamed twin of
    ``plans/pipeline/corpus.py::source_mixture_weights`` (same columns, same
    ratio rounding), with zero corpus re-scan: the log already carries
    per-(batch, stage, source) doc counts and whitespace-token sums, so
    the mixture is a |log|-row groupBy + a |sources|-row window.

    ``stage`` picks where in the gate funnel the mixture is measured;
    the default ``"deduped"`` is the batch twin's semantics — the
    deduped union of all ingested batches IS the de-duplicated document
    relation ``_per_source_tokens`` scans (first-arrival dedup ≡
    keep-lowest on ordered slices), so the audited equality
    (``mixture_matches_batch`` on ``stream_gated_corpus_audit``) is
    exact, not approximate."""
    from pyspark.sql import Window

    from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round

    log = _read_store(spark, corpus_dir, "gate_log", GATE_LOG_SCHEMA)
    per_src = (
        log.filter(F.col("stage") == stage)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )
    w = Window.partitionBy()
    obs = F.col("total_tokens").cast("double") / F.sum("total_tokens").over(w)
    return per_src.select(
        "source",
        "n_docs",
        "total_tokens",
        ratio_round(obs).alias("observed_share"),
        ratio_round((F.lit(1.0) / F.count(F.lit(1)).over(w)) / obs).alias(
            "uniform_weight"
        ),
    )


def _write_partition(df: DataFrame, batch_id: int, path: str) -> None:
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def gated_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_dir: str,
    lang: str,
    quality_min: float,
    tok_lo: int,
    tok_hi: int,
) -> None:
    """One micro-batch through the gates (module-level, not a closure —
    the quarantine convention — so replay idempotence is unit-testable
    by re-invoking with the same (batch_df, batch_id))."""
    from data_warehouse_product_mix_clustering_spark.functions.text import (
        bpe_tokens,
        quality_score,
        tokens,
    )
    from data_warehouse_product_mix_clustering_spark.operators.dedup import incremental_dedup

    seen = _read_store(
        spark, corpus_dir, "seen", SEEN_SCHEMA, before_batch=batch_id
    ).select("fingerprint")

    n_in = batch_df.count()
    deduped = incremental_dedup(batch_df, seen, "doc_id", "text").localCheckpoint(
        eager=True
    )  # read by the seen-store write, the flags pass, and the stage counts

    # ONE scan computes every later gate as cumulative flags; the stage
    # counts collapse to a single 5-scalar conditional aggregate instead
    # of five sequential filter+count materializations (review r13 —
    # same job, one pass).
    t = deduped.select(
        "doc_id",
        "lang",
        "source",
        tokens(F.col("text")).alias("t"),
        bpe_tokens(F.col("text")).alias("bt"),
    )
    flags = t.select(
        "doc_id",
        "lang",
        "source",
        F.size("bt").cast("long").alias("n_tokens"),
        F.size("t").cast("long").alias("__nws"),  # mixture base: whitespace tokens
        quality_score(F.col("t")).alias("quality_score"),
        (F.size("t") > 0).alias("__tok"),
    ).select(
        "*",
        (F.col("__tok") & (F.col("lang") == lang)).alias("__lang"),
    ).select(
        "*",
        (F.col("__lang") & (F.col("quality_score") >= quality_min)).alias("__qual"),
    ).select(
        "*",
        (F.col("__qual") & F.col("n_tokens").between(tok_lo, tok_hi)).alias("__keep"),
    ).localCheckpoint(eager=True)

    def _n(flag: str):
        return F.sum(F.when(F.col(flag), 1).otherwise(0)).cast("long")

    def _tn(flag: str):
        return F.sum(F.when(F.col(flag), F.col("__nws")).otherwise(0)).cast("long")

    # PER-SOURCE stage counts + whitespace-token sums (|sources|-row
    # relations): "ingested" counts the raw batch; dedup survivors
    # attribute to the KEPT row's source (the by-source batch waterfall's
    # semantics). Full outer + zero-fill keeps a source whose batch rows
    # were ALL duplicates. The token column makes the mixture derivable
    # from the log (``read_source_mixture``) with no corpus re-scan.
    ingested = batch_df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("c_in"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("t_in"),
    )
    gates = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("c_dedup"),
        F.sum("__nws").cast("long").alias("t_dedup"),
        _n("__tok").alias("c_tok"),
        _tn("__tok").alias("t_tok"),
        _n("__lang").alias("c_lang"),
        _tn("__lang").alias("t_lang"),
        _n("__qual").alias("c_qual"),
        _tn("__qual").alias("t_qual"),
        _n("__keep").alias("c_keep"),
        _tn("__keep").alias("t_keep"),
    )
    per_src = ingested.join(gates, "source", "full_outer").fillna(0)
    stage_cols = ["c_in", "c_dedup", "c_tok", "c_lang", "c_qual", "c_keep"]
    token_cols = ["t_in", "t_dedup", "t_tok", "t_lang", "t_qual", "t_keep"]
    log_rows = [
        (stage, i, r["source"], int(r[c]), int(r[tc]))
        for r in per_src.collect()  # ≤ |sources| rows — dimension-sized
        for i, (stage, c, tc) in enumerate(
            zip(GATE_STAGES, stage_cols, token_cols)
        )
    ]
    counts = [sum(r[3] for r in log_rows if r[0] == st) for st in GATE_STAGES]
    assert counts[0] == n_in  # per-source rows must cover the batch
    survivors = flags.filter(F.col("__keep"))
    log = spark.createDataFrame(log_rows, GATE_LOG_SCHEMA)
    # Write order: derived stores first, survivors last — a crash mid-batch
    # leaves an uncommitted batch whose replay overwrites every partial
    # partition anyway (strictly-earlier reads make the order a nicety,
    # not a correctness condition).
    _write_partition(
        deduped.select("fingerprint"), batch_id, _store(corpus_dir, "seen")
    )
    _write_partition(log, batch_id, _store(corpus_dir, "gate_log"))
    _write_partition(
        survivors.select("doc_id", "lang", "n_tokens", "quality_score"),
        batch_id,
        _store(corpus_dir, "survivors"),
    )


def streaming_gated_ingest(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    lang: str,
    quality_min: float,
    tok_lo: int,
    tok_hi: int,
    timeout_sec: int = 300,
) -> int:
    """One availableNow run over the landing directory: every unseen
    file's docs run the gate pipeline against the corpus-so-far;
    survivors, seen fingerprints, and gate-log rows land under
    ``corpus_dir``. Returns the number of micro-batches executed."""
    os.makedirs(corpus_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        # one landing file per micro-batch — sequential-slice semantics,
        # the same contract the semantic ingest pins
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        gated_ingest_batch(
            spark, batch_df, batch_id, corpus_dir,
            lang=lang, quality_min=quality_min, tok_lo=tok_lo, tok_hi=tok_hi,
        )

    return run_available_now(stream, sink, checkpoint_dir, timeout_sec)
