"""Streaming-operator tests: the custom stateful sessionizer must agree
with the batch window-function sessionization on a full replay."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.plans.events import events_sessions
from data_warehouse_product_mix_clustering_spark.sources.registry import table
from data_warehouse_product_mix_clustering_spark.streaming.sessions import GAP_SECONDS, run_streaming_sessions

from conftest import SF_SMOKE


def test_streaming_sessions_match_batch(spark):
    # Key on (user, start, n_events); sums compare with a tolerance below —
    # keying on a rounded float would false-mismatch on half-cent values
    # (batch is HALF_UP+nudge rounded, a raw Python round is banker's).
    batch_rows = events_sessions(spark, SF_SMOKE).collect()
    batch = {(r.user_id, r.session_start, r.n_events): r for r in batch_rows}
    stream_rows = run_streaming_sessions(spark, SF_SMOKE).collect()
    stream = {(r.user_id, r.session_start, r.n_events): r for r in stream_rows}
    extra = set(stream) - set(batch)
    assert not extra, f"streaming emitted sessions batch never saw: {list(extra)[:3]}"
    for key in set(stream) & set(batch):
        assert abs(stream[key].sum_value - batch[key].sum_value) < 0.005 + 1e-9, (
            f"session value sum diverged for {key}"
        )

    # Sessions still OPEN at end-of-stream legitimately never emit: the
    # watermark stops at max(ts), before their last_event + gap timeout.
    max_ts = table(spark, "events", SF_SMOKE).agg(F.max("ts")).first()[0]
    cutoff = max_ts - datetime.timedelta(seconds=GAP_SECONDS)
    missing = set(batch) - set(stream)
    for key in missing:
        r = batch[key]
        last_event = r.session_start + datetime.timedelta(seconds=r.duration_sec)
        assert last_event >= cutoff, (
            f"closed session missing from streaming output: {key} "
            f"(last_event={last_event}, cutoff={cutoff})"
        )
    # and the overwhelming majority must have closed + matched
    assert len(missing) <= max(1, len(batch) // 100)


def test_incremental_etl_is_idempotent(spark, tmp_path):
    """Second availableNow run with an intact checkpoint ingests nothing."""
    from data_warehouse_product_mix_clustering_spark.streaming.incremental import incremental_events_etl
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    out = str(tmp_path / "wh_events")
    ckpt = str(tmp_path / "ckpt")
    n1 = incremental_events_etl(spark, SF_SMOKE, out, ckpt)
    assert n1 >= 1
    count1 = spark.read.parquet(out).count()
    assert count1 == table(spark, "events", SF_SMOKE).count()

    n2 = incremental_events_etl(spark, SF_SMOKE, out, ckpt)
    count2 = spark.read.parquet(out).count()
    assert count2 == count1, "re-run duplicated rows despite checkpoint"


def test_streaming_quarantine_etl_splits_and_is_idempotent(spark, tmp_path):
    """Dirty CSV landing dir → clean + quarantine sinks, exactly-once:
    a rerun ingests nothing, a newly landed file is ingested alone, and
    every non-header line ever landed sits in exactly one sink."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import (
        read_sink,
        streaming_csv_quarantine_etl,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    (in_dir / "a.csv").write_text("id,qty\n1,10\n2,bad\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
    )
    clean_dir = str(tmp_path / "clean")
    quar_dir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    n1 = streaming_csv_quarantine_etl(spark, str(in_dir), schema, clean_dir, quar_dir, ckpt)
    assert n1 >= 1
    assert {(r.id, r.qty) for r in read_sink(spark, clean_dir).collect()} == {(1, 10), (3, 30)}
    assert [r.raw_line for r in read_sink(spark, quar_dir).collect()] == ["2,bad"]

    # rerun: checkpoint says nothing new -> sinks unchanged
    streaming_csv_quarantine_etl(spark, str(in_dir), schema, clean_dir, quar_dir, ckpt)
    assert read_sink(spark, clean_dir).count() == 2
    assert read_sink(spark, quar_dir).count() == 1

    # a newly landed file is ingested alone
    (in_dir / "b.csv").write_text("id,qty\n4,40\nnoise,row,extra\n")
    streaming_csv_quarantine_etl(spark, str(in_dir), schema, clean_dir, quar_dir, ckpt)
    assert {(r.id, r.qty) for r in read_sink(spark, clean_dir).collect()} == {
        (1, 10), (3, 30), (4, 40)
    }
    assert {r.raw_line for r in read_sink(spark, quar_dir).collect()} == {
        "2,bad", "noise,row,extra"
    }


def test_quarantine_batch_write_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-executing the SAME micro-batch
    must leave both sinks exactly as a single execution does (each batch
    overwrites its own __batch_id partition, never appends twice)."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import (
        read_sink,
        write_quarantine_batch,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
    )
    batch = spark.createDataFrame([("1,10",), ("2,bad",), ("3,30",)], ["value"])
    clean_dir = str(tmp_path / "clean")
    quar_dir = str(tmp_path / "quar")

    for _ in range(2):  # the retry: same batch_df, same batch_id
        write_quarantine_batch(batch, 7, schema, clean_dir, quar_dir, header=False)
    assert {(r.id, r.qty) for r in read_sink(spark, clean_dir).collect()} == {
        (1, 10), (3, 30)
    }
    assert [r.raw_line for r in read_sink(spark, quar_dir).collect()] == ["2,bad"]

    # a different batch id appends alongside, untouched by batch 7's retry
    batch2 = spark.createDataFrame([("4,40",)], ["value"])
    write_quarantine_batch(batch2, 8, schema, clean_dir, quar_dir, header=False)
    write_quarantine_batch(batch, 7, schema, clean_dir, quar_dir, header=False)
    assert read_sink(spark, clean_dir).count() == 3
    assert read_sink(spark, quar_dir).count() == 1


def test_streaming_quarantine_per_file_headers(spark, tmp_path):
    """header=True through the STREAMING path drops exactly one header
    per landing file (file identity is stamped before the batch persist —
    a cached scan loses input_file_name); a mid-file header-equal line
    quarantines instead of vanishing."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import (
        read_sink,
        streaming_csv_quarantine_etl,
    )

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text("id,qty\n1,10\nid,qty\n2,20\n")
    (land / "b.csv").write_text("id,qty\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("qty", T.LongType())]
    )
    streaming_csv_quarantine_etl(
        spark, str(land), schema, str(tmp_path / "clean"),
        str(tmp_path / "quar"), str(tmp_path / "ckpt"), header=True,
    )
    clean = sorted(
        (r.id, r.qty) for r in read_sink(spark, str(tmp_path / "clean")).collect()
    )
    assert clean == [(1, 10), (2, 20), (3, 30)]
    quar = [r.raw_line for r in read_sink(spark, str(tmp_path / "quar")).collect()]
    assert quar == ["id,qty"]  # ONE imposter; both real headers dropped


def test_stateful_sessions_survive_watermark_overrun_and_merge_late(spark, tmp_path):
    """Multi-batch sessionizer regressions (review r9): (1) an event
    arriving after the watermark already passed its session's timeout
    must not kill the query — setTimeoutTimestamp below the watermark
    raises ValueError without the clamp; (2) two late events of one past
    session emit as ONE merged session, not two singletons."""
    import os
    import time

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.streaming.sessions import streaming_sessions

    src = tmp_path / "stream_src"
    src.mkdir()

    def land(name, rows, mtime):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        p = str(src / name)
        df.coalesce(1).write.parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    import datetime as dt

    T = lambda s: dt.datetime.fromisoformat(f"2024-01-01 {s}")
    t0 = time.time() - 1000
    # batch 1: u1 opens a session; batch 2: u2 far ahead (watermark jumps
    # past u1's timeout); batch 3: u1 late event + two late events of one
    # past u2 session; batch 4: u3 far ahead (flushes u1's new state).
    land("b1", [(1, T("12:00:00"), 1.0), (1, T("12:05:00"), 2.0)], t0)
    land("b2", [(2, T("20:00:00"), 1.0)], t0 + 10)
    land(
        "b3",
        [(1, T("12:20:00"), 4.0), (2, T("15:00:00"), 1.0), (2, T("15:10:00"), 1.0)],
        t0 + 20,
    )
    land("b4", [(3, T("23:59:00"), 1.0)], t0 + 30)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withWatermark("ts", "0 seconds")
    )
    q = (
        streaming_sessions(stream)
        .writeStream.format("memory")
        .queryName("sessions_multibatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not drain"
        assert q.exception() is None
    finally:
        q.stop()
    got = {
        (r.user_id, r.session_start.strftime("%H:%M"), r.session_end.strftime("%H:%M"), r.n_events)
        for r in spark.table("sessions_multibatch").collect()
    }
    # u1's 12:20 straggler arrives AFTER the watermark (20:00) already
    # passed the session's 12:35 timeout — but the key has data in that
    # batch, so the state is still live and the event merges, exactly
    # like the batch twin; resetting the timeout then REQUIRES the
    # watermark clamp (setTimeoutTimestamp(12:50) < 20:00 raises and
    # kills the query without it). u2's two 15:xx late events merge into
    # ONE past session, and its open 20:00 session times out at batch 4.
    assert (1, "12:00", "12:20", 3) in got
    assert (2, "15:00", "15:10", 2) in got
    assert (2, "20:00", "20:00", 1) in got
    assert (2, "15:00", "15:00", 1) not in got  # no singleton fragments
    assert len(got) == 3


def test_quarantine_sink_empty_feed_reads_as_empty(spark, tmp_path):
    """An all-clean feed leaves the quarantine sink with no part files;
    read_sink with the sink schema returns an EMPTY frame instead of
    UNABLE_TO_INFER_SCHEMA (review r9 — the schema path now reaches the
    monitoring call sites)."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import (
        QUARANTINE_SCHEMA,
        read_sink,
        streaming_csv_quarantine_etl,
    )

    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.csv").write_text("1,10.0\n2,20.0\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    streaming_csv_quarantine_etl(
        spark, str(land), schema, str(tmp_path / "clean"),
        str(tmp_path / "quar"), str(tmp_path / "ckpt"), header=False,
    )
    assert read_sink(spark, str(tmp_path / "clean"), schema).count() == 2
    q = read_sink(spark, str(tmp_path / "quar"), QUARANTINE_SCHEMA)
    assert q.count() == 0 and q.columns == ["raw_line"]
    # without a schema the original loud failure is preserved
    with pytest.raises(AnalysisException):
        read_sink(spark, str(tmp_path / "quar")).count()


def test_streaming_semantic_ingest_dedups_sequentially(spark, tmp_path):
    """streaming/ingest.py — the continuous semantic-ingest loop: each
    landing file dedups against the corpus-so-far under the FROZEN seed
    codebook, survivors append, and the whole run matches a sequential
    python reference applying the incremental rule file by file. A
    rerun with no new files executes zero batches and leaves the corpus
    byte-identical; a batch re-ingesting an already-ingested vector
    drops it."""
    import math
    import os
    import time

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        assign_to_centers,
        fit_ivf_codebook,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from data_warehouse_product_mix_clustering_spark.streaming.ingest import (
        read_corpus,
        seed_corpus,
        streaming_semantic_ingest,
    )
    from conftest import SF_SMOKE

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    seed_df = emb.filter(F.col("vec_id") < 300)
    b1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    # batch 2 includes a re-ingest of a batch-1 vector under a new id —
    # it must be dropped against batch 1's ALREADY-INGESTED survivors
    reingest = b1.limit(1).select(
        (F.col("vec_id") + 80000).alias("vec_id"), "embedding"
    )
    b2 = emb.filter(F.col("vec_id") >= 400).unionByName(reingest)

    corpus_dir = str(tmp_path / "corpus")
    landing = tmp_path / "landing"
    landing.mkdir()
    seed_corpus(spark, corpus_dir, seed_df)
    thr, nlist, sd = 0.4, 4, 42

    # one file per batch, mtimes ordered so the file source takes them
    # in sequence (maxFilesPerTrigger=1)
    b1.toPandas().to_parquet(str(landing / "b1.parquet"), index=False)
    time.sleep(1.1)
    b2.toPandas().to_parquet(str(landing / "b2.parquet"), index=False)

    n = streaming_semantic_ingest(
        spark, str(landing), corpus_dir, str(tmp_path / "ckpt"),
        nlist=nlist, threshold=thr, seed=sd,
    )
    assert n == 2
    got = {
        r["vec_id"]
        for r in read_corpus(spark, corpus_dir).collect()
    }

    # python reference: frozen seed codebook, sequential batch rule
    model, _ = fit_ivf_codebook(seed_df, "vec_id", "embedding", nlist, sd)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]

    def assigned_rows(df):
        return assign_to_centers(df, centers, "vec_id", "embedding").collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return float("-inf")
        return round(d / (na * nb) + 1e-9, 6)

    corpus_cells: dict = {}
    for r in assigned_rows(seed_df):
        corpus_cells.setdefault(r["__cell"], []).append(list(r["__v"]))
    want = {r["vec_id"] for r in seed_df.collect()}
    for batch_df in (b1, b2):
        rows = sorted(assigned_rows(batch_df), key=lambda r: r["vec_id"])
        accepted = []
        for r in rows:
            v, cell = list(r["__v"]), r["__cell"]
            dup = any(
                cos(v, w) >= thr for w in corpus_cells.get(cell, [])
            ) or any(
                cos(v, w) >= thr for c2, w in accepted if c2 == cell
            )
            if not dup:
                accepted.append((cell, v))
                want.add(r["vec_id"])
        for cell, v in accepted:
            corpus_cells.setdefault(cell, []).append(v)
    assert got == want
    assert 80000 not in got, "re-ingested vector must be dropped"
    assert len(got) < seed_df.count() + b1.count() + b2.count()

    # idempotence: rerun drains nothing, corpus unchanged
    n2 = streaming_semantic_ingest(
        spark, str(landing), corpus_dir, str(tmp_path / "ckpt"),
        nlist=nlist, threshold=thr, seed=sd,
    )
    assert n2 == 0
    again = {r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()}
    assert again == got


def test_ingest_corpus_view_excludes_own_and_later_batches(spark, tmp_path):
    """Review r12: an at-least-once replay of batch N must NOT read
    batch N's own previously-written survivors partition back as
    'corpus' — it would dedup every replayed row against its own prior
    copy, and after a torn write permanently drop the missing
    survivors. read_corpus(before_batch=N) must see the seed plus
    strictly earlier partitions only; the frozen-centers sidecar must
    make the second run skip the k-means refit."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from data_warehouse_product_mix_clustering_spark.streaming.ingest import (
        _load_or_fit_centers,
        read_corpus,
        seed_corpus,
    )
    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import BATCH_COL
    from conftest import SF_SMOKE

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    corpus_dir = str(tmp_path / "corpus")
    seed_corpus(spark, corpus_dir, emb.filter(F.col("vec_id") < 100))
    # hand-write two survivor partitions as past ingest output
    for bid, lo, hi in ((0, 100, 150), (1, 150, 200)):
        (
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .withColumn(BATCH_COL, F.lit(bid))
            .write.mode("append")
            .partitionBy(BATCH_COL)
            .parquet(os.path.join(corpus_dir, "survivors"))
        )
    all_ids = {r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()}
    assert all_ids == set(range(200))
    # replaying batch 1 must see seed + batch 0 only — not itself
    replay_view = {
        r["vec_id"]
        for r in read_corpus(spark, corpus_dir, before_batch=1).collect()
    }
    assert replay_view == set(range(150))
    # replaying batch 0 must see the seed only
    first_view = {
        r["vec_id"]
        for r in read_corpus(spark, corpus_dir, before_batch=0).collect()
    }
    assert first_view == set(range(100))

    # frozen-centers sidecar: second load must not refit
    c1 = _load_or_fit_centers(spark, corpus_dir, nlist=4, seed=42)
    sidecar = os.path.join(corpus_dir, "centers_nlist4_seed42.json")
    assert os.path.exists(sidecar)
    mtime = os.path.getmtime(sidecar)
    c2 = _load_or_fit_centers(spark, corpus_dir, nlist=4, seed=42)
    assert c2 == c1  # bit-exact round trip
    assert os.path.getmtime(sidecar) == mtime  # loaded, not refit
    # RE-seeding must drop EVERYTHING derived from the old seed: the
    # codebook sidecar (stale centers would silently cluster the new
    # corpus with the old codebook) AND the survivors partitions
    # (admitted under the old seed's dedup decisions — review r12 #2)
    seed_corpus(spark, corpus_dir, emb.filter(F.col("vec_id") < 50))
    assert not os.path.exists(sidecar)
    assert not os.path.exists(os.path.join(corpus_dir, "survivors"))
    assert {
        r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()
    } == set(range(50))


def test_ingest_zero_survivor_batch_does_not_wedge_corpus(spark, tmp_path):
    """Advice r12: a micro-batch whose rows are ALL duplicates (realistic
    under at-least-once redelivery of an already-ingested file) writes a
    survivors/ directory containing only a _SUCCESS marker; read_corpus
    must treat that file-less directory as an empty relation (explicit
    schema, never inference) so the corpus stays readable and the NEXT
    batch still ingests."""
    import time

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from data_warehouse_product_mix_clustering_spark.streaming.ingest import (
        read_corpus,
        seed_corpus,
        streaming_semantic_ingest,
    )
    from conftest import SF_SMOKE

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    seed_df = emb.filter(F.col("vec_id") < 100)
    corpus_dir = str(tmp_path / "corpus")
    landing = tmp_path / "landing"
    landing.mkdir()
    seed_corpus(spark, corpus_dir, seed_df)

    # batch 1: every row is a seed vector under a new id — cosine 1.0
    # against its original, so ZERO survivors at any threshold
    dup_batch = seed_df.limit(5).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    dup_batch.toPandas().to_parquet(str(landing / "b1.parquet"), index=False)
    n = streaming_semantic_ingest(
        spark, str(landing), corpus_dir, str(tmp_path / "ckpt"),
        nlist=4, threshold=0.4, seed=42,
    )
    assert n == 1
    seed_ids = {r["vec_id"] for r in seed_df.collect()}
    # the wedge: this read failed schema inference before the fix
    assert {
        r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()
    } == seed_ids

    # batch 2 (fresh vectors) must still ingest through the empty dir
    time.sleep(1.1)
    b2 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 120))
    b2.toPandas().to_parquet(str(landing / "b2.parquet"), index=False)
    n2 = streaming_semantic_ingest(
        spark, str(landing), corpus_dir, str(tmp_path / "ckpt"),
        nlist=4, threshold=0.4, seed=42,
    )
    assert n2 == 1
    got = {r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()}
    assert seed_ids <= got and got - seed_ids  # some b2 rows survived
    assert not any(v >= 90000 for v in got)  # dup batch stayed empty


def test_ingest_reseed_with_stale_checkpoint_refuses_loudly(spark, tmp_path):
    """Review r13 (VERDICT r12 #7): seed_corpus documents that a reused
    checkpoint after a re-seed skips files ingested under the old regime
    — now it's ENFORCED: the checkpoint records its seed epoch and a
    mismatch raises instead of silently under-ingesting; a fresh
    checkpoint directory proceeds."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from data_warehouse_product_mix_clustering_spark.streaming.ingest import (
        read_corpus,
        seed_corpus,
        seed_epoch,
        streaming_semantic_ingest,
    )
    from conftest import SF_SMOKE

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    corpus_dir = str(tmp_path / "corpus")
    landing = tmp_path / "landing"
    landing.mkdir()
    seed_corpus(spark, corpus_dir, emb.filter(F.col("vec_id") < 100))
    assert seed_epoch(corpus_dir) == 1
    emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)).toPandas(
    ).to_parquet(str(landing / "b1.parquet"), index=False)
    ckpt = str(tmp_path / "ckpt")
    assert streaming_semantic_ingest(
        spark, str(landing), corpus_dir, ckpt,
        nlist=4, threshold=0.4, seed=42,
    ) == 1

    # re-seed bumps the epoch; the old checkpoint must refuse
    seed_corpus(spark, corpus_dir, emb.filter(F.col("vec_id") < 50))
    assert seed_epoch(corpus_dir) == 2
    with _pytest.raises(RuntimeError, match="re-seeded"):
        streaming_semantic_ingest(
            spark, str(landing), corpus_dir, ckpt,
            nlist=4, threshold=0.4, seed=42,
        )
    # corpus untouched by the refused run; a fresh checkpoint ingests
    assert {
        r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()
    } == set(range(50))
    assert streaming_semantic_ingest(
        spark, str(landing), corpus_dir, str(tmp_path / "ckpt2"),
        nlist=4, threshold=0.4, seed=42,
    ) == 1


def test_stream_gated_corpus_audit_dry_run(spark):
    """plans/pipeline/manifest.py::stream_gated_corpus_audit (registered r14) —
    all seven contract booleans hold at smoke SF: streamed survivors
    equal the batch gated_corpus, the incrementally-summed gate log
    equals the batch waterfall (corpus-wide AND per-source), the mixture
    derived from the log alone equals the registered
    source_mixture_weights, checkpoint rerun is a no-op, same-batch
    replay is idempotent, and the injected cross-batch duplicate drops
    at the dedup stage."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import stream_gated_corpus_audit
    from conftest import SF_SMOKE

    row = stream_gated_corpus_audit(spark, SF_SMOKE).collect()[0]
    assert row.matches_batch
    assert row.waterfall_consistent
    assert row.by_source_consistent
    assert row.mixture_matches_batch
    assert row.rerun_is_noop
    assert row.replay_idempotent
    assert row.dedup_bites


def test_read_source_mixture_matches_batch_weights(spark, tmp_path):
    """streaming/corpus_ingest.py::read_source_mixture — the mixture
    derived from the incrementally-maintained gate log (zero corpus
    re-scan) equals plans/pipeline/corpus.py::source_mixture_weights computed
    over the same documents, after two batches whose union (post-dedup)
    is exactly the documents relation (VERDICT r13 brief #5)."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import source_mixture_weights
    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from data_warehouse_product_mix_clustering_spark.streaming.corpus_ingest import (
        gated_ingest_batch,
        read_source_mixture,
    )
    from conftest import SF_SMOKE

    corpus_dir = str(tmp_path / "corpus")
    docs = table(spark, "documents", SF_SMOKE).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    knobs = dict(lang="en", quality_min=0.3, tok_lo=5, tok_hi=500)
    gated_ingest_batch(
        spark, docs.filter(F.col("doc_id") < 200), 0, corpus_dir, **knobs
    )
    gated_ingest_batch(
        spark, docs.filter(F.col("doc_id") >= 200), 1, corpus_dir, **knobs
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(read_source_mixture(spark, corpus_dir))
    want = rows(source_mixture_weights(spark, SF_SMOKE))
    assert got == want


def test_gated_ingest_zero_survivor_batch_does_not_wedge(spark, tmp_path):
    """A micro-batch whose rows ALL fail the gates (wrong language)
    writes a file-less survivors partition; every later read and batch
    must keep working (the r12 zero-survivor lesson, applied to the
    gated stores from day one: explicit schemas everywhere). Also pins
    that the gate log still records the batch (attrition accounting
    covers fully-rejected batches) and that the seen store still dedups
    against it."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.streaming.corpus_ingest import (
        gated_ingest_batch,
        read_gate_waterfall,
        read_gated_corpus,
    )

    corpus_dir = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(1, "der rote fuchs springt", "de", "s0", 22),
         (2, "die katze schlaeft gern", "de", "s0", 23)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    gated_ingest_batch(
        spark, docs, 0, corpus_dir,
        lang="en", quality_min=0.0, tok_lo=1, tok_hi=100,
    )
    # zero survivors, but reads keep working and the log recorded it
    assert read_gated_corpus(spark, corpus_dir).count() == 0
    wf = {r["stage"]: r["n_docs"] for r in read_gate_waterfall(spark, corpus_dir).collect()}
    assert wf["ingested"] == 2 and wf["lang"] == 0 and wf["token_budget"] == 0
    # a later batch still ingests, and dedups against the REJECTED batch's
    # seen fingerprints (batch semantics: a seen doc's duplicate drops
    # even though the original never survived)
    batch2 = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog near the red barn today", "en", "s0", 68),
         (4, "der rote fuchs springt", "en", "s0", 22)],  # dup text of doc 1
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    gated_ingest_batch(
        spark, batch2, 1, corpus_dir,
        lang="en", quality_min=0.0, tok_lo=1, tok_hi=100,
    )
    ids = {r["doc_id"] for r in read_gated_corpus(spark, corpus_dir).collect()}
    assert 3 in ids and 4 not in ids, ids
    wf2 = {r["stage"]: r["n_docs"] for r in read_gate_waterfall(spark, corpus_dir).collect()}
    assert wf2["ingested"] == 4 and wf2["deduped"] == 3


def test_worker_kernels_import_from_any_driver_cwd():
    """Regression for the cwd-dependent worker-import bug (round 15):
    executor python workers unpickle stateful/Arrow kernels by module
    reference, which only resolved when the driver ran from the repo
    root. sources/registry.py::_ensure_worker_imports must make a
    streaming query work in a FRESH process whose cwd is /tmp and whose
    only link to the repo is a sys.path insert."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prog = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "    .config('spark.sql.shuffle.partitions','4')\n"
        "    .config('spark.sql.session.timeZone','UTC')\n"
        "    .config('spark.ui.enabled','false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from data_warehouse_product_mix_clustering_spark.plans.events import events_stream_sessions\n"
        "n = events_stream_sessions(spark, %r).count()\n"
        "assert n > 0, n\n"
        "print('OK', n)\n"
    ) % (repo, "/root/testdata/sf0.001")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # the bug hid behind inherited paths
    }
    out = subprocess.run(
        [sys.executable, "-c", prog],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-2000:]


def test_worker_import_shim_failure_warns_and_retries(spark, monkeypatch):
    """ADVICE r15: a transient zip-ship failure must not silently and
    permanently disable the worker-import shim. Contract: each failed
    attempt emits a RuntimeWarning and leaves the appId un-cached so the
    next table() call retries; retries are bounded (no warning storm on
    a persistently broken host); a later success ships and caches."""
    import warnings
    import zipfile

    from data_warehouse_product_mix_clustering_spark.sources import registry as reg

    app_id = spark.sparkContext.applicationId
    saved_shipped = set(reg._PYFILES_SHIPPED)
    saved_failed = dict(reg._PYFILES_FAILED)
    try:
        reg._PYFILES_SHIPPED.discard(app_id)
        reg._PYFILES_FAILED.pop(app_id, None)

        def boom(*a, **k):
            raise OSError("disk full (simulated)")

        monkeypatch.setattr(zipfile, "ZipFile", boom)
        for attempt in (1, 2):
            with warnings.catch_warnings(record=True) as rec:
                warnings.simplefilter("always")
                reg._ensure_worker_imports(spark)
            msgs = [str(w.message) for w in rec]
            assert any("worker-import shim" in m for m in msgs), msgs
            assert app_id not in reg._PYFILES_SHIPPED
            assert reg._PYFILES_FAILED[app_id] == attempt

        # Exhaust the retry budget: attempt 3 warns, attempt 4 is silent.
        with warnings.catch_warnings(record=True):
            warnings.simplefilter("always")
            reg._ensure_worker_imports(spark)
        assert reg._PYFILES_FAILED[app_id] == reg._PYFILES_MAX_ATTEMPTS
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            reg._ensure_worker_imports(spark)
        assert not rec and app_id not in reg._PYFILES_SHIPPED

        # Recovery: reset the budget (fresh appId in real life), unbreak
        # the zip — the shim ships and caches.
        monkeypatch.undo()
        reg._PYFILES_FAILED.pop(app_id, None)
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            reg._ensure_worker_imports(spark)
        assert not rec and app_id in reg._PYFILES_SHIPPED
    finally:
        # Restore the saved state VERBATIM (ADVICE r16): unconditionally
        # marking app_id as shipped here would lie if the recovery step
        # above failed before actually shipping, and every later
        # worker-UDF test in this session would run without the package
        # zip (confusing ModuleNotFoundErrors far from the cause).
        reg._PYFILES_SHIPPED.clear()
        reg._PYFILES_SHIPPED.update(saved_shipped)
        reg._PYFILES_FAILED.clear()
        reg._PYFILES_FAILED.update(saved_failed)
        reg._PYFILES_FAILED.pop(app_id, None)
    # Outside the monkeypatched region: genuinely re-ship (no-op if the
    # recovery step already cached this appId via saved state).
    reg._ensure_worker_imports(spark)
    assert app_id in reg._PYFILES_SHIPPED


def test_stream_hourly_matches_raw_parquet_python_fold(spark):
    """THIRD-PATH pin for the streaming family (VERDICT r16 brief #5):
    ``events_stream_hourly`` — the Structured Streaming availableNow
    replay of the tumbling hourly agg — recomputed from the RAW parquet
    by a plain python dict fold shared with NEITHER engine: pyarrow
    reader, datetime.replace hour truncation, float accumulate, the
    2-dp nudge round. The existing streaming check is replay ≡ batch;
    this one pins that BOTH agree with an implementation that never
    touches Spark window/grouping code or DuckDB date_trunc."""
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.plans.events import events_stream_hourly

    tbl = pq.read_table(
        f"{SF_SMOKE}/events.parquet", columns=["ts", "event_type", "value"]
    )
    want: dict[tuple, list] = {}
    for ts, et, v in zip(
        tbl.column("ts").to_pylist(),
        tbl.column("event_type").to_pylist(),
        tbl.column("value").to_pylist(),
    ):
        key = (ts.replace(minute=0, second=0, microsecond=0), et)
        acc = want.setdefault(key, [0, 0.0])
        acc[0] += 1
        acc[1] += v
    expected = {
        k: (n, round(s + 1e-9, 2)) for k, (n, s) in want.items()
    }

    got = {
        (r["window_start"], r["event_type"]): (
            int(r["n_events"]),
            float(r["sum_value"]),
        )
        for r in events_stream_hourly(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_stream_dsir_ingest_audit_contract(spark):
    """plans/pipeline/dsir.py::stream_dsir_ingest_audit (r17) — all five
    contract booleans TRUE at sf0.001: the landing-feed drain with a
    mid-stream compaction maintains models ≡ batch exactly, scores
    reproduce doc_dsir_weight bit-for-bit, the fold really happened in
    the loop, the checkpointed rerun is a zero-batch no-op, and a
    folded-batch replay cannot double-count."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import stream_dsir_ingest_audit

    row = stream_dsir_ingest_audit(spark, SF_SMOKE).collect()[0]
    assert all(row.asDict().values()), row.asDict()
