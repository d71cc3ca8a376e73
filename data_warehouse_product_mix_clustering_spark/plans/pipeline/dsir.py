"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
hashed n-gram importance weights, the selected corpus, the per-source
view, the quality-ranked budget fill, the incremental model store
audit, and the selection -> packing composition.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import (
    ratio_round,
    sql_ratio_round,
)
from data_warehouse_product_mix_clustering_spark.functions.text import (
    sql_quality_score,
    sql_tokens,
    sql_word_ngrams,
    quality_score,
    tokens,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.sources.registry import table
from data_warehouse_product_mix_clustering_spark.plans.pipeline.mixture import (
    _budget_allocation_oracle,
    source_budget_allocation,
)
from data_warehouse_product_mix_clustering_spark.plans.pipeline.packing import (
    CONTEXT_LEN,
)


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al., NeurIPS 2023).
# The mixture family answers "how much per SOURCE"; DSIR answers "which
# DOCUMENTS": score every raw doc by how target-like its hashed n-gram
# profile is — log p_target(doc)/p_raw(doc) under two bag-of-hashed-ngrams
# unigram models — and keep the docs the target model prefers. The hash
# trick is what makes it a 100 TB operator: the feature space is FIXED at
# 16^DSIR_HEX buckets regardless of corpus vocabulary, so both models are
# broadcast-sized BY CONSTRUCTION (vs the LM ladder's vocabulary-sized
# relations). Engine-portable hashing via the fingerprint discipline
# (functions/text.py:101): bucket = substr(md5(feature), 1, DSIR_HEX) — a
# STRING bucket key both engines compute bit-identically, no hex→int
# dialect split.
# ---------------------------------------------------------------------------

from data_warehouse_product_mix_clustering_spark.operators.dsir import (
    DSIR_A,
    DSIR_HEX,
)


def _dsir_oracle() -> str:
    from data_warehouse_product_mix_clustering_spark.plans.text import CORPUS_LANG, QUALITY_MIN

    m = 16**DSIR_HEX
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, {sql_tokens("text")} AS t FROM documents
        ), feats AS (
            SELECT doc_id, unnest(t) AS feat FROM toks
            UNION ALL
            SELECT doc_id, unnest({sql_word_ngrams("t", 2)}) AS feat FROM toks
        ), fc AS (
            SELECT doc_id, substr(md5(feat), 1, {DSIR_HEX}) AS bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM feats GROUP BY 1, 2
        ), nz AS (
            SELECT doc_id, lang, t FROM toks WHERE len(t) > 0
        ), tgt AS (
            SELECT doc_id FROM nz
            WHERE lang = '{CORPUS_LANG}'
              AND {sql_quality_score('t')} >= {QUALITY_MIN}
        ), rawm AS (
            SELECT bucket, CAST(sum(c) AS BIGINT) AS cr FROM fc GROUP BY 1
        ), tgtm AS (
            SELECT bucket, CAST(sum(c) AS BIGINT) AS ct
            FROM fc JOIN tgt USING (doc_id) GROUP BY 1
        ), nt AS (
            SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS n FROM tgtm
        ), nr AS (
            SELECT CAST(sum(cr) AS DOUBLE) AS n FROM rawm
        ), llr AS (
            SELECT r.bucket,
                   log2((coalesce(t.ct, 0) + {DSIR_A}) / (nt.n + {DSIR_A} * {m}))
                   - log2((r.cr + {DSIR_A}) / (nr.n + {DSIR_A} * {m})) AS llr
            FROM rawm r LEFT JOIN tgtm t USING (bucket), nt, nr
        ), scored AS (
            SELECT fc.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
                   {sql_ratio_round("sum(c * llr)")} AS dsir_logw,
                   {sql_ratio_round("sum(c * llr) / sum(c)")} AS dsir_logw_rate
            FROM fc JOIN llr USING (bucket) GROUP BY 1
        ), cut AS (
            SELECT {sql_ratio_round("avg(dsir_logw_rate)")} AS mu FROM scored
        )
        SELECT d.doc_id, d.source,
               CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
               coalesce(s.dsir_logw, 0.0) AS dsir_logw,
               coalesce(s.dsir_logw_rate, 0.0) AS dsir_logw_rate,
               coalesce(s.dsir_logw_rate > cut.mu, FALSE) AS dsir_selected
        FROM documents d LEFT JOIN scored s USING (doc_id), cut
    """


def _dsir_feature_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, c) — operators/dsir.py::feature_counts on the
    documents schema (hashing/counting core factored out r14 so the
    incremental model store shares one implementation)."""
    from data_warehouse_product_mix_clustering_spark.operators.dsir import feature_counts

    return feature_counts(docs)


def _dsir_target(docs: DataFrame) -> DataFrame:
    """(doc_id,): the DSIR target slice — the ``training_corpus``
    language+quality gate (metadata lang + quality score), the corpus
    policy the operators/dsir.py core deliberately does not know."""
    from data_warehouse_product_mix_clustering_spark.plans.text import CORPUS_LANG, QUALITY_MIN

    t = docs.select("doc_id", "lang", tokens(F.col("text")).alias("t"))
    return (
        t.filter(F.size("t") > 0)
        .filter(
            (F.col("lang") == CORPUS_LANG)
            & (quality_score(F.col("t")) >= QUALITY_MIN)
        )
        .select("doc_id")
    )


@register("doc_dsir_weight", oracle=_dsir_oracle())
def doc_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per raw document, the
    log-likelihood ratio of its hashed n-gram (unigram+bigram) bag under
    a TARGET bag-of-buckets unigram model vs the RAW-corpus model, both
    additive-smoothed over the fixed 4096-bucket hashed feature space.
    Target slice = the ``training_corpus`` language+quality gate (the
    engine's stand-in for the paper's formal-text target); raw = every
    document. ``dsir_logw_rate`` is the PER-FEATURE log ratio (the raw
    sum is length-shifted: every feature pays a smoothing toll, so long
    docs drift negative regardless of affinity — measured 5-8 bits of
    en-vs-rest separation under a length-proportional shift at both test
    SFs); ``dsir_selected`` keeps docs whose rate beats the corpus mean
    rate — ONE broadcast scalar, no global quantile window, the
    deterministic stand-in for the paper's Gumbel resampling. Rescues
    target-like docs the heuristic gate rejected and flags gate-passing
    docs whose n-gram profile is raw-like: the learned complement to the
    rule-based gate, and the per-document counterpart of the per-source
    DoReMi reweight.

    Determinism: both models derive from exact integer bucket counts,
    so each bucket's log-ratio is the identical double on both engines;
    the per-doc sum, its rate, and the mean cutoff are each 6-dp
    ratio-rounded before the strict > decision, so a summation-order
    last-ulp cannot flip selection on any engine.

    Scale: the feature relation is ONE (doc_id, bucket) shuffle of the
    corpus token scan; both models are ≤ 4096-row aggregates of it —
    broadcast-sized BY CONSTRUCTION (the DSIR hash trick); scoring is a
    broadcast join + one per-doc re-aggregation; the final attach is a
    doc_id equi-join. No vocabulary-sized relation anywhere, no global
    window, no Python. Mirrors the reference's driver-side scoring
    loops (src/pipelines, SURVEY §2.8) re-expressed as set operations."""
    from data_warehouse_product_mix_clustering_spark.operators.dsir import dsir_models, dsir_score

    docs = table(spark, "documents", sf_dir)
    fc = _dsir_feature_counts(docs).localCheckpoint(eager=True)
    rawm, tgtm = dsir_models(fc, _dsir_target(docs))
    return dsir_score(docs.select("doc_id", "source"), fc, rawm, tgtm)


def _dsir_corpus_oracle() -> str:
    return f"""
        WITH dsir AS ({_dsir_oracle()})
        SELECT doc_id, source, dsir_logw_rate
        FROM dsir WHERE dsir_selected
    """


@register("training_corpus_dsir", oracle=_dsir_corpus_oracle())
def training_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection APPLIED: the corpus kept by ``doc_dsir_weight``'s
    importance-resampling rule (per-feature log-ratio rate above the
    corpus mean — the deterministic stand-in for the paper's Gumbel
    draw), carrying the rate for downstream weighting. The learned
    per-DOCUMENT counterpart of ``training_corpus_resampled``'s
    per-SOURCE thinning: same composition seam (doc_id+source corpus
    rows), so the mixture/packing tail composes over either.

    Scale: exactly ``doc_dsir_weight``'s plan (one (doc_id, bucket)
    shuffle, broadcast models) plus a per-row filter — nothing new
    materializes."""
    d = doc_dsir_weight(spark, sf_dir)
    return d.filter(F.col("dsir_selected")).select(
        "doc_id", "source", "dsir_logw_rate"
    )


def _collect_models(rawm, tgtm):
    """Driver-side model snapshot for the DSIR audits — two ≤4096-row
    collects (the fixed 16^DSIR_HEX feature space bounds both)."""
    r = {row["bucket"]: row["cr"] for row in rawm.collect()}
    t = {row["bucket"]: row["ct"] for row in tgtm.collect()}
    return r, t


@register("dsir_incremental_audit", oracle="""
    SELECT TRUE AS models_match_batch, TRUE AS scores_match_batch,
           TRUE AS replay_idempotent, TRUE AS empty_batch_noop,
           TRUE AS deltas_bounded
""")
def dsir_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for the incremental DSIR model store
    (operators/dsir.py) — the maintenance path a continuously-ingesting
    corpus uses instead of re-reading 100 TB per model refresh:

    - ``models_match_batch``: after ingesting the corpus as three
      doc_id-sliced batches, the store-derived (rawm, tgtm) equal the
      batch-built models EXACTLY (integer counts — no tolerance);
    - ``scores_match_batch``: scoring the corpus against the
      store-derived models reproduces the registered
      ``doc_dsir_weight`` output bit-for-bit (weights, rates, AND the
      selection flags);
    - ``replay_idempotent``: re-ingesting the last batch (an
      at-least-once delivery) leaves the models unchanged — dynamic
      partition overwrite replaces exactly that batch's delta;
    - ``empty_batch_noop``: an all-filtered batch (zero docs) ingests
      cleanly and changes nothing — the explicit-schema read survives
      the file-less partition (the r12 zero-survivor lesson);
    - ``deltas_bounded``: every delta partition holds ≤ 16^DSIR_HEX
      rows — the O(buckets), not O(batch-vocabulary), write bound the
      hash trick guarantees.

    Bounds: model comparisons collect ≤ 4096-row relations; the score
    comparison collects the documents-table-sized output (bounded audit
    ground truth, the stream_gated_corpus_audit discipline)."""
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.dsir import (
        DSIR_HEX,
        dsir_models,
        dsir_score,
        ingest_dsir_batch,
        read_dsir_deltas,
        read_dsir_models,
    )

    docs = table(spark, "documents", sf_dir)
    tgt = _dsir_target(docs).localCheckpoint(eager=True)
    store = tempfile.mkdtemp(prefix="spark_graft_dsir_store_")

    try:
        for b in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            ingest_dsir_batch(store, b, batch, tgt)

        fc = _dsir_feature_counts(docs).localCheckpoint(eager=True)
        want_r, want_t = _collect_models(*dsir_models(fc, tgt))
        got_r, got_t = _collect_models(*read_dsir_models(spark, store))
        models_match_batch = got_r == want_r and got_t == want_t

        rawm_s, tgtm_s = read_dsir_models(spark, store)
        got_scores = (
            dsir_score(docs.select("doc_id", "source"), fc, rawm_s, tgtm_s)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want_scores = (
            doc_dsir_weight(spark, sf_dir)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        scores_match_batch = got_scores.equals(want_scores)

        ingest_dsir_batch(
            store, 2, docs.filter(F.col("doc_id") % 3 == 2), tgt
        )
        re_r, re_t = _collect_models(*read_dsir_models(spark, store))
        replay_idempotent = re_r == want_r and re_t == want_t

        empty = spark.createDataFrame([], docs.schema)
        ingest_dsir_batch(store, 3, empty, tgt)
        e_r, e_t = _collect_models(*read_dsir_models(spark, store))
        empty_batch_noop = e_r == want_r and e_t == want_t

        per_batch = (
            read_dsir_deltas(spark, store)
            .groupBy("__batch_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        deltas_bounded = all(r["n"] <= 16**DSIR_HEX for r in per_batch)
    finally:
        shutil.rmtree(store, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                bool(models_match_batch),
                bool(scores_match_batch),
                bool(replay_idempotent),
                bool(empty_batch_noop),
                bool(deltas_bounded),
            )
        ],
        "models_match_batch boolean, scores_match_batch boolean, "
        "replay_idempotent boolean, empty_batch_noop boolean, "
        "deltas_bounded boolean",
    )


def _dsir_by_source_oracle() -> str:
    return f"""
        WITH dsir AS ({_dsir_oracle()})
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (dsir_selected) AS BIGINT) AS n_selected,
               {sql_ratio_round(
                   "count(*) FILTER (dsir_selected) * 1.0 / count(*)"
               )} AS keep_rate,
               {sql_ratio_round("avg(dsir_logw_rate)")} AS mean_logw_rate
        FROM dsir GROUP BY source
    """


@register("source_dsir_mixture", oracle=_dsir_by_source_oracle())
def source_dsir_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE view of the DSIR gate — what fraction of each source
    the importance-resampling rule keeps and its mean target-affinity
    rate. The bridge between per-doc DSIR and the per-source mixture
    family: where ``source_mixture_temperature`` asks "how much per
    source" from SIZE and ``source_mixture_doremi`` from LM loss, this
    reads the realized answer off the learned per-doc gate — the table
    a recipe owner checks before swapping the temperature mixture for
    DSIR selection (does it starve a source?).

    Scale: ``doc_dsir_weight``'s plan + one |sources|-row aggregate —
    nothing new materializes; mean-of-snapped-rates re-snapped (both
    engines)."""
    d = doc_dsir_weight(spark, sf_dir)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("dsir_selected").cast("long"))
        .cast("long")
        .alias("n_selected"),
        ratio_round(
            F.sum(F.col("dsir_selected").cast("long")) / F.count(F.lit(1))
        ).alias("keep_rate"),
        ratio_round(F.avg("dsir_logw_rate")).alias("mean_logw_rate"),
    )


def _dsir_budgeted_oracle() -> str:
    return f"""
        WITH dsir AS ({_dsir_oracle()}),
        allocq AS ({_budget_allocation_oracle()}),
        sized AS (
            SELECT doc_id,
                   CAST(len({sql_tokens("text")}) AS BIGINT) AS n_tokens
            FROM documents
        ), rows_ AS (
            SELECT d.doc_id, d.source, d.dsir_logw_rate, s.n_tokens
            FROM dsir d JOIN sized s USING (doc_id)
        ), ranked AS (
            SELECT *,
                   CAST(row_number() OVER (
                        PARTITION BY source
                        ORDER BY dsir_logw_rate DESC, doc_id
                   ) AS BIGINT) AS src_rank,
                   CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source
                        ORDER BY dsir_logw_rate DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS prior_tokens
            FROM rows_
        )
        SELECT doc_id, source, n_tokens, dsir_logw_rate, src_rank
        FROM ranked JOIN allocq USING (source)
        WHERE prior_tokens < alloc_tokens
    """


@register("training_corpus_dsir_budgeted", oracle=_dsir_budgeted_oracle())
def training_corpus_dsir_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked budget fill — three families composed: each
    source's water-filling token allocation
    (``source_budget_allocation``) is spent on that source's BEST
    documents by DSIR target-affinity (``doc_dsir_weight``), greedily
    in (rate DESC, doc_id) order until the allocation is exhausted
    (a document is taken while its source's prior-token total is still
    under the allocation — the straddling doc is kept, so every
    positive allocation fills). Where ``training_corpus_budgeted``
    realizes the budget by HASH-rate thinning (unbiased, quality-blind),
    this is the "fill the budget with your best data" recipe.

    Determinism: the per-source order (6-dp-snapped rate, doc_id
    tie-break) is total; running token sums are exact integers; the
    keep comparison is integer < integer — both engines cut the same
    docs. The oracle states the semantics as per-source windows; the
    Spark plan computes the SAME ranks and running sums with the
    no-window machinery (global distributed rank+running over
    (source, rate DESC, doc_id) minus per-source broadcast offsets —
    ``_interleave_rank``'s trick widened to weights), so no source
    funnels through one partition at any scale.

    Scale: DSIR's plan + one distributed rank/running pass (one range
    partitioning, one ≤P-row collect) + two dimension-sized broadcast
    joins."""
    from data_warehouse_product_mix_clustering_spark.operators.packing import with_rank_and_running

    alloc = source_budget_allocation(spark, sf_dir).select(
        "source", "alloc_tokens"
    )
    docs = table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    rows = (
        doc_dsir_weight(spark, sf_dir)
        .select("doc_id", "source", "dsir_logw_rate")
        .join(sized, "doc_id")
    )
    order = [
        F.col("source"),
        F.col("dsir_logw_rate").desc(),
        F.col("doc_id"),
    ]
    ranked = with_rank_and_running(
        rows.withColumn("__one", F.lit(1).cast("long")),
        order,
        "n_tokens",
        rank_col="__grk",
        running_col="__grun",
    ).drop("__pid", "__one")
    # per-source offsets of earlier sources' counts and token totals
    # (rows of one source are contiguous under source-major order)
    per_src = rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("n_tokens").cast("long").alias("__t"),
    )
    off_w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_src.select(
        "source",
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__noff"),
        F.coalesce(F.sum("__t").over(off_w), F.lit(0)).alias("__toff"),
    )
    return (
        ranked.join(F.broadcast(offsets), "source")
        .join(F.broadcast(alloc), "source")
        .withColumn("src_rank", (F.col("__grk") - F.col("__noff")).cast("long"))
        .withColumn(
            "__prior",
            (F.col("__grun") - F.col("__toff") - F.col("n_tokens")).cast("long"),
        )
        .filter(F.col("__prior") < F.col("alloc_tokens"))
        .select("doc_id", "source", "n_tokens", "dsir_logw_rate", "src_rank")
    )


def _dsir_windows_oracle() -> str:
    return f"""
        WITH corpus AS ({_dsir_budgeted_oracle()}),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(coalesce(sum(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS strt
            FROM corpus
        ), spans AS (
            SELECT doc_id, n_tokens, strt,
                   strt // {CONTEXT_LEN} AS fw,
                   (strt + n_tokens - 1) // {CONTEXT_LEN} AS lw
            FROM cum WHERE n_tokens > 0
        ), ex AS (
            SELECT doc_id, n_tokens, strt,
                   unnest(generate_series(fw, lw)) AS seq_id
            FROM spans
        )
        SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
               CAST(greatest(strt, seq_id * {CONTEXT_LEN}) - strt AS BIGINT)
                   AS slice_start,
               CAST(least(strt + n_tokens, (seq_id + 1) * {CONTEXT_LEN})
                    - greatest(strt, seq_id * {CONTEXT_LEN}) AS BIGINT)
                   AS slice_len,
               CAST(greatest(strt, seq_id * {CONTEXT_LEN})
                    - seq_id * {CONTEXT_LEN} AS BIGINT) AS seq_offset
        FROM ex
    """


@register("dsir_context_windows", oracle=_dsir_windows_oracle())
def dsir_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection→packing, end to end under ONE oracle: the quality-
    ranked budget-filled corpus (``training_corpus_dsir_budgeted`` —
    DSIR scores × water-fill allocations) concatenated in doc_id order
    and cut into context windows (``doc_context_windows``' shape). The
    whole path — hashed-model scoring, mean-rate selection, per-source
    greedy fill, distributed prefix sum, window explode — is value-
    checked as a single relation, so the composition seams (does the
    packer see exactly the selected docs? do token weights survive the
    joins?) are pinned by the driver gate, not just by each piece's own
    oracle. Same machinery, same ≤ weight/L + 1 explode bound; the
    selection stage adds no shuffle class the pieces didn't have."""
    from data_warehouse_product_mix_clustering_spark.operators.packing import context_windows

    corpus = training_corpus_dsir_budgeted(spark, sf_dir).select(
        "doc_id", "n_tokens"
    )
    return context_windows(
        corpus, order_col="doc_id", weight_col="n_tokens",
        context_len=CONTEXT_LEN,
    ).select("seq_id", "doc_id", "slice_start", "slice_len", "seq_offset")




@register("dsir_compaction_audit", oracle="""
    SELECT TRUE AS models_survive_compaction, TRUE AS log_is_single_partition,
           TRUE AS replay_folded_noop, TRUE AS ingest_after_compact_exact,
           TRUE AS recompact_noop
""")
def dsir_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``compact_dsir_store`` (operators/dsir.py) —
    the delta-log fold the store's docstring promised ("compactable by
    rewriting as one batch"), closing the maintenance loop the
    versioned sink already has (``compact_table``). Filesystem +
    generation-marker effects are not SQL-expressible, so the truth is
    the invariant set (the ``dsir_incremental_audit`` mold — bounded
    ≤4096-row collects):

    - ``models_survive_compaction``: after ingesting the corpus as
      three batches and compacting, the store-derived (rawm, tgtm)
      equal the pre-compaction (= batch-built) models EXACTLY — the
      per-bucket integer fold is associative, no tolerance;
    - ``log_is_single_partition``: the post-compaction log holds
      exactly ONE ``__batch_id`` partition with ≤ 16^DSIR_HEX rows —
      the O(buckets) footprint the fold exists to restore;
    - ``replay_folded_noop``: re-ingesting an already-folded batch id
      (at-least-once delivery straddling the compaction) changes
      nothing — the marker's ``compacted_through`` turns it into a
      no-op instead of a double-count;
    - ``ingest_after_compact_exact``: a genuinely NEW batch ingested
      after the fold lands as its own delta and the models equal the
      batch-built models over corpus + new slice — maintenance keeps
      its exact-integer contract ACROSS a compaction boundary;
    - ``recompact_noop``: compacting twice in a row reports noop=True
      the second time and leaves the models unchanged (idempotent
      operational tooling, the compact_table expectation).

    Bounds: model comparisons collect ≤4096-row relations; batch-id
    enumeration collects ≤ n_batches rows."""
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.dsir import (
        BATCH_COL,
        DSIR_HEX,
        compact_dsir_store,
        dsir_models,
        ingest_dsir_batch,
        read_dsir_deltas,
        read_dsir_models,
    )

    docs = table(spark, "documents", sf_dir)
    tgt = _dsir_target(docs).localCheckpoint(eager=True)
    store = tempfile.mkdtemp(prefix="spark_graft_dsir_compact_")

    try:
        for b in range(3):
            ingest_dsir_batch(
                store, b, docs.filter(F.col("doc_id") % 3 == b), tgt
            )
        before_r, before_t = _collect_models(*read_dsir_models(spark, store))

        res = compact_dsir_store(spark, store)
        after_r, after_t = _collect_models(*read_dsir_models(spark, store))
        models_survive_compaction = (
            not res["noop"]
            and after_r == before_r
            and after_t == before_t
        )

        per_batch = (
            read_dsir_deltas(spark, store)
            .groupBy(BATCH_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        log_is_single_partition = len(per_batch) == 1 and all(
            r["n"] <= 16**DSIR_HEX for r in per_batch
        )

        # replay of a folded id straddles the compaction: must be a no-op
        ingest_dsir_batch(
            store, 1, docs.filter(F.col("doc_id") % 3 == 1), tgt
        )
        rp_r, rp_t = _collect_models(*read_dsir_models(spark, store))
        replay_folded_noop = rp_r == before_r and rp_t == before_t

        # a new batch (id above compacted_through) extends the store;
        # maintained must equal batch-built over corpus + new slice
        new_docs = docs.select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            "source",
            "text",
        ).filter(F.col("doc_id") % 7 == 0)
        ingest_dsir_batch(store, res["compacted_through"] + 1, new_docs, tgt)
        ext_r, ext_t = _collect_models(*read_dsir_models(spark, store))
        full = docs.select("doc_id", "source", "text").unionAll(new_docs)
        want_r, want_t = _collect_models(
            *dsir_models(_dsir_feature_counts(full), tgt)
        )
        ingest_after_compact_exact = ext_r == want_r and ext_t == want_t

        # fold again (now 2 partitions: folded + the new batch), then a
        # third compaction must be the idempotent no-op
        res2 = compact_dsir_store(spark, store)
        res3 = compact_dsir_store(spark, store)
        rc_r, rc_t = _collect_models(*read_dsir_models(spark, store))
        recompact_noop = (
            not res2["noop"]
            and res3["noop"]
            and rc_r == ext_r
            and rc_t == ext_t
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                bool(models_survive_compaction),
                bool(log_is_single_partition),
                bool(replay_folded_noop),
                bool(ingest_after_compact_exact),
                bool(recompact_noop),
            )
        ],
        "models_survive_compaction boolean, log_is_single_partition boolean, "
        "replay_folded_noop boolean, ingest_after_compact_exact boolean, "
        "recompact_noop boolean",
    )


@register("stream_dsir_ingest_audit", oracle="""
    SELECT TRUE AS streamed_matches_batch, TRUE AS scores_match_batch,
           TRUE AS compaction_mid_stream, TRUE AS rerun_is_noop,
           TRUE AS replay_folded_noop
""")
def stream_dsir_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end contract audit for streaming DSIR model maintenance
    (streaming/dsir_ingest.py) — the landing feed, the exact-integer
    incremental store, and the generation-marker compaction composed
    into one always-on flow (the ``stream_model_scoring_audit`` mold:
    landing feed → availableNow drain → streamed ≡ batch):

    - ``streamed_matches_batch``: after draining the corpus as three
      mtime-ordered landing slices WITH a mid-stream compaction
      (compact_every=2), the store-derived (rawm, tgtm) equal the
      batch-built models over the whole corpus EXACTLY — integer
      counts, no tolerance, the composition seams add nothing;
    - ``scores_match_batch``: scoring the corpus against the
      streamed-maintained models reproduces the registered
      ``doc_dsir_weight`` output bit-for-bit (weights, rates, AND
      selection flags);
    - ``compaction_mid_stream``: the generation marker actually
      advanced during the drain (gen ≥ 1, compacted_through = the
      second batch) and the post-drain log holds FEWER delta
      partitions than batches executed — the fold happened in the
      loop, not in a separate maintenance pause;
    - ``rerun_is_noop``: a second availableNow run over the same
      checkpoint executes ZERO batches and leaves the models
      identical;
    - ``replay_folded_noop``: re-invoking the sink verbatim for the
      FIRST batch (an at-least-once delivery straddling the
      compaction) changes nothing — the marker turns the folded
      replay into a no-op instead of a double-count.

    Bounds: model comparisons collect ≤4096-row relations; the score
    comparison collects the documents-table-sized output (bounded
    audit ground truth, the family convention)."""
    import os
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.dsir import (
        BATCH_COL,
        dsir_models,
        dsir_score,
        read_dsir_deltas,
        read_dsir_models,
    )
    from data_warehouse_product_mix_clustering_spark.operators.dsir import _read_gen
    from data_warehouse_product_mix_clustering_spark.sources.io import write_single_parquet_file
    from data_warehouse_product_mix_clustering_spark.streaming.dsir_ingest import (
        dsir_ingest_sink,
        streaming_dsir_ingest,
    )

    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="spark_graft_stream_dsir_")

    try:
        landing = os.path.join(root, "landing")
        store = os.path.join(root, "store")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(landing)
        os.makedirs(store)

        slices = [docs.filter(F.col("doc_id") % 3 == b) for b in range(3)]
        paths = [os.path.join(landing, f"b{b}.parquet") for b in range(3)]
        for df, p in zip(slices, paths):
            write_single_parquet_file(df, p)
        now = os.path.getmtime(paths[-1])
        for i, p in enumerate(paths):
            os.utime(p, (now - 10 * (len(paths) - i), now - 10 * (len(paths) - i)))

        n1 = streaming_dsir_ingest(spark, landing, store, ckpt, compact_every=2)

        fc = _dsir_feature_counts(docs).localCheckpoint(eager=True)
        tgt = _dsir_target(docs)
        want_r, want_t = _collect_models(*dsir_models(fc, tgt))
        got_r, got_t = _collect_models(*read_dsir_models(spark, store))
        streamed_matches_batch = n1 == 3 and got_r == want_r and got_t == want_t

        rawm_s, tgtm_s = read_dsir_models(spark, store)
        got_scores = (
            dsir_score(docs.select("doc_id", "source"), fc, rawm_s, tgtm_s)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want_scores = (
            doc_dsir_weight(spark, sf_dir)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        scores_match_batch = got_scores.equals(want_scores)

        gen, through = _read_gen(store)
        n_parts = (
            read_dsir_deltas(spark, store).select(BATCH_COL).distinct().count()
        )
        compaction_mid_stream = gen >= 1 and through == 1 and n_parts < n1

        n2 = streaming_dsir_ingest(spark, landing, store, ckpt, compact_every=2)
        re_r, re_t = _collect_models(*read_dsir_models(spark, store))
        rerun_is_noop = n2 == 0 and re_r == want_r and re_t == want_t

        dsir_ingest_sink(spark, store, 0, slices[0], compact_every=2)
        rp_r, rp_t = _collect_models(*read_dsir_models(spark, store))
        replay_folded_noop = rp_r == want_r and rp_t == want_t
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                bool(streamed_matches_batch),
                bool(scores_match_batch),
                bool(compaction_mid_stream),
                bool(rerun_is_noop),
                bool(replay_folded_noop),
            )
        ],
        "streamed_matches_batch boolean, scores_match_batch boolean, "
        "compaction_mid_stream boolean, rerun_is_noop boolean, "
        "replay_folded_noop boolean",
    )
