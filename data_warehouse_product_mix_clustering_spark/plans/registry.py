"""Query registry: the engine's public query surface.

Every operator family from SURVEY.md §2 is exposed as a named query:
``fn(spark, sf_dir) -> DataFrame`` (the Spark plan) plus, where the
semantics are SQL-expressible, a DuckDB ``oracle`` string over the same
parquet tables. The driver's correctness gate runs both sides at sf0.01
and hash-compares; ``__spark_entry__.py`` is a thin adapter over this
registry.

Cross-engine determinism rules (enforced by convention in every query):
- Alias every computed column identically in Spark and SQL.
- Cast counts/row_numbers to long/BIGINT on both sides (DuckDB COUNT is
  BIGINT, Spark row_number is int, DuckDB SUM(int) is HUGEINT — explicit
  casts keep schemas identical).
- Round floating aggregates: coarse (integer cents/dollars) for sums over
  many rows, 4-6 decimals for ratios — double summation order differs
  across engines, so low bits are not comparable.
- Never output raw nanosecond timestamps (Spark truncates parquet ns to µs).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    headline: bool = False  # included in bench.py's headline set
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, headline: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, headline, (fn.__doc__ or "").strip())
        return fn

    return deco


# Names surfaced FIRST by all_queries(). The driver's correctness gate runs
# (at most) the first 50 entries per round, so queries that have not yet
# received a driver CORRECTNESS row are listed here to steer coverage; the
# remaining (already driver-attested in r1/r2) queries follow in registration
# order. Ordering affects only iteration order — every query stays reachable
# by name regardless.
_DRIVER_PRIORITY: list[str] = [
    # ---- Round-19 window (positions 0-49) ----
    # Rotation hygiene (VERDICT r13 "What's wrong" #2, standing): rows-only
    # names are EXCLUDED from driver windows — they can only produce
    # `err: no_oracle` rows; their contracts ride the adjacent green
    # oracle-bearing audits. All registered rows-only queries stay
    # reachable by name and in the full sweep.
    #
    # Exactly as pre-decided in the r18 registry tail (and pinned by the
    # r18 VERDICT brief #7): the two r13-cohort leftovers lead, then the
    # two r17-registered audits that had no driver row yet
    # (dsir_compaction_audit, stream_dsir_ingest_audit), then the first
    # 46 of the 50 r14-cohort names in r14-window order (through
    # quarterly_running_revenue) — 2 + 2 + 46 fill the 50 slots exactly.
    # After this round the oracle-bearing attestation floor rises to r14
    # (exactly the four r14 leftovers below the boundary).
    "mv_rewrite_audit",
    "checked_write_audit",
    "dsir_compaction_audit",
    "stream_dsir_ingest_audit",
    "stream_gated_corpus_audit",
    "training_corpus_resampled",
    "training_corpus_resampled_repeats",
    "training_corpus_interleaved",
    "doc_length_bucket_batches",
    "batch_padding_efficiency",
    "corpus_filter_waterfall_by_source",
    "doc_context_windows_bpe_audit",
    "training_recipe_manifest_audit",
    "customer_revenue_gini_distributed",
    "basket_pagerank_audit",
    "lineitem_replica_checksum",
    "ann_recall_audit",
    "category_rollup",
    "contamination_check",
    "cube_category_priority",
    "customer_value_quartiles",
    "dedup_best_of_group",
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "dim_date_intervals",
    "doc_bpe_tokens",
    "doc_fingerprints",
    "doc_lang_id",
    "doc_quality",
    "doc_split",
    "doc_stratified_sample",
    "doc_tfidf_top_terms",
    "doc_token_stats",
    "doc_top_terms",
    "events_stream_dedup",
    "ann_index_incremental_audit",
    "dedup_span_scrub",
    "stream_refresh_audit",
    "table_compaction_audit",
    "dedup_minhash_index_audit",
    "table_stats_audit",
    "training_corpus_scrubbed",
    "bpe_train_audit",
    "bpe_encode_audit",
    "interval_join_per_product",
    "media_metadata",
    "order_priority_check",
    "order_value_histogram",
    "pivot_category_priority",
    "quarterly_running_revenue",
    # ---- window boundary ----
    # Round-20 rotation order (pre-decided): the two r18-registered
    # names without a driver row yet (doc_bm25_batch_search,
    # doc_phrase_search — pytest- + sweep-gated meanwhile) lead, then the
    # four r14-cohort leftovers (quarterly_sequences,
    # returnflag_priority_split, sequence_arrays, sequence_embeddings),
    # then the first 43 of the 50 r15-cohort names in r15-window order
    # (through product_pagination) — 2 + 4 + 43 fill 49 of the 50 slots,
    # and the 50th falls to the first unlisted query in registration
    # order; (product_search, promo_revenue_pct, quarter_rollup,
    # recent_activity, returnflag_stats, revenue_grouping_sets,
    # semi_join_large_parts) lead r21's window.
    "doc_bm25_batch_search",
    "doc_phrase_search",
    "quarterly_sequences",
    "returnflag_priority_split",
    "sequence_arrays",
    "sequence_embeddings",
    "training_batches_audit",
    "coreset_maxmin_audit",
    "source_mixture_doremi",
    "doc_quality_lm_calibration",
    "source_budget_allocation",
    "training_corpus_budgeted",
    "training_corpus_decontaminated",
    "benchmark_contamination_report",
    "benchmark_contamination_fuzzy",
    "training_corpus_decontaminated_fuzzy",
    "stream_sessions_audit",
    "training_corpus",
    "trajectory_stats",
    "value_segments_audit",
    "anti_join_inactive_customers",
    "category_pct_of_total",
    "category_values",
    "cluster_quality_audit",
    "customer_order_setops",
    "customer_revenue_distribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_audit",
    "embedding_cluster_audit",
    "events_funnel",
    "events_props_stats",
    "events_session_window",
    "events_sessions",
    "events_sliding_qtr_hour",
    "events_stream_attribution",
    "events_stream_hourly",
    "events_stream_topk",
    "events_tumbling_hourly",
    "global_metrics",
    "latest_order_top1",
    "lstm_quality_audit",
    "doc_unigram_logprob",
    "semantic_dedup_audit",
    "nation_revenue",
    "orders_above_customer_avg",
    "pca_variance_audit",
    "pricing_summary",
    "product_pagination",
]


def all_queries() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return all.

    The returned dict is ordered: ``_DRIVER_PRIORITY`` names first, then the
    rest in registration order (see the priority list's comment for why).
    """
    import data_warehouse_product_mix_clustering_spark.plans.warehouse  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.text  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.dedup  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.similarity  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.events  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.ml  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.media  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.sequences  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.sql_api  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.quality  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.pipeline  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.analytics  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.relational  # noqa: F401
    import data_warehouse_product_mix_clustering_spark.plans.mv  # noqa: F401

    prioritized = {n: _REGISTRY[n] for n in _DRIVER_PRIORITY if n in _REGISTRY}
    prioritized.update(_REGISTRY)
    return prioritized
