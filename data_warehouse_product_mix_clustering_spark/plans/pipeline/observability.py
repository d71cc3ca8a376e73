"""Corpus observability: topic-balanced sampling over embedding
clusters, Heaps-law vocabulary growth, and pairwise source-vocabulary
overlap.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import (
    ratio_round,
    sql_ratio_round,
)
from data_warehouse_product_mix_clustering_spark.functions.text import (
    sql_tokens,
    tokens,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.sources.registry import table
from data_warehouse_product_mix_clustering_spark.plans.pipeline.packing import (
    _interleave_rank,
)


TOPIC_SAMPLE_FRAC = 0.5  # target kept share of the corpus
TOPIC_K = 10  # the embedding_clusters k


# Rows-only (cluster labels are engine-hash-dependent;
# topic_balanced_corpus_audit carries the contract):
@register("topic_balanced_corpus")
def topic_balanced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced corpus sampling — the diversity knob the mixture
    family lacks: sources balance PROVENANCE, DSIR balances target
    AFFINITY, this balances CONTENT. Cluster the document embeddings
    (the registered ``embedding_clusters`` k=10 fit; vec_id ↔ doc_id —
    the ``doc_hybrid_rrf`` linkage) and keep at most
    ceil(target / k) docs per cluster by md5(doc_id) rank — so one
    dominant topic cannot crowd the sample, and small topics survive
    whole. Deterministic end to end: seeded k-means + hash-ranked
    selection, no RNG. Total kept ≤ target + k (no cross-cluster
    redistribution — recipes that must hit an exact budget compose the
    water-fill instead, ``source_budget_allocation``'s docstring).
    One row per kept doc: (doc_id, cluster, topic_rank).

    Scale: the k-means fit is ``embedding_clusters``' driver-side fit
    (capped at ``kmeans_np.DRIVER_ROWS_CAP`` vectors); ranking rides
    ``_interleave_rank`` (global distributed rank minus ≤k broadcast
    offsets — no per-cluster window funnels); the cap filter is a
    per-row comparison. Mirrors the reference's cluster-then-inspect
    loop (SURVEY §2.8) turned into a sampler."""
    import math as _math

    from data_warehouse_product_mix_clustering_spark.plans.ml import embedding_clusters

    clusters = embedding_clusters(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    n = clusters.count()
    cap = _math.ceil(TOPIC_SAMPLE_FRAC * n / TOPIC_K)
    hashed = clusters.withColumn(
        "__h", F.md5(F.col("doc_id").cast("string"))
    )
    ranked = _interleave_rank(
        hashed, "cluster", [F.col("__h"), F.col("doc_id")], "topic_rank"
    ).drop("__h")
    return ranked.filter(F.col("topic_rank") <= cap).select(
        "doc_id", "cluster", F.col("topic_rank").cast("long").alias("topic_rank")
    )


@register("topic_balanced_corpus_audit", oracle="""
    SELECT TRUE AS one_row_per_doc, TRUE AS cap_respected,
           TRUE AS ranks_are_prefix, TRUE AS rerun_identical,
           TRUE AS assignment_consistent
""")
def topic_balanced_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``topic_balanced_corpus`` (cluster labels are
    not SQL-expressible — the ``embedding_cluster_audit`` pattern):

    - ``one_row_per_doc``: kept doc_ids are distinct and a subset of
      the embedding ids;
    - ``cap_respected``: every cluster keeps EXACTLY
      min(cluster size, cap) docs — the balancing actually binds on
      clusters above the cap and spares those below it;
    - ``ranks_are_prefix``: each cluster's kept ranks are 1..kept —
      the hash order's head, no gaps (determinism of the cut);
    - ``rerun_identical``: a second full run (new k-means fit included)
      returns the identical relation;
    - ``assignment_consistent``: every kept doc's cluster equals the
      registered ``embedding_clusters`` label for that id.

    Bounds: collects are sample-sized (≤ corpus at audit SFs — the
    bounded-audit convention)."""
    import math as _math

    from data_warehouse_product_mix_clustering_spark.plans.ml import embedding_clusters

    got = {
        (r["doc_id"], r["cluster"], r["topic_rank"])
        for r in topic_balanced_corpus(spark, sf_dir).collect()
    }
    clusters = {
        r["vec_id"]: r["cluster"]
        for r in embedding_clusters(spark, sf_dir).collect()
    }
    n = len(clusters)
    cap = _math.ceil(TOPIC_SAMPLE_FRAC * n / TOPIC_K)

    kept_ids = [d for d, _, _ in got]
    one_row_per_doc = len(kept_ids) == len(set(kept_ids)) and set(
        kept_ids
    ) <= set(clusters)

    sizes: dict[int, int] = {}
    for c in clusters.values():
        sizes[c] = sizes.get(c, 0) + 1
    kept_per: dict[int, list[int]] = {}
    for _, c, rk in got:
        kept_per.setdefault(c, []).append(rk)
    cap_respected = all(
        len(kept_per.get(c, [])) == min(sz, cap) for c, sz in sizes.items()
    )
    ranks_are_prefix = all(
        sorted(rks) == list(range(1, len(rks) + 1))
        for rks in kept_per.values()
    )

    again = {
        (r["doc_id"], r["cluster"], r["topic_rank"])
        for r in topic_balanced_corpus(spark, sf_dir).collect()
    }
    rerun_identical = again == got

    assignment_consistent = all(clusters.get(d) == c for d, c, _ in got)

    return spark.createDataFrame(
        [
            (
                bool(one_row_per_doc),
                bool(cap_respected),
                bool(ranks_are_prefix),
                bool(rerun_identical),
                bool(assignment_consistent),
            )
        ],
        "one_row_per_doc boolean, cap_respected boolean, "
        "ranks_are_prefix boolean, rerun_identical boolean, "
        "assignment_consistent boolean",
    )


VOCAB_DECILES = 10


def _vocab_growth_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({sql_tokens("text")}) AS word
            FROM documents
        ), nd AS (
            SELECT count(DISTINCT doc_id) AS n FROM toks
        ), firsts AS (
            SELECT word, min(doc_id) AS first_doc,
                   CAST(count(*) AS BIGINT) AS occurrences
            FROM toks GROUP BY word
        ), ranked_docs AS (
            SELECT doc_id,
                   CAST(ntile({VOCAB_DECILES}) OVER (ORDER BY doc_id)
                        AS BIGINT) AS decile
            FROM (SELECT DISTINCT doc_id FROM toks)
        ), per AS (
            SELECT rd.decile,
                   CAST(count(f.word) AS BIGINT) AS new_words,
                   CAST(coalesce(sum(f.occurrences), 0) AS BIGINT)
                       AS new_word_occurrences
            FROM ranked_docs rd
            LEFT JOIN firsts f ON f.first_doc = rd.doc_id
            GROUP BY rd.decile
        )
        SELECT decile, new_words, new_word_occurrences,
               CAST(sum(new_words) OVER (
                    ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vocab_size
        FROM per
    """


@register("vocab_growth", oracle=_vocab_growth_oracle())
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps-law table a tokenizer budget
    is sized from): cumulative distinct-word count after each corpus
    decile (doc_id order), plus each decile's newly-introduced words
    and their total occurrences. A flattening curve says the BPE vocab
    can stop growing; a linear one says the corpus keeps minting types
    (IDs, code, noise) and the tokenizer/quality gates should look.

    The trick that makes it ONE pass instead of ten prefix scans: a
    word's contribution to every cumulative count is determined by its
    FIRST-occurrence doc alone, so distinct-per-prefix = running sum of
    first-occurrences per decile — one (word) aggregate, one
    decile-sized join + rollup, one 10-row window. The doc-decile
    split reuses the exact integer ntile arithmetic (the equi-depth
    batching machinery) on the no-window distributed rank.

    Scale: one (word) shuffle of the token scan (the LM ladder's
    class); everything after is ≤|docs|-row then ≤10-row relations. A
    100 TB corpus pays the same single token pass its unigram LM
    already pays."""
    from data_warehouse_product_mix_clustering_spark.operators.packing import (
        ntile_from_rank,
        with_rank_and_running,
    )

    docs = table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    firsts = toks.groupBy("word").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).cast("long").alias("occurrences"),
    )
    ids = toks.select("doc_id").distinct()
    ranked = with_rank_and_running(
        ids.withColumn("__one", F.lit(1).cast("long")),
        [F.col("doc_id")],
        "__one",
        rank_col="__rk",
    ).drop("__pid", "running", "__one")
    cnt = F.broadcast(ranked.agg(F.count(F.lit(1)).alias("__n")))
    deciled = ranked.crossJoin(cnt).select(
        "doc_id",
        ntile_from_rank(F.col("__rk"), F.col("__n"), VOCAB_DECILES).alias(
            "decile"
        ),
    )
    per = (
        deciled.join(
            firsts, deciled["doc_id"] == firsts["first_doc"], "left"
        )
        .groupBy("decile")
        .agg(
            F.count("word").cast("long").alias("new_words"),
            F.coalesce(F.sum("occurrences"), F.lit(0))
            .cast("long")
            .alias("new_word_occurrences"),
        )
    )
    w10 = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "new_words",
        "new_word_occurrences",
        F.sum("new_words").over(w10).cast("long").alias("vocab_size"),
    )


def _source_vocab_overlap_oracle() -> str:
    return f"""
        WITH sw AS (
            SELECT DISTINCT source, word FROM (
                SELECT source, unnest({sql_tokens("text")}) AS word
                FROM documents
            )
        ), sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n FROM sw
            GROUP BY source
        ), inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sw a JOIN sw b
              ON a.word = b.word AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT source_a, source_b, sa.n AS vocab_a, sb.n AS vocab_b,
               n_shared,
               {sql_ratio_round("n_shared / (sa.n + sb.n - n_shared)")}
                   AS vocab_jaccard
        FROM inter
        JOIN sizes sa ON source_a = sa.source
        JOIN sizes sb ON source_b = sb.source
    """


@register("source_vocab_overlap", oracle=_source_vocab_overlap_oracle())
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard — the SET-level companion to
    ``source_token_kl``'s distributional drift: KL says how differently
    two sources USE words, this says whether they share words at all.
    Low overlap between sources a mixture treats as one bucket is the
    signal to split them (distinct domains); near-1 overlap between
    sources DoReMi weights apart says the difference is usage, not
    vocabulary. One row per unordered source pair.

    Scale: the distinct (source, word) relation is ≤ |vocab|·|sources|
    rows; the pair intersection self-joins on WORD — each word fans out
    to at most |sources|² pair rows (sources are dimension-sized by
    contract), so the join is vocab-bounded, never corpus-bounded;
    sizes attach by dimension-sized broadcast joins."""
    docs = table(spark, "documents", sf_dir)
    sw = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .distinct()
        .localCheckpoint(eager=True)  # read three times below
    )
    sizes = sw.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sw.select(F.col("source").alias("source_a"), "word")
    b = sw.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    jac = ratio_round(
        F.col("n_shared")
        / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("n").alias("vocab_a")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n").alias("vocab_b")
                )
            ),
            "source_b",
        )
        .select(
            "source_a", "source_b", "vocab_a", "vocab_b", "n_shared",
            jac.alias("vocab_jaccard"),
        )
    )
