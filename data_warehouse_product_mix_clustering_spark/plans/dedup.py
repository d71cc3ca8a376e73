"""Deduplication queries over ``documents`` (training-data surface).

Exact (md5 fingerprint), n-gram Jaccard (exact, relational), MinHash-LSH
(verified candidates — same answer as exact Jaccard by construction, so it
shares the exact oracle), and SimHash (engine-hash-dependent → rows-only
check, as the driver contract allows for non-SQL-expressible ops).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.functions.numeric import (
    ratio_round,
    sql_ratio_round,
)
from data_warehouse_product_mix_clustering_spark.functions.text import (
    STOPWORDS,
    sql_bpe_tokens,
    sql_fingerprint,
    sql_quality_score,
    sql_stopword_hits,
    sql_tokens,
    sql_word_ngrams,
    quality_score,
    stopword_hits,
    tokens,
    word_ngrams,
)
from data_warehouse_product_mix_clustering_spark.operators.dedup import (
    connected_components,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    pair_intersections,
    shingle_sets,
    simhash64,
    simhash_near_pairs,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.sources.registry import table


def _shared_relation(spark: SparkSession, sf_dir: str, variant, build) -> DataFrame:
    """Session persist of one derived-from-``documents`` relation, held in
    the session store under ``variant``: the shingle width n (distinct-set
    relation) or "pos{n}" (positional relation).

    The whole dedup family starts from one such relation (tokenize →
    n-gram → explode-distinct — the dominant cost of every shingle-based
    query), so a session running several dedup queries back-to-back
    (exactly what a dedup PIPELINE does: Jaccard + containment + LSH over
    one corpus) materializes it once. MEMORY_AND_DISK: the relation is
    narrow (id + one string) and spills rather than OOMs; at 100 TB the
    equivalent is a materialized shingle table maintained alongside the
    corpus (the persist is the session-scoped stand-in)."""
    from pyspark import StorageLevel

    return state.cached(
        spark,
        "shingles",
        os.path.join(sf_dir, "documents.parquet"),
        variant,
        lambda: build().persist(StorageLevel.MEMORY_AND_DISK),
        release=state.unpersist_quietly,
    )


def shared_shingles(spark: SparkSession, sf_dir: str, n: int = 2) -> DataFrame:
    """The session's shared ``shingle_sets(documents, n)`` relation."""
    return _shared_relation(
        spark,
        sf_dir,
        n,
        lambda: shingle_sets(table(spark, "documents", sf_dir), "doc_id", "text", n),
    )


def shared_pos_shingles(spark: SparkSession, sf_dir: str, n: int = 8) -> DataFrame:
    """The session's shared POSITIONAL n-gram relation over ``documents``:
    (doc_id, gpos, shingle) with one row per occurrence (multiplicity and
    token offset preserved, unlike the distinct-set ``shared_shingles``).
    The substring-dedup family starts here — span mining aggregates it,
    span scrubbing joins the scrub list back against it — so the
    tokenize→posexplode pass (its dominant cost) materializes once per
    (session, corpus), the same catalog trade as ``shared_shingles``. At
    100 TB the equivalent is a materialized positional-shingle table
    maintained alongside the corpus; the persist is the session-scoped
    stand-in and is disk-backed (MEMORY_AND_DISK) with LRU eviction."""

    def build() -> DataFrame:
        from data_warehouse_product_mix_clustering_spark.operators.skew import fan_out

        return (
            fan_out(table(spark, "documents", sf_dir))
            .select("doc_id", tokens(F.col("text")).alias("__toks"))
            .select(
                "doc_id",
                F.posexplode(word_ngrams("__toks", n)).alias("gpos", "shingle"),
            )
        )

    return _shared_relation(spark, sf_dir, f"pos{n}", build)


def _jaccard_oracle_sql(
    pair_pred: str, a_alias: str = "doc_a", b_alias: str = "doc_b"
) -> str:
    """Bigram-Jaccard pair oracle, parameterized by the pair predicate.

    One template serves the symmetric (``a.doc_id < b.doc_id``) and
    one-sided (batch-vs-corpus) oracles so the shingling, denominator,
    rounding, and threshold semantics cannot drift apart.
    """
    return f"""
    WITH toks AS (
        SELECT doc_id, {sql_tokens("text")} AS t FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct({sql_word_ngrams("t", 2)})) AS shingle
        FROM toks
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND ({pair_pred})
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT da AS {a_alias}, db AS {b_alias},
           {sql_ratio_round("i / (sa.n + sb.n - i)")} AS jaccard
    FROM inter
    JOIN sizes sa ON da = sa.doc_id
    JOIN sizes sb ON db = sb.doc_id
    WHERE i / (sa.n + sb.n - i) >= 0.8
"""


_JACCARD_SQL = _jaccard_oracle_sql("a.doc_id < b.doc_id")


@register(
    "dedup_exact",
    oracle=f"""
        SELECT doc_id, {sql_fingerprint("text")} AS fingerprint,
               CAST(count(*) OVER (PARTITION BY {sql_fingerprint("text")}) AS BIGINT)
                   AS group_size,
               CAST(row_number() OVER (PARTITION BY {sql_fingerprint("text")}
                                       ORDER BY doc_id) AS BIGINT) AS dup_rank
        FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(normalized text) fingerprint + group size/rank.

    ``dup_rank = 1`` rows are the canonical keepers. One shuffle on the
    fingerprint regardless of corpus size.
    """
    return exact_duplicates(table(spark, "documents", sf_dir), "doc_id", "text")


@register("dedup_ngram_jaccard", oracle=_JACCARD_SQL, headline=True)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-Jaccard near-dup pairs (threshold 0.8).

    The relational formulation: explode distinct shingles → self-join on
    shingle → |A∩B| by count → Jaccard. Exact but quadratic in
    co-occurring docs; ``max_shingle_freq`` caps exist on the operator for
    the 100 TB path (not applied here so the oracle stays exact). Starts
    from the session's shared shingle relation (``shared_shingles``) like
    the rest of the family.
    """
    return jaccard_pairs(
        table(spark, "documents", sf_dir), "doc_id", "text", n=2, threshold=0.8,
        shingles=shared_shingles(spark, sf_dir),
    )


@register("dedup_minhash_lsh", oracle=_JACCARD_SQL, headline=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16×4) near-dup pairs, exact-Jaccard verified.

    Near-linear scale path: banded bucket join finds candidates
    (P(candidate | j=0.8) ≈ 0.9998), then the true Jaccard is computed for
    candidates only. Because candidates are verified, the output equals the
    exact-Jaccard result (modulo the ~2e-4 LSH false-negative rate — the
    seeded hash family is deterministic, and on this corpus it finds every
    pair, so it shares the exact oracle).
    """
    return minhash_lsh_pairs(
        table(spark, "documents", sf_dir),
        "doc_id",
        "text",
        n=2,
        threshold=0.8,
        num_hashes=64,
        bands=16,
        seed=42,
        shingles=shared_shingles(spark, sf_dir),
    )


@register("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 3 via 4×16-bit band join).

    Signature depends on Spark's xxhash64 → not SQL-oracle-expressible;
    driver records the rows-only check. Determinism is covered by unit
    tests (fixed corpus → fixed pair set).
    """
    return simhash_near_pairs(
        table(spark, "documents", sf_dir), "doc_id", "text", max_hamming=3
    )


@register(
    "dedup_simhash_audit",
    oracle="""
        SELECT TRUE AS banded_complete,
               TRUE AS hamming_ok,
               TRUE AS recall_pass
    """,
)
def dedup_simhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested SimHash quality gate (the ``ann_recall_audit``
    pattern): the oracle pins the CONTRACT, Spark computes the measured
    truth over the engine-hash-dependent pair set that ``dedup_simhash``
    itself cannot oracle-check.

    Three invariants:
    - ``banded_complete``: the 4×16-bit pigeonhole band join emits EXACTLY
      the brute-force all-pairs Hamming ≤ 3 set (the pigeonhole guarantee,
      verified against a signature cross-join — quadratic in docs, which
      is fine for an audit over the signature longs at driver SFs);
    - ``hamming_ok``: every emitted pair's recomputed XOR popcount is ≤ 3
      and doc_a < doc_b (no duplicate orientations);
    - ``recall_pass``: recall vs the exact bigram-Jaccard ≥ 0.8 ground
      truth (``dedup_ngram_jaccard``) clears 0.5 — measured 0.75 / 0.60 at
      sf0.001 / sf0.01; Hamming ≤ 3 on 64 bits is a strictly tighter
      similarity notion than Jaccard 0.8, so the floor is the honest
      deterministic curve, and a signature/banding regression drops it.
    """
    docs = table(spark, "documents", sf_dir)
    banded = simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
    banded = banded.localCheckpoint(eager=True)  # 3 consumers below

    sig = simhash64(docs, "doc_id", "text")
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        )
        .select("doc_a", "doc_b")
    )
    sym_diff = banded.select("doc_a", "doc_b").unionByName(brute).groupBy(
        "doc_a", "doc_b"
    ).agg(F.count(F.lit(1)).alias("__n")).filter(F.col("__n") != 2)

    truth = jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.8,
        shingles=shared_shingles(spark, sf_dir),
    ).select("doc_a", "doc_b")
    hits = banded.join(truth, ["doc_a", "doc_b"], "left_semi")

    checks = banded.agg(
        F.coalesce(
            F.max((F.col("hamming") > 3) | (F.col("doc_a") >= F.col("doc_b"))),
            F.lit(False),
        ).alias("__bad"),
    )
    counts = (
        sym_diff.agg(F.count(F.lit(1)).alias("__n_diff"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__n_hits")))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("__n_truth")))
        .crossJoin(checks)
    )
    return counts.select(
        (F.col("__n_diff") == 0).alias("banded_complete"),
        (~F.col("__bad")).alias("hamming_ok"),
        (F.col("__n_hits") / F.col("__n_truth") >= 0.5).alias("recall_pass"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.e, b.e) + 1e-9, 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e) + 1e-9, 6) >= 0.42
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT, blocked-matmul plan.

    Exact same answer as the naive all-pairs crossJoin, but computed as a
    blocked matrix multiply (``block_cosine_pairs``): vectors are hashed
    into B blocks, replicated N·B (not N²) through the shuffle, and each
    block-pair's cosine sub-matrix is one BLAS GEMM in an Arrow kernel.
    Exactness matters here because the synthetic corpus has a *continuous*
    cosine tail (max pair ≈0.51, background ≈0.40): no LSH banding can
    separate ≥0.42 from 0.40 with recall 1, so the scale fix must stay
    exact. For corpora with separated near-dups (real duplicate detection
    at ≥0.9), ``dedup_embedding_lsh`` below is the near-linear path.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import block_cosine_pairs

    return block_cosine_pairs(
        table(spark, "embeddings", sf_dir),
        "vec_id",
        "embedding",
        threshold=0.42,
        n_blocks=8,
    )


@register(
    "documents_dedup",
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY {sql_fingerprint("text")}
                                      ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM ranked WHERE rn = 1
    """,
)
def documents_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup op a pipeline actually materializes: the SURVIVING corpus.

    Exact dedup keeping the lowest doc_id per content fingerprint — what a
    training-data pipeline writes back out after ``dedup_exact``'s group
    report. One shuffle on the fingerprint at any scale.
    """
    docs = table(spark, "documents", sf_dir)
    ranked = exact_duplicates(docs, "doc_id", "text")
    keep = ranked.filter(F.col("dup_rank") == 1).select("doc_id")
    return (
        docs.join(keep, "doc_id", "inner")
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


@register("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via hyperplane-LSH candidates + exact verify.

    The near-linear scale path for separated corpora: self-join on banded
    sign-bit buckets → exact-cosine verify of candidates only. Recall < 1
    by construction (candidates only), so no SQL oracle — the driver
    records rows-only; pytest pins recall=1 on a planted-duplicate fixture
    and subset-of-exact on this corpus (tests/test_operators.py).
    Threshold 0.42 matches ``dedup_embedding_cosine`` so the two plans are
    directly comparable.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import lsh_cosine_pairs

    return lsh_cosine_pairs(
        table(spark, "embeddings", sf_dir),
        "vec_id",
        "embedding",
        threshold=0.42,
        dim=64,
        n_planes=64,
        bands=16,
        seed=42,
    )


@register(
    "dedup_embedding_lsh_audit",
    oracle="""
        SELECT TRUE AS subset_of_exact,
               TRUE AS pairs_valid,
               TRUE AS recall_pass
    """,
)
def dedup_embedding_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested quality gate for ``dedup_embedding_lsh`` (the
    ``ann_recall_audit`` pattern — closes the family's rows-only gap).

    Three invariants of the hyperplane-LSH near-dup path, measured in Spark
    while the oracle pins the CONTRACT:

    - ``subset_of_exact``: every LSH pair appears in the exact blocked-
      matmul pair set at the same threshold/rounding (precision 1 by
      construction — candidates are exact-cosine verified, so any novel
      pair means the verify stage broke);
    - ``pairs_valid``: every emitted pair is oriented (vec_a < vec_b) and
      its RECOMPUTED cosine clears the 0.42 threshold (a banding bug that
      leaks unverified candidates flips this);
    - ``recall_pass``: |LSH ∩ exact| / |exact| ≥ 0.6 — the honest floor on
      this continuous-tail corpus (measured 0.889 / 0.882 at sf0.001 /
      sf0.01; threshold 0.42 sits barely above the 0.40 background, the
      regime the operator docstring flags as LSH-hostile, so recall < 1 is
      expected and 0.6 catches a banding/seed regression without pinning
      noise).
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        as_double,
        cosine,
        lsh_cosine_pairs,
    )

    emb = table(spark, "embeddings", sf_dir)
    exact = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    lsh = lsh_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.42, dim=64, n_planes=64,
        bands=16, seed=42,
    ).localCheckpoint(eager=True)  # consumed by 3 aggregates below

    va = emb.select(F.col("vec_id").alias("vec_a"), as_double(F.col("embedding")).alias("__ea"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), as_double(F.col("embedding")).alias("__eb"))
    revalidated = (
        lsh.join(F.broadcast(va), "vec_a")
        .join(F.broadcast(vb), "vec_b")
        .select(
            (
                (F.col("vec_a") < F.col("vec_b"))
                & (ratio_round(cosine(F.col("__ea"), F.col("__eb"))) >= 0.42)
            ).alias("__ok")
        )
        .agg(F.coalesce(F.min("__ok"), F.lit(True)).alias("pairs_valid"))
    )
    counts = (
        lsh.agg(F.count(F.lit(1)).alias("__n_lsh"))
        .crossJoin(
            lsh.join(exact, ["vec_a", "vec_b"], "left_semi")
            .agg(F.count(F.lit(1)).alias("__n_inter"))
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__n_exact")))
        .crossJoin(revalidated)
    )
    return counts.select(
        (F.col("__n_inter") == F.col("__n_lsh")).alias("subset_of_exact"),
        F.col("pairs_valid"),
        F.coalesce(
            F.col("__n_inter") / F.col("__n_exact") >= 0.6, F.lit(False)
        ).alias("recall_pass"),
    )


@register(
    "dedup_groups",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, least(src, min(dst)) AS group_id
        FROM reach GROUP BY src
    """,
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate GROUPS from the near-dup pair graph.

    The grouping step a dedup pipeline runs after pairwise matching:
    connected components over the exact-Jaccard pairs via distributed
    min-label propagation (operators/dedup.py:connected_components),
    O(component diameter) shuffles. The oracle computes the same
    components with a recursive-CTE transitive closure — exact agreement,
    including the canonical min-id representative.
    """
    pairs = jaccard_pairs(
        table(spark, "documents", sf_dir), "doc_id", "text", n=2, threshold=0.8,
        shingles=shared_shingles(spark, sf_dir),
    )
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), F.col("group_id")
    )


@register(
    "dedup_best_of_group",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        groups AS (
            SELECT src AS doc_id, least(src, min(dst)) AS group_id
            FROM reach GROUP BY src
        ),
        toks AS (
            SELECT doc_id, {{tok}} AS t FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   {{score}} AS quality_score
            FROM toks
        ),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(g.group_id, d.doc_id) AS group_id,
                   s.quality_score
            FROM documents d
            LEFT JOIN groups g ON d.doc_id = g.doc_id
            JOIN scored s ON d.doc_id = s.doc_id
        ),
        ranked AS (
            SELECT doc_id, group_id, quality_score,
                   row_number() OVER (PARTITION BY group_id
                                      ORDER BY quality_score DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY group_id) AS n_members
            FROM labeled
        )
        SELECT group_id, doc_id AS survivor_doc_id, quality_score,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
    """.format(
        tok=sql_tokens("text"),
        score=sql_quality_score("t"),
    ),
)
def dedup_best_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: keep the BEST doc per dup group.

    Production dedup keeps the highest-quality member of each duplicate
    cluster, not the lowest id: transitive groups from the near-dup pair
    graph (min-label propagation) are joined to the doc-quality score and
    the argmax per group survives (rounded-score rank, doc_id tie-break —
    cross-engine deterministic). Singleton docs survive as their own
    group. Shuffles: the pair-graph propagation (O(diameter)) + one
    groupBy-window on group_id — no step touches full text after scoring.
    """
    docs = table(spark, "documents", sf_dir)
    # Pair source is the LSH-verified MinHash path — near-linear, the 100 TB
    # shape — whose verified output equals the exact-Jaccard pair set (same
    # reasoning as dedup_minhash_lsh sharing the exact oracle).
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, threshold=0.8,
        shingles=shared_shingles(spark, sf_dir),
    )
    comp = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), "group_id"
    )
    scored = docs.select(
        "doc_id",
        quality_score(tokens(F.col("text"))).alias("quality_score"),
    )
    labeled = (
        scored.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("group_id", "doc_id").alias("group_id"),
            "quality_score",
        )
    )
    w = Window.partitionBy("group_id")
    ranked = labeled.select(
        "doc_id",
        "group_id",
        "quality_score",
        F.row_number()
        .over(
            Window.partitionBy("group_id").orderBy(
                F.col("quality_score").desc(), F.col("doc_id")
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "group_id",
        F.col("doc_id").alias("survivor_doc_id"),
        "quality_score",
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Incremental ingestion dedup (round-7 second session): the new-batch-vs-
# corpus shapes. Batch = doc_id % 7 == 3 (~14% of docs, deterministic);
# corpus = the rest. At 100 TB the corpus side is represented by its
# persisted fingerprint / shingle-size store, not a re-scan — both plans
# only re-derive those here because the harness has no standing store.
# ---------------------------------------------------------------------------


@register(
    "dedup_incremental_exact",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id, {sql_fingerprint("text")} AS fingerprint
            FROM documents
        ),
        batch AS (
            SELECT doc_id, fingerprint,
                   row_number() OVER (PARTITION BY fingerprint
                                      ORDER BY doc_id) AS rn
            FROM fp WHERE doc_id % 7 = 3
        )
        -- NOT EXISTS (not NOT IN): mirrors left_anti's NULL semantics —
        -- a NULL fingerprint on either side never matches, so NULL-text
        -- docs survive on both engines instead of NOT IN's three-valued
        -- logic zeroing the whole result.
        SELECT doc_id, fingerprint
        FROM batch
        WHERE rn = 1
          AND NOT EXISTS (
              SELECT 1 FROM fp c
              WHERE c.doc_id % 7 <> 3 AND c.fingerprint = batch.fingerprint
          )
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup: which rows of an incoming batch survive
    against the already-ingested corpus (operators/dedup.py::
    incremental_dedup).

    Within-batch first-keeper (row_number over fingerprint), then a
    LEFT ANTI join against the corpus fingerprint set. Cost is one
    shuffle over the BATCH plus the anti join — the corpus text is never
    re-shuffled, which is the property that makes continuous ingestion
    affordable; the corpus fingerprints here come from a projection scan
    standing in for the persisted fingerprint store.
    """
    from data_warehouse_product_mix_clustering_spark.functions.text import fingerprint
    from data_warehouse_product_mix_clustering_spark.operators.dedup import incremental_dedup

    docs = table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    corpus_fp = docs.filter(F.col("doc_id") % 7 != 3).select(
        fingerprint(F.col("text")).alias("fingerprint")
    )
    return incremental_dedup(batch, corpus_fp, "doc_id", "text").select(
        "doc_id", "fingerprint"
    )


_INCREMENTAL_JACCARD_SQL = _jaccard_oracle_sql(
    "a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3", "doc_new", "doc_corpus"
)


@register("dedup_incremental_ngram", oracle=_INCREMENTAL_JACCARD_SQL)
def dedup_incremental_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs between the incoming batch and the corpus — exact
    bigram Jaccard ≥ 0.8, one-sided (operators/dedup.py::
    incremental_jaccard_pairs).

    The batch's distinct-shingle set broadcast-prunes the corpus shingle
    relation BEFORE the pair shuffle, so the only large shuffle carries
    corpus shingles co-occurring with the batch; there is no corpus
    self-join anywhere. The oracle computes the same one-sided pair set
    symmetrically — same answer, quadratic plan DuckDB can afford at
    oracle scale.
    """
    from data_warehouse_product_mix_clustering_spark.operators.dedup import incremental_jaccard_pairs

    docs = table(spark, "documents", sf_dir)
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    return incremental_jaccard_pairs(
        batch, corpus, "doc_id", "text", n=2, threshold=0.8
    )


@register(
    "dedup_overlap_coefficient",
    headline=True,
    oracle=_jaccard_oracle_sql("a.doc_id < b.doc_id").replace(
        "i / (sa.n + sb.n - i)", "i / least(sa.n, sb.n)"
    ).replace(">= 0.8", ">= 0.9").replace("AS jaccard", "AS overlap"),
)
def dedup_overlap_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient near-dups: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
    ASYMMETRIC measure that catches a short document contained inside a
    long one, which Jaccard misses (the union denominator dilutes any
    size-mismatched pair below threshold).

    Same shingle/intersection machinery as the Jaccard family (the plan
    differs only in the denominator), and the oracle is the SAME template
    with the denominator swapped — one scoring definition per engine. A
    containment pipeline runs this NEXT TO `dedup_ngram_jaccard`: equal
    sizes → both fire; contained-subset → only this one.
    """
    sh = shared_shingles(spark, sf_dir)
    # doc-count-sized; lazy-checkpointed because it feeds BOTH size joins
    # and exchange reuse does not fire across the branches (measured r19
    # — same fix as _pair_jaccard).
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n")).localCheckpoint(
        eager=False
    )
    inter = pair_intersections(sh, "doc_id")
    # alias-qualified joins of ONE sizes frame (not two renamed
    # projections), so both branches read the same checkpointed blocks.
    sa, sb = sizes.alias("__sa"), sizes.alias("__sb")
    ov = F.col("__inter") / F.least(F.col("__sa.__n"), F.col("__sb.__n"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("__sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("__sb.doc_id"))
        .filter(ov >= 0.9)
        .select("doc_a", "doc_b", ratio_round(ov).alias("overlap"))
    )


@register(
    "dedup_duplicated_ngrams",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {sql_tokens("text")} AS t FROM documents
        ),
        sh AS (
            SELECT doc_id, unnest({sql_word_ngrams("t", 8)}) AS shingle
            FROM toks
        ),
        per_doc AS (
            SELECT shingle, doc_id, CAST(count(*) AS BIGINT) AS occ
            FROM sh GROUP BY 1, 2
        )
        SELECT shingle,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(occ) AS BIGINT) AS n_occurrences
        FROM per_doc
        GROUP BY 1
        HAVING count(*) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, shingle
        LIMIT 25
    """,
)
def dedup_duplicated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring mining: the 8-token word n-grams
    that appear in ≥2 distinct documents, ranked by spread — the
    diagnostic behind substring-level training-data dedup (boilerplate
    headers, license blocks, templated spam all surface here before any
    pair-level similarity is computed).

    Plan: the session's shared positional 8-gram relation
    (``shared_pos_shingles`` — tokenize→posexplode materialized once per
    corpus, also consumed by the scrub step downstream), then an
    Expand-free two-level aggregate — (shingle, doc) occurrence counts
    first, then per-shingle document spread + total occurrences — so the
    count-distinct never multiplies the exploded stream. Top-25 is a
    partial top-k over the already-aggregated shingle relation. At 100 TB
    the shuffle key should be ``xxhash64(shingle)`` with the string
    re-derived for the survivors by a second filtered probe pass (carrying
    8-token strings through the full shuffle is the cost here — same
    hash-then-rehydrate trade the MinHash pipeline makes); at bench SF the
    direct string key is the honest measured plan.
    """
    return _top_spans(shared_pos_shingles(spark, sf_dir, 8), with_counts=True)


# One SQL definition of the span-scrub pipeline's shared CTE chain
# (tokenize → positional 8-grams → scrub list → hit positions → per-token
# coverage via the 7-PRECEDING window), parameterized by the scrub-list
# CTE and the keep-first policy, reused by the scrub query's oracle and
# the scrubbed-corpus composition below so the span-merge semantics
# cannot drift between them — the same one-template-many-oracles
# discipline as ``_jaccard_oracle_sql``.
def _span_scrub_ctes(scrub_cte: str, keep_first: bool = False) -> str:
    keeper_pred = " WHERE sh.doc_id <> scrub.keeper" if keep_first else ""
    return f"""
        toks AS (
            SELECT doc_id, lang, {sql_tokens("text")} AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest({sql_word_ngrams("t", 8)}) AS shingle,
                   generate_subscripts({sql_word_ngrams("t", 8)}, 1) - 1 AS gpos
            FROM toks
        ),
        scrub AS ({scrub_cte}),
        hits AS (
            SELECT DISTINCT sh.doc_id, sh.gpos
            FROM sh JOIN scrub USING (shingle){keeper_pred}
        ),
        tok AS (
            SELECT doc_id,
                   unnest(t) AS token,
                   generate_subscripts(t, 1) - 1 AS pos
            FROM toks
        ),
        marked AS (
            SELECT t.doc_id, t.pos, t.token,
                   max(CASE WHEN h.gpos IS NOT NULL THEN 1 ELSE 0 END) OVER (
                       PARTITION BY t.doc_id ORDER BY t.pos
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
                   ) AS rm
            FROM tok t
            LEFT JOIN hits h ON t.doc_id = h.doc_id AND t.pos = h.gpos
        )
"""


_TOP25_SCRUB_CTE = """
            SELECT shingle FROM (
                SELECT shingle,
                       count(*) AS n_docs,
                       sum(occ) AS n_occurrences
                FROM (
                    SELECT shingle, doc_id, count(*) AS occ
                    FROM sh GROUP BY 1, 2
                )
                GROUP BY 1
                HAVING count(*) >= 2
                ORDER BY n_docs DESC, n_occurrences DESC, shingle
                LIMIT 25
            )
"""

_FULL_KEEPER_SCRUB_CTE = """
            SELECT shingle, keeper FROM (
                SELECT shingle,
                       count(*) AS n_docs,
                       min(doc_id) AS keeper
                FROM (
                    SELECT shingle, doc_id, count(*) AS occ
                    FROM sh GROUP BY 1, 2
                )
                GROUP BY 1
                HAVING count(*) >= 2
            )
"""


def _top_spans(
    sh: DataFrame,
    min_docs: int = 2,
    k: int | None = 25,
    keep_first: bool = False,
    with_counts: bool = False,
) -> DataFrame:
    """The scrub list from a positional shingle relation: n-gram spans in
    ≥ ``min_docs`` docs, ranked by document spread and cut to the top
    ``k`` (``k=None`` keeps the full list). ``keep_first`` adds a
    ``keeper`` column (the lowest doc id holding the span — the one
    occurrence `scrub_spans` preserves); ``with_counts`` keeps the
    n_docs/n_occurrences ranking columns (the mining query's output).
    Factored so the mining query, `dedup_span_scrub`, and the
    scrubbed-corpus composition share one definition of the aggregate,
    threshold, and tie-break."""
    per_doc = sh.groupBy("shingle", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    agg = per_doc.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("occ").cast("long").alias("n_occurrences"),
        F.min("doc_id").alias("keeper"),
    ).filter(F.col("n_docs") >= min_docs)
    if k is not None:
        agg = agg.orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "shingle"
        ).limit(k)
    cols = ["shingle"]
    if keep_first:
        cols.append("keeper")
    if with_counts:
        cols += ["n_docs", "n_occurrences"]
    return agg.select(*cols)


@register(
    "dedup_span_scrub",
    oracle=f"""
        WITH {_span_scrub_ctes(_TOP25_SCRUB_CTE)}
        SELECT doc_id,
               CAST(sum(CASE WHEN rm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed_tokens,
               CAST(coalesce(sum(CASE WHEN rm = 1 THEN length(token) END), 0)
                   AS BIGINT) AS n_removed_chars,
               md5(coalesce(
                   string_agg(CASE WHEN rm = 0 THEN token END, ' '
                              ORDER BY pos), '')) AS scrubbed_md5
        FROM marked
        GROUP BY doc_id
    """,
    headline=True,
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level boilerplate scrub — the removal step downstream of
    ``dedup_duplicated_ngrams`` (VERDICT r9 Next #4): the C4/RefinedWeb-
    style pass that cuts cross-document repeated spans OUT of the
    surviving corpus rather than dropping whole documents.

    Scrub list: the mining query's exact top-25 ranking (8-token spans in
    ≥2 docs, ordered by spread). Span-merge rule, stated once and
    mirrored verbatim in the oracle: a token is removed iff it is covered
    by ANY occurrence of a scrub-list 8-gram — the union of all hit
    intervals, so overlapping/adjacent hits coalesce by construction
    (no sequential greedy state; the cross-engine trap the greedy
    left-to-right alternative would carry). Output per doc: removed
    token/char counts plus md5 of the scrubbed text (kept tokens,
    original order, single-space joined) so the oracle hashes the full
    reconstruction, not just the counts.

    Plan shape: both the mining aggregate AND the hit join start from the
    session's shared positional 8-gram relation (``shared_pos_shingles``
    — the tokenize→posexplode pass, the family's dominant cost,
    materialized once per corpus); the bounded scrub list broadcasts into
    the hit join; matched start positions collect into ONE array per doc
    (a shuffle of hit rows only) and every per-token decision is a JVM
    array lambda on the un-exploded document row — ONE fact shuffle
    end-to-end beyond the mining agg (the id-key join of toks against
    the hit arrays), no token explode, no window sort. At 100 TB the
    scrub list stays driver-free (never collected) and every per-token
    operation is a JVM expression.
    """
    from data_warehouse_product_mix_clustering_spark.operators.dedup import scrub_spans
    from data_warehouse_product_mix_clustering_spark.operators.skew import fan_out

    sh = shared_pos_shingles(spark, sf_dir, 8)
    # fan_out: the tokenize + per-token mask lambdas downstream run on
    # the documents scan's own partitioning — a few-row-group corpus
    # file otherwise serializes the whole masking stage on one core
    # (measured: the final stage ran as ONE 367 ms task at sf0.1).
    toks = fan_out(table(spark, "documents", sf_dir)).select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    return scrub_spans(toks, _top_spans(sh), "doc_id", 8, pos_shingles=sh).select(
        "doc_id",
        "n_removed_tokens",
        "n_removed_chars",
        F.md5("scrubbed_text").alias("scrubbed_md5"),
    )


@register(
    "training_corpus_scrubbed",
    oracle=f"""
        WITH {_span_scrub_ctes(_FULL_KEEPER_SCRUB_CTE, keep_first=True)},
        scrubbed AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN rm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed_tokens,
                   coalesce(string_agg(CASE WHEN rm = 0 THEN token END, ' '
                                       ORDER BY pos), '') AS stext
            FROM marked
            GROUP BY doc_id
        ),
        keep AS (
            SELECT s.doc_id, d.lang, s.stext, s.n_removed_tokens,
                   row_number() OVER (PARTITION BY {sql_fingerprint("s.stext")}
                                      ORDER BY s.doc_id) AS rn
            FROM scrubbed s JOIN documents d USING (doc_id)
        ),
        toks2 AS (
            SELECT doc_id, lang, n_removed_tokens,
                   {sql_tokens("stext")} AS t,
                   {sql_bpe_tokens("stext")} AS bt
            FROM keep WHERE rn = 1
        ),
        scored AS (
            SELECT doc_id, lang, n_removed_tokens,
                   CAST(len(bt) AS BIGINT) AS n_tokens,
                   {sql_quality_score('t')} AS quality_score
            FROM toks2 WHERE len(t) > 0
        )
        SELECT doc_id, lang, n_removed_tokens, n_tokens, quality_score
        FROM scored
        WHERE lang = 'en' AND quality_score >= 0.45
          AND n_tokens BETWEEN 10 AND 5000
    """,
)
def training_corpus_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full C4/RefinedWeb-style corpus build, boilerplate scrub
    included — the composition VERDICT r9 framed span scrubbing as the
    missing middle of: cross-doc repeated-span mining (the FULL ≥2-doc
    span list, not the diagnostic top-25) → span-level scrub with the
    keep-first-occurrence policy (`scrub_spans` keeper column: every
    duplicated span survives in exactly its lowest-doc_id holder, so no
    content is lost corpus-wide — C4's remove-all-but-one rule rather
    than ExactSubstr's remove-everywhere) → exact dedup on the SCRUBBED
    text (near-dups whose difference WAS the boilerplate now collapse to
    one survivor — the reason scrub must run before the fingerprint) →
    language filter → quality gate → token budget, with the gates of
    `training_corpus` (plans/text.py) so the two corpus flavours differ
    only by the scrub stage.

    Plan: mining and hit detection both read the session's shared
    positional 8-gram relation; the span list is NOT force-broadcast
    (unbounded at corpus scale — AQE picks the join side; at 100 TB it
    shuffle-joins against the positional relation on the shingle key);
    coverage is per-row array lambdas (zero token-stream shuffles — see
    ``scrub_spans``); the fingerprint window adds the one new exchange
    (md5 of scrubbed text); every downstream gate is a JVM expression on
    the already-materialized row. Reference: the ETL pipeline's
    clean→transform→publish staging (src/pipelines/etl_pipeline.py) —
    this is the text-corpus analogue.
    """
    from data_warehouse_product_mix_clustering_spark.functions.text import bpe_tokens, fingerprint
    from data_warehouse_product_mix_clustering_spark.operators.dedup import scrub_spans

    sh = shared_pos_shingles(spark, sf_dir, 8)
    toks = table(spark, "documents", sf_dir).select(
        "doc_id", "lang", tokens(F.col("text")).alias("t")
    )
    scrubbed = scrub_spans(
        toks,
        _top_spans(sh, k=None, keep_first=True),
        "doc_id",
        8,
        pos_shingles=sh,
        carry=("lang",),
        broadcast_spans=False,
    )
    w = Window.partitionBy(fingerprint(F.col("scrubbed_text"))).orderBy("doc_id")
    kept = (
        scrubbed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "n_removed_tokens", "scrubbed_text")
    )
    t2 = kept.select(
        "doc_id",
        "lang",
        "n_removed_tokens",
        tokens(F.col("scrubbed_text")).alias("t"),
        bpe_tokens(F.col("scrubbed_text")).alias("bt"),
    ).filter(F.size("t") > 0)
    scored = t2.select(
        "doc_id",
        "lang",
        "n_removed_tokens",
        F.size("bt").cast("long").alias("n_tokens"),
        quality_score(F.col("t")).alias("quality_score"),
    )
    return scored.filter(
        (F.col("lang") == "en")
        & (F.col("quality_score") >= 0.45)
        & F.col("n_tokens").between(10, 5000)
    )


@register(
    "dedup_minhash_index_audit",
    oracle="""
        SELECT CAST(2 AS BIGINT) AS n_added,
               CAST(2 AS BIGINT) AS n_removed,
               CAST(2 AS BIGINT) AS n_changed,
               TRUE AS maintained_equals_rebuild,
               TRUE AS untouched_files_intact,
               TRUE AS buckets_bounded,
               CAST(5 AS BIGINT) AS n_probes,
               TRUE AS probes_found_originals,
               TRUE AS near_recall_pass,
               TRUE AS torn_index_refused
    """,
)
def dedup_minhash_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash-LSH signature index with CDC maintenance
    (operators/dedup.py::build_minhash_index / update_minhash_index /
    minhash_index_candidates) — the streaming-dedup scale path: a batch
    probes only its hash-bucket partitions of a narrow int relation
    instead of re-scanning corpus text. Scenario over ``documents``:
    index doc_id<480, then one CDC batch removes [0,2), appends a token
    to [2,4), adds [480,482). Contract:

    - ``maintained_equals_rebuild``: the maintained bucket relation
      equals a fresh build of the updated corpus EXACTLY (signatures are
      deterministic in the stored params — any routing/overwrite bug
      flips this);
    - ``untouched_files_intact``: bucket partitions outside the touched
      set kept byte-identical file listings — the O(touched buckets)
      claim, measured; ``buckets_bounded`` pins touched ≤ bands ×
      |changed doc IMAGES| (removed + added + 2 × changed — a changed doc
      occupies an old AND a new bucket home; review r10 caught the first
      cut using |docs|, which only held because the appended token leaves
      most band keys intact);
    - ``probes_found_originals``: 5 probe docs with texts copied from
      indexed survivors each surface their original as a candidate
      (identical text ⇒ every band agrees — the recall floor is 1.0 by
      construction, so a missed original is a wiring bug, not noise);
    - ``near_recall_pass``: 10 NEAR-duplicate probes (one appended token
      — bigram Jaccard B/(B+1) vs their originals) score recall ≥ 0.7
      against the EXACT cross-relation bigram-Jaccard ≥ 0.8 ground truth
      between probes and the maintained corpus, and the truth set is
      non-empty. The banding math puts per-pair P(candidate | j=0.8) at
      1−(1−0.8⁴)¹⁶ ≈ 0.9998 (the same curve ``dedup_minhash_lsh``
      attests in-memory; measured 1.0 at sf0.001 and sf0.01 — see
      PERF_NOTES r11), so 0.7 is headroom against corpus drift while an
      index-side banding/params regression — the hard case the
      identical-text probe can't see — still craters it;
    - ``torn_index_refused``: maintenance refuses an index without its
      commit marker.
    """
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_candidates,
        update_minhash_index,
    )
    from data_warehouse_product_mix_clustering_spark.operators.ivm import COMMIT_MARKER
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="spark_graft_mh_index_")
    try:
        tdir = os.path.join(root, "docs")
        v0 = docs.filter(F.col("doc_id") < 480)
        write_version(v0, tdir)
        v1 = (
            docs.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 480))
            .unionByName(
                docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4))
                .withColumn("text", F.concat("text", F.lit(" zz_changed")))
            )
            .unionByName(
                docs.filter((F.col("doc_id") >= 480) & (F.col("doc_id") < 482))
            )
        )
        write_version(v1, tdir)
        diff = version_diff(spark, tdir, 0, 1, key=["doc_id"])

        idx = os.path.join(root, "mh")
        build_minhash_index(v0, idx, n_buckets=256)

        from data_warehouse_product_mix_clustering_spark.operators.ivm import partition_file_listing

        bpath = os.path.join(idx, "buckets")
        before = partition_file_listing(bpath, "pbucket")
        stats = update_minhash_index(spark, idx, diff)
        touched_dirs = {f"pbucket={b}" for b in stats["touched"]}
        after = partition_file_listing(bpath, "pbucket", touched_dirs)
        intact = all(
            after.get(d) == before[d] for d in before if d not in touched_dirs
        )
        # images: 2 removed-old + 2 added-new + 2×2 changed (old AND new)
        n_doc_images = 2 + 2 + 2 * 2
        bounded = stats["buckets_touched"] <= 16 * n_doc_images

        idx2 = os.path.join(root, "mh2")
        build_minhash_index(v1, idx2, n_buckets=256)
        a = spark.read.parquet(bpath).select("doc_id", "band", "key", "pbucket")
        b = spark.read.parquet(os.path.join(idx2, "buckets")).select(
            "doc_id", "band", "key", "pbucket"
        )
        rebuild_eq = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

        probes = (
            docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 105))
            .withColumn("doc_id", F.col("doc_id") + 20000)
        )
        cands = minhash_index_candidates(spark, idx, probes)
        n_found = (
            cands.filter(F.col("doc_new") - F.lit(20000) == F.col("doc_corpus"))
            .select("doc_new")
            .distinct()
            .count()
        )
        n_probes = probes.count()

        # near-duplicate probe recall vs EXACT cross-relation Jaccard truth
        near_probes = (
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 210))
            .withColumn("doc_id", F.col("doc_id") + 30000)
            .withColumn("text", F.concat("text", F.lit(" qq_nearprobe")))
        )
        psh = shingle_sets(near_probes, "doc_id", "text", 2).select(
            F.col("doc_id").alias("doc_new"), "shingle"
        )
        csh = shingle_sets(v1, "doc_id", "text", 2).select(
            F.col("doc_id").alias("doc_corpus"), "shingle"
        )
        p_sz = psh.groupBy("doc_new").agg(F.count(F.lit(1)).alias("__pn"))
        c_sz = csh.groupBy("doc_corpus").agg(F.count(F.lit(1)).alias("__cn"))
        inter = (
            F.broadcast(psh)
            .join(csh, "shingle")
            .groupBy("doc_new", "doc_corpus")
            .agg(F.count(F.lit(1)).alias("__i"))
        )
        truth = (
            inter.join(F.broadcast(p_sz), "doc_new")
            .join(c_sz, "doc_corpus")
            .filter(
                F.col("__i")
                / (F.col("__pn") + F.col("__cn") - F.col("__i"))
                >= 0.8
            )
            .select("doc_new", "doc_corpus")
            .localCheckpoint(eager=True)  # feeds count + the hits semi-join
        )
        near_cands = minhash_index_candidates(spark, idx, near_probes)
        n_truth = truth.count()
        n_near_hits = near_cands.join(
            truth, ["doc_new", "doc_corpus"], "left_semi"
        ).count()
        near_recall_pass = n_truth > 0 and n_near_hits / n_truth >= 0.7

        torn = os.path.join(root, "torn")
        shutil.copytree(idx, torn)
        os.remove(os.path.join(torn, COMMIT_MARKER))
        try:
            update_minhash_index(spark, torn, diff)
            torn_refused = False
        except RuntimeError:
            torn_refused = True
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["added"], stats["removed"], stats["changed"],
                bool(rebuild_eq), bool(intact), bool(bounded),
                n_probes, bool(n_found == n_probes),
                bool(near_recall_pass), bool(torn_refused),
            )
        ],
        "n_added long, n_removed long, n_changed long, "
        "maintained_equals_rebuild boolean, untouched_files_intact boolean, "
        "buckets_bounded boolean, n_probes long, "
        "probes_found_originals boolean, near_recall_pass boolean, "
        "torn_index_refused boolean",
    )
