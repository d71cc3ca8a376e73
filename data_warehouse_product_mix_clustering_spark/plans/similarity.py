"""Similarity-search queries over ``embeddings`` (training-data surface).

Brute-force cosine top-k (exact, oracle-checked against DuckDB's
``list_cosine_similarity``), LSH-bucketed approximate top-k (rows-only; its
recall vs the exact baseline is covered by unit tests), and per-label
centroids (oracle-checked long-format element-wise mean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round
from data_warehouse_product_mix_clustering_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    pq_topk,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.plans.text import bm25_scored_cte, bm25_scores
from data_warehouse_product_mix_clustering_spark.sources.registry import table

N_QUERIES = 5  # vec_id < 5 are the probe vectors
TOP_K = 10


@register(
    "ann_cosine_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), scored AS (
            SELECT query_id, vec_id,
                   round(list_cosine_similarity(qv, cv) + 1e-9, 6) AS cosine
            FROM q, c WHERE query_id <> vec_id
        )
        SELECT query_id, vec_id, cosine, CAST(rk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rk
            FROM scored
        )
        WHERE rk <= {TOP_K}
    """,
    headline=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 probe vectors over the whole corpus.

    Broadcast probes × streamed corpus; one scan, top-k window per probe.
    The 100 TB shape: the corpus side never shuffles full vectors — only
    (query_id, vec_id, cosine) triples reach the window.
    """
    emb = table(spark, "embeddings", sf_dir)
    return brute_force_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding", TOP_K
    )


@register("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (64 hyperplanes, 16 bands).

    The near-linear scale path: signature bucketing prunes the corpus before
    exact re-rank. Approximate ⇒ no SQL oracle; unit tests check recall vs
    ``ann_cosine_topk`` ≥ 0.8 on the fixed corpus.
    """
    emb = table(spark, "embeddings", sf_dir)
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding", TOP_K
    )


@register("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: KMeans coarse cells, nprobe-cell search.

    The second ANN scale path (inverted-file quantization): seeded 16-cell
    codebook, 4 cells probed per query, exact cosine re-rank of the probed
    cells only — ~4/16 of brute-force search cost. Approximate + learned
    codebook ⇒ no SQL oracle; unit tests pin recall vs ``ann_cosine_topk``.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import ivf_topk

    emb = table(spark, "embeddings", sf_dir)
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        "vec_id",
        "embedding",
        k=TOP_K,
        nlist=16,
        nprobe=4,
    )


@register(
    "embedding_centroids",
    oracle="""
        WITH flat AS (
            SELECT label,
                   unnest(range(len(embedding))) AS dim,
                   unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings
        )
        SELECT label, CAST(dim AS BIGINT) AS dim,
               round(avg(v) + 1e-9, 6) AS centroid,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM flat GROUP BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean vector, long format (label, dim, value).

    posexplode → groupBy(label, dim): one shuffle, 10×64 output rows at any
    corpus size (partial aggregation absorbs the fan-out map-side).
    """
    emb = table(spark, "embeddings", sf_dir)
    flat = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return flat.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        ratio_round(F.avg("v")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "ann_recall_audit",
    oracle=f"""
        SELECT unnest(['ivf', 'lsh', 'pq']) AS method,
               CAST({N_QUERIES} AS BIGINT) AS n_probes,
               TRUE AS recall_pass
    """,
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested ANN quality gate: mean recall@10 of every
    approximate index (LSH, IVF, PQ) vs the exact cosine baseline.

    The recall computation runs entirely in Spark (approx top-k semi-joined
    against exact top-k); the oracle encodes the CONTRACT — each method's
    mean recall over the probe set must clear its floor. Floors are the
    honest deterministic curves on this near-uniform corpus (IVF's worst
    case — see test_ivf_recall_vs_brute_force): LSH ≥ 0.7, IVF(nprobe=4/16)
    ≥ 0.5, PQ ≥ 0.9; measured values are 0.82-0.88 / 0.60-0.64 / 0.94-0.98
    at sf0.001-0.01, so a floor breach means the index regressed, and the
    driver row hash-mismatches — ANN quality as a driver-checkable signal
    instead of a pytest-only pin.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import ivf_topk

    emb = table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, probes, "vec_id", "embedding", TOP_K).select(
        "query_id", "vec_id"
    )

    methods = {
        "lsh": (lsh_topk(emb, probes, "vec_id", "embedding", TOP_K), 0.7),
        "ivf": (
            ivf_topk(
                emb, probes, "vec_id", "embedding", k=TOP_K, nlist=16, nprobe=4
            ),
            0.5,
        ),
        "pq": (pq_topk(emb, probes, "vec_id", "embedding", TOP_K), 0.9),
    }
    # n_probes counts the PROBE SET (matching the oracle's pinned N_QUERIES),
    # not probes-with-≥-1-hit: countDistinct over the semi-joined hits would
    # silently add a stricter every-probe-hits gate on top of the mean-recall
    # floor (a probe with zero overlap would flip the row red even when the
    # mean clears its floor).
    probe_count = probes.agg(F.countDistinct("vec_id").alias("n_probes"))
    parts = []
    for method, (approx, floor) in methods.items():
        hits = approx.select("query_id", "vec_id").join(
            exact, ["query_id", "vec_id"], "left_semi"
        )
        parts.append(
            hits.agg(
                (
                    F.count(F.lit(1)) / F.lit(float(N_QUERIES * TOP_K)) >= floor
                ).alias("recall_pass"),
            )
            .crossJoin(F.broadcast(probe_count))
            .select(F.lit(method).alias("method"), "n_probes", "recall_pass")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register("ann_pq_topk")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 (m=16 subspace codebooks).

    The third ANN scale path: vectors compress to m one-byte codes, queries
    scan codes via ADC lookup tables, exact cosine re-ranks the candidate
    pool. Approximate ⇒ rows-only driver check; recall@10 ≥ 0.9 vs the
    exact baseline is pinned in tests/test_operators.py.
    """
    emb = table(spark, "embeddings", sf_dir)
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), "vec_id", "embedding", TOP_K
    )


@register(
    "embedding_quantize_int8",
    oracle="""
        SELECT vec_id,
               round(scale + 1e-9, 6) AS scale,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
               md5(array_to_string(q, ',')) AS q_md5
        FROM (
            SELECT vec_id, scale,
                   list_transform(v, x -> CAST(round(x / scale * 127 + 1e-9, 0)
                                               AS BIGINT)) AS q
            FROM (
                SELECT vec_id,
                       CAST(embedding AS DOUBLE[]) AS v,
                       greatest(list_max(list_transform(embedding,
                                                        x -> abs(CAST(x AS DOUBLE)))),
                                1e-30) AS scale
                FROM embeddings
            )
        )
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    serving compression step of a large-scale vector pipeline (4× smaller
    than float32, 8× than float64; the PQ path in `ann_pq_topk` is the
    more aggressive cousin).

    Per-vector absmax scaling: q_i = round(x_i / max|x| * 127), all in JVM
    higher-order array functions (transform / array_max / aggregate) — no
    shuffle, no Python, embarrassingly parallel over the corpus. The
    driver-compare row carries the quantized vector as an md5 over its
    comma-joined codes plus an L1 checksum (both engines re-state the
    identical double-precision formula, +1e-9 off the half-boundary), so
    every code of every vector is value-pinned without hauling arrays
    through the hash compare.
    """
    emb = table(spark, "embeddings", sf_dir)
    absd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    scale = F.greatest(F.array_max(absd), F.lit(1e-30))
    with_scale = emb.select("vec_id", F.col("embedding").alias("v"), scale.alias("scale"))
    q = F.transform(
        "v",
        lambda x: F.round(x.cast("double") / F.col("scale") * 127 + F.lit(1e-9), 0).cast(
            "long"
        ),
    )
    quantized = with_scale.select("vec_id", "scale", q.alias("q"))
    return quantized.select(
        "vec_id",
        ratio_round(F.col("scale")).alias("scale"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.md5(F.array_join(F.transform("q", lambda x: x.cast("string")), ",")).alias(
            "q_md5"
        ),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval (round-7 second session): BM25 ⊕ embedding cosine via
# reciprocal-rank fusion — the standard RAG retrieval stack, end to end.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 50  # depth of each ranked list entering the fusion
_RRF_PROBE = 0  # vec_id whose embedding plays the semantic query


@register(
    "doc_hybrid_rrf",
    oracle=f"""
        WITH {bm25_scored_cte()},
        lex AS (
            SELECT doc_id, rk AS lex_rank FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY bm25 DESC, doc_id) AS rk
                FROM scored
            ) WHERE rk <= {_RRF_POOL}
        ),
        probe AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = {_RRF_PROBE}
        ),
        sem AS (
            SELECT vec_id AS doc_id, rk AS sem_rank FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY round(list_cosine_similarity(qv,
                        CAST(embedding AS DOUBLE[])) + 1e-9, 6) DESC,
                    vec_id) AS rk
                FROM embeddings, probe
                WHERE vec_id <> {_RRF_PROBE}
            ) WHERE rk <= {_RRF_POOL}
        ),
        fused AS (
            SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                   round(coalesce(1.0 / ({_RRF_K} + lex_rank), 0)
                       + coalesce(1.0 / ({_RRF_K} + sem_rank), 0) + 1e-9, 6)
                       AS rrf
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        )
        SELECT doc_id, rrf,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                   AS rank
        FROM fused
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 ⊕ cosine top-50 fused by reciprocal
    rank (k=60), final top-10 — the RAG retrieval stack as ONE plan.

    Lexical side: the shared BM25 scorer (plans/text.py::bm25_scores —
    same relation the pure-lexical query ranks), cut to its pool via
    TakeOrderedAndProject BEFORE its rank window (pool-sized windows,
    never corpus-sized). Semantic side: the SHARED ``brute_force_topk``
    operator — same rounded-cosine discipline, vec_id tie-breaks,
    fan_out, and partial WindowGroupLimit the ANN queries pin. A FULL
    OUTER join merges the two id sets — a doc found by only one
    retriever still scores its one reciprocal term, which is the
    property that makes RRF robust. All ranks are integers and the
    fusion arithmetic is identical on both engines; rounded-before-rank
    + doc_id tie-breaks pin the final order.
    """
    lex_scored = bm25_scores(spark, sf_dir)
    lex_top = lex_scored.orderBy(F.col("bm25").desc(), "doc_id").limit(_RRF_POOL)
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex_top.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    emb = table(spark, "embeddings", sf_dir)
    sem = brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") == _RRF_PROBE),
        "vec_id",
        "embedding",
        k=_RRF_POOL,
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank"))

    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            ratio_round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "rrf", "rank"
    )


@register(
    "ann_ivf_indexed_audit",
    oracle=f"""
        SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
               TRUE AS indexed_equals_memory,
               TRUE AS probes_bounded
    """,
)
def ann_ivf_indexed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index (operators/similarity.py::build_ivf_index /
    search_ivf_index) attested equal to the in-memory IVF path: the
    assigned corpus is written partitioned by coarse cell, searched with
    the probe-cell partition filter, and the result must match
    ``ivf_topk`` with the same codebook ROW FOR ROW (same seed, same
    deterministic fit, same rerank expression — any drift in the
    persisted layout, cell routing, or pruned read flips the row).
    ``probes_bounded`` pins that the batch touched at most
    nprobe × |queries| distinct cells (the seek-cost contract).
    """
    import os
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        search_ivf_index,
    )

    emb = table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    root = tempfile.mkdtemp(prefix="spark_graft_ivf_audit_")
    try:
        idx = os.path.join(root, "ivf")
        build_ivf_index(emb, idx, "vec_id", "embedding", nlist=16, seed=42)
        indexed = search_ivf_index(
            spark, idx, probes, "vec_id", "embedding", k=TOP_K, nprobe=4
        )
        memory = ivf_topk(
            emb, probes, "vec_id", "embedding", k=TOP_K, nlist=16, nprobe=4
        )
        equal = indexed.exceptAll(memory).isEmpty() and memory.exceptAll(
            indexed
        ).isEmpty()
        n_queries = indexed.select("query_id").distinct().count()
        from data_warehouse_product_mix_clustering_spark.operators.similarity import ivf_query_probes

        centers = sorted(
            (r["cell"], list(r["cvec"]))
            for r in spark.read.parquet(os.path.join(idx, "centers")).collect()
        )
        # The seek-cost contract checked at nprobe=2, where the bound
        # (2×5=10) sits strictly BELOW nlist=16 — a routing bug that
        # probes every cell flips this to 16 > 10. (At the search's
        # nprobe=4 the bound 20 exceeds nlist, so it could never fail —
        # review r8.)
        n_probed = (
            ivf_query_probes(probes, centers, "vec_id", "embedding", nprobe=2)
            .select("__cell")
            .distinct()
            .count()
        )
        probes_bounded = (
            1 <= n_probed <= min(16, 2 * N_QUERIES) and n_queries <= N_QUERIES
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(n_queries, bool(equal), bool(probes_bounded))],
        "n_queries long, indexed_equals_memory boolean, probes_bounded boolean",
    )


@register(
    "ann_ivfpq_indexed_audit",
    oracle=f"""
        SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
               TRUE AS ranks_dense,
               TRUE AS cosines_exact,
               TRUE AS recall_pass
    """,
)
def ann_ivfpq_indexed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF-PQ index (operators/similarity.py::build_ivfpq_index
    / search_ivfpq_index) — the composed billion-scale recipe: coarse
    cells bound WHICH vectors a query touches, PQ codes bound WHAT the
    scan reads, exact rerank bounds WHAT quality can lose. The quality
    gate (``ann_recall_audit`` pattern — approximate output, so the
    oracle pins the CONTRACT and Spark measures the truth):

    - ``ranks_dense``: every query's ranks are exactly 1..n (n ≤ k) —
      a dropped/duplicated rerank row breaks the sequence;
    - ``cosines_exact``: every reported cosine equals the value
      recomputed from the raw embeddings table (the exact-rerank
      promise: quantization error may cost candidates, never scores);
    - ``recall_pass``: recall@10 vs ``brute_force_topk`` ≥ 0.55 at
      nprobe=4 of nlist=16 with 8× rerank — the honest deterministic
      floor on this near-uniform corpus (the regime where neighbors
      scatter across cells). Floor tightened 0.5 → 0.55 in r10 from a
      steady-state measurement (PERF_NOTES r10): the audit's pinned
      seed 42 measures 0.64/0.60 at sf0.001/sf0.01 (3-seed spread at
      sf0.01: 0.54-0.60), so 0.55 leaves real margin for this
      deterministic configuration while an actual quantization
      regression flips the row; rerank_factor makes ADC ordering loss
      negligible, tracking plain IVF's pinned curve.
    """
    import os
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        as_double,
        brute_force_topk,
        build_ivfpq_index,
        cosine,
        search_ivfpq_index,
    )
    from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round

    emb = table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    root = tempfile.mkdtemp(prefix="spark_graft_ivfpq_audit_")
    try:
        idx = os.path.join(root, "ivfpq")
        build_ivfpq_index(
            emb, idx, "vec_id", "embedding", nlist=16, m=16, ksub=16, seed=42
        )
        got = search_ivfpq_index(
            spark, idx, probes, "vec_id", "embedding", k=TOP_K, nprobe=4,
            rerank_factor=8,
        ).localCheckpoint(eager=True)  # 3 consumers below

        w = Window.partitionBy("query_id").orderBy("rank")
        dense = got.select(
            (F.row_number().over(w) == F.col("rank")).alias("__ok")
        ).agg(F.coalesce(F.min("__ok"), F.lit(False)).alias("d")).first()["d"]

        ev = emb.select(
            F.col("vec_id").alias("__cid"), as_double("embedding").alias("__cv")
        )
        qv = emb.select(
            F.col("vec_id").alias("__qid"), as_double("embedding").alias("__qv")
        )
        exact_ok = (
            got.join(F.broadcast(ev), got["vec_id"] == F.col("__cid"))
            .join(F.broadcast(qv), got["query_id"] == F.col("__qid"))
            .select(
                (
                    F.abs(
                        ratio_round(cosine(F.col("__qv"), F.col("__cv")))
                        - F.col("cosine")
                    )
                    < 1e-9
                ).alias("__ok")
            )
            .agg(F.coalesce(F.min("__ok"), F.lit(False)).alias("e"))
            .first()["e"]
        )

        truth = brute_force_topk(emb, probes, "vec_id", "embedding", k=TOP_K)
        n_hit = got.join(truth, ["query_id", "vec_id"], "left_semi").count()
        n_truth = truth.count()
        n_queries = got.select("query_id").distinct().count()
        recall = n_hit / n_truth if n_truth else 0.0
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(n_queries, bool(dense), bool(exact_ok), bool(recall >= 0.55))],
        "n_queries long, ranks_dense boolean, cosines_exact boolean, "
        "recall_pass boolean",
    )


@register(
    "ann_index_incremental_audit",
    oracle="""
        SELECT CAST(50 AS BIGINT) AS n_added,
               CAST(10 AS BIGINT) AS n_removed,
               CAST(10 AS BIGINT) AS n_changed,
               TRUE AS ivf_maintained_exact,
               TRUE AS ivf_served_exact,
               TRUE AS ivfpq_codes_exact,
               TRUE AS ivfpq_vectors_exact,
               TRUE AS removed_absent,
               TRUE AS untouched_files_intact,
               TRUE AS torn_index_refused,
               TRUE AS drift_exact
    """,
)
def ann_index_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-incremental maintenance for BOTH persisted vector indexes
    (operators/similarity.py::update_ivf_index / update_ivfpq_index,
    VERDICT r9 Next #3 — the postings index's r8 maintenance pattern
    extended to the vector family). Scenario: index vec_id<400, then one
    versioned-sink CDC batch removes [0,10), perturbs [10,20) (reversed
    embedding — guaranteed cell moves), adds [400,450). The contract:

    - ``ivf_maintained_exact`` / ``ivfpq_codes_exact`` /
      ``ivfpq_vectors_exact``: every maintained relation equals the
      frozen-codebook rebuild of the updated corpus — exact by
      construction because build and maintenance share ONE assignment
      expression (``assign_to_centers``) and ONE encode kernel
      (``_pq_encode``), so this flips on any routing/overwrite bug;
    - ``ivf_served_exact``: search over the maintained store equals the
      in-memory frozen-centers rerank on probes spanning changed AND
      surviving ids;
    - ``removed_absent``: deleted ids left their cell partitions;
    - ``untouched_files_intact``: cell partitions OUTSIDE the update's
      touched set kept byte-identical file listings (name+size+mtime) in
      all three partitioned relations — the O(changed cells) IO bound,
      measured not claimed;
    - ``torn_index_refused``: maintenance refuses an index whose commit
      marker is missing (crash-mid-update detectability);
    - ``drift_exact``: the returned drift equals
      cumulative_changes / built_corpus_size (70/400) — the number the
      caller decides a rebuild from.
    """
    import os
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.ivm import COMMIT_MARKER
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        _ivf_probe_rerank,
        _pq_encode,
        assign_to_centers,
        build_ivf_index,
        build_ivfpq_index,
        search_ivf_index,
        update_ivf_index,
        update_ivfpq_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    from data_warehouse_product_mix_clustering_spark.operators.ivm import partition_file_listing

    def file_listing(root_dir: str, skip_cells: set[int]) -> dict:
        skip = {f"__cell={c}" for c in skip_cells}
        return {
            (rel, d): listing
            for rel in ("cells", "vectors")
            for d, listing in partition_file_listing(
                os.path.join(root_dir, rel), "__cell", skip
            ).items()
        }

    def df_equal(a: DataFrame, b: DataFrame) -> bool:
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    emb = table(spark, "embeddings", sf_dir)
    root = tempfile.mkdtemp(prefix="spark_graft_ann_incr_")
    try:
        tdir = os.path.join(root, "vecs")
        v0 = emb.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
        write_version(v0, tdir)
        v1 = (
            emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 400))
            .unionByName(
                emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
                .withColumn("embedding", F.reverse("embedding"))
            )
            .unionByName(
                emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
            )
            .select("vec_id", "embedding")
        )
        write_version(v1, tdir)
        diff = version_diff(spark, tdir, 0, 1, key=["vec_id"])

        ivf = os.path.join(root, "ivf")
        ivfpq = os.path.join(root, "ivfpq")
        build_ivf_index(v0, ivf, "vec_id", "embedding", nlist=8, seed=42)
        build_ivfpq_index(
            v0, ivfpq, "vec_id", "embedding", nlist=8, m=16, ksub=16, seed=42
        )

        # full pre-update listings; untouched intactness is judged after
        # the updates report their touched sets
        before_ivf = file_listing(ivf, skip_cells=set())
        before_pq = file_listing(ivfpq, skip_cells=set())
        stats = update_ivf_index(spark, ivf, diff)
        stats_pq = update_ivfpq_index(spark, ivfpq, diff)
        touched = set(stats["touched"])

        def drop_touched(listing: dict, cells: set) -> dict:
            dirs = {f"__cell={c}" for c in cells}
            return {k: v for k, v in listing.items() if k[1] not in dirs}

        intact = (
            set(stats_pq["touched"]) == touched  # same centers/seed
            and file_listing(ivf, skip_cells=touched)
            == drop_touched(before_ivf, touched)
            and file_listing(ivfpq, skip_cells=touched)
            == drop_touched(before_pq, touched)
        )

        centers = sorted(
            (r["cell"], list(r["cvec"]))
            for r in spark.read.parquet(os.path.join(ivf, "centers")).collect()
        )
        expected = assign_to_centers(v1, centers, "vec_id", "embedding").localCheckpoint(
            eager=True
        )
        maintained = spark.read.parquet(os.path.join(ivf, "cells")).select(
            "vec_id", "__v", "__cell"
        )
        ivf_exact = df_equal(maintained, expected)

        probes = v1.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 25))
        served = search_ivf_index(
            spark, ivf, probes, "vec_id", "embedding", k=TOP_K, nprobe=3
        )
        mem = _ivf_probe_rerank(
            probes, centers, expected, "vec_id", "embedding", TOP_K, 3
        )
        ivf_served = df_equal(served, mem)

        import numpy as np

        pq_rows = spark.read.parquet(os.path.join(ivfpq, "pq")).collect()
        m = 1 + max(r["subspace"] for r in pq_rows)
        ksub = 1 + max(r["code"] for r in pq_rows)
        cb = np.empty((m, ksub, len(pq_rows[0]["cvec"])), dtype=np.float64)
        for r in pq_rows:
            cb[r["subspace"], r["code"]] = r["cvec"]
        exp_codes = (
            _pq_encode(expected.select("vec_id", "__v"), cb, "vec_id", "bigint")
            .join(expected.select("vec_id", "__cell"), "vec_id")
            .select("vec_id", "__codes", "__cell")
        )
        got_codes = spark.read.parquet(os.path.join(ivfpq, "cells")).select(
            "vec_id", "__codes", "__cell"
        )
        pq_codes_exact = df_equal(got_codes, exp_codes)
        got_vecs = spark.read.parquet(os.path.join(ivfpq, "vectors")).select(
            "vec_id", "__v", "__cell"
        )
        pq_vecs_exact = df_equal(got_vecs, expected)

        removed_absent = (
            maintained.filter(F.col("vec_id") < 10).isEmpty()
            and got_codes.filter(F.col("vec_id") < 10).isEmpty()
            and got_vecs.filter(F.col("vec_id") < 10).isEmpty()
        )

        torn = os.path.join(root, "torn")
        shutil.copytree(ivf, torn)
        os.remove(os.path.join(torn, COMMIT_MARKER))
        try:
            update_ivf_index(spark, torn, diff)
            torn_refused = False
        except RuntimeError:
            torn_refused = True

        drift_exact = (
            abs(stats["drift"] - 70 / 400) < 1e-12
            and abs(stats_pq["drift"] - 70 / 400) < 1e-12
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["added"],
                stats["removed"],
                stats["changed"],
                bool(ivf_exact),
                bool(ivf_served),
                bool(pq_codes_exact),
                bool(pq_vecs_exact),
                bool(removed_absent),
                bool(intact),
                bool(torn_refused),
                bool(drift_exact),
            )
        ],
        "n_added long, n_removed long, n_changed long, "
        "ivf_maintained_exact boolean, ivf_served_exact boolean, "
        "ivfpq_codes_exact boolean, ivfpq_vectors_exact boolean, "
        "removed_absent boolean, untouched_files_intact boolean, "
        "torn_index_refused boolean, drift_exact boolean",
    )


@register(
    "semantic_dedup_audit",
    oracle="""
        SELECT TRUE AS paths_agree,
               TRUE AS removed_have_witness,
               TRUE AS prune_bites
    """,
)
def semantic_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``operators/similarity.py::semantic_dedup``
    (SemDeDup, registered r11 per the pre-staged rotation). The learned
    codebook makes survivor ids engine-specific, so — like the other
    approximate-family audits — the oracle pins the CONTRACT and Spark
    computes the measured truth:

    - ``paths_agree``: the skew-cell routing is a pure plan choice —
      survivors with EVERY cell forced through the blocked-GEMM kernel
      (``giant_cell_rows=0``) equal survivors with every cell on the
      per-pair self-join (huge gate), exercising both kernels end-to-end
      on the driver corpus (VERDICT r10 #3);
    - ``removed_have_witness``: every pruned row has a LOWER-id
      same-cell row at rounded cosine ≥ threshold — the SemDeDup rule
      recomputed independently from the frozen assignment;
    - ``prune_bites``: at least one row was pruned, so the threshold is
      exercising the rule rather than vacuously passing.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        cosine,
        fit_ivf_codebook,
        semantic_dedup,
    )

    thr, nlist, seed = 0.4, 8, 42
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    via_join = semantic_dedup(
        emb, nlist=nlist, threshold=thr, seed=seed, giant_cell_rows=10**9
    ).localCheckpoint(eager=True)  # feeds the agree check + witness base
    via_gemm = semantic_dedup(
        emb, nlist=nlist, threshold=thr, seed=seed, giant_cell_rows=0
    )
    sym_diff = (
        via_join.unionByName(via_gemm)
        .groupBy("vec_id", "__cell")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") != 2)
    )

    # Witness check from the SAME frozen assignment semantic_dedup uses.
    _, assigned = fit_ivf_codebook(emb, "vec_id", "embedding", nlist, seed)
    removed = assigned.join(via_join.select("vec_id"), "vec_id", "left_anti")
    witnesses = assigned.select(
        F.col("vec_id").alias("__wid"), F.col("__v").alias("__wv"), "__cell"
    )
    witnessed = (
        removed.join(witnesses, "__cell")
        .filter(F.col("__wid") < F.col("vec_id"))
        .filter(ratio_round(cosine(F.col("__v"), F.col("__wv"))) >= thr)
        .select("vec_id")
        .distinct()
    )
    orphans = removed.select("vec_id").exceptAll(witnessed)

    counts = (
        sym_diff.agg(F.count(F.lit(1)).alias("__n_diff"))
        .crossJoin(orphans.agg(F.count(F.lit(1)).alias("__n_orphans")))
        .crossJoin(removed.agg(F.count(F.lit(1)).alias("__n_removed")))
    )
    return counts.select(
        (F.col("__n_diff") == 0).alias("paths_agree"),
        (F.col("__n_orphans") == 0).alias("removed_have_witness"),
        (F.col("__n_removed") > 0).alias("prune_bites"),
    )


@register(
    "semantic_dedup_groups_audit",
    oracle="""
        SELECT TRUE AS paths_agree,
               TRUE AS reps_subset_of_greedy,
               TRUE AS removed_have_reps,
               TRUE AS groups_bite
    """,
)
def semantic_dedup_groups_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for
    ``operators/similarity.py::semantic_dedup_groups`` (group-semantics
    SemDeDup, registered r12 per the pre-staged rotation). Same shape as
    ``semantic_dedup_audit``: the learned codebook makes group ids
    engine-specific, so the oracle pins the CONTRACT and Spark computes
    the measured truth:

    - ``paths_agree``: skew-cell routing is a pure plan choice — the
      full (id, cell, group_id) assignment with every cell forced
      through the blocked-GEMM pair kernel (``giant_cell_rows=0``)
      equals the per-pair-join assignment (huge gate), exercising both
      kernels end-to-end through the connected-components consumer;
    - ``reps_subset_of_greedy``: component-minimum representatives must
      all survive the greedy rule too (their neighbors sit inside their
      own component, so none has a lower id) — the containment
      semantic_dedup_groups' docstring states, checked on the driver
      corpus rather than trusted;
    - ``removed_have_reps``: every non-representative row's group_id
      names a row that IS its group's representative (the audit-trail
      promise group semantics exist for);
    - ``groups_bite``: at least one row was grouped under a different
      representative, so the threshold exercises the rule rather than
      vacuously passing.
    """
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_groups,
    )

    thr, nlist, seed = 0.4, 8, 42
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    via_join = semantic_dedup_groups(
        emb, nlist=nlist, threshold=thr, seed=seed, giant_cell_rows=10**9
    ).localCheckpoint(eager=True)  # feeds three checks below
    via_gemm = semantic_dedup_groups(
        emb, nlist=nlist, threshold=thr, seed=seed, giant_cell_rows=0
    )
    sym_diff = (
        via_join.unionByName(via_gemm)
        .groupBy("vec_id", "__cell", "group_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") != 2)
    )

    greedy = semantic_dedup(
        emb, nlist=nlist, threshold=thr, seed=seed, giant_cell_rows=10**9
    )
    reps = via_join.filter(F.col("vec_id") == F.col("group_id"))
    # representatives not surviving greedy would break the containment
    rep_orphans = reps.select("vec_id").join(
        greedy.select("vec_id"), "vec_id", "left_anti"
    )
    # every removed row's group_id must name an in-output representative
    removed = via_join.filter(F.col("vec_id") != F.col("group_id"))
    rep_ids = reps.select(F.col("vec_id").alias("group_id"))
    unrepped = removed.select("group_id").join(rep_ids, "group_id", "left_anti")

    counts = (
        sym_diff.agg(F.count(F.lit(1)).alias("__n_diff"))
        .crossJoin(rep_orphans.agg(F.count(F.lit(1)).alias("__n_orph")))
        .crossJoin(unrepped.agg(F.count(F.lit(1)).alias("__n_unrep")))
        .crossJoin(removed.agg(F.count(F.lit(1)).alias("__n_removed")))
    )
    return counts.select(
        (F.col("__n_diff") == 0).alias("paths_agree"),
        (F.col("__n_orph") == 0).alias("reps_subset_of_greedy"),
        (F.col("__n_unrep") == 0).alias("removed_have_reps"),
        (F.col("__n_removed") > 0).alias("groups_bite"),
    )


@register(
    "semantic_dedup_sweep_audit",
    oracle="""
        SELECT * FROM (VALUES
            (CAST(0.30 AS DOUBLE), TRUE, TRUE, TRUE),
            (CAST(0.40 AS DOUBLE), TRUE, TRUE, TRUE),
            (CAST(0.45 AS DOUBLE), TRUE, TRUE, TRUE)
        ) AS t(threshold, matches_single, monotone_ok, sweep_bites)
    """,
)
def semantic_dedup_sweep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for
    ``operators/similarity.py::semantic_dedup_sweep`` (VERDICT r11 #7 —
    the published SemDeDup recipe tunes ε per dedup-rate target, so the
    sweep is the operator a user actually runs first). Survivor counts
    are codebook-specific, so the oracle pins the CONTRACT as one row
    PER THRESHOLD (0.30 / 0.40 / 0.45 — chosen to bite on the driver
    corpus, whose max within-cell cosine ≈ 0.48):

    - ``matches_single``: the sweep's n_survivors at ε equals an
      independent ``semantic_dedup(threshold=ε)`` run — the shared
      scored-pair relation plus per-threshold filter reproduces the
      single-threshold rule exactly, for every ε;
    - ``monotone_ok``: survivors are non-decreasing in ε (tighter
      threshold ⇒ fewer removals) — the property a rate-targeting
      caller binary-searches against;
    - ``sweep_bites``: every attested threshold removes at least one
      row, so no row passes vacuously.

    One clustering, ONE pair materialization, one scan (plan-pinned:
    a single Arrow kernel stage regardless of |thresholds|)."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_sweep,
    )

    thrs = (0.30, 0.40, 0.45)
    nlist, seed = 8, 42
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    sweep = semantic_dedup_sweep(
        emb, thrs, nlist=nlist, seed=seed
    ).localCheckpoint(eager=True)  # consumed by two branches below
    singles = None
    for t in thrs:
        one = (
            semantic_dedup(emb, nlist=nlist, threshold=t, seed=seed)
            .agg(F.count(F.lit(1)).cast("long").alias("n_single"))
            .select(F.lit(float(t)).alias("threshold"), "n_single")
        )
        singles = one if singles is None else singles.unionByName(one)
    w = Window.orderBy("threshold")
    return (
        sweep.join(singles, "threshold")
        .select(
            "threshold",
            (F.col("n_survivors") == F.col("n_single")).alias("matches_single"),
            F.coalesce(
                F.col("n_survivors") >= F.lag("n_survivors").over(w), F.lit(True)
            ).alias("monotone_ok"),
            (F.col("n_removed") > 0).alias("sweep_bites"),
        )
    )


@register(
    "semantic_dedup_incremental_audit",
    oracle="""
        SELECT TRUE AS output_is_batch_only,
               TRUE AS removed_have_witness,
               TRUE AS survivors_clean,
               TRUE AS prune_bites
    """,
)
def semantic_dedup_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for
    ``operators/similarity.py::semantic_dedup_incremental`` (the
    batch-vs-corpus SemDeDup; same oracle discipline as the other
    codebook-dependent audits — survivor ids are engine-specific, so
    the oracle pins the CONTRACT and Spark computes the measured truth):

    - ``output_is_batch_only``: survivors ⊆ batch ids (the corpus is
      never re-emitted — the incremental promise);
    - ``removed_have_witness``: every removed batch row has a same-cell
      CORPUS witness (any id) or LOWER-id batch witness at rounded
      cosine ≥ threshold — the rule recomputed independently from the
      frozen assignment;
    - ``survivors_clean``: NO survivor has such a witness (the rule is
      an iff — removal is complete, not just sound);
    - ``prune_bites``: at least one batch row was removed.

    Batch = the corpus tail (vec_id ≥ 400) plus nothing synthetic — the
    id-disjoint split convention of ``dedup_incremental_exact``."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        assign_to_centers,
        cosine,
        fit_ivf_codebook,
        semantic_dedup_incremental,
    )

    thr, nlist, seed = 0.4, 8, 42
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    survivors = semantic_dedup_incremental(
        batch, corpus, nlist=nlist, threshold=thr, seed=seed
    ).localCheckpoint(eager=True)

    # independent witness relation from the SAME frozen clustering
    model, corpus_assigned = fit_ivf_codebook(
        corpus, "vec_id", "embedding", nlist, seed
    )
    centers = [
        (i, [float(x) for x in ctr])
        for i, ctr in enumerate(model.clusterCenters())
    ]
    batch_assigned = assign_to_centers(batch, centers, "vec_id", "embedding")
    b = batch_assigned.select(
        F.col("vec_id").alias("__bid"), F.col("__v").alias("__bv"), "__cell"
    )
    cw = corpus_assigned.select(
        F.lit(-1).cast("long").alias("__wid"), F.col("__v").alias("__wv"), "__cell"
    ).unionByName(
        batch_assigned.select(
            F.col("vec_id").alias("__wid"), F.col("__v").alias("__wv"), "__cell"
        )
    )
    witnessed = (
        b.join(cw, "__cell")
        # corpus witnesses carry __wid = -1 (always "lower"); batch
        # witnesses must have a strictly lower id
        .filter(F.col("__wid") < F.col("__bid"))
        .filter(ratio_round(cosine(F.col("__bv"), F.col("__wv"))) >= thr)
        .select(F.col("__bid").alias("vec_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    removed = batch.select("vec_id").exceptAll(survivors.select("vec_id"))
    orphans = removed.exceptAll(witnessed)  # removed without a witness
    dirty = survivors.select("vec_id").join(witnessed, "vec_id", "left_semi")
    non_batch = survivors.select("vec_id").join(
        batch.select("vec_id"), "vec_id", "left_anti"
    )
    counts = (
        orphans.agg(F.count(F.lit(1)).alias("__n_orphans"))
        .crossJoin(dirty.agg(F.count(F.lit(1)).alias("__n_dirty")))
        .crossJoin(non_batch.agg(F.count(F.lit(1)).alias("__n_foreign")))
        .crossJoin(removed.agg(F.count(F.lit(1)).alias("__n_removed")))
    )
    return counts.select(
        (F.col("__n_foreign") == 0).alias("output_is_batch_only"),
        (F.col("__n_orphans") == 0).alias("removed_have_witness"),
        (F.col("__n_dirty") == 0).alias("survivors_clean"),
        (F.col("__n_removed") > 0).alias("prune_bites"),
    )


@register(
    "stream_semantic_ingest_audit",
    oracle="""
        SELECT TRUE AS matches_sequential,
               TRUE AS rerun_is_noop,
               TRUE AS replay_idempotent,
               TRUE AS dedup_bites,
               TRUE AS reseed_gate_refuses
    """,
)
def stream_semantic_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end contract audit for the streaming semantic-dedup
    ingestion loop (streaming/ingest.py), the `stream_quarantine_audit`
    mold: survivor ids are codebook-dependent engine truth, so the
    oracle pins the CONTRACT booleans and Spark measures them. An
    embeddings-derived landing feed (two files: the 300-400 id slice,
    then the >=400 tail plus a re-ingest of a batch-1 vector under a
    new id) runs through one availableNow ingest against a seed corpus
    (ids < 300), and the audit attests:

    - ``matches_sequential``: the streamed corpus equals a sequential
      reference applying ``semantic_dedup_incremental`` file by file
      under the SAME frozen seed codebook (loaded from the persisted
      sidecar — never refit);
    - ``rerun_is_noop``: a second availableNow run with an intact
      checkpoint executes ZERO batches and leaves the corpus identical
      (exactly-once over the landing feed);
    - ``replay_idempotent``: re-executing batch 1's sink write with the
      SAME (batch_df, batch_id) — foreachBatch's at-least-once retry
      shape — leaves the corpus identical, because the sink reads only
      STRICTLY EARLIER partitions and overwrites only its own;
    - ``dedup_bites``: at least one landing row was dropped (the
      re-ingested vector guarantees a cosine-1.0 duplicate);
    - ``reseed_gate_refuses``: after a re-seed bumps the seed epoch,
      running against the STALE checkpoint raises instead of silently
      under-ingesting (the seed-epoch gate, review r13).

    Ground truth is collected driver-side as id sets (<=600 rows —
    the bounded-audit convention of `semantic_dedup_incremental_audit`).
    """
    import os
    import shutil
    import tempfile

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup_incremental,
    )
    from data_warehouse_product_mix_clustering_spark.streaming.ingest import (
        _load_or_fit_centers,
        read_corpus,
        seed_corpus,
        streaming_semantic_ingest,
    )
    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import BATCH_COL

    thr, nlist, sd = 0.4, 4, 42
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    seed_df = emb.filter(F.col("vec_id") < 300)
    b1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    # re-ingest one batch-1 vector under a new id: must drop against
    # batch 1's already-ingested survivors (cosine exactly 1.0). The
    # pick is order-pinned (review r13): a bare limit(1) re-evaluates
    # nondeterministically, and the reference below re-reads these
    # DataFrames — a different pick there than in the written landing
    # file would break matches_sequential flakily.
    reingest = (
        b1.orderBy("vec_id")
        .limit(1)
        .select((F.col("vec_id") + 80000).alias("vec_id"), "embedding")
    )
    b2 = emb.filter(F.col("vec_id") >= 400).unionByName(reingest)

    root = tempfile.mkdtemp(prefix="spark_graft_ingest_audit_")
    try:
        corpus_dir = os.path.join(root, "corpus")
        landing = os.path.join(root, "landing")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(landing)
        seed_corpus(spark, corpus_dir, seed_df)
        f1 = os.path.join(landing, "b1.parquet")
        f2 = os.path.join(landing, "b2.parquet")

        # Spark-write each landing file so the parquet element type stays
        # FLOAT (sources/io.py::write_single_parquet_file — the shared
        # landing-file helper; pandas.to_parquet would widen to DOUBLE
        # whenever Arrow conversion is off in the hosting session, and
        # the file-source schema refuses a DOUBLE column).
        from data_warehouse_product_mix_clustering_spark.sources.io import write_single_parquet_file

        write_single_parquet_file(b1, f1)
        write_single_parquet_file(b2, f2)
        # the file source takes files in mtime order (one per batch);
        # explicit utimes beat sleeping for the ordering
        now = os.path.getmtime(f2)
        os.utime(f1, (now - 10, now - 10))
        n = streaming_semantic_ingest(
            spark, landing, corpus_dir, ckpt,
            nlist=nlist, threshold=thr, seed=sd,
        )
        got = {r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()}

        # sequential reference: SAME frozen codebook (persisted sidecar),
        # incremental rule applied file by file — reading the WRITTEN
        # landing bytes back (review r13: re-evaluating the lazy b1/b2
        # here could diverge from what the stream actually consumed)
        from data_warehouse_product_mix_clustering_spark.streaming.ingest import EMBEDDING_SCHEMA

        b1_w = spark.read.schema(EMBEDDING_SCHEMA).parquet(f1)
        b2_w = spark.read.schema(EMBEDDING_SCHEMA).parquet(f2)
        centers = _load_or_fit_centers(spark, corpus_dir, nlist, sd)
        ref = seed_df
        for bdf in (b1_w, b2_w):
            surv = semantic_dedup_incremental(
                bdf, ref, nlist=nlist, threshold=thr, seed=sd, centers=centers
            )
            ref = ref.unionByName(
                bdf.join(surv.select("vec_id"), "vec_id", "left_semi")
            ).localCheckpoint(eager=True)
        want = {r["vec_id"] for r in ref.collect()}
        n_landing = b1_w.count() + b2_w.count()
        matches_sequential = n == 2 and got == want
        dedup_bites = len(got - {r["vec_id"] for r in seed_df.collect()}) < n_landing

        # checkpoint idempotence: nothing new -> zero batches, corpus fixed
        n2 = streaming_semantic_ingest(
            spark, landing, corpus_dir, ckpt,
            nlist=nlist, threshold=thr, seed=sd,
        )
        rerun_is_noop = n2 == 0 and {
            r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()
        } == got

        # at-least-once retry: re-execute batch 1's sink write verbatim
        # (same written bytes the stream's batch 1 consumed)
        replay_corpus = read_corpus(spark, corpus_dir, before_batch=1)
        replay_surv = semantic_dedup_incremental(
            b2_w, replay_corpus, nlist=nlist, threshold=thr, seed=sd,
            centers=centers,
        )
        (
            b2_w.join(replay_surv.select("vec_id"), "vec_id", "left_semi")
            .withColumn(BATCH_COL, F.lit(1))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL)
            .parquet(os.path.join(corpus_dir, "survivors"))
        )
        replay_idempotent = {
            r["vec_id"] for r in read_corpus(spark, corpus_dir).collect()
        } == got

        # seed-epoch gate: re-seed, then the stale checkpoint must refuse
        seed_corpus(spark, corpus_dir, seed_df.limit(50))
        try:
            streaming_semantic_ingest(
                spark, landing, corpus_dir, ckpt,
                nlist=nlist, threshold=thr, seed=sd,
            )
            reseed_gate_refuses = False
        except RuntimeError:
            reseed_gate_refuses = True
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                matches_sequential,
                rerun_is_noop,
                replay_idempotent,
                dedup_bites,
                reseed_gate_refuses,
            )
        ],
        "matches_sequential boolean, rerun_is_noop boolean, "
        "replay_idempotent boolean, dedup_bites boolean, "
        "reseed_gate_refuses boolean",
    )


_CORESET_K = 12
_CORESET_CAP = 300  # audit twin's bounded-collect slice (vec_id < cap)


# Rows-only (the pick loop is iterative; the adjacent registered AUDIT
# carries the hash-attestable contract — registered r15 alongside it,
# outside the driver window per the rows-only hygiene rule):
@register("coreset_maxmin_sample")
def coreset_maxmin_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-budgeted data selection: the greedy max-min (k-center)
    coreset over the embeddings corpus (operators/selection.py) as a
    relation — one row per pick: (pick_order, vec_id, min_sq_dist), the
    k examples that maximally COVER embedding space under the classic
    2-approximation. SemDeDup's constructive complement: instead of
    dropping near-duplicates above ε, keep a fixed budget of
    maximally-spread exemplars (coreset / active-learning selection).
    O(n·k) distance work in k distributed passes; driver state is the
    k picks. Pre-staged; the adjacent audit pins the python-twin
    equality the iterative loop cannot state in SQL."""
    from data_warehouse_product_mix_clustering_spark.operators.selection import maxmin_coreset

    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    picks = maxmin_coreset(emb, "vec_id", "embedding", _CORESET_K)
    return spark.createDataFrame(
        [
            (i, int(vid), ratio_round_py(d))
            for i, (vid, d) in enumerate(picks)
        ],
        "pick_order long, vec_id long, min_sq_dist double",
    )


def ratio_round_py(x: float) -> float:
    """Driver-side twin of functions/numeric.py::ratio_round for the
    handful of scalars an iterative operator emits from the driver."""
    return round(x + 1e-9, 6)


@register("coreset_maxmin_audit", oracle="""
    SELECT TRUE AS picks_match_twin, TRUE AS first_is_seed,
           TRUE AS dists_nonincreasing, TRUE AS k_picks,
           TRUE AS picks_distinct
""")
def coreset_maxmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``maxmin_coreset`` — iterative argmax is not
    SQL-expressible, so the driver-attestable truth is python-twin
    equality plus the greedy invariants (the ``bpe_train_audit`` mold:
    bounded slice, exact-fold determinism):

    - ``picks_match_twin``: the distributed pick sequence over the
      vec_id < cap slice equals ``maxmin_coreset_py``'s EXACTLY — ids,
      order, AND distances (both sides fold components sequentially in
      IEEE doubles and break argmax ties on lowest id, so equality
      needs no tolerance);
    - ``first_is_seed``: pick 0 is the lowest id at distance 0;
    - ``dists_nonincreasing``: the max-min radius shrinks (or holds)
      with every pick — the greedy's defining invariant;
    - ``k_picks``: the full budget was spent (the slice has ≥ k
      distinct vectors);
    - ``picks_distinct``: no vector is picked twice.

    Bounds: the twin collects the cap-slice vectors once (≤ cap rows —
    the capped-collect discipline); the distributed side runs the SAME
    slice, so both sides see identical inputs."""
    from data_warehouse_product_mix_clustering_spark.operators.selection import (
        maxmin_coreset,
        maxmin_coreset_py,
    )

    emb = (
        table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < _CORESET_CAP)
    )
    got = maxmin_coreset(emb, "vec_id", "embedding", _CORESET_K)
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.collect()  # ≤ cap rows — bounded by construction
    }
    want = maxmin_coreset_py(vecs, _CORESET_K)
    picks_match_twin = got == want
    first_is_seed = bool(got) and got[0] == (min(vecs), 0.0)
    tail = [d for _, d in got[1:]]
    dists_nonincreasing = all(a >= b for a, b in zip(tail, tail[1:]))
    k_picks = len(got) == _CORESET_K
    picks_distinct = len({i for i, _ in got}) == len(got)
    return spark.createDataFrame(
        [(picks_match_twin, first_is_seed, dists_nonincreasing, k_picks, picks_distinct)],
        "picks_match_twin boolean, first_is_seed boolean, "
        "dists_nonincreasing boolean, k_picks boolean, picks_distinct boolean",
    )
