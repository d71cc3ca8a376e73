"""Materialized inverted index for BM25 retrieval: a term-bucketed
postings table on parquet, plus the seek-shaped search over it.

The ad-hoc scorer (plans/text.py::bm25_scores_df) pushes the query-term
filter inside one corpus pass — right when the corpus is scanned anyway.
A search SERVICE runs many queries against the same corpus, and there the
100 TB plan is the classic one: tokenize once, persist the postings list
(term, doc_id, tf, dl) partitioned by a hash bucket of the term, and
answer each query by reading ONLY the query terms' buckets — partition
pruning turns retrieval into a seek of O(query postings) bytes instead of
a corpus scan. Spark-first mapping:

- the index is plain parquet ``partitionBy(bucket)`` — no custom storage;
  Catalyst's partition pruning (visible as ``PartitionFilters`` in the
  scan node) is the seek;
- the bucket function is ``int(md5(term)[:8], 16) % n_buckets`` so the
  DRIVER can compute a query's buckets in Python without touching the
  cluster, and any engine (DuckDB included) can recompute it identically;
- per-term document frequencies are a second, tiny bucketed table and the
  corpus-level (n_docs, avgdl) scalars a 1-row sidecar, so scoring needs
  no full-index aggregate at query time;
- scoring itself reuses the exact BM25 expression shape of the ad-hoc
  plan, so indexed and ad-hoc retrieval are value-identical and share one
  oracle.

Two BM25 serving paths over the same layout: ``search_postings_index``
(the bucket-pruned exact scan) and ``search_postings_index_batch`` (many
queries against ONE scan of the union of their buckets, per-query top-k
via WindowGroupLimit).

Reference anchor: the reference app has no search service; this is part
of the beyond-reference training-data/retrieval surface (SURVEY §6), kept
Spark-idiomatic (DataFrame + layout, zero UDFs).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64

# Completion-marker discipline (ADVICE r8): shared with every persisted
# index family since r10 — the canonical definitions live in
# operators/ivm.py; these aliases keep this module's historical internal
# names and public re-exports working.
from data_warehouse_product_mix_clustering_spark.operators.ivm import (  # noqa: F401
    COMMIT_MARKER,
    index_is_committed,
    mark_committed as _mark_committed,
    mark_dirty as _mark_dirty,
)


def term_bucket_py(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Driver-side twin of the Spark bucket expression (md5-based so both
    sides — and any oracle engine — agree byte-for-byte)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(term_col, n_buckets: int):
    return (
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


def build_postings_index(
    docs: DataFrame,
    index_dir: str,
    tokens_expr,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Tokenize ``docs`` (doc_id, text) once and persist the four index
    relations under ``index_dir``:

    - ``postings/`` — (term, doc_id, tf, dl) partitioned by ``bucket``,
      sorted within each partition by (term, doc_id) for row-group
      skipping; repartitioned BY the bucket column before the write so
      each shuffle task emits only its own partition directories (≈1
      file per bucket, not tasks×buckets small files — the small-file
      problem is the classic index-build failure at scale);
    - ``terms/`` — (term, df) per term, same bucketing;
    - ``positions/`` — (term, doc_id, positions) for phrase search, same
      bucketing and sort;
    - ``stats/`` — the 1-row (n_docs, total_dl, avgdl) corpus scalars.

    One corpus scan feeds all four (the tokenized projection is reused;
    postings aggregate (term, doc) once, df folds the postings, stats
    fold the docs). Incremental maintenance at scale
    composes with sources/versioned.py: re-index changed docs' buckets
    from a CDC diff.
    """
    # Persisted so the postings write and the stats sidecar share ONE
    # tokenize pass (the regex tokenizer over full text is the dominant
    # build cost; without the persist the stats agg re-tokenized the
    # whole corpus — review r8). MEMORY_AND_DISK: token arrays for a big
    # corpus spill rather than OOM.
    from pyspark import StorageLevel

    os.makedirs(index_dir, exist_ok=True)
    _mark_dirty(index_dir)
    # schema sidecar: the doc_id type, so a relation whose every bucket
    # was cleared by maintenance reads back typed-EMPTY instead of
    # failing schema inference (ivm.read_index_relation — review r10)
    from data_warehouse_product_mix_clustering_spark.operators.ivm import write_id_schema

    write_id_schema(
        index_dir, "doc_id", docs.schema["doc_id"].dataType.simpleString()
    )
    toks = docs.select("doc_id", tokens_expr.alias("__t")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        _build_postings_relations(toks, index_dir, n_buckets)
    finally:
        toks.unpersist()
    _mark_committed(index_dir)


def _build_postings_relations(toks, index_dir: str, n_buckets: int) -> None:
    # total_dl is stored alongside so the stats row is incrementally
    # maintainable (update_postings_index adds/subtracts per-doc lengths);
    # avgdl is derived but persisted for the read path's convenience.
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("__t")).cast("long").alias("total_dl"),
        F.avg(F.size("__t")).alias("avgdl"),
    ).first()
    toks.sparkSession.createDataFrame(
        [(stats["n_docs"], stats["total_dl"], stats["avgdl"])],
        "n_docs long, total_dl long, avgdl double",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))
    postings = (
        toks.select(
            "doc_id", F.size("__t").alias("dl"), F.explode("__t").alias("term")
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket", _term_bucket_col(F.col("term"), n_buckets))
    )
    # sorted within each bucket partition by (term, doc_id) so parquet
    # row-group min/max stats make the searches' pushed term IN-filter
    # an actual skip inside each bucket file
    postings.repartition("bucket").sortWithinPartitions(
        "term", "doc_id"
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings")
    )
    # df folds the just-written postings (re-read beats recompute: the
    # scan is columnar and already bucket-partitioned)
    (
        read_postings(toks.sparkSession, index_dir)
        .groupBy("bucket", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(index_dir, "terms"))
    )
    # positions/ — the phrase-search relation: per (term, doc), the
    # sorted 0-based token positions. Same bucketing/sorting as
    # postings/ so a phrase query's read is the same pruned seek; one
    # extra (term, doc) shuffle of the SAME cached token scan at build.
    (
        toks.select("doc_id", F.posexplode("__t").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", _term_bucket_col(F.col("term"), n_buckets))
        .repartition("bucket")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(index_dir, "positions"))
    )


def _doc_id_type(index_dir: str) -> str:
    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_id_schema

    return read_id_schema(index_dir, "doc_id", "bigint")[1]


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_index_relation

    return read_index_relation(
        spark,
        os.path.join(index_dir, "postings"),
        f"term string, doc_id {_doc_id_type(index_dir)}, dl int, tf long, bucket int",
    )


def read_terms(spark: SparkSession, index_dir: str) -> DataFrame:
    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_index_relation

    return read_index_relation(
        spark,
        os.path.join(index_dir, "terms"),
        "bucket int, term string, df long",
    )


def read_positions(spark: SparkSession, index_dir: str) -> DataFrame:
    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_index_relation

    return read_index_relation(
        spark,
        os.path.join(index_dir, "positions"),
        # partition column LAST, matching the inferred non-empty layout
        f"term string, doc_id {_doc_id_type(index_dir)}, "
        "positions array<int>, bucket int",
    )


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    phrase: tuple[str, ...],
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact phrase match served from the positions/ relation:
    (doc_id, n_occurrences) for every document containing the phrase's
    terms at consecutive token positions — no text re-scan, no regex.

    The classic positional-index intersection as set operations: each
    phrase slot's (doc_id, positions) rows (bucket-pruned + term-pushed,
    like every read in this family) inner-join on doc_id — a doc missing
    ANY slot's term drops immediately — and the occurrence count is an
    array-lambda intersection: positions p of slot 0 where slot i's
    array contains p+i for every i (JVM higher-order functions, no
    Python). Repeated terms in the phrase join the same rows under
    distinct aliases, so "merge merge" counts overlapping runs
    correctly.

    Scale: O(Σ phrase-term positions) bytes read; the join keys on
    doc_id with per-term relations already filtered to single terms —
    skew-free by construction."""
    from functools import reduce
    from operator import and_

    if len(phrase) < 2:
        raise ValueError("search_phrase requires a phrase of ≥2 terms")
    if not index_is_committed(index_dir):
        raise RuntimeError(
            f"postings index at {index_dir!r} has no {COMMIT_MARKER} marker "
            "(torn build/update) — rebuild it before serving searches"
        )
    if not os.path.exists(os.path.join(index_dir, "positions")):
        raise RuntimeError(
            f"postings index at {index_dir!r} predates the positions/ "
            "relation — rebuild it to serve phrase queries"
        )
    buckets = sorted({term_bucket_py(t, n_buckets) for t in phrase})
    pos = read_positions(spark, index_dir).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(*set(phrase))
    )
    joined = None
    for i, t in enumerate(phrase):
        slot = pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"__p{i}")
        )
        joined = slot if joined is None else joined.join(slot, "doc_id")
    n = F.size(
        F.filter(
            F.col("__p0"),
            lambda p: reduce(
                and_,
                [
                    F.array_contains(F.col(f"__p{i}"), p + i)
                    for i in range(1, len(phrase))
                ],
            ),
        )
    )
    return (
        joined.select("doc_id", n.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def _bm25_term_score(k1: float, b: float):
    """The single BM25 per-posting score expression — shared by the
    single and batch searches so indexed and ad-hoc retrieval stay
    value-identical by construction."""
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    return (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )


def search_postings_index(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """BM25 top-k over the materialized index, touching ONLY the query
    terms' buckets.

    The bucket list is computed driver-side (``term_bucket_py``) and
    lands as a literal IN-filter on the partition column — Catalyst
    prunes every other bucket directory before a single row is read
    (pinned by a PartitionFilters plan test). The tiny per-term df rows
    and the 1-row stats broadcast into the scoring join; the final top-k
    is a partial TakeOrderedAndProject. Identical scoring expression to
    ``bm25_scores_df`` ⇒ identical values, same oracle.
    """
    if not terms:
        # F.col("term").isin() with zero args raises an opaque py4j error;
        # fail with the actual contract instead (ADVICE r8).
        raise ValueError("search_postings_index requires at least one query term")
    if not index_is_committed(index_dir):
        raise RuntimeError(
            f"postings index at {index_dir!r} has no {COMMIT_MARKER} marker "
            "(torn build/update) — rebuild it before serving searches"
        )
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    post = read_postings(spark, index_dir).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(*terms)
    )
    tdf = (
        read_terms(spark, index_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(*terms))
        .select("term", "df")
    )
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).select(
        "n_docs", "avgdl"
    )
    scored = (
        post.join(F.broadcast(tdf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(_bm25_term_score(k1, b)) + F.lit(1e-9), 6).alias(
                "bm25"
            )
        )
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(top_k)


def search_postings_index_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, tuple[str, ...]],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Score MANY queries in ONE pass over the union of their term
    buckets — the scatter-gather a search SERVICE actually runs, where a
    batch of thousands of queries amortizes the index read that per-query
    serving pays each time.

    (qid, doc_id, bm25, rank ≤ top_k) for every query. The tiny
    (qid, term) map broadcasts onto the single bucket-pruned postings
    scan (a term shared by queries fans its postings out once per
    consuming qid — correct by construction), per-(qid, doc) scores
    aggregate with the exact single-query expression, and the per-query
    top-k is a rank-filtered window PARTITIONED BY qid — Spark's
    WindowGroupLimit pushes the k-cut below the shuffle, so no query's
    full match list is ever globally sorted. Value-identical to running
    ``search_postings_index`` per query (same expression, same rounding,
    same doc_id tie-break); pinned by test + the registered batch
    query's DuckDB oracle.

    Scale: one scan of O(Σ query-term postings) bytes regardless of
    |queries|; the qid map is |queries| × |terms| rows (broadcast); no
    driver-side per-query loop."""
    from pyspark.sql import Window

    if not queries or any(not ts for ts in queries.values()):
        raise ValueError(
            "search_postings_index_batch requires ≥1 query, each with ≥1 term"
        )
    if not index_is_committed(index_dir):
        raise RuntimeError(
            f"postings index at {index_dir!r} has no {COMMIT_MARKER} marker "
            "(torn build/update) — rebuild it before serving searches"
        )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    buckets = sorted({term_bucket_py(t, n_buckets) for t in all_terms})
    qmap = spark.createDataFrame(
        sorted((q, t) for q, ts in queries.items() for t in set(ts)),
        "qid string, term string",
    )
    post = read_postings(spark, index_dir).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    )
    tdf = (
        read_terms(spark, index_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(all_terms))
        .select("term", "df")
    )
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).select(
        "n_docs", "avgdl"
    )
    scored = (
        post.join(F.broadcast(qmap), "term")
        .join(F.broadcast(tdf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(
            F.round(F.sum(_bm25_term_score(k1, b)) + F.lit(1e-9), 6).alias(
                "bm25"
            )
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("qid", "doc_id", "bm25", "rank")
    )


def update_postings_index(
    spark: SparkSession,
    index_dir: str,
    diff: DataFrame,
    tokens_expr_of,
    id_col: str = "doc_id",
    text_field: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict[str, int]:
    """Maintain the index from a CDC change set (``sources/versioned.py::
    version_diff`` shape) instead of rebuilding it — cost O(changed docs'
    buckets), never O(corpus).

    The incremental-view-maintenance decomposition per changed document:
    its OLD tokens' postings leave, its NEW tokens' postings arrive; an
    index bucket is touched iff some old-or-new token hashes into it.
    Concretely:

    1. tokenize only the diff's old/new texts (|changes| docs, not the
       corpus) and derive the affected bucket set (≤ n_buckets — bounded,
       so collecting it is O(64), not O(data));
    2. rewrite ONLY those bucket partitions of ``postings/`` and
       ``terms/``: surviving rows (anti-join on the changed doc ids) plus
       the new postings, via dynamic partition overwrite — untouched
       buckets' files are never read or written;
    3. maintain the 1-row stats sidecar algebraically
       (n_docs ± adds/removes, total_dl ± per-doc lengths).

    An affected bucket that ends up EMPTY still has its stale partition
    directory cleared (dynamic overwrite only replaces partitions present
    in the written data); on a transactional table format that is
    ``replaceWhere``'s job — here the driver removes the orphan dirs, the
    documented local-parquet stand-in.

    ``tokens_expr_of``: column-expression factory (text column → array
    column), the SAME one the index was built with. Returns
    {'added': n, 'removed': n, 'changed': n, 'buckets_touched': n}.
    """
    import shutil

    d = diff.select(
        id_col,
        "change_type",
        F.col(f"__old.{text_field}").alias("__old_text"),
        F.col(f"__new.{text_field}").alias("__new_text"),
    ).localCheckpoint(eager=True)  # diff plans are 2 scans + a join; run once
    counts = {
        r["change_type"]: r["n"]
        for r in d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    new_toks = d.filter(F.col("change_type").isin("added", "changed")).select(
        id_col, tokens_expr_of(F.col("__new_text")).alias("__t")
    )
    old_toks = d.filter(F.col("change_type").isin("removed", "changed")).select(
        id_col, tokens_expr_of(F.col("__old_text")).alias("__t")
    )
    new_postings = (
        new_toks.select(
            id_col, F.size("__t").alias("dl"), F.explode("__t").alias("term")
        )
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket", _term_bucket_col(F.col("term"), n_buckets))
    )
    touched = sorted(
        r.bucket
        for r in new_postings.select("bucket")
        .unionByName(
            old_toks.select(F.explode("__t").alias("term")).select(
                _term_bucket_col(F.col("term"), n_buckets).alias("bucket")
            )
        )
        .distinct()
        .collect()
    )
    # Everything above is read-only; from here the index is in-flux, so
    # drop the commit marker first and restore it only after the stats
    # write — a crash in between leaves a detectable torn index.
    _mark_dirty(index_dir)
    if touched:
        changed_ids = d.select(id_col)
        survivors = (
            read_postings(spark, index_dir)
            .filter(F.col("bucket").isin(touched))
            .join(changed_ids, id_col, "left_anti")
        )
        updated = survivors.select("term", id_col, "dl", "tf", "bucket").unionByName(
            new_postings.select("term", id_col, "dl", "tf", "bucket")
        )
        updated = updated.localCheckpoint(eager=True)  # feeds 2 writes + dir diff
        (
            updated.repartition("bucket")
            .sortWithinPartitions("term", id_col)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(index_dir, "postings"))
        )
        (
            updated.groupBy("bucket", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(index_dir, "terms"))
        )
        # positions/ rides the same touched-bucket rewrite (same term →
        # bucket map, so the touched set is identical); a legacy index
        # without it stays legacy (search_phrase refuses with a rebuild
        # message).
        if os.path.exists(os.path.join(index_dir, "positions")):
            new_positions = (
                new_toks.select(
                    id_col, F.posexplode("__t").alias("pos", "term")
                )
                .groupBy("term", id_col)
                .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
                .withColumn(
                    "bucket", _term_bucket_col(F.col("term"), n_buckets)
                )
            )
            surv_pos = (
                read_positions(spark, index_dir)
                .filter(F.col("bucket").isin(touched))
                .join(changed_ids, id_col, "left_anti")
                .select("term", id_col, "positions", "bucket")
            )
            # materialized BEFORE the write — the plan reads the very
            # partitions the dynamic overwrite replaces (the same
            # discipline as the postings rewrite's localCheckpoint)
            updated_pos = surv_pos.unionByName(
                new_positions.select("term", id_col, "positions", "bucket")
            ).localCheckpoint(eager=True)
            (
                updated_pos.repartition("bucket")
                .sortWithinPartitions("term", id_col)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(os.path.join(index_dir, "positions"))
            )
        nonempty = {r.bucket for r in updated.select("bucket").distinct().collect()}
        for b in set(touched) - nonempty:
            for rel in ("postings", "terms", "positions"):
                shutil.rmtree(
                    os.path.join(index_dir, rel, f"bucket={b}"), ignore_errors=True
                )
    # stats: old row ⊕ the per-doc length delta
    old_stats = spark.read.parquet(os.path.join(index_dir, "stats")).first()
    delta = (
        new_toks.select(F.size("__t").alias("__dl"), F.lit(1).alias("__dn"))
        .unionByName(old_toks.select((-F.size("__t")).alias("__dl"), F.lit(-1).alias("__dn")))
        .agg(F.sum("__dl").alias("ddl"), F.sum("__dn").alias("dn"))
        .first()
    )
    n_docs = old_stats["n_docs"] + counts.get("added", 0) - counts.get("removed", 0)
    total_dl = old_stats["total_dl"] + (delta["ddl"] or 0)
    spark.createDataFrame(
        [(n_docs, total_dl, (total_dl / n_docs) if n_docs else None)],
        "n_docs long, total_dl long, avgdl double",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))
    # No explicit unpersist: Dataset.unpersist does NOT release
    # localCheckpoint blocks (review r11); d releases via ContextCleaner
    # once unreferenced.
    _mark_committed(index_dir)
    return {
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
        "buckets_touched": len(touched),
    }
