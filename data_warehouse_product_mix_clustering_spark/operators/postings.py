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

Three serving paths over the same layout (round 18):
``search_postings_index`` (the bucket-pruned exact scan),
``search_postings_index_wand`` (block-max WAND: additionally skips
doc-id blocks whose score upper bound cannot reach the top-k threshold
— exact by construction, see the function docstring), and
``search_postings_index_batch`` (many queries against ONE scan of the
union of their buckets, per-query top-k via WindowGroupLimit).

Reference anchor: the reference app has no search service; this is part
of the beyond-reference training-data/retrieval surface (SURVEY §6), kept
Spark-idiomatic (DataFrame + layout, zero UDFs).
"""

from __future__ import annotations

import hashlib
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64

# Block-max metadata granularity: the doc-id space is cut into GLOBAL
# fixed-width blocks at build time (width persisted in stats/, so
# maintenance and serving agree forever). Global doc-id ranges — not
# per-term posting positions — so a block either contains ALL of a
# doc's query-term postings or none of them: a pruned read never sees a
# partial document, which is what makes the WAND prune exact.
#
# Width = max(DOCS_PER_BLOCK, ceil(id-range / MAX_BLOCKS)): block SIZE
# is fixed (the block-max literature's shape — bounds tighten as the
# corpus grows, because a small block's max_tf/min_dl describe few
# docs), with a block-COUNT cap so the serving driver's metadata
# collect stays ≤ |terms| × MAX_BLOCKS rows at any corpus size. Sizing
# measured round 18 on the documents fixture (top-20, 3 terms): width 2
# scores 63 of 2485 blocks at sf0.1 and 23 of 248 at smoke, while
# width 8 already degenerates to no-prune — per-block maxima over even
# a handful of docs dominate the top-20 threshold, so blocks must be
# tiny. Past ~MAX_BLOCKS × DOCS_PER_BLOCK docs the widening cap
# loosens bounds again — at that scale the survivor selection belongs
# in a distributed aggregation over per-bucket metadata rather than
# one driver fold (documented trade; the cap keeps today's path
# honest, and the fallback is always the still-bucket-pruned exact
# scan).
DOCS_PER_BLOCK = 2
MAX_BLOCKS = 4096

# Access-path gate for the WAND serve (see search_postings_index_wand):
# below this total postings volume the exact bucket scan is cheaper than
# the prune's two fixed extra driver passes. Parameterized per deployment;
# the default is derived from measured fixed costs (~1-1.5 s of driver
# passes vs a vectorized scan rate of tens of millions of postings/s),
# not from any local core count.
_WAND_MIN_TOTAL_DL_DEFAULT = 50_000_000


def _wand_min_total_dl() -> int:
    raw = os.environ.get("SPARK_GRAFT_WAND_MIN_TOTAL_DL")
    if raw is None:
        return _WAND_MIN_TOTAL_DL_DEFAULT
    try:
        return int(raw)
    except ValueError:
        warnings.warn(
            f"SPARK_GRAFT_WAND_MIN_TOTAL_DL={raw!r} is not an integer; "
            f"using the default {_WAND_MIN_TOTAL_DL_DEFAULT}",
            RuntimeWarning,
            stacklevel=2,
        )
        return _WAND_MIN_TOTAL_DL_DEFAULT


WAND_MIN_TOTAL_DL = _wand_min_total_dl()

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
    - ``blocks/`` — per (term, doc-id block) block-max skip metadata
      (``_write_blocks_meta``), same bucketing;
    - ``stats/`` — the 1-row (n_docs, total_dl, avgdl, block_width)
      corpus scalars.

    One corpus scan feeds all four (the tokenized projection is reused;
    postings aggregate (term, doc) once, df and block metadata fold the
    postings, stats fold the docs). Incremental maintenance at scale
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
    # block_width fixes the global doc-id → block mapping for the life of
    # the index (maintenance preserves it; a different corpus would pick
    # a different width, which is why rebuild-equality checks compare
    # postings content, not block metadata).
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("__t")).cast("long").alias("total_dl"),
        F.avg(F.size("__t")).alias("avgdl"),
        F.max("doc_id").cast("long").alias("__max_id"),
    ).first()
    width = max(DOCS_PER_BLOCK, int(stats["__max_id"] or 0) // MAX_BLOCKS + 1)
    toks.sparkSession.createDataFrame(
        [(stats["n_docs"], stats["total_dl"], stats["avgdl"], width)],
        "n_docs long, total_dl long, avgdl double, block_width long",
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
    # row-group min/max stats make a (term IN ..., doc_id range) filter
    # an actual skip — the pruned search's survivor-block ranges ride it
    postings.repartition("bucket").sortWithinPartitions(
        "term", "doc_id"
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings")
    )
    # df + block-max metadata fold the just-written postings (re-read
    # beats recompute: the scan is columnar and already bucket-partitioned)
    written = read_postings(toks.sparkSession, index_dir)
    (
        written.groupBy("bucket", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(index_dir, "terms"))
    )
    _write_blocks_meta(written, index_dir, width)
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


def _write_blocks_meta(
    postings: DataFrame, index_dir: str, width: int, dynamic: bool = False
) -> None:
    """(bucket, term, block, max_tf, min_dl, n_postings) — the block-max
    skip metadata (Broder et al. WAND / Ding & Suel block-max): per
    (term, global doc-id block), the ingredients of a per-block score
    upper bound. Only monotone ingredients are stored (BM25 term score
    rises with tf, falls with dl), so the bound survives corpus-stat
    drift — idf/avgdl are applied at query time from the live terms/ and
    stats/ relations. ≤ |vocab-bucket| × blocks rows per bucket (blocks
    ≤ MAX_BLOCKS by the width formula)."""
    w = (
        postings.withColumn("block", (F.col("doc_id") / width).cast("long"))
        .groupBy("bucket", "term", "block")
        .agg(
            F.max("tf").cast("long").alias("max_tf"),
            F.min("dl").cast("int").alias("min_dl"),
            F.count(F.lit(1)).cast("long").alias("n_postings"),
        )
        .repartition("bucket")
        .write.mode("overwrite")
    )
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("bucket").parquet(os.path.join(index_dir, "blocks"))


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


def read_blocks(spark: SparkSession, index_dir: str) -> DataFrame:
    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_index_relation

    return read_index_relation(
        spark,
        os.path.join(index_dir, "blocks"),
        # partition column LAST, matching the inferred non-empty layout
        "term string, block long, max_tf long, min_dl int, "
        "n_postings long, bucket int",
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
    """The single BM25 per-posting score expression — shared by the full
    scan, the seed pass, and the survivor pass so indexed, pruned, and
    ad-hoc retrieval stay value-identical by construction."""
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    return (
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )


def _score_postings(
    post: DataFrame, tdf: DataFrame, stats: DataFrame, k1: float, b: float
) -> DataFrame:
    return (
        post.join(F.broadcast(tdf), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(_bm25_term_score(k1, b)) + F.lit(1e-9), 6).alias(
                "bm25"
            )
        )
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
    scored = _score_postings(post, tdf, stats, k1, b)
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(top_k)


def search_postings_index_wand(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    n_buckets: int = DEFAULT_BUCKETS,
    min_total_dl: int | None = None,
) -> DataFrame:
    """Block-max WAND top-k over the postings index: EXACTLY the
    ``search_postings_index`` result, reading only the doc-id blocks
    whose score upper bound can still reach the top-k threshold.

    The distributed re-expression of WAND's skip pointers (Broder et
    al. 2003; block-max variant Ding & Suel 2011): instead of a
    sequential cursor walk, two set-shaped passes —

    1. SEED: from the tiny blocks/ metadata (query buckets only) compute
       each block's joint upper bound UBΣ(B) = Σ_terms UB(term, B),
       where UB = idf · σ(max_tf, min_dl) with σ the BM25 term score
       (monotone ↑tf, ↓dl, so σ(max_tf, min_dl) dominates every member
       posting; idf/avgdl come from the LIVE terms//stats/ relations, so
       bounds stay valid under CDC maintenance). Exactly score the
       highest-UBΣ blocks holding ≥ max(4·top_k, 64) postings. Blocks
       are GLOBAL doc-id ranges, so every seed doc is scored COMPLETELY
       — the k-th seed score θ is a true lower bound on the final k-th
       score.
    2. PRUNE + FINISH: exactly score only blocks with UBΣ ≥ θ − 1e-6
       (the margin covers the +1e-9/6-dp rounding nudge); every other
       block's docs score strictly below θ and cannot enter the top-k,
       ties included. Survivor blocks land as merged doc_id RANGE
       predicates next to the term filter, so parquet row-group min/max
       stats skip the pruned blocks' bytes inside each bucket file (the
       build sorts by (term, doc_id) for exactly this) — on top of the
       bucket partition prune both passes already have.

    Driver state is bounded by construction: ≤ |terms| df rows, ≤
    |terms| × MAX_BLOCKS block-meta rows, top_k seed scores. Falls
    back to the unpruned search for a pre-block-metadata index layout.

    Cost-based access-path gate (optimization r19, VERDICT r18 #4):
    the prune's benefit is the postings bytes it skips; its fixed cost
    is two extra driver passes (metadata collect + seed scoring) before
    the final scoring job. Both passes are already bucket-partition-
    pruned, so on an index whose TOTAL postings volume is small the
    exact single-job scan reads everything the prune would protect for
    less than the prune's own launch cost — measured at sf0.1 AND at a
    4× corpus: exact 0.58-0.61 s vs WAND 2.1-3.6 s, because a
    3-term bucket scan is a few MB at any locally reachable SF. The
    stats row's ``total_dl`` (Σ document lengths ≈ postings rows) is
    the always-available volume proxy: below ``wand_min_total_dl``
    (default 5e7 ≈ hundreds of MB of postings, the point where a
    bucket scan stops being launch-dominated; override via
    ``$SPARK_GRAFT_WAND_MIN_TOTAL_DL`` per deployment) the serve
    routes through the exact scan — identical rows either way (both
    paths are exact; equality pinned by tests and the WAND audit,
    which exercises the prune machinery directly regardless of this
    gate). ``min_total_dl`` overrides the module default (0 forces the
    prune path — tests and the equality sweep use it).
    """
    if not terms:
        raise ValueError(
            "search_postings_index_wand requires at least one query term"
        )
    if not index_is_committed(index_dir):
        raise RuntimeError(
            f"postings index at {index_dir!r} has no {COMMIT_MARKER} marker "
            "(torn build/update) — rebuild it before serving searches"
        )
    if not os.path.exists(os.path.join(index_dir, "blocks")):
        return search_postings_index(
            spark, index_dir, terms, k1, b, top_k, n_buckets
        )
    gate = WAND_MIN_TOTAL_DL if min_total_dl is None else min_total_dl
    total_dl = int(
        spark.read.parquet(os.path.join(index_dir, "stats")).first()["total_dl"]
    )
    if total_dl < gate:
        return search_postings_index(
            spark, index_dir, terms, k1, b, top_k, n_buckets
        )
    df_, info = _wand_survivor_postings(
        spark, index_dir, terms, k1, b, top_k, n_buckets
    )
    return df_


def _wand_survivor_postings(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...],
    k1: float,
    b: float,
    top_k: int,
    n_buckets: int,
) -> tuple[DataFrame, dict]:
    """(top-k DataFrame, prune receipt) — the WAND core; the receipt
    {'blocks_total', 'blocks_seed', 'blocks_scored'} feeds the audit."""
    import math

    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    # ONE driver job for all three metadata relations (guide §5 driver
    # consolidation; VERDICT r18 #4: the serve's fixed cost was four job
    # launches before any scoring — stats .first(), the df collect, and
    # the block-meta collect each paid their own). The 1-row stats, the
    # ≤|terms| df rows, and the ≤|terms|×MAX_BLOCKS block rows are tagged,
    # cast onto one (kind, term, x1..x4) shape, unioned, and collected in
    # a single action; the longs round-trip through double exactly (all
    # far below 2^53). Driver state stays bounded exactly as before.
    stats_src = spark.read.parquet(os.path.join(index_dir, "stats")).select(
        F.lit("stats").alias("kind"),
        F.lit(None).cast("string").alias("term"),
        F.col("n_docs").cast("double").alias("x1"),
        F.col("avgdl").alias("x2"),
        F.col("block_width").cast("double").alias("x3"),
        F.lit(0.0).alias("x4"),
    )
    terms_src = (
        read_terms(spark, index_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(*terms))
        .select(
            F.lit("term").alias("kind"),
            "term",
            F.col("df").cast("double").alias("x1"),
            F.lit(0.0).alias("x2"),
            F.lit(0.0).alias("x3"),
            F.lit(0.0).alias("x4"),
        )
    )
    blocks_src = (
        read_blocks(spark, index_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(*terms))
        .select(
            F.lit("block").alias("kind"),
            "term",
            F.col("block").cast("double").alias("x1"),
            F.col("max_tf").cast("double").alias("x2"),
            F.col("min_dl").cast("double").alias("x3"),
            F.col("n_postings").cast("double").alias("x4"),
        )
    )
    collected = stats_src.unionByName(terms_src).unionByName(blocks_src).collect()
    srow = next(r for r in collected if r["kind"] == "stats")
    n_docs, avgdl, width = int(srow["x1"]), srow["x2"], int(srow["x3"])
    term_df = {r["term"]: int(r["x1"]) for r in collected if r["kind"] == "term"}
    # The scoring joins read tdf/stats from parquet (same tiny relations
    # the exact search broadcasts), NOT from driver-local rebuilds:
    # measured at sf0.1, a python-local relation on the scoring path
    # costs +0.2-0.6 s per job (local-to-JVM conversion defeats the
    # cheap parquet-broadcast plan), twice what the folded collect saves.
    stats = spark.read.parquet(os.path.join(index_dir, "stats")).select(
        "n_docs", "avgdl"
    )
    tdf = (
        read_terms(spark, index_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(*terms))
        .select("term", "df")
    )
    idf = {
        t: math.log(1 + (n_docs - d + 0.5) / (d + 0.5))
        for t, d in term_df.items()
    }
    meta = [
        {
            "term": r["term"],
            "block": int(r["x1"]),
            "max_tf": int(r["x2"]),
            "min_dl": int(r["x3"]),
            "n_postings": int(r["x4"]),
        }
        for r in collected
        if r["kind"] == "block"
    ]
    if not meta:
        empty = _score_postings(
            read_postings(spark, index_dir).filter(F.lit(False)), tdf, stats,
            k1, b,
        )
        return empty.orderBy(F.col("bm25").desc(), "doc_id").limit(top_k), {
            "blocks_total": 0, "blocks_seed": 0, "blocks_scored": 0,
            "ub": {}, "width": width,
        }

    ub: dict[int, float] = {}
    n_post: dict[int, int] = {}
    for r in meta:
        sigma = (r["max_tf"] * (k1 + 1)) / (
            r["max_tf"] + k1 * (1 - b + b * r["min_dl"] / avgdl)
        )
        ub[r["block"]] = ub.get(r["block"], 0.0) + idf[r["term"]] * sigma
        n_post[r["block"]] = n_post.get(r["block"], 0) + r["n_postings"]

    def scored_over(blocks: list[int]) -> DataFrame:
        post = read_postings(spark, index_dir).filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(*terms)
        )
        if len(blocks) < len(ub):  # only filter when it actually prunes
            post = post.filter(_block_range_pred(blocks, width))
        return _score_postings(post, tdf, stats, k1, b)

    by_ub = sorted(ub, key=lambda blk: (-ub[blk], blk))
    need, got, seed = max(4 * top_k, 64), 0, []
    for blk in by_ub:
        if got >= need:
            break
        seed.append(blk)
        got += n_post[blk]
    seed_rows = (
        scored_over(seed)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
        .collect()
    )
    theta = seed_rows[-1]["bm25"] if len(seed_rows) == top_k else None
    survivors = (
        list(ub)
        if theta is None
        else [blk for blk in ub if ub[blk] >= theta - 1e-6]
    )
    out = (
        scored_over(survivors)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
    )
    return out, {
        "blocks_total": len(ub),
        "blocks_seed": len(seed),
        "blocks_scored": len(survivors),
        "ub": ub,  # per-block joint upper bounds — the audit's soundness probe
        "width": width,
    }


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


def _block_range_pred(blocks: list[int], width: int):
    """Survivor blocks as merged doc_id range predicates — contiguous
    blocks collapse into one BETWEEN, so the parquet pushdown sees a
    short OR-of-ranges over the file-sort column, not a giant IN."""
    from functools import reduce
    from operator import or_

    ranges = []
    for blk in sorted(blocks):
        lo, hi = blk * width, (blk + 1) * width - 1
        if ranges and ranges[-1][1] == lo - 1:
            ranges[-1][1] = hi
        else:
            ranges.append([lo, hi])
    return reduce(
        or_,
        [
            (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            for lo, hi in ranges
        ],
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
        updated = updated.localCheckpoint(eager=True)  # feeds 3 writes + dir diff
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
        # block-max metadata rides the same touched-bucket rewrite; the
        # block width is FIXED at build (stats sidecar) so maintained
        # bounds keep addressing the same doc-id ranges. A legacy index
        # without blocks/ stays legacy (the WAND search falls back).
        if os.path.exists(os.path.join(index_dir, "blocks")):
            width = int(
                spark.read.parquet(os.path.join(index_dir, "stats"))
                .first()["block_width"]
            )
            _write_blocks_meta(
                updated.withColumnRenamed(id_col, "doc_id"),
                index_dir,
                width,
                dynamic=True,
            )
        nonempty = {r.bucket for r in updated.select("bucket").distinct().collect()}
        for b in set(touched) - nonempty:
            for rel in ("postings", "terms", "blocks", "positions"):
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
    # block_width is immutable for the life of the index (the block-max
    # metadata addresses doc-id ranges in its units); legacy pre-block
    # stats rows carry it forward as NULL.
    width = (
        old_stats["block_width"] if "block_width" in old_stats.__fields__ else None
    )
    spark.createDataFrame(
        [(n_docs, total_dl, (total_dl / n_docs) if n_docs else None, width)],
        "n_docs long, total_dl long, avgdl double, block_width long",
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
