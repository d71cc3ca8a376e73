"""Document deduplication operators for the training-data pipeline surface.

Four dedup families, all expressed as distributed DataFrame plans (no
driver-side state, no Python in the hot path):

- **Exact**: md5 fingerprint of normalized text → hash groupBy.
- **N-gram Jaccard**: the relational MapReduce formulation — explode distinct
  shingles, self-join on shingle, |A∩B| via count, Jaccard via
  inter/(|A|+|B|−inter). Exact but quadratic in co-occurring docs; the
  ``max_shingle_freq`` cap drops ubiquitous shingles (standard at scale —
  a shingle shared by k docs contributes k² join rows).
- **MinHash + LSH**: shingles → 64 universal-hash minima → 16 bands × 4 rows
  → banded bucket join for candidates → exact-Jaccard verification of the
  (tiny) candidate set. Near-linear in corpus size; the scale path.
- **SimHash**: 64-bit signature from xxhash64 token hashes; near-dup pairs
  via 4×16-bit band join + popcount Hamming filter.

All randomness is seeded Python-side at plan-build (deterministic across
runs and engines).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round
from data_warehouse_product_mix_clustering_spark.functions.text import fingerprint, tokens, word_ngrams
from data_warehouse_product_mix_clustering_spark.operators.skew import fan_out

_MERSENNE31 = (1 << 31) - 1


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc fingerprint + duplicate-group size and rank (exact dedup).

    ``dup_rank = 1`` rows are the keepers; ``group_size > 1`` marks dup
    groups. One shuffle on the fingerprint.
    """
    from pyspark.sql import Window

    fp = df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint")
    wo = w.orderBy(id_col)
    return fp.select(
        id_col,
        "fingerprint",
        F.count(F.lit(1)).over(w).alias("group_size"),
        F.row_number().over(wo).cast("long").alias("dup_rank"),
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation of each doc.

    ``fan_out`` first: shingling expands each doc ~|tokens|×, so a corpus
    written as few row groups must be spread across the cluster BEFORE the
    expansion or the whole dedup family serializes on a handful of cores.
    """
    return (
        fan_out(df).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(
            id_col,
            F.explode(F.array_distinct(word_ngrams("__toks", n))).alias("shingle"),
        )
    )


def _jaccard_from_intersections(
    inter: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Shared Jaccard finale: |A∩B| (``__inter``) + per-doc set sizes
    (``__n``) → ``i / (|A| + |B| − i)``.

    Both the symmetric self-join plan and the one-sided batch-vs-corpus
    plan end here, so the denominator semantics live in exactly one place
    (pinned equal by test_incremental_jaccard_is_cross_split_slice_of_
    symmetric).

    When both sides are the SAME relation, the two size branches join as
    ALIASES of one frame instead of two renamed projections
    (optimization r19, guide §2.4 exchange reuse): a rename below the
    BroadcastExchange gives the two branches different canonicalized
    plans, so the per-doc size aggregate was computed and broadcast
    TWICE — measured as two full scans of the cached shingle relation
    per query; alias-qualified joins keep one subtree and the runtime
    reuses the first exchange.
    """
    if sizes_a is sizes_b:
        sa, sb = sizes_a.alias("__sa"), sizes_a.alias("__sb")
        return (
            inter.join(sa, F.col(a_col) == F.col(f"__sa.{id_col}"))
            .join(sb, F.col(b_col) == F.col(f"__sb.{id_col}"))
            .select(
                a_col,
                b_col,
                (
                    F.col("__inter")
                    / (
                        F.col("__sa.__n")
                        + F.col("__sb.__n")
                        - F.col("__inter")
                    )
                ).alias("jaccard"),
            )
        )
    na = sizes_a.select(F.col(id_col).alias(a_col), F.col("__n").alias("__na"))
    nb = sizes_b.select(F.col(id_col).alias(b_col), F.col("__n").alias("__nb"))
    return (
        inter.join(na, a_col)
        .join(nb, b_col)
        .select(
            a_col,
            b_col,
            (
                F.col("__inter")
                / (F.col("__na") + F.col("__nb") - F.col("__inter"))
            ).alias("jaccard"),
        )
    )


def pair_intersections(sh: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, __inter): shared-shingle counts for every
    co-occurring doc pair — the shingle SELF-JOIN formulation, shared by
    the exact-Jaccard and overlap-coefficient plans so the intersection
    machinery has one definition.

    Deliberately a self-join (A/B'd r19 at sf0.1, best-of-3): the
    broadcast self-join runs 1.85 s vs 4.1 s for an aggregate-then-expand
    rewrite (collect each shingle's doc ids, expand them to pairs) and
    6-8 s for its shuffled variants. The join's stream side keeps the shingle relation's doc-contiguous
    partitioning, so every pair (a, b) of a fixed doc_a materializes in
    one task and the map-side partial aggregate collapses the k² pair
    stream to the distinct-pair counts BEFORE the exchange (88.6 MB);
    any shingle-keyed regrouping scatters the same pairs across tasks
    (264.8 MB shuffled, 3× the cpu). At corpus scales where the relation
    stops broadcasting, ``max_shingle_freq`` + the LSH path are the
    answer, not a bigger exact join."""
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )


def _pair_jaccard(
    sh: DataFrame, id_col: str, restrict: DataFrame | None = None
) -> DataFrame:
    """Jaccard for all (or ``restrict``-listed) doc pairs sharing a shingle.

    With ``restrict`` (a small (doc_a, doc_b) candidate list, e.g. from LSH)
    the plan is candidate-centric: candidates ⋈ shingles(doc_a) ⋈
    shingles(doc_b, same shingle) — linear in |candidates| × doc size, never
    touching the quadratic shingle pair expansion. Without it, the exact
    formulation: ``pair_intersections`` (the shingle self-join filtered to
    a < b, then counted per pair; k docs sharing a shingle → k(k-1)/2
    rows before the count).
    """
    # Lazy checkpoint: the per-doc size relation is consumed by BOTH size
    # joins, and exchange reuse does not fire across the two branches
    # (measured r19: the aggregate ran twice, a full scan of the cached
    # shingle relation each). The checkpointed relation is doc-count-sized
    # (id + one long); materialization rides the first consumer's job.
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n")).localCheckpoint(
        eager=False
    )
    if restrict is not None:
        a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
        b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
        pairs = F.broadcast(restrict).join(a, "doc_a").join(b, ["doc_b", "shingle"])
        inter = pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("__inter")
        )
    else:
        inter = pair_intersections(sh, id_col)
    return _jaccard_from_intersections(inter, sizes, sizes, id_col, "doc_a", "doc_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (doc_a < doc_b).

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before the self-join (scale guard; None = exact).

    ``shingles``: an optional precomputed ``shingle_sets(df, ...)``
    relation (e.g. a session-persisted one shared across the dedup query
    family) — must be the distinct (id, shingle) pairs of exactly ``df``
    at the same ``n``, or the result is undefined.
    """
    sh = shingles if shingles is not None else shingle_sets(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    out = _pair_jaccard(sh, id_col)
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", ratio_round(F.col("jaccard")).alias("jaccard")
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31, 2), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 64,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """One row per doc with ``mh0..mh{k-1}`` minhash columns.

    Universal hashing ((a·h + b) mod 2³¹−1) over the unsigned 32-bit
    murmur3 shingle hash; all arithmetic stays in JVM longs (a, h < 2³¹/2³²
    so the product fits). ``shingles`` as in ``jaccard_pairs``.
    """
    sh = shingles if shingles is not None else shingle_sets(df, id_col, text_col, n)
    hu = (F.hash("shingle").cast("long").bitwiseAND(F.lit(0xFFFFFFFF))).alias("__h")
    hashed = sh.select(id_col, hu)
    mins = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(_MERSENNE31)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes, seed))
    ]
    return hashed.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify: bool = True,
    verify_scope: str = "corpus",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, optionally verified with exact Jaccard.

    Banded candidate generation: docs agreeing on all rows of any band meet
    in a bucket (one shuffle on (band, key)); with 64 hashes / 16 bands ×
    4 rows, P(candidate | j=0.8) ≈ 0.9998. Candidates are then verified by
    computing the true Jaccard for the candidate pairs only.

    ``verify_scope`` picks the verify stage's data-vs-jobs tradeoff
    (identical results either way — pinned in tests/test_operators.py):

    - ``"corpus"`` (default): _pair_jaccard's three reads of the shingle
      relation each recompute the full-corpus shingle pipeline. Fewest
      jobs — measured fastest through ~1e5 docs (sf0.1 best-of-5: 2.0 s
      vs 3.6 s restricted; fixed scheduling overhead dominates there).
    - ``"candidates"``: persist the candidate pairs, broadcast-semi-join
      the corpus down to candidate docs at the SCAN, then shingle only
      those. Three extra tiny jobs, but the verify's data passes shrink
      from 3 × |corpus| to 2 × |candidate docs| — the only defensible
      plan at 100 TB, where re-shingling the corpus three times IS the
      query cost. Deployments above ~1e6 docs should pass this.
    """
    assert num_hashes % bands == 0
    if verify_scope not in ("corpus", "candidates"):
        raise ValueError(
            f"verify_scope must be 'corpus' or 'candidates', got {verify_scope!r}"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, n, num_hashes, seed, shingles=shingles
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("key"),
            )
            for b in range(bands)
        ]
    )
    # persist: the bucket self-join reads this twice (a/b branches); without
    # a cache each branch re-runs the ENTIRE shingle→minhash pipeline — the
    # most expensive stages in the plan — doubling the query. The cached
    # relation is narrow (id, band:int, key:int — N×bands rows, no text),
    # MEMORY_AND_DISK, so it spills rather than OOMs at corpus scale.
    # Optimization r19 left this shape ALONE after measuring both
    # alternatives worse in bench context: an aggregate-then-expand
    # rewrite (collect_list + expand per bucket) benched 2.34 → 3.07 s,
    # and dropping the persist in favor of exchange reuse recomputed the
    # signature pipeline twice (the r19 decomposition shows
    # shuffle-exchange reuse NOT firing across the aliased branches: two
    # (band, key) exchange writes, 10.7 s + 4.6 s run).
    buckets = sig.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    ).persist()
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "key")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "key")
    candidates = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if not verify:
        return candidates
    if verify_scope == "candidates":
        # Persist the tiny pair list (consumed three times below; like the
        # buckets persist above it lives until the session releases it —
        # the returned plan depends on it, so it cannot unpersist here), then cut
        # the corpus to candidate docs AT THE SCAN so the shingle pipeline
        # runs over |candidate docs| twice instead of |corpus| three times.
        candidates = candidates.persist()
        cand_docs = (
            candidates.select(F.col("doc_a").alias(id_col))
            .union(candidates.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        # A provided shingle relation prunes to candidate docs directly —
        # no re-tokenize of the pruned corpus.
        if shingles is not None:
            sh = shingles.join(F.broadcast(cand_docs), id_col, "left_semi")
        else:
            verify_src = df.join(F.broadcast(cand_docs), id_col, "left_semi")
            sh = shingle_sets(verify_src, id_col, text_col, n)
    elif shingles is not None:
        sh = shingles
    else:
        sh = shingle_sets(df, id_col, text_col, n)
    verified = _pair_jaccard(sh, id_col, restrict=candidates)
    return verified.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", ratio_round(F.col("jaccard")).alias("jaccard")
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc from xxhash64 token hashes (duplicates weighted).

    Bit b of the signature is the sign of Σ_tokens (±1 by the token-hash's
    bit b). Explodes (doc × token × 64 bits) — the standard shuffle
    formulation; the per-bit partial sums combine map-side.
    """
    tok = fan_out(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = tok.select(id_col, F.xxhash64("tok").alias("__h"))
    signs = h.select(
        id_col,
        F.posexplode(
            F.expr(
                "transform(sequence(0, 63),"
                " b -> CASE WHEN ((__h >> b) & 1) = 1 THEN 1 ELSE -1 END)"
            )
        ).alias("bit", "sign"),
    )
    bitvals = signs.groupBy(id_col, "bit").agg(F.sum("sign").alias("__s"))
    return bitvals.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("__s") > 0, F.expr("shiftleft(cast(1 AS bigint), bit)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via 4×16-bit band join.

    By pigeonhole, Hamming ≤ 3 implies at least one of the 4 chunks is
    identical — the band join finds exactly those candidates.
    """
    sig = simhash64(df, id_col, text_col)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("band"),
                (
                    F.shiftrightunsigned(F.col("simhash"), 16 * c).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                ).alias("key"),
            )
            for c in range(4)
        ]
    )
    buckets = sig.select(id_col, "simhash", F.explode(chunks).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = buckets.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "key"
    )
    b = buckets.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, group_id).

    The grouping step of a real dedup pipeline: pair output (from exact /
    MinHash / SimHash matching) becomes transitive duplicate GROUPS, with
    ``group_id = min(member id)`` as the canonical representative.

    Distributed label propagation (the simplified large-star idea): every
    node starts labeled with itself; each iteration every node adopts the
    minimum label in its neighborhood (its own + all neighbors'); stop when
    an iteration changes nothing. Converges in O(component diameter)
    iterations — near-dup components are shallow (dozens of docs chained
    by pairwise matches), so a handful of shuffles total. Each iteration
    localCheckpoints the (tiny: nodes-sized) label frame to cut lineage.

    Output: one row per node appearing in ``pairs``: (id, group_id).
    """
    # Materialize the edge list ONCE: every propagation iteration joins
    # against it, and without this the (often expensive) upstream pair plan
    # — a shingle self-join or LSH bucket join — would re-execute per
    # iteration, multiplying the dominant cost by O(diameter). The edge
    # frame itself is pairs-sized (tiny next to the corpus).
    edges = (
        pairs.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(right_col).alias("src"), F.col(left_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Partial labels are WRONG group ids (a chain deeper than the cap
        # still carries distinct labels); failing loudly beats silently
        # under-merging duplicate groups.
        raise RuntimeError(
            f"connected_components did not converge within max_iterations="
            f"{max_iterations}; a component's diameter exceeds the cap - "
            "raise max_iterations (iterations needed ~ component diameter)"
        )
    return labels.select(F.col("id"), F.col("label").alias("group_id"))


def incremental_dedup(
    new_docs: DataFrame,
    existing_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup an incoming batch against an already-ingested corpus.

    The incremental-pipeline shape: the existing corpus is represented by
    its (tiny relative to text) fingerprint column only; the new batch is
    fingerprinted, de-duplicated *within itself* (keep lowest id), then
    anti-joined against the existing set. Cost: one shuffle over the new
    batch + one join against the fingerprint set — the full corpus text is
    never re-read, which is what makes continuous ingestion affordable.

    ``existing_fingerprints`` needs a single ``fingerprint`` column (e.g.
    the saved output of ``exact_duplicates``). Returns the surviving new
    rows with their fingerprint attached, ready to append to both the
    corpus and the fingerprint store.
    """
    from pyspark.sql import Window

    fp = new_docs.withColumn("fingerprint", fingerprint(F.col(text_col)))
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    first_in_batch = (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    existing = existing_fingerprints.select("fingerprint").distinct()
    return first_in_batch.join(existing, "fingerprint", "left_anti")


def incremental_jaccard_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    broadcast_new_shingles: bool = True,
) -> DataFrame:
    """Near-dup pairs between an incoming batch and the existing corpus —
    the one-sided complement of ``jaccard_pairs``.

    Continuous ingestion cannot afford the symmetric corpus self-join:
    a new batch is tiny relative to the corpus, so the right plan joins
    the batch's shingles against the corpus's, never corpus × corpus.
    With ``broadcast_new_shingles`` (the deployment default — a batch's
    distinct-shingle set is small) the corpus shingle relation is pruned
    by a broadcast semi-join BEFORE the pair shuffle, so the only large
    shuffle carries corpus shingles that actually co-occur with the
    batch — typically a vanishing fraction at 100 TB. Corpus set sizes
    are recomputed here in one map-side-combinable pass; a production
    store would persist them next to the fingerprints (see
    ``incremental_dedup``) and skip that scan.

    Returns (doc_new, doc_corpus, jaccard ≥ threshold). Assumes the two
    inputs' id spaces are disjoint (an id in both would pair with itself
    at jaccard 1.0 — by design: re-ingesting an already-ingested doc IS a
    duplicate).
    """
    sh_new = shingle_sets(new_docs, id_col, text_col, n)
    sh_old = shingle_sets(corpus_docs, id_col, text_col, n)

    # Corpus sizes come from the UNPRUNED relation — the Jaccard
    # denominator needs each corpus doc's full set size.
    sizes_new = sh_new.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    sizes_old = sh_old.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))

    relevant = sh_new.select("shingle").distinct()
    if broadcast_new_shingles:
        relevant = F.broadcast(relevant)
    sh_old_pruned = sh_old.join(relevant, "shingle", "left_semi")

    a = sh_new.select(F.col(id_col).alias("doc_new"), "shingle")
    b = sh_old_pruned.select(F.col(id_col).alias("doc_corpus"), "shingle")
    inter = a.join(b, "shingle").groupBy("doc_new", "doc_corpus").agg(
        F.count(F.lit(1)).alias("__inter")
    )
    out = _jaccard_from_intersections(
        inter, sizes_new, sizes_old, id_col, "doc_new", "doc_corpus"
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_new", "doc_corpus", ratio_round(F.col("jaccard")).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index with CDC maintenance (r10).
#
# The in-memory LSH path (minhash_lsh_pairs) re-signatures the whole corpus
# per run, and the incremental dedup family (dedup_incremental_*) still scans
# the corpus TEXT per batch for shingle pruning. At 100 TB the production
# shape is a PERSISTED banded signature relation: a new batch computes only
# its own signatures, reads only the hash-bucket partitions its bands land
# in, and the relation maintains from a CDC change set in O(touched buckets)
# — possible because signatures are a pure function of (text, params), so a
# changed doc's OLD bucket rows recompute from the diff's old image without
# ever scanning the index (the same IVM trick as the postings and vector
# indexes).
# ---------------------------------------------------------------------------

_MINHASH_META = "_index.json"


def _minhash_bucket_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    n_buckets: int,
) -> DataFrame:
    """(id, band, key, pbucket): one row per (doc, band) with the SAME
    band-key expressions as ``minhash_lsh_pairs`` (hash of the band's
    minhash columns), plus the storage partition ``pbucket =
    pmod(xxhash64(band, key), n_buckets)``."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
                    "key"
                ),
            )
            for b in range(bands)
        ]
    )
    return (
        sig.select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(
            id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        .withColumn(
            "pbucket", F.pmod(F.xxhash64("band", "key"), F.lit(n_buckets)).cast("int")
        )
    )


def build_minhash_index(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    n_buckets: int = 64,
) -> None:
    """Persist the banded MinHash signature relation, partitioned by
    ``pbucket`` (≈1 file per bucket after the repartition — no small-file
    blowup) with the signature params in a meta sidecar and the commit
    marker against torn builds. ~bands rows × 3 ints per doc — a few
    hundred bytes/doc regardless of document size."""
    import json
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
        write_id_schema,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_small_file_atomic

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    os.makedirs(index_dir, exist_ok=True)
    _mark_dirty(index_dir)
    write_id_schema(index_dir, id_col, docs.schema[id_col].dataType.simpleString())
    rows_df = _minhash_bucket_rows(
        docs, id_col, text_col, n, num_hashes, bands, seed, n_buckets
    )
    (
        rows_df.repartition("pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(os.path.join(index_dir, "buckets"))
    )
    write_small_file_atomic(
        os.path.join(index_dir, _MINHASH_META),
        json.dumps(
            {
                "id_col": id_col,
                "text_col": text_col,
                "n": n,
                "num_hashes": num_hashes,
                "bands": bands,
                "seed": seed,
                "n_buckets": n_buckets,
            },
            sort_keys=True,
        ),
    )
    _mark_committed(index_dir)


def _minhash_meta(index_dir: str) -> dict:
    import json
    import os

    with open(os.path.join(index_dir, _MINHASH_META)) as f:
        return json.load(f)


def _minhash_cols(meta: dict, text_col: str | None) -> tuple[str, str]:
    """Resolve (id_col, text_col) from the index's OWN meta — never from
    caller defaults (ADVICE r10: defaults could silently key on a
    coincidental column). ``id_col`` has been in the meta since the
    format existed. ``text_col`` was added r11, so a LEGACY index may
    lack it; for those the caller-supplied override is the only correct
    source (else the historical 'text' default). When the meta DOES
    carry text_col, a conflicting override is an error, not a silent
    pick (review r11: the first cut dropped the parameter entirely,
    which left legacy custom-column indexes with no correct
    maintenance path at all)."""
    stored = meta.get("text_col")
    if stored is not None and text_col is not None and stored != text_col:
        raise ValueError(
            f"minhash index was built with text_col={stored!r}; caller "
            f"passed {text_col!r} — refusing to sign the wrong column"
        )
    return meta.get("id_col", "doc_id"), stored or text_col or "text"


def read_minhash_buckets(spark, index_dir: str) -> DataFrame:
    """The persisted bucket relation — typed-EMPTY when the index holds
    zero signature rows (an all-empty-text corpus, or a maintenance run
    that removed every doc, writes only _SUCCESS into a partitioned
    directory, which ``spark.read.parquet`` cannot infer a schema from;
    found by the hypothesis maintenance≡rebuild property, r10)."""
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_id_schema, read_index_relation

    meta = _minhash_meta(index_dir)
    id_col, id_type = read_id_schema(index_dir, meta.get("id_col", "doc_id"), "bigint")
    return read_index_relation(
        spark,
        os.path.join(index_dir, "buckets"),
        f"{id_col} {id_type}, band int, key int, pbucket int",
    )


def update_minhash_index(
    spark,
    index_dir: str,
    diff: DataFrame,
    *,
    # keyword-only (ADVICE r11): the r11 signature change removed the
    # positional id_col; a stale positional caller's id argument would
    # otherwise bind to text_col and, on a pre-r11 meta with no stored
    # text_col, be TRUSTED — silently signing the id column. Fail loudly.
    text_col: str | None = None,
) -> dict:
    """Maintain the persisted signature relation from a CDC change set
    (``sources/versioned.py::version_diff`` shape) — cost O(touched
    buckets), never O(corpus): a removed/changed doc's old bucket rows
    recompute from the diff's OLD text (signatures are deterministic in
    the stored params), new rows come from the NEW text, and only the
    union of their ``pbucket`` partitions rewrites. Commit-marker
    protected; a torn index refuses maintenance (rebuild recovers).

    The id/text column names come from the index's own meta sidecar
    (``_minhash_cols`` — ADVICE r10); ``text_col`` is accepted only for
    LEGACY indexes whose meta predates the field, and must match the
    meta when both exist.

    Returns {'added','removed','changed','buckets_touched'}.
    """
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
        overwrite_touched_partitions,
        require_committed,
    )

    require_committed(index_dir, "MinHash")
    meta = _minhash_meta(index_dir)
    id_col, text_col = _minhash_cols(meta, text_col)
    params = (meta["n"], meta["num_hashes"], meta["bands"], meta["seed"], meta["n_buckets"])
    d = diff.select(
        id_col,
        "change_type",
        F.col(f"__old.{text_col}").alias("__old_text"),
        F.col(f"__new.{text_col}").alias("__new_text"),
    ).localCheckpoint(eager=True)  # diff plans are 2 version scans + a join
    counts = {
        r["change_type"]: r["n"]
        for r in d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    new_rows = _minhash_bucket_rows(
        d.filter(F.col("change_type").isin("added", "changed")).select(
            id_col, F.col("__new_text").alias(text_col)
        ),
        id_col, text_col, *params,
    ).localCheckpoint(eager=True)  # feeds touched set + the write
    old_buckets = _minhash_bucket_rows(
        d.filter(F.col("change_type").isin("removed", "changed")).select(
            id_col, F.col("__old_text").alias(text_col)
        ),
        id_col, text_col, *params,
    ).select("pbucket")
    touched = sorted(
        r["pbucket"]
        for r in new_rows.select("pbucket").unionByName(old_buckets).distinct().collect()
    )
    _mark_dirty(index_dir)
    if touched:
        path = os.path.join(index_dir, "buckets")
        survivors = (
            read_minhash_buckets(spark, index_dir)
            .filter(F.col("pbucket").isin(touched))
            .join(d.select(id_col), id_col, "left_anti")
        )
        updated = survivors.select(id_col, "band", "key", "pbucket").unionByName(
            new_rows.select(id_col, "band", "key", "pbucket")
        ).localCheckpoint(eager=True)  # feeds the write + emptied-dir diff
        overwrite_touched_partitions(updated, path, "pbucket", touched)
    _mark_committed(index_dir)
    # No explicit unpersist: Dataset.unpersist does NOT release
    # localCheckpoint blocks (review r11); the per-call relations become
    # unreferenced on return and ContextCleaner reclaims them.
    return {
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
        "buckets_touched": len(touched),
        "touched": touched,
    }


def minhash_index_candidates(
    spark,
    index_dir: str,
    batch: DataFrame,
    *,
    # keyword-only for the same stale-positional-caller hazard as
    # update_minhash_index (ADVICE r11).
    text_col: str | None = None,
) -> DataFrame:
    """(doc_new, doc_corpus) candidate near-dup pairs between ``batch``
    and the indexed corpus: the batch signatures (computed with the
    STORED params) join the persisted relation on (band, key), reading
    ONLY the batch's ``pbucket`` partitions — the bounded probe-cell set
    becomes a literal partition filter, the postings/IVF seek pattern
    applied to dedup. Verification (exact Jaccard of the candidates) is
    the caller's next step, same contract as ``minhash_lsh_pairs
    (verify=False)``. Self-pairs (a batch doc already indexed under the
    same id) are excluded. The id/text column names come from the
    index's own meta sidecar (``_minhash_cols``); ``text_col`` is
    accepted only for legacy metas that predate the field.
    """
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import require_committed

    require_committed(index_dir, "MinHash")
    meta = _minhash_meta(index_dir)
    # The collected pbucket partition filter and the join side MUST see
    # the same signature rows, so the batch signatures materialize ONCE
    # (eager localCheckpoint — lineage truncation makes re-evaluation
    # impossible, which is the correctness point: a nondeterministic
    # batch source cannot silently shrink the filter out from under the
    # join). Storage honesty (review r11, verified on this PySpark:
    # Dataset.unpersist does NOT release localCheckpoint blocks): the
    # blocks live until Spark's ContextCleaner reclaims the checkpointed
    # RDD after its LAST reference — the returned candidate plan — is
    # dropped, so a probe-per-batch service holds at most its LIVE
    # probes' signatures, never an unbounded backlog.
    id_col, text_col = _minhash_cols(meta, text_col)
    batch_rows = _minhash_bucket_rows(
        batch, id_col, text_col,
        meta["n"], meta["num_hashes"], meta["bands"], meta["seed"], meta["n_buckets"],
    ).localCheckpoint(eager=True)
    probe_buckets = sorted(
        r["pbucket"] for r in batch_rows.select("pbucket").distinct().collect()
    )
    stored = read_minhash_buckets(spark, index_dir).filter(
        F.col("pbucket").isin(probe_buckets)
    )
    return (
        batch_rows.select(
            F.col(id_col).alias("doc_new"), "band", "key"
        )
        .join(
            stored.select(F.col(id_col).alias("doc_corpus"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_new") != F.col("doc_corpus"))
        .select("doc_new", "doc_corpus")
        .distinct()
    )


def scrub_spans(
    toks: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    n: int = 8,
    tok_col: str = "t",
    pos_shingles: DataFrame | None = None,
    carry: tuple[str, ...] = (),
    broadcast_spans: bool = True,
) -> DataFrame:
    """Remove every token covered by ANY occurrence of a span-list n-gram
    — the span-merge rule of `dedup_span_scrub`, factored so the rule has
    ONE definition and a property-testable surface. ``toks`` is
    (id, ``tok_col`` array<string>); ``spans`` carries a ``shingle`` column of
    space-joined n-grams (``broadcast_spans`` forces the broadcast when
    the caller knows the list is bounded, e.g. a top-k; pass False for an
    unbounded list and let AQE pick the join side). Duplicate span rows
    are harmless (collect_set absorbs the duplicate hits). If ``spans``
    carries a ``keeper`` column, a NULL keeper means scrub-everywhere
    for that span (no exempted doc). If ``spans`` also
    carries a ``keeper`` column (an id), occurrences inside that keeper
    doc are NOT scrubbed — the C4-style keep-first-occurrence policy that
    preserves each duplicated span's content exactly once. Returns (id,
    *carry, n_removed_tokens, n_removed_chars, scrubbed_text) with
    scrubbed_text the kept tokens in original order, single-space joined
    (``carry`` names extra ``toks`` columns to pass through untouched).
    Docs whose token array is empty or NULL are ABSENT from the output
    (the same drop semantics as the oracle's ``unnest``).
    ``pos_shingles``, if given, is a pre-built (id, gpos, shingle)
    positional relation to hit against (the session's shared one — saves
    re-deriving it from toks).

    Coverage = union of hit intervals: per doc, the matched start
    positions collect into one array (a shuffle of only the HIT rows —
    each (id, gpos) names exactly ONE n-gram, so the equality join
    against the DISTINCTed bounded span list yields at most one hit per
    position and needs no dedup), then every per-token decision is a JVM
    array lambda on the un-exploded row: token p is removed iff
    ``exists(hit_starts, s -> s <= p <= s+n-1)`` — overlapping/adjacent
    hits coalesce by construction. ONE fact shuffle end-to-end (the
    id-key join of toks against the per-doc hit arrays); no token
    explode, no window sort, no collect_list rebuild. Per-token cost is
    O(|hit starts in the doc|) — for a pathological wall-to-wall
    boilerplate doc that degrades to O(len²) within the one row; the
    windowed O(1)/token variant (git history) trades two extra exchanges
    for that bound if such corpora appear.
    """
    sh = (
        pos_shingles
        if pos_shingles is not None
        else toks.select(
            id_col, F.posexplode(word_ngrams(tok_col, n)).alias("gpos", "shingle")
        )
    )
    # No distinct on the span list: duplicate span rows only duplicate hit
    # rows, which collect_set absorbs. A shingle with CONFLICTING keeper
    # values is a caller error (the keeper must be a function of shingle,
    # as _top_spans produces).
    keep_first = "keeper" in spans.columns
    span_cols = ["shingle", "keeper"] if keep_first else ["shingle"]
    sp = spans.select(*span_cols)
    if broadcast_spans:
        sp = F.broadcast(sp)
    hit_rows = sh.join(sp, "shingle")
    if keep_first:
        # NULL keeper = no keeper = scrub everywhere (a bare != would
        # yield NULL and silently exempt the span from scrubbing
        # entirely — review r10); mixed lists (some spans with a keeper,
        # some without) are therefore legal.
        hit_rows = hit_rows.filter(
            F.col("keeper").isNull() | (F.col(id_col) != F.col("keeper"))
        )
    hit_arr = hit_rows.groupBy(id_col).agg(
        F.collect_set("gpos").alias("__hits")
    )
    joined = toks.join(hit_arr, id_col, "left").filter(
        F.col(tok_col).isNotNull() & (F.size(tok_col) > 0)
    )
    hits = F.coalesce(F.col("__hits"), F.array().cast("array<integer>"))
    last = F.lit(n - 1)
    masked = joined.select(
        id_col,
        *carry,
        tok_col,
        F.transform(
            F.sequence(F.lit(0), F.size(tok_col) - 1),
            lambda p: F.exists(hits, lambda s: (p >= s) & (p <= s + last)),
        ).alias("__rm"),
    )
    return masked.select(
        id_col,
        *carry,
        F.size(F.filter("__rm", lambda m: m)).cast("long").alias("n_removed_tokens"),
        F.aggregate(
            F.zip_with(
                tok_col,
                "__rm",
                lambda t, m: F.when(m, F.length(t)).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ).alias("n_removed_chars"),
        # concat_ws skips NULL elements, so masking removed tokens to NULL
        # keeps the kept tokens in original order with single spaces.
        F.concat_ws(
            " ", F.zip_with(tok_col, "__rm", lambda t, m: F.when(~m, t))
        ).alias("scrubbed_text"),
    )


def scrub_spans_py(
    tokens_list: list[str], spans: set[str], n: int = 8
) -> tuple[int, int, str]:
    """Driver-side twin of ``scrub_spans`` for property tests: returns
    (n_removed_tokens, n_removed_chars, scrubbed_text)."""
    L = len(tokens_list)
    hit_starts = [
        i
        for i in range(L - n + 1)
        if " ".join(tokens_list[i : i + n]) in spans
    ]
    removed = [False] * L
    for i in hit_starts:
        for j in range(i, i + n):
            removed[j] = True
    kept = [t for t, r in zip(tokens_list, removed) if not r]
    n_rm = sum(removed)
    chars_rm = sum(len(t) for t, r in zip(tokens_list, removed) if r)
    return n_rm, chars_rm, " ".join(kept)
