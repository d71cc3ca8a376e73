"""Vector-similarity operators over an embedding column (``array<float>``).

Training-data-pipeline surface (the reference's nearest analogue is the
KMeans feature matrix, reference src/pipelines/clustering.py:125-131; ANN
search itself is new capability):

- **Brute-force cosine top-k**: the exact baseline. Queries are a (small)
  DataFrame side that gets broadcast; the corpus side streams — one scan,
  no shuffle until the per-query top-k window. Linear in |corpus|×|queries|.
- **Random-hyperplane LSH top-k**: the scale path. Sign-bit signatures from
  seeded hyperplanes, banded bucket join for candidates, exact cosine
  re-rank of candidates only. Near-linear; recall < 1 by construction
  (tested against the brute-force baseline, not an SQL oracle).

All arithmetic is JVM-side (``zip_with``/``aggregate`` over double arrays);
no Python in the hot path. Hyperplanes are seeded at plan-build time so
results are deterministic across runs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round
from data_warehouse_product_mix_clustering_spark.operators.skew import fan_out


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — sequential fold, same order as DuckDB's list fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not a crash) when either vector has zero
    norm — this repo runs Spark 4 with ANSI enabled, where a bare
    ``0.0/0.0`` raises DIVIDE_BY_ZERO, so the division must be
    ``try_divide`` (review r11: ``semantic_dedup`` documented the
    NULL-survives rule but a zero-norm embedding crashed the operator).
    Non-zero norms are bit-identical to the plain division."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: for each query row, the k nearest corpus rows.

    ``queries`` must carry (id_col, vec_col); self-matches are excluded.
    Plan: broadcast(queries) × corpus → cosine → per-query top-k window.
    The ``rank <= k`` filter triggers Catalyst's InferWindowGroupLimit
    (Spark 3.5+): a PARTIAL WindowGroupLimit runs below the Exchange — a
    map-side top-k heap per partition — so the shuffle carries at most
    k rows per (query, map partition), NOT |corpus|·|queries| triples.
    Pinned in tests/test_plans.py (partial WindowGroupLimit below the
    Exchange); full scoring work still happens map-side, so at cluster
    scale prefer more queries per broadcast batch over bigger k.

    Output: (query_id, vec_id, cosine, rank) — cosine rounded (6dp) before
    ranking so the order is cross-engine deterministic.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
        )
    )
    # fan_out: the corpus side carries the |corpus|x|queries| scoring work;
    # a single-row-group parquet corpus would serialize it on one core.
    c = fan_out(corpus).select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            ratio_round(cosine(F.col("__qv"), F.col("__cv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_sign_bits(vec: Column, planes: list[list[float]]) -> list[Column]:
    """Sign bits: bit p = 1 iff vec · plane_p > 0."""
    return [
        F.when(dot(vec, F.array(*[F.lit(w) for w in plane])) > 0, 1).otherwise(0)
        for plane in planes
    ]


def lsh_band_keys(vec: Column, planes: list[list[float]], bands: int) -> list[Column]:
    """Integer bucket key per band (rows_per_band sign bits, little-endian).

    Keys are built per band (≤ rows_per_band bits each) so any plane count
    works — no 64-bit signature packing, no sign-bit overflow."""
    rows = len(planes) // bands
    bits = lsh_sign_bits(vec, planes)
    out = []
    for b in range(bands):
        key = F.lit(0)
        for r in range(rows):
            key = key + bits[b * rows + r] * F.lit(1 << r)
        out.append(key)
    return out


def _with_band_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
    prefix: str,
) -> DataFrame:
    """(id, vec) → one row per (band, bucket-key) the vector hashes into."""
    sig = df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        as_double(F.col(vec_col)).alias(f"{prefix}_vec"),
    )
    keys = lsh_band_keys(F.col(f"{prefix}_vec"), planes, bands)
    bandkeys = F.array(
        *[
            F.struct(F.lit(b).alias("band"), key.alias("key"))
            for b, key in enumerate(keys)
        ]
    )
    return sig.select(
        f"{prefix}_id", f"{prefix}_vec", F.explode(bandkeys).alias("bk")
    ).select(
        f"{prefix}_id",
        f"{prefix}_vec",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Candidates = corpus rows sharing at least one signature band with the
    query (one shuffle on (band, key)); exact cosine re-ranks candidates.
    64 planes × 16 bands of 4 bits: for a cos=0.9 neighbor
    P(candidate) = 1−(1−(1−θ/π)⁴)¹⁶ ≈ 1−3e-5; even for the weak cos≈0.35
    neighbors of the near-uniform synthetic corpus it is ≈ 0.9. Output
    schema matches ``brute_force_topk``; rank may hold fewer than k rows
    per query when buckets are sparse.
    """
    assert n_planes % bands == 0
    planes = _hyperplanes(dim, n_planes, seed)

    qb = F.broadcast(_with_band_buckets(queries, id_col, vec_col, planes, bands, "query"))
    cb = _with_band_buckets(fan_out(corpus), id_col, vec_col, planes, bands, "cand")
    cands = (
        qb.join(cb, ["band", "key"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "query_vec", "cand_id", "cand_vec")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cands.select(
        "query_id",
        F.col("cand_id").alias(id_col),
        ratio_round(cosine(F.col("query_vec"), F.col("cand_vec"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def assign_to_centers(
    df: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, __v, __cell): each row assigned to its nearest coarse center
    by squared Euclidean distance (ties → lowest cell id) — THE frozen
    assignment rule. Build-time assignment and CDC maintenance
    (``update_ivf_index`` / ``update_ivfpq_index``) both route through
    this one expression, which is what makes "assign new vectors to the
    FROZEN centroids" exactly reproducible without consulting the stored
    index: an id's cell is a pure function of (vector, centers).

    Centers broadcast as a literal struct array (nlist × d doubles —
    tiny); distance/argmin are JVM expressions, zero Python per row. The
    argmin is ``array_min`` over (distance, cell) structs — struct
    ordering IS the (nearest, lowest-cell-tie) rule — evaluated per row
    with NO explode, NO window, NO shuffle; in particular duplicate ids
    in ``df`` each keep their own assignment (the earlier explode+window
    formulation partitioned by id and silently collapsed them — review
    r10).
    """
    centers_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in ctr]).alias("cvec"),
            )
            for i, ctr in centers
        ]
    )
    src = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    scored = F.transform(
        centers_arr,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("__v"), c["cvec"], lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            c["cell"].alias("cell"),
        ),
    )
    return src.select(
        id_col, "__v", F.array_min(scored)["cell"].alias("__cell")
    )


def fit_ivf_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int,
    seed: int,
):
    """Deterministic IVF coarse codebook: seeded MLlib KMeans over a
    deterministically-ordered corpus. Returns (model, assigned) where
    ``assigned`` is (id, __v double-array, __cell) — localCheckpointed so
    both the in-memory probe path (``ivf_topk``) and the persisted index
    build (``build_ivf_index``) consume the SAME materialized assignment,
    which is what makes indexed search exactly equal to the in-memory
    twin (pinned by ``ann_ivf_indexed_audit``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    # Deterministic partition order so the seeded k-means‖ init is stable.
    c = c.repartition(8, F.col(id_col)).sortWithinPartitions(id_col)
    withv = c.withColumn("__mlv", array_to_vector(F.col("__v"))).cache()
    try:
        model = KMeans(
            featuresCol="__mlv", predictionCol="__cell", k=nlist, seed=seed
        ).fit(withv)
        # Assign via the FROZEN-centers rule (assign_to_centers), not
        # model.transform: both compute Euclidean argmin, but routing
        # build-time assignment through the same expression CDC
        # maintenance uses makes maintained ≡ rebuild-with-frozen-centers
        # hold exactly by construction (r10), not merely almost-surely.
        centers = [
            (i, [float(x) for x in ctr])
            for i, ctr in enumerate(model.clusterCenters())
        ]
        assigned = assign_to_centers(c, centers, id_col, "__v").localCheckpoint(
            eager=True
        )
    finally:
        withv.unpersist()
    return model, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) coarse quantization.

    The other classic ANN scale path next to hyperplane LSH: a KMeans
    codebook of ``nlist`` coarse cells partitions the corpus once; each
    query probes only its ``nprobe`` nearest cells and exact cosine
    re-ranks the candidates. Search cost is ~``nprobe/nlist`` of
    brute-force; recall rises with ``nprobe`` (= 1 when nprobe = nlist).

    Distribution: the codebook fit is one MLlib KMeans over the corpus
    (deterministic: seeded + deterministic repartition order); cell
    assignment, probe selection (tiny centers literal, exploded per
    query), candidate join, and re-rank are all JVM expressions. At
    production scale the assigned corpus would be written bucketed by
    cell id so probes prune partitions; here the join does the routing.

    Output schema matches ``brute_force_topk``: (query_id, id, cosine, rank).
    """
    model, assigned = fit_ivf_codebook(corpus, id_col, vec_col, nlist, seed)

    centers = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())]
    return _ivf_probe_rerank(queries, centers, assigned, id_col, vec_col, k, nprobe)


def ivf_query_probes(
    queries: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """(query_id, __qv, __cell): each query's ``nprobe`` nearest coarse
    cells — the routing table both IVF paths share."""
    centers_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in ctr]).alias("cvec"),
            )
            for i, ctr in centers
        ]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
    )
    qcells = q.select(
        "query_id", "__qv", F.explode(centers_arr).alias("c")
    ).select(
        "query_id",
        "__qv",
        F.col("c.cell").alias("__cell"),
        cosine(F.col("__qv"), F.col("c.cvec")).alias("__csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("__cell")
    )
    return (
        qcells.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select("query_id", "__qv", "__cell")
    )


def _ivf_probe_rerank(
    queries: DataFrame,
    centers: list[tuple[int, list[float]]],
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    probes = ivf_query_probes(queries, centers, id_col, vec_col, nprobe)
    cands = (
        F.broadcast(probes)
        .join(assigned, "__cell")
        .filter(F.col("query_id") != F.col(id_col))
    )
    scored = cands.select(
        "query_id",
        id_col,
        ratio_round(cosine(F.col("__qv"), F.col("__v"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def block_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 8,
    round_out: int = 6,
) -> DataFrame:
    """EXACT all-pairs cosine-similarity join via blocked matrix multiply.

    The naive formulation (crossJoin + per-row array fold) materializes
    O(N²) JVM rows through the shuffle — the actual scale-killer, far worse
    than the O(N²) FLOPs themselves. This operator instead:

    1. hashes each vector into one of B blocks,
    2. replicates each vector to the B block-*pairs* it participates in
       (shuffle volume N·B rows, not N²),
    3. computes each block-pair's cosine sub-matrix with one vectorized
       NumPy/BLAS matmul inside an Arrow-batched ``applyInPandas`` kernel,
       emitting only the above-threshold pairs.

    FLOPs are unchanged (it is exact) but they run at BLAS speed instead of
    one-expression-tree-eval-per-pair, and the shuffle/materialization cost
    drops from quadratic to N·B. On a cluster, pick B ≈ N·d·8 / (executor
    block budget) so one block pair (~2·(N/B)·d doubles) fits in memory.

    This is the justified-Python-kernel case: Spark's built-in operators
    cannot express a blocked GEMM without materializing the pair grid.

    Rounding matches ``ratio_round`` (+1e-9 nudge at 6dp) so the output is
    hash-identical to the crossJoin formulation and the DuckDB oracle; the
    threshold is applied to the *rounded* value on all paths.

    Output: (vec_a, vec_b, cosine) with vec_a < vec_b.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    v = fan_out(df).select(
        F.col(id_col).alias("vid"),
        as_double(F.col(vec_col)).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # A vector in block i joins every block pair (min(i,j), max(i,j)).
    targets = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("b1"),
                F.greatest(F.col("blk"), F.lit(j)).alias("b2"),
            )
            for j in range(n_blocks)
        ]
    )
    rep = v.select("vid", "vec", "blk", F.explode(targets).alias("t")).select(
        "vid", "vec", "blk", F.col("t.b1").alias("b1"), F.col("t.b2").alias("b2")
    )

    eps = 1e-9  # RATIO_EPS: keep in sync with functions.numeric

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        b1 = int(pdf["b1"].iloc[0])
        b2 = int(pdf["b2"].iloc[0])
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        ids = pdf["vid"].to_numpy()[order]
        # float64 pinned (advice r12): `vec` is as_double JVM-side, so
        # this is a no-op copy guard — but were a float32 array ever to
        # reach the kernel, the +1e-9 nudge would vanish and boundary
        # cosines could round apart from the JVM double path.
        X = np.vstack(pdf["vec"].to_numpy()[order]).astype(np.float64, copy=False)
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        # Round in place, threshold the 2-D matrix, THEN materialize index
        # arrays — only surviving pairs allocate int64 indices (the dense
        # N²-index intermediate was this kernel's peak memory).
        if b1 == b2:
            cos2d = X @ X.T
            np.add(cos2d, eps, out=cos2d)
            np.round(cos2d, round_out, out=cos2d)
            ii, jj = np.nonzero(np.triu(cos2d >= threshold, k=1))
            cos = cos2d[ii, jj]
            lo, hi = ids[ii], ids[jj]
        else:
            blk = pdf["blk"].to_numpy()[order]
            ma, mb = blk == b1, blk == b2
            if not ma.any() or not mb.any():
                return pd.DataFrame(
                    {"vec_a": ids[:0], "vec_b": ids[:0], "cosine": np.array([])}
                )
            cos2d = X[ma] @ X[mb].T
            np.add(cos2d, eps, out=cos2d)
            np.round(cos2d, round_out, out=cos2d)
            ii, jj = np.nonzero(cos2d >= threshold)
            cos = cos2d[ii, jj]
            ia, ib = ids[ma][ii], ids[mb][jj]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos})

    out_schema = f"vec_a {id_type}, vec_b {id_type}, cosine double"
    return rep.groupBy("b1", "b2").applyInPandas(kernel, out_schema)


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup pairs: LSH candidates + exact verify.

    Self-join on (band, bucket-key) generates candidates (one shuffle,
    near-linear when the corpus has separated near-dup structure), then the
    exact cosine verifies candidates only — output ⊆ the exact pair set,
    recall 1−(1−p^r)^b where p = 1−θ/π. At threshold 0.9 with 16×4 banding
    recall ≈ 1−3e-5 per pair; at low thresholds (≈0.4, where background
    pairs are just as close) LSH cannot prune — use ``block_cosine_pairs``
    for exact low-threshold joins instead.

    Output schema matches ``block_cosine_pairs``: (vec_a, vec_b, cosine).
    """
    assert n_planes % bands == 0
    planes = _hyperplanes(dim, n_planes, seed)
    left = _with_band_buckets(df, id_col, vec_col, planes, bands, "a")
    right = _with_band_buckets(df, id_col, vec_col, planes, bands, "b")
    cands = (
        left.join(right, ["band", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "a_vec", "b_id", "b_vec")
        .dropDuplicates(["a_id", "b_id"])
    )
    scored = cands.select(
        F.col("a_id").alias("vec_a"),
        F.col("b_id").alias("vec_b"),
        ratio_round(cosine(F.col("a_vec"), F.col("b_vec"))).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def _pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ksub: int,
    seed: int,
    train_sample: int,
):
    """Per-subspace PQ codebooks from a deterministic corpus sample.
    Returns (cb ndarray of shape (m, ksub, d/m), dsub)."""
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.kmeans_np import kmeans_fit

    train_rows = (
        corpus.orderBy(id_col)
        .limit(train_sample)
        .select(as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    if not train_rows:
        raise ValueError("PQ: empty corpus — nothing to train codebooks on")
    X = np.array([r.v for r in train_rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    cb = np.stack(
        [
            kmeans_fit(
                X[:, j * dsub : (j + 1) * dsub], k=ksub, seed=seed + j, n_init=4
            )[1]
            for j in range(m)
        ]
    )  # (m, ksub, dsub)
    return cb, dsub


def _pq_encode(src: DataFrame, cb, id_col: str, id_type: str) -> DataFrame:
    """(id, __codes array<int>): nearest sub-centroid per subspace, one
    Arrow ``mapInPandas`` pass with the codebooks broadcast (justified
    kernel: Spark has no native blocked argmin)."""
    import numpy as np
    import pandas as pd

    dsub = cb.shape[2]
    bcb = src.sparkSession.sparkContext.broadcast(cb)

    def encode(batches):
        books = bcb.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), books.shape[0]), dtype=np.int32)
            for j in range(books.shape[0]):
                sub = V[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * (sub @ books[j].T)
                    + (books[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col], "__codes": list(codes)})

    return src.mapInPandas(encode, f"{id_col} {id_type}, __codes array<int>")


def _pq_adc_tables(
    spark, queries: DataFrame, cb, id_col: str, vec_col: str, id_type: str
) -> DataFrame:
    """Per-query (m × ksub) lookup tables of subvector·centroid products —
    built driver-side: queries are probe-sized by the same contract that
    lets ``brute_force_topk`` broadcast them."""
    import numpy as np

    m = cb.shape[0]
    dsub = cb.shape[2]
    qrows = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).collect()
    if not qrows:
        # an empty batch would die later in an opaque numpy AxisError
        raise ValueError("PQ search requires at least one query row")
    Q = np.array([r.qv for r in qrows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qdata = []
    for r, qv in zip(qrows, Q):
        tab = [
            [float(x) for x in qv[j * dsub : (j + 1) * dsub] @ cb[j].T]
            for j in range(m)
        ]
        qdata.append((r.query_id, tab))
    return spark.createDataFrame(
        qdata, f"query_id {id_type}, __tab array<array<double>>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
    rerank_factor: int = 8,
    train_sample: int = 4096,
) -> DataFrame:
    """Approximate cosine top-k via product quantization (PQ) + ADC scan.

    The third classic ANN scale path next to hyperplane LSH and IVF: each
    (unit-normalized) vector is compressed to ``m`` one-byte codes — the
    nearest centroid per d/m-dim subspace from per-subspace ``ksub``-entry
    codebooks — and each query scans CODES, not vectors, via asymmetric
    distance computation: a per-query (m × ksub) lookup table of
    subvector·centroid inner products turns the approximate cosine into m
    table lookups. At 100 TB the corpus-resident state shrinks d·4 bytes →
    m bytes per vector (32× at d=64, m=8) and the scan does no FLOPs.

    Distribution of work:
    - codebooks: driver-side NumPy k-means per subspace on a deterministic
      ``train_sample`` (codebook training is sample-based by definition);
    - encoding: one Arrow ``mapInPandas`` pass, vectorized argmin per
      subspace, codebooks broadcast (justified kernel: Spark has no
      native blocked argmin);
    - ADC scan: pure JVM — ``aggregate(sequence(0,m-1), …)`` over the code
      array against the broadcast per-query table column;
    - top ``rerank_factor × k`` ADC candidates per query are re-ranked
      with EXACT cosine, so output quality degrades only via candidate
      recall, never via quantization error in the final ordering.

    Output schema matches ``brute_force_topk``: (query_id, id, cosine, rank).
    """
    spark = corpus.sparkSession
    cb, dsub = _pq_train(corpus, id_col, vec_col, m, ksub, seed, train_sample)

    id_type = corpus.schema[id_col].dataType.simpleString()
    src = fan_out(corpus).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    )
    codes_df = _pq_encode(src, cb, id_col, id_type)
    qdf = _pq_adc_tables(spark, queries, cb, id_col, vec_col, id_type)

    adc = (
        codes_df.crossJoin(F.broadcast(qdf))
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "__adc",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE),"
                f" (acc, j) -> acc + __tab[j][__codes[j]])"
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("__adc").desc(), F.col(id_col))
    cands = (
        adc.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= rerank_factor * k)
        .select("query_id", id_col)
    )

    cvec = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
        )
    )
    scored = (
        cands.join(cvec, id_col)
        .join(qvec, "query_id")
        .select(
            "query_id",
            id_col,
            ratio_round(cosine(F.col("__qv"), F.col("__cv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
) -> None:
    """Persist the IVF index ``ivf_topk``'s docstring promises: the
    assigned corpus written as parquet PARTITIONED BY coarse cell (so a
    probe reads only its cells' files — the vector twin of the postings
    index's bucket layout), plus the ``nlist`` centroids as a tiny
    ``centers/`` relation. Bucket-repartitioned before the write (≈1 file
    per cell, no small-file blowup). Same deterministic codebook fit as
    the in-memory path, so indexed search is exactly equal to it.

    Commit-marker protected (the postings-index convention): a crash
    mid-build/mid-update leaves a DETECTABLE torn index. ``_maint.json``
    records the built corpus size for the maintenance drift criterion
    (``update_ivf_index``)."""
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
    )

    os.makedirs(index_dir, exist_ok=True)
    _mark_dirty(index_dir)
    model, assigned = fit_ivf_codebook(corpus, id_col, vec_col, nlist, seed)
    (
        assigned.repartition("__cell")
        .write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(os.path.join(index_dir, "cells"))
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centers"))
    from data_warehouse_product_mix_clustering_spark.operators.ivm import write_id_schema

    write_id_schema(index_dir, id_col, corpus.schema[id_col].dataType.simpleString())
    _write_maint_meta(index_dir, base_n=assigned.count(), cumulative_changes=0)
    _mark_committed(index_dir)


def search_ivf_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k over the persisted index, reading ONLY the probed cells'
    partitions.

    The query batch's distinct probe-cell set (bounded by ``nlist``, so
    collecting it is O(16), not O(data)) becomes a literal IN-filter on
    the partition column — Catalyst prunes every other cell directory
    (PartitionFilters-pinned in test_plans.py). Rerank is the exact same
    expression as ``ivf_topk`` ⇒ identical output, attested by
    ``ann_ivf_indexed_audit``. Refuses a torn index (review r10 — the
    maintenance path checked the marker but serving did not)."""
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import require_committed

    require_committed(index_dir, "IVF")
    centers = sorted(
        (r["cell"], list(r["cvec"]))
        for r in spark.read.parquet(os.path.join(index_dir, "centers")).collect()
    )
    probes = ivf_query_probes(queries, centers, id_col, vec_col, nprobe)
    cells = sorted(
        r["__cell"] for r in probes.select("__cell").distinct().collect()
    )
    assigned = _read_cells(spark, index_dir, "cells", "__v array<double>").filter(
        F.col("__cell").isin(cells)
    )
    cands = (
        F.broadcast(probes)
        .join(assigned, "__cell")
        .filter(F.col("query_id") != F.col(id_col))
    )
    scored = cands.select(
        "query_id",
        id_col,
        ratio_round(cosine(F.col("__qv"), F.col("__v"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 16,
    ksub: int = 16,
    seed: int = 42,
    train_sample: int = 4096,
) -> None:
    """Persist the IVF-PQ index — the two pruning axes composed, the
    standard billion-scale ANN recipe (FAISS's IVFPQ): coarse cells
    bound WHICH vectors a query touches, PQ codes bound WHAT the scan
    reads per vector.

    Layout under ``index_dir``:

    - ``cells/`` — (id, __codes) partitioned by coarse cell: the scan
      relation is m bytes of codes per vector (no raw vectors), and a
      probe reads only its cells' partitions;
    - ``vectors/`` — (id, __v) raw vectors, touched only by the final
      exact rerank of ``rerank_factor × k`` candidates per query;
    - ``centers/`` + ``pq/`` — the coarse centroids and the (m × ksub ×
      d/m) sub-codebooks, both tiny.

    Codes quantize the RAW unit vector (IVF-Flat-PQ), not the cell
    residual: the classic residual refinement mainly sharpens the ADC
    ordering, and this engine's search re-ranks with exact cosine anyway,
    so candidate recall is the only quality channel — documented trade,
    same as ``pq_topk``.
    """
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
    )

    os.makedirs(index_dir, exist_ok=True)
    _mark_dirty(index_dir)
    model, assigned = fit_ivf_codebook(corpus, id_col, vec_col, nlist, seed)
    cb, _dsub = _pq_train(corpus, id_col, vec_col, m, ksub, seed, train_sample)
    id_type = corpus.schema[id_col].dataType.simpleString()
    codes = _pq_encode(assigned.select(id_col, "__v"), cb, id_col, id_type)
    (
        codes.join(assigned.select(id_col, "__cell"), id_col)
        .repartition("__cell")
        .write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(os.path.join(index_dir, "cells"))
    )
    # vectors/ partitioned by cell too: CDC maintenance then rewrites only
    # the touched cells' raw-vector files, the same O(changed cells) bound
    # as the code partitions (r10; rerank's id-equi-join is unaffected).
    (
        assigned.select(id_col, "__v", "__cell")
        .repartition("__cell")
        .write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(os.path.join(index_dir, "vectors"))
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())],
        "cell int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "centers"))
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in cb[j, c]])
            for j in range(cb.shape[0])
            for c in range(cb.shape[1])
        ],
        "subspace int, code int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, "pq"))
    from data_warehouse_product_mix_clustering_spark.operators.ivm import write_id_schema

    write_id_schema(index_dir, id_col, id_type)
    _write_maint_meta(index_dir, base_n=assigned.count(), cumulative_changes=0)
    _mark_committed(index_dir)


def search_ivfpq_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    rerank_factor: int = 8,
) -> DataFrame:
    """IVF-PQ top-k over the persisted index: read only the probed cells'
    CODE partitions, ADC-score them (m table lookups per candidate, zero
    FLOPs), take ``rerank_factor × k`` per query, and re-rank just those
    against the raw-vector relation with exact cosine.

    Output schema matches ``brute_force_topk``: (query_id, id, cosine,
    rank) — quality degrades only through candidate recall (probes ∩ ADC
    ordering), never through quantization error in the final ordering.
    Refuses a torn index (review r10).
    """
    import os

    import numpy as np

    from data_warehouse_product_mix_clustering_spark.operators.ivm import require_committed

    require_committed(index_dir, "IVF-PQ")
    centers = sorted(
        (r["cell"], list(r["cvec"]))
        for r in spark.read.parquet(os.path.join(index_dir, "centers")).collect()
    )
    pq_rows = spark.read.parquet(os.path.join(index_dir, "pq")).collect()
    m = 1 + max(r["subspace"] for r in pq_rows)
    ksub = 1 + max(r["code"] for r in pq_rows)
    cb = np.empty((m, ksub, len(pq_rows[0]["cvec"])), dtype=np.float64)
    for r in pq_rows:
        cb[r["subspace"], r["code"]] = r["cvec"]

    probes = ivf_query_probes(queries, centers, id_col, vec_col, nprobe)
    cells = sorted(
        r["__cell"] for r in probes.select("__cell").distinct().collect()
    )
    codes = _read_cells(spark, index_dir, "cells", "__codes array<int>").filter(
        F.col("__cell").isin(cells)
    )
    id_type = queries.schema[id_col].dataType.simpleString()
    qtabs = _pq_adc_tables(spark, queries, cb, id_col, vec_col, id_type)

    adc = (
        F.broadcast(probes.select("query_id", "__cell"))
        .join(codes, "__cell")
        .filter(F.col("query_id") != F.col(id_col))
        .join(F.broadcast(qtabs), "query_id")
        .withColumn(
            "__adc",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE),"
                f" (acc, j) -> acc + __tab[j][__codes[j]])"
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("__adc").desc(), F.col(id_col))
    cands = (
        adc.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= rerank_factor * k)
        .select("query_id", id_col)
    )
    vectors = _read_cells(spark, index_dir, "vectors", "__v array<double>")
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("__qv")
        )
    )
    scored = (
        cands.join(vectors, id_col)
        .join(qvec, "query_id")
        .select(
            "query_id",
            id_col,
            ratio_round(cosine(F.col("__qv"), F.col("__v"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# CDC-incremental maintenance for the persisted vector indexes (r10).
#
# The postings index got O(changes) maintenance in r8
# (operators/postings.py::update_postings_index); these close the same gap
# for build_ivf_index / build_ivfpq_index — the last persisted-artifact
# family that required a full rebuild on every corpus change (VERDICT r9
# Next #3). The incremental-view-maintenance decomposition mirrors the
# postings one exactly:
#
#   a cell partition is touched iff some changed vector's OLD or NEW
#   assignment lands in it — and because assignment is a pure function of
#   (vector, frozen centers) via assign_to_centers, BOTH sides come from
#   the diff alone: the index is never scanned to locate a changed id.
#
# Re-clustering is deliberately NOT maintenance: added vectors assign to
# the FROZEN centroids (and, for PQ, encode with the FROZEN sub-codebooks).
# The drift is returned on every update: once cumulative_changes / base_n
# exceeds ~0.3 the frozen codebook no longer represents the corpus (cells
# skew, recall decays), so the caller should rebuild. That number rides
# _maint.json so the caller needs no external bookkeeping.
# ---------------------------------------------------------------------------

_MAINT_META = "_maint.json"


def _write_maint_meta(
    index_dir: str, base_n: int, cumulative_changes: int
) -> None:
    """Drift accounting only — schema facts live in ivm's _schema.json
    sidecar (write_id_schema), not here."""
    import json
    import os

    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_small_file_atomic

    doc = {"base_n": int(base_n), "cumulative_changes": int(cumulative_changes)}
    write_small_file_atomic(os.path.join(index_dir, _MAINT_META), json.dumps(doc))


def _read_maint_meta(index_dir: str) -> dict:
    import json
    import os

    p = os.path.join(index_dir, _MAINT_META)
    if not os.path.exists(p):
        # Missing meta on a committed store (hand-restored / partially
        # migrated): drift is unknowable — report base_n=0 so drift
        # saturates and the caller rebuilds. (A store without a commit
        # marker never gets this far — require_committed refuses it.)
        return {"base_n": 0, "cumulative_changes": 0}
    with open(p) as f:
        return json.load(f)


def _diff_vectors(diff: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Project a ``version_diff`` change set down to what index
    maintenance consumes: (id, change_type, __ov, __nv)."""
    return diff.select(
        id_col,
        "change_type",
        F.col(f"__old.{vec_col}").alias("__ov"),
        F.col(f"__new.{vec_col}").alias("__nv"),
    ).localCheckpoint(eager=True)  # diff plans are 2 version scans + a join


def _maintain_cells(
    d: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str,
) -> tuple[DataFrame | None, list[int]]:
    """Shared IVM core: returns (new_assigned, touched_cells) and leaves
    the caller to rewrite relations. ``new_assigned`` is (id, __v, __cell)
    for added/changed rows, already localCheckpointed; touched covers old
    AND new homes of every changed id (bounded by nlist — collecting it is
    O(nlist), not O(data))."""
    new_assigned = assign_to_centers(
        d.filter(F.col("change_type").isin("added", "changed")).select(
            id_col, F.col("__nv")
        ),
        centers,
        id_col,
        "__nv",
    ).localCheckpoint(eager=True)  # feeds touched-cells, codes, and the write
    old_cells = assign_to_centers(
        d.filter(F.col("change_type").isin("removed", "changed")).select(
            id_col, F.col("__ov")
        ),
        centers,
        id_col,
        "__ov",
    ).select("__cell")
    touched = sorted(
        r["__cell"]
        for r in new_assigned.select("__cell")
        .unionByName(old_cells)
        .distinct()
        .collect()
    )
    return new_assigned, touched


def _overwrite_touched(
    updated: DataFrame, path: str, touched: list[int]
) -> None:
    """Cell-partition rewrite with emptied-cell clearing — the shared IVM
    primitive (operators/ivm.py), bound to this index family's __cell
    partition column."""
    from data_warehouse_product_mix_clustering_spark.operators.ivm import overwrite_touched_partitions

    overwrite_touched_partitions(updated, path, "__cell", touched)


def _bump_maint_meta(index_dir: str, n_changes: int) -> float:
    meta = _read_maint_meta(index_dir)
    cum = meta["cumulative_changes"] + n_changes
    _write_maint_meta(index_dir, meta["base_n"], cum)
    return (cum / meta["base_n"]) if meta["base_n"] else float("inf")


def _read_cells(spark, index_dir: str, relation: str, value_cols: str) -> DataFrame:
    """Guarded read of a cell-partitioned index relation: typed-EMPTY
    when maintenance cleared every partition (ivm.read_index_relation;
    the remove-everything CDC batch — review r10). Falls back to the
    family default id typing if a committed store lacks the schema
    sidecar (hand-restored / partially migrated — uncommitted stores are
    refused upstream by require_committed)."""
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import read_id_schema, read_index_relation

    id_col, id_type = read_id_schema(index_dir, "vec_id", "bigint")
    return read_index_relation(
        spark,
        os.path.join(index_dir, relation),
        f"{id_col} {id_type}, {value_cols}, __cell int",
    )


def update_ivf_index(
    spark,
    index_dir: str,
    diff: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Maintain a ``build_ivf_index`` store from a CDC change set
    (``sources/versioned.py::version_diff`` shape) — cost O(touched
    cells), never O(corpus): removed/changed ids leave their (frozen-rule
    recomputed) old cells, added/changed vectors assign to the FROZEN
    centroids, and ONLY the affected cell partitions rewrite via dynamic
    partition overwrite. Commit-marker protected: a crash mid-update
    leaves a detectable torn index, and a torn index refuses further
    maintenance (rebuild recovers it).

    Returns {'added','removed','changed','cells_touched','drift'}, where
    ``drift`` is cumulative changed rows / built corpus size. Whether to
    rebuild is the caller's decision (past ~0.3 the frozen codebook is
    stale, see the block comment above).
    """
    import os

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
        require_committed,
    )

    require_committed(index_dir, "IVF")
    centers = sorted(
        (r["cell"], list(r["cvec"]))
        for r in spark.read.parquet(os.path.join(index_dir, "centers")).collect()
    )
    d = _diff_vectors(diff, id_col, vec_col)
    counts = {
        r["change_type"]: r["n"]
        for r in d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    new_assigned, touched = _maintain_cells(d, centers, id_col)
    _mark_dirty(index_dir)
    if touched:
        cells_path = os.path.join(index_dir, "cells")
        survivors = (
            _read_cells(spark, index_dir, "cells", "__v array<double>")
            .filter(F.col("__cell").isin(touched))
            .join(d.select(id_col), id_col, "left_anti")
        )
        updated = survivors.select(id_col, "__v", "__cell").unionByName(
            new_assigned
        ).localCheckpoint(eager=True)  # feeds the write + the emptied-dir diff
        _overwrite_touched(updated, cells_path, touched)
    drift = _bump_maint_meta(index_dir, d.count())
    _mark_committed(index_dir)
    # No explicit unpersist: Dataset.unpersist does NOT release
    # localCheckpoint blocks (review r11, verified on this PySpark);
    # the per-call relations become unreferenced on return and
    # ContextCleaner reclaims their blocks.
    return {
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
        "cells_touched": len(touched),
        "touched": touched,
        "drift": drift,
    }


def update_ivfpq_index(
    spark,
    index_dir: str,
    diff: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Maintain a ``build_ivfpq_index`` store from a CDC change set — the
    IVF maintenance contract (see ``update_ivf_index``) plus the PQ
    relations: new vectors encode against the FROZEN sub-codebooks (same
    ``_pq_encode`` kernel as the build), and both ``cells/`` (codes) and
    ``vectors/`` (raw, cell-partitioned since r10) rewrite only their
    touched cell partitions. ``centers/`` and ``pq/`` are frozen by
    definition — re-clustering is a rebuild, which the caller decides
    from the returned ``drift``.
    """
    import os

    import numpy as np

    from data_warehouse_product_mix_clustering_spark.operators.ivm import (
        mark_committed as _mark_committed,
        mark_dirty as _mark_dirty,
        require_committed,
    )

    require_committed(index_dir, "IVF-PQ")
    centers = sorted(
        (r["cell"], list(r["cvec"]))
        for r in spark.read.parquet(os.path.join(index_dir, "centers")).collect()
    )
    pq_rows = spark.read.parquet(os.path.join(index_dir, "pq")).collect()
    m = 1 + max(r["subspace"] for r in pq_rows)
    ksub = 1 + max(r["code"] for r in pq_rows)
    cb = np.empty((m, ksub, len(pq_rows[0]["cvec"])), dtype=np.float64)
    for r in pq_rows:
        cb[r["subspace"], r["code"]] = r["cvec"]

    d = _diff_vectors(diff, id_col, vec_col)
    counts = {
        r["change_type"]: r["n"]
        for r in d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    new_assigned, touched = _maintain_cells(d, centers, id_col)
    _mark_dirty(index_dir)
    if touched:
        id_type = diff.schema[id_col].dataType.simpleString()
        new_codes = _pq_encode(
            new_assigned.select(id_col, "__v"), cb, id_col, id_type
        ).join(new_assigned.select(id_col, "__cell"), id_col)

        cells_path = os.path.join(index_dir, "cells")
        code_survivors = (
            _read_cells(spark, index_dir, "cells", "__codes array<int>")
            .filter(F.col("__cell").isin(touched))
            .join(d.select(id_col), id_col, "left_anti")
        )
        updated_codes = code_survivors.select(
            id_col, "__codes", "__cell"
        ).unionByName(new_codes.select(id_col, "__codes", "__cell")).localCheckpoint(
            eager=True
        )
        _overwrite_touched(updated_codes, cells_path, touched)

        vec_path = os.path.join(index_dir, "vectors")
        vec_survivors = (
            _read_cells(spark, index_dir, "vectors", "__v array<double>")
            .filter(F.col("__cell").isin(touched))
            .join(d.select(id_col), id_col, "left_anti")
        )
        updated_vecs = vec_survivors.select(id_col, "__v", "__cell").unionByName(
            new_assigned
        ).localCheckpoint(eager=True)
        _overwrite_touched(updated_vecs, vec_path, touched)
    drift = _bump_maint_meta(index_dir, d.count())
    _mark_committed(index_dir)
    # No explicit unpersist: see update_ivf_index — localCheckpoint
    # blocks release via ContextCleaner once unreferenced.
    return {
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
        "cells_touched": len(touched),
        "touched": touched,
        "drift": drift,
    }


def _giant_cell_pairs(
    giant: DataFrame,
    id_col: str,
    id_type: str,
    threshold: float,
    round_out: int,
    n_blocks: int,
    emit_pairs: bool,
    emit_score: bool = False,
) -> DataFrame:
    """Above-threshold cosine relations among skew-hot SemDeDup cells via
    the blocked-GEMM kernel of ``block_cosine_pairs`` scoped PER CELL:
    rows replicate to the (cell, block-pair) grid (shuffle volume n_c·B
    per cell, never n_c²) and each group computes its cosine sub-matrix
    with one BLAS matmul. ``emit_pairs=True`` returns the pair relation
    (vec_a < vec_b — the group-semantics consumer's input);
    ``emit_pairs=False`` returns only the distinct HIGHER id of each
    passing pair (the lower-id-witness duplicate rule — strictly less
    kernel output on dup-heavy cells, where threshold pairs approach
    n_c² but unique dups are ≤ n_c). ``emit_score=True`` (pairs mode
    only — the ε-sweep consumer) appends the ROUNDED cosine so one pair
    relation at the loosest threshold can serve every tighter filter.
    Rounding matches ``ratio_round``
    (+1e-9 nudge) so routing never changes the answer. Zero-norm rows
    normalize to NaN; NaN comparisons are False, so they are never
    emitted — the same never-a-duplicate rule as the JVM path's NULL
    cosine."""
    import numpy as np
    import pandas as pd

    v = giant.select(
        F.col(id_col).alias("vid"),
        F.col("__v").alias("vec"),
        "__cell",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    targets = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("b1"),
                F.greatest(F.col("blk"), F.lit(j)).alias("b2"),
            )
            for j in range(n_blocks)
        ]
    )
    rep = v.select("vid", "vec", "__cell", "blk", F.explode(targets).alias("t")).select(
        "vid", "vec", "__cell", "blk", F.col("t.b1").alias("b1"), F.col("t.b2").alias("b2")
    )

    eps = 1e-9  # RATIO_EPS: keep in sync with functions.numeric

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        b1 = int(pdf["b1"].iloc[0])
        b2 = int(pdf["b2"].iloc[0])
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        ids = pdf["vid"].to_numpy()[order]
        # float64 pinned (advice r12): `__v` is as_double JVM-side
        # (assign_to_centers), so this is a no-op guard — it keeps the
        # +1e-9 nudge, the rounding, and the emitted score on the same
        # double semantics as the JVM path even if an upstream caller
        # ever fed float32 vectors.
        X = np.vstack(pdf["vec"].to_numpy()[order]).astype(np.float64, copy=False)
        with np.errstate(invalid="ignore", divide="ignore"):
            X = X / np.linalg.norm(X, axis=1, keepdims=True)  # zero norm → NaN row
        if b1 == b2:
            cos2d = X @ X.T
            np.add(cos2d, eps, out=cos2d)
            np.round(cos2d, round_out, out=cos2d)
            with np.errstate(invalid="ignore"):
                ii, jj = np.nonzero(np.triu(cos2d >= threshold, k=1))
            lo, hi = ids[ii], ids[jj]  # ids sorted: jj > ii ⇒ higher id
            sc = cos2d[ii, jj]
        else:
            blk = pdf["blk"].to_numpy()[order]
            ma, mb = blk == b1, blk == b2
            if not ma.any() or not mb.any():
                if emit_score:
                    return pd.DataFrame(
                        {"vec_a": ids[:0], "vec_b": ids[:0], "score": ids[:0].astype(float)}
                    )
                if emit_pairs:
                    return pd.DataFrame({"vec_a": ids[:0], "vec_b": ids[:0]})
                return pd.DataFrame({"vid": ids[:0]})
            cos2d = X[ma] @ X[mb].T
            np.add(cos2d, eps, out=cos2d)
            np.round(cos2d, round_out, out=cos2d)
            with np.errstate(invalid="ignore"):
                ii, jj = np.nonzero(cos2d >= threshold)
            ia, ib = ids[ma][ii], ids[mb][jj]
            lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
            sc = cos2d[ii, jj]
        if emit_score:
            return pd.DataFrame({"vec_a": lo, "vec_b": hi, "score": sc})
        if emit_pairs:
            return pd.DataFrame({"vec_a": lo, "vec_b": hi})
        return pd.DataFrame({"vid": np.unique(hi)})

    grouped = rep.groupBy("__cell", "b1", "b2")
    if emit_score:
        if not emit_pairs:
            raise ValueError("emit_score requires emit_pairs")
        return grouped.applyInPandas(
            kernel, f"vec_a {id_type}, vec_b {id_type}, score double"
        )
    if emit_pairs:
        return grouped.applyInPandas(kernel, f"vec_a {id_type}, vec_b {id_type}")
    return grouped.applyInPandas(kernel, f"vid {id_type}").select(
        F.col("vid").alias(id_col)
    )


def _giant_cell_dups(
    giant: DataFrame,
    id_col: str,
    id_type: str,
    threshold: float,
    round_out: int,
    n_blocks: int,
) -> DataFrame:
    """Distinct higher-id-of-pair relation (the duplicate set) — the
    ``emit_pairs=False`` projection of ``_giant_cell_pairs``."""
    return _giant_cell_pairs(
        giant, id_col, id_type, threshold, round_out, n_blocks, emit_pairs=False
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    round_out: int = 6,
    giant_cell_rows: int = 8192,
    n_blocks: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, the
    LAION/DataComp recipe's cluster-then-prune shape): cluster the
    embeddings with a seeded coarse codebook, then inside each cluster
    drop every row that has a LOWER-id neighbor at rounded cosine ≥
    ``threshold``. The rule, stated exactly: duplicate decisions consult
    ALL same-cluster rows (not just survivors) — one join, no iteration,
    order-free, deterministic. Known property of this ubiquitous greedy
    variant: removals can CHAIN (ids 1-2 close, 2-3 close, 1-3 far ⇒ 2
    and 3 both removed though 3's only witness was itself removed), and
    a removed row cannot name which survivor displaced it; callers
    needing that audit trail (each removed row shares a GROUP with its
    surviving representative) should use ``semantic_dedup_groups``
    (r11), which keeps exactly one minimum-id representative per
    threshold-pair connected component — a SUBSET of this rule's
    survivors (test-pinned containment, see its docstring).
    Zero-norm vectors have undefined cosine (NULL via ``try_divide``
    under ANSI) and are therefore never anyone's duplicate — they always
    survive (pinned with a zero-norm test row, review r11).

    Returns the survivor relation (id, __cell). Scale: cells at or under
    ``giant_cell_rows`` stream their O(n_c²) pairs through per-pair JVM
    cosine — fine because clustering bounds n_c (the paper uses
    n/nlist ≈ 10-100). Cells ABOVE the gate — the skew-hot case SemDeDup
    actually meets on all-near-duplicate corpora, where one cell can
    hold a large corpus fraction and n_c² pair rows would be the
    scale-killer — reroute through ``_giant_cell_dups``'s blocked-GEMM
    kernel (shuffle volume n_c·n_blocks, BLAS matmul per block pair,
    identical rounded-threshold rule), so routing is a plan choice: both
    paths emit the same duplicate set, pinned by a both-paths-agree test
    with a deliberately giant cell. One honest caveat (review r11 — the
    same residual ``block_cosine_pairs`` carries vs its crossJoin twin):
    the kernel accumulates in BLAS order while the JVM path folds
    sequentially, so a pair whose cosine sits within ~1e-13 of a
    0.5e-6 rounding boundary could round apart across paths; the +1e-9
    nudge clears every RATIONAL boundary case, leaving only that
    measure-zero FP band (never observed on the attested corpora).
    Clustering is seeded and
    assignment is the frozen `assign_to_centers` expression, so the
    output is deterministic end-to-end; rounding matches ``ratio_round``
    so threshold decisions are engine-portable."""
    id_type = df.schema[id_col].dataType.simpleString()
    _, assigned = fit_ivf_codebook(df, id_col, vec_col, nlist, seed)
    small, giant = _route_cells(assigned, giant_cell_rows)
    dups_small = _small_cell_pairs(small, id_col, threshold, round_out).select(
        F.col("vec_b").alias(id_col)
    )
    dups = (
        dups_small.unionByName(
            _giant_cell_dups(giant, id_col, id_type, threshold, round_out, n_blocks)
        )
        .distinct()
    )
    return assigned.join(dups, id_col, "left_anti").select(id_col, "__cell")


def _route_cells(
    assigned: DataFrame, giant_cell_rows: int
) -> tuple[DataFrame, DataFrame]:
    """(small, giant) split of the frozen assignment by per-cell row
    count — the SemDeDup skew gate; cell sizes broadcast."""
    sizes = assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n_c"))
    routed = assigned.join(F.broadcast(sizes), "__cell")
    return (
        routed.filter(F.col("__n_c") <= giant_cell_rows),
        routed.filter(F.col("__n_c") > giant_cell_rows),
    )


def _small_cell_pairs(
    small: DataFrame,
    id_col: str,
    threshold: float,
    round_out: int,
    emit_score: bool = False,
) -> DataFrame:
    """(vec_a, vec_b[, score]) within-cell pairs at rounded cosine ≥
    threshold, vec_a < vec_b — the per-pair JVM formulation for
    gate-sized cells. ``emit_score`` appends the rounded cosine (the
    ε-sweep consumer). NULL cosine (zero norm, via try_divide) never
    passes the filter."""
    from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round

    a = small.select(F.col(id_col).alias("vec_a"), F.col("__v").alias("__va"), "__cell")
    b = small.select(F.col(id_col).alias("vec_b"), F.col("__v").alias("__vb"), "__cell")
    scored = (
        a.join(b, "__cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "score", ratio_round(cosine(F.col("__va"), F.col("__vb")), round_out)
        )
        .filter(F.col("score") >= threshold)
    )
    if emit_score:
        return scored.select("vec_a", "vec_b", "score")
    return scored.select("vec_a", "vec_b")


def semantic_dedup_groups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    round_out: int = 6,
    giant_cell_rows: int = 8192,
    n_blocks: int = 8,
    max_iterations: int = 20,
) -> DataFrame:
    """GROUP-semantics SemDeDup — the alternative ``semantic_dedup``'s
    docstring names for callers who need every removed row to share a
    group with its survivor: every within-cell pair at rounded cosine ≥
    ``threshold`` (small cells per-pair JVM, giant cells blocked GEMM
    with ``emit_pairs=True``) feeds ``connected_components`` label
    propagation, and each row gets its component's minimum member id as
    ``group_id`` (unpaired rows are their own group). Returns
    (id, __cell, group_id) for EVERY input row; keep-one-per-group =
    filter id == group_id. Relation to the greedy rule, stated exactly
    (test-pinned): component minima always survive greedy too (their
    neighbors are inside their component, so none has a lower id), so
    representatives ⊆ greedy survivors — keep-one-per-component prunes
    AT LEAST as much, because greedy additionally keeps rows whose only
    threshold witnesses are HIGHER ids. What groups buy is the
    audit-trail semantics: every removed row names a surviving
    representative via group_id, which the greedy chain rule cannot
    promise. Scale: the pair relation can approach n_c² rows on
    dup-heavy cells (plain ``semantic_dedup`` emits only unique
    duplicate ids instead); label propagation is
    O(component diameter) small shuffles over the pairs-sized edge
    relation (components are duplicate clusters — shallow)."""
    from data_warehouse_product_mix_clustering_spark.operators.dedup import connected_components

    _, assigned = fit_ivf_codebook(df, id_col, vec_col, nlist, seed)
    small, giant = _route_cells(assigned, giant_cell_rows)
    id_type = df.schema[id_col].dataType.simpleString()
    pairs = _small_cell_pairs(small, id_col, threshold, round_out).unionByName(
        _giant_cell_pairs(
            giant, id_col, id_type, threshold, round_out, n_blocks, emit_pairs=True
        )
    )
    comps = connected_components(
        pairs, "vec_a", "vec_b", max_iterations=max_iterations
    ).withColumnRenamed("id", id_col)
    return (
        assigned.select(id_col, "__cell")
        .join(comps, id_col, "left")
        .select(
            id_col,
            "__cell",
            F.coalesce(F.col("group_id"), F.col(id_col)).alias("group_id"),
        )
    )


def semantic_dedup_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.9, 0.95, 0.99),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    seed: int = 42,
    round_out: int = 6,
    giant_cell_rows: int = 8192,
    n_blocks: int = 8,
) -> DataFrame:
    """ε-sweep over SemDeDup thresholds in ONE pass (the published
    recipe tunes ε per dedup-rate target, so a caller runs a small sweep
    before committing; Abbas et al. 2023 §3): the within-cell pair
    relation is computed ONCE at the LOOSEST threshold — scored pairs,
    same frozen clustering and skew routing as ``semantic_dedup`` — and
    every tighter threshold is a FILTER over that shared relation (a
    pair at cosine ≥ ε is by construction present in the ≥ min(ε) set).
    Returns one row per threshold:
    (threshold, n_total, n_removed, n_survivors), with n_removed =
    distinct higher-ids of passing pairs — exactly the single-threshold
    operator's rule, so sweep counts ≡ |semantic_dedup(ε)| per ε
    (audit-pinned). Monotone by construction: tighter ε ⇒ fewer pairs ⇒
    fewer removed ⇒ more survivors.

    Scale: one clustering, one pair materialization, one scan — the
    explode multiplies the PASSING-pair relation by |thresholds| (a few
    small literals), then a two-level distinct-count groupBy; n
    independent ``semantic_dedup`` calls would pay n clusterings and n
    pair materializations instead. Threshold rows that remove nothing
    still appear (left join against the literal threshold relation)."""
    thrs = sorted({float(t) for t in thresholds})
    if not thrs:
        raise ValueError("thresholds must be non-empty")
    tmin = thrs[0]
    id_type = df.schema[id_col].dataType.simpleString()
    _, assigned = fit_ivf_codebook(df, id_col, vec_col, nlist, seed)
    small, giant = _route_cells(assigned, giant_cell_rows)
    pairs = _small_cell_pairs(
        small, id_col, tmin, round_out, emit_score=True
    ).unionByName(
        _giant_cell_pairs(
            giant, id_col, id_type, tmin, round_out, n_blocks,
            emit_pairs=True, emit_score=True,
        )
    )
    thr_lits = F.array(*[F.lit(t) for t in thrs])
    removed = (
        pairs.select("vec_b", "score", F.explode(thr_lits).alias("threshold"))
        .filter(F.col("score") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count_distinct("vec_b").cast("long").alias("n_removed"))
    )
    base = df.sparkSession.createDataFrame(
        [(t,) for t in thrs], "threshold double"
    )
    totals = F.broadcast(
        assigned.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    )
    return (
        base.join(removed, "threshold", "left")
        .crossJoin(totals)
        .select(
            "threshold",
            "n_total",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            (F.col("n_total") - F.coalesce(F.col("n_removed"), F.lit(0)))
            .cast("long")
            .alias("n_survivors"),
        )
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    threshold: float = 0.95,
    seed: int = 42,
    round_out: int = 6,
    broadcast_batch: bool = True,
    centers: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Batch-vs-corpus SemDeDup — the continuous-ingestion shape that
    completes the incremental family (exact: ``incremental_dedup``,
    n-gram: ``incremental_jaccard_pairs``, now semantic): the coarse
    codebook fits on the CORPUS (the frozen reference clustering — the
    deployment invariant; re-fitting per batch would reshuffle every
    cell), the batch assigns to those frozen centers via the same
    ``assign_to_centers`` expression CDC maintenance uses, and a batch
    row is a duplicate iff

    - ANY same-cell corpus row has rounded cosine ≥ ``threshold``
      (any corpus id — the corpus is already deduped and kept), or
    - a LOWER-id same-cell batch row does (the within-batch greedy
      rule — the same keep-first-in-batch convention as
      ``incremental_dedup``).

    Returns the batch survivors (id, __cell), ready to append. Assumes
    disjoint id spaces (re-ingesting an ingested row IS a duplicate —
    it will cosine-1.0 its corpus twin, which is the correct outcome;
    the convention documented on ``incremental_jaccard_pairs``).

    Scale: the corpus is PRUNED to the batch's touched cells by a
    broadcast semi-join BEFORE the pair join (``broadcast_batch``, the
    deployment default — a batch's distinct-cell set is ≤ nlist rows),
    so the only large scan is the touched slice of the corpus; the
    batch side then broadcasts into the pair join. Pair volume is
    |batch∩cell| × n_c per touched cell — batch-bounded, never corpus².
    Zero-norm rows: NULL cosine under try_divide, never a duplicate —
    the same always-survive rule as ``semantic_dedup``.

    ``centers``: pass a FROZEN codebook (the ``(cell, vector)`` list
    ``fit_ivf_codebook`` derives) to skip the per-call corpus k-means —
    the continuous-ingestion loop (``streaming/ingest.py``) fits once on
    the seed corpus and reuses the centers for every micro-batch, since
    refitting per batch would both cost a full corpus pass and reshuffle
    cell identities under the already-ingested rows."""
    from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round

    if centers is None:
        model, corpus_assigned = fit_ivf_codebook(
            corpus, id_col, vec_col, nlist, seed
        )
        centers = [
            (i, [float(x) for x in ctr])
            for i, ctr in enumerate(model.clusterCenters())
        ]
    else:
        corpus_assigned = assign_to_centers(corpus, centers, id_col, vec_col)
    batch_assigned = assign_to_centers(batch, centers, id_col, vec_col)

    touched = batch_assigned.select("__cell").distinct()
    if broadcast_batch:
        touched = F.broadcast(touched)
    corpus_pruned = corpus_assigned.join(touched, "__cell", "left_semi")

    b = batch_assigned.select(
        F.col(id_col).alias("__bid"), F.col("__v").alias("__bv"), "__cell"
    )
    if broadcast_batch:
        b = F.broadcast(b)
    c = corpus_pruned.select(F.col("__v").alias("__cv"), "__cell")
    dup_vs_corpus = (
        b.join(c, "__cell")
        .filter(
            ratio_round(cosine(F.col("__bv"), F.col("__cv")), round_out)
            >= threshold
        )
        .select(F.col("__bid").alias(id_col))
    )
    dup_in_batch = _small_cell_pairs(
        batch_assigned, id_col, threshold, round_out
    ).select(F.col("vec_b").alias(id_col))
    dups = dup_vs_corpus.unionByName(dup_in_batch).distinct()
    return batch_assigned.join(dups, id_col, "left_anti").select(id_col, "__cell")
