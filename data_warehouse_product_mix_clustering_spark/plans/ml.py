"""ML-stage queries (reference §2.8: scale → cluster → profile).

``features_zscore`` is the StandardScaler math as pure SQL (oracle-checked,
population std like sklearn's default). The KMeans stages fit a seeded,
sklearn-shaped k-means++ on the driver (``ml/pipelines.py``); their labels
are model output, so they are rows-only checks here with partition-quality
assertions in unit tests and audit queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.etl.star_schema import dim_product
from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round, sql_ratio_round
from data_warehouse_product_mix_clustering_spark.ml.pipelines import (
    assign_vectors,
    kmeans_assign,
    silhouette,
)
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.plans.warehouse import _FEATURES_SQL, product_features
from data_warehouse_product_mix_clustering_spark.sources.registry import table

MATRIX_FEATURES = [
    "profit",
    "profit_margin",
    "average_unit_price",
    "avg_quantity_sold",
    "nunique_customer",
    "customer_loyalty",
    "revenue_growth",
    "selling_duration",
]

def _z_expr(c: str) -> str:
    raw = (
        f"(CAST({c} AS DOUBLE) - avg(CAST({c} AS DOUBLE)) OVER ())"
        f" / stddev_pop(CAST({c} AS DOUBLE)) OVER ()"
    )
    return f"{sql_ratio_round(raw)} AS z_{c}"


_Z_COLS = ",\n               ".join(_z_expr(c) for c in MATRIX_FEATURES)


@register(
    "features_zscore",
    oracle=f"""
        WITH feats AS ({_FEATURES_SQL})
        SELECT product_id,
               {_Z_COLS}
        FROM feats
    """,
)
def features_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler semantics as a relational plan: z = (x − μ) / σ_pop.

    Exactly the reference's sklearn StandardScaler math (ddof=0,
    src/pipelines/clustering.py:127-128), expressed as one global agg
    broadcast back over the feature matrix — so it IS oracle-checkable,
    unlike the iterative KMeans stage.
    """
    feats = product_features(spark, sf_dir)
    stats = feats.agg(
        *[
            F.avg(F.col(c).cast("double")).alias(f"__mu_{c}")
            for c in MATRIX_FEATURES
        ],
        *[
            F.stddev_pop(F.col(c).cast("double")).alias(f"__sd_{c}")
            for c in MATRIX_FEATURES
        ],
    )
    return feats.crossJoin(F.broadcast(stats)).select(
        "product_id",
        *[
            ratio_round(
                (F.col(c).cast("double") - F.col(f"__mu_{c}")) / F.col(f"__sd_{c}")
            ).alias(f"z_{c}")
            for c in MATRIX_FEATURES
        ],
    )


def invalidate_cluster_cache(sf_dir: str | None = None) -> None:
    """Drop cached fitted clusterings for one sf_dir (or all): the fit,
    the Product Details base published with it and the persisted
    ``cluster_profile`` answer, the one served result that reads the fit.
    The other served results do not depend on it and stay."""
    state.invalidate(sf_dir, kind="clusters")


def _release_fit(entry: tuple[DataFrame, DataFrame]) -> None:
    fit, base = entry
    # The base first: Spark re-plans a cached plan that reads a relation
    # being unpersisted, which is wasted work for a base about to go too.
    state.unpersist_quietly(base)
    state.unpersist_quietly(fit)


def _published_fit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The session's ``clusters`` entry for ``sf_dir``: the persisted fit
    and, built on it, the persisted Product Details base (every clustered
    product with its name and category; reference
    pages/2_Product_Details.py loads this frame once and filters, sorts
    and pages it in memory). Both are released together."""

    def fit() -> tuple[DataFrame, DataFrame]:
        feats = product_features(spark, sf_dir)
        assigned = kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id").select(
            "product_id", F.col("cluster").cast("int").alias("cluster"), *MATRIX_FEATURES
        )
        # Bounded by kmeans_np.DRIVER_ROWS_CAP, so one partition holds it.
        assigned = assigned.coalesce(1).persist()
        base = assigned.join(
            dim_product(spark, sf_dir).select(
                F.col("ProductID").alias("product_id"),
                F.col("Name").alias("product_name"),
                F.col("Type").alias("category"),
            ),
            "product_id",
        )
        return assigned, base.persist()

    return state.cached(spark, "clusters", sf_dir, (), fit, release=_release_fit)


@register("product_clusters", headline=True)
def product_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's production clustering: 8 features → scale → KMeans.

    Reference src/pipelines/clustering.py:125-136 (k=4, seed=42), fit
    driver-side by ``kmeans_assign``. Partitions, not label numbers, are
    the contract; rows-only driver check + silhouette/determinism unit
    tests.

    The fitted assignment is persisted per (session, sf_dir) as one
    partition — the engine-side equivalent of the reference caching its
    clustering result with ``@st.cache_data`` (reference
    Clustering_Analysis.py:24): fit once per session, serve the labeled
    relation to every downstream consumer (`cluster_profile`,
    `cluster_trajectories`, repeat dashboard loads). With it the entry
    publishes the Product Details base, ``fit ⋈ dim_product`` on
    ``product_id`` (``_published_fit``), persisted too: a page that builds
    the same join from the same memoized DataFrames is served from it by
    Spark's cache manager, so its count and page each read one in-memory
    partition. A plan shaped differently still runs the join. Both leave
    the store together (``invalidate_cluster_cache``).
    Safe because the fit is same-seed deterministic — the driver-attested
    `cluster_quality_audit` calls ``kmeans_assign`` DIRECTLY (never this
    cache), so its double-fit determinism contract stays a real double fit.
    """
    return _published_fit(spark, sf_dir)[0]


@register("cluster_profile")
def cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster stats incl. median profit (A7 shape, dashboard parity).

    Reference Clustering_Analysis.py:221-230: count, mean/median/sum of
    profit, mean margin, mean loyalty per learned cluster.

    The dashboard's Overview page renders it, so the answer is persisted
    on first use like a ``state.served`` query's, but held as a
    ``clusters`` entry: it reads the persisted one-partition fit, so it
    leaves the store with the fit and its published Details base
    (``invalidate_cluster_cache``).
    """

    def profile() -> DataFrame:
        pc = product_clusters(spark, sf_dir)
        return pc.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_products"),
            ratio_round(F.avg("profit"), 2).alias("avg_profit"),
            ratio_round(F.median("profit"), 2).alias("median_profit"),
            ratio_round(F.sum("profit"), 2).alias("total_profit"),
            ratio_round(F.avg("profit_margin")).alias("avg_margin"),
            ratio_round(F.avg("customer_loyalty")).alias("avg_loyalty"),
        ).persist()

    return state.cached(
        spark, "clusters", sf_dir, "cluster_profile", profile, release=state.unpersist_quietly
    )


@register("cluster_trajectories")
def cluster_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean quarterly revenue trajectory per learned cluster.

    Reference notebooks/LSTM_features_learning.ipynb cell 24: the
    time-series view of each cluster's behavior. Labels come from the
    KMeans fit (⇒ rows-only check; the category-axis twin
    ``trajectory_stats`` carries the oracle for the same math), the
    quarterly grid from ``quarter_rollup``; one broadcast of the tiny
    (product, cluster) map onto the rollup.
    """
    from data_warehouse_product_mix_clustering_spark.plans.warehouse import quarter_rollup

    pc = product_clusters(spark, sf_dir).select("product_id", "cluster")
    q = quarter_rollup(spark, sf_dir)
    return (
        q.join(F.broadcast(pc), "product_id")
        .groupBy("cluster", "quarter_key")
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            ratio_round(F.avg("revenue"), 2).alias("avg_revenue"),
            ratio_round(F.sum("revenue"), 2).alias("total_revenue"),
        )
    )


@register("embedding_clusters")
def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans k=10 over the raw embedding vectors (M6 shape).

    The vectors are collected and fit driver-side by ``assign_vectors``;
    the driver's rows-only check covers schema/rows,
    ``embedding_cluster_audit`` covers determinism.
    """
    emb = table(spark, "embeddings", sf_dir)
    return assign_vectors(emb, "embedding", k=10, order_col="vec_id").select(
        "vec_id", "label", F.col("cluster").cast("int").alias("cluster")
    )


@register("clustering_quality")
def clustering_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette of the product clustering — the M8 evaluation surface."""
    pc = kmeans_assign(product_features(spark, sf_dir), MATRIX_FEATURES, order_col="product_id")
    s = silhouette(pc, MATRIX_FEATURES)
    sizes = pc.groupBy("cluster").count()
    return sizes.agg(
        F.lit(round(s, 6)).alias("silhouette"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.min("count").cast("long").alias("min_cluster_size"),
        F.max("count").cast("long").alias("max_cluster_size"),
    )


def _partition_identity(
    a: DataFrame, b: DataFrame, id_col: str, n_rows: int
) -> DataFrame:
    """1-row relation of partition-identity measurements between two
    cluster assignments: ``n_clusters`` (of run A), ``all_assigned``
    (every id labeled in both runs, none NULL), ``same_seed_identical``
    (the (label_a, label_b) mapping is a bijection — distinct pairs equal
    distinct labels on each side)."""
    pairs = a.select(id_col, F.col("cluster").alias("__c1")).join(
        b.select(id_col, F.col("cluster").alias("__c2")), id_col
    )
    agg = pairs.agg(
        F.countDistinct("__c1").alias("__k1"),
        F.countDistinct("__c2").alias("__k2"),
        F.countDistinct("__c1", "__c2").alias("__kp"),
        F.count(F.lit(1)).alias("__n_pairs"),
        F.count(
            F.when(F.col("__c1").isNull() | F.col("__c2").isNull(), 1)
        ).alias("__n_null"),
    )
    return agg.select(
        F.col("__k1").cast("long").alias("n_clusters"),
        (
            (F.col("__n_pairs") == F.lit(n_rows)) & (F.col("__n_null") == 0)
        ).alias("all_assigned"),
        ((F.col("__kp") == F.col("__k1")) & (F.col("__kp") == F.col("__k2"))).alias(
            "same_seed_identical"
        ),
    )


@register(
    "cluster_quality_audit",
    oracle="""
        SELECT CAST(4 AS BIGINT) AS n_clusters,
               TRUE AS all_assigned,
               TRUE AS silhouette_pass,
               TRUE AS same_seed_identical
    """,
)
def cluster_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested clustering quality gate (the ``ann_recall_audit``
    pattern): the oracle pins the CONTRACT, Spark computes the measured
    truth, and any regression flips the hash row red.

    Four invariants of the reference's production clustering (reference
    src/pipelines/clustering.py:125-136, k=4 seed=42):
    - ``n_clusters``: the fit actually uses all 4 clusters (an empty
      cluster means a degenerate init survived);
    - ``all_assigned``: every product in the feature matrix received a
      label in both fits, none NULL;
    - ``silhouette_pass``: scaled-space silhouette ≥ 0.1, the same floor
      the unit suite pins (test_product_clustering_partition_quality);
    - ``same_seed_identical``: a second same-seed fit yields the IDENTICAL
      partition — checked relationally: the (label_a, label_b) mapping is
      a bijection, i.e. distinct pairs == distinct labels on each side.

    This converts the rows-only clustering family's semantics
    (``product_clusters``, ``clustering_quality``, ``cluster_profile``)
    into a driver-checkable row.
    """
    feats = product_features(spark, sf_dir).localCheckpoint(eager=True)
    n_products = feats.count()
    a = kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")
    b = kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")
    s = silhouette(a, MATRIX_FEATURES)
    return _partition_identity(a, b, "product_id", n_products).select(
        "n_clusters",
        "all_assigned",
        F.lit(bool(s >= 0.1)).alias("silhouette_pass"),
        "same_seed_identical",
    )


@register(
    "embedding_cluster_audit",
    oracle="""
        SELECT CAST(10 AS BIGINT) AS n_clusters,
               TRUE AS all_assigned,
               TRUE AS silhouette_positive,
               TRUE AS same_seed_identical
    """,
)
def embedding_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for the embedding-clustering family (M6 over raw
    vectors — covers ``embedding_clusters``' rows-only semantics).

    Pins: all 10 clusters used, every vector labeled in two same-seed
    fits, the two fits are the identical partition, and the vector-space
    silhouette is strictly positive — the honest floor on this
    near-uniform synthetic corpus (measured ~0.03 at sf0.001-0.01, so a
    negative value means the clustering degenerated, while any higher
    floor would pin noise).
    """
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    emb = table(spark, "embeddings", sf_dir).localCheckpoint(eager=True)
    n = emb.count()
    a = assign_vectors(emb, "embedding", k=10, order_col="vec_id")
    b = assign_vectors(emb, "embedding", k=10, order_col="vec_id")
    withv = a.withColumn(
        "__v", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    s = ClusteringEvaluator(
        featuresCol="__v", predictionCol="cluster", metricName="silhouette"
    ).evaluate(withv)
    return _partition_identity(a, b, "vec_id", n).select(
        "n_clusters",
        "all_assigned",
        F.lit(bool(s > 0.0)).alias("silhouette_positive"),
        "same_seed_identical",
    )


@register(
    "pca_variance_audit",
    oracle="""
        SELECT CAST(4 AS BIGINT) AS k,
               TRUE AS variance_descending,
               TRUE AS variance_sum_pass,
               TRUE AS projection_complete,
               TRUE AS deterministic
    """,
)
def pca_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for ``features_pca`` (M3), whose basis-sign-dependent
    output is inherently rows-only.

    Pins the invariants that survive sign ambiguity: the 4 explained-
    variance ratios are positive and non-increasing; together they explain
    ≥ 0.6 of the standardized 8-feature variance (measured 0.80-0.86 at
    sf0.001-0.01); the projection covers every product with no NULL
    component; and a second same-data fit produces the numerically
    IDENTICAL projection (Spark's PCA is a deterministic SVD — any
    divergence means nondeterminism crept into the feature plan).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feats = product_features(spark, sf_dir).localCheckpoint(eager=True)
    n = feats.count()

    def fit_project() -> tuple[list[float], DataFrame]:
        pipe = Pipeline(
            stages=[
                VectorAssembler(inputCols=MATRIX_FEATURES, outputCol="__feat"),
                StandardScaler(
                    inputCol="__feat",
                    outputCol="__scaled",
                    withMean=True,
                    withStd=True,
                ),
                PCA(k=4, inputCol="__scaled", outputCol="__pc"),
            ]
        )
        model = pipe.fit(feats)
        proj = model.transform(feats).select(
            "product_id",
            *[vector_to_array("__pc")[i].alias(f"pc{i}") for i in range(4)],
        )
        return list(model.stages[-1].explainedVariance), proj

    ev1, p1 = fit_project()
    ev2, p2 = fit_project()
    descending = all(ev1[i] >= ev1[i + 1] for i in range(3)) and all(
        v > 0 for v in ev1
    )
    sum_pass = sum(ev1) >= 0.6

    joined = p1.join(
        p2.select("product_id", *[F.col(f"pc{i}").alias(f"__q{i}") for i in range(4)]),
        "product_id",
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(
            F.when(
                sum(
                    [F.col(f"pc{i}").isNull().cast("int") for i in range(4)],
                    F.lit(0),
                )
                > 0,
                1,
            )
        ).alias("__n_null"),
        F.max(
            F.greatest(
                *[F.abs(F.col(f"pc{i}") - F.col(f"__q{i}")) for i in range(4)]
            )
        ).alias("__max_diff"),
    )
    return agg.select(
        F.lit(4).cast("long").alias("k"),
        F.lit(bool(descending)).alias("variance_descending"),
        F.lit(bool(sum_pass)).alias("variance_sum_pass"),
        ((F.col("__n") == F.lit(n)) & (F.col("__n_null") == 0)).alias(
            "projection_complete"
        ),
        ((F.col("__max_diff") == 0.0) & F.lit(bool(ev1 == ev2))).alias(
            "deterministic"
        ),
    )


@register("features_pca")
def features_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA(k=4) over the standardized feature matrix (M3).

    Reference src/utils/pca.py:3-9 defines this but never wires it into a
    pipeline; exposed here as a first-class query. Model output (SVD basis
    signs are data-dependent) ⇒ rows-only check; the variance ordering is
    unit-tested.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feats = product_features(spark, sf_dir)
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=MATRIX_FEATURES, outputCol="__feat"),
            StandardScaler(
                inputCol="__feat", outputCol="__scaled", withMean=True, withStd=True
            ),
            PCA(k=4, inputCol="__scaled", outputCol="__pc"),
        ]
    )
    feats = feats.cache()
    try:
        model = pipe.fit(feats)
        out = (
            model.transform(feats)
            .select(
                "product_id",
                *[
                    F.round(vector_to_array("__pc")[i], 6).alias(f"pc{i}")
                    for i in range(4)
                ],
            )
            .localCheckpoint(eager=True)
        )
    finally:
        feats.unpersist()
    return out
