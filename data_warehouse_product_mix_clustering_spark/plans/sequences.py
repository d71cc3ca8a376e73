"""Time-series / sequence queries (reference M4, A8, M5/M6 surface).

The notebook pipeline builds per-product quarterly sequences, embeds them
with an LSTM autoencoder, and clusters the embeddings
(notebooks/LSTM_features_learning.ipynb). Here: the sequence assembly and
the pooled-embedding stand-in are oracle-checked relational plans; the
true array-of-struct sequence and the KMeans stage are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.etl.star_schema import star_sql
from data_warehouse_product_mix_clustering_spark.functions.numeric import (
    ratio_round,
    sql_money_round,
    sql_ratio_round,
)
from data_warehouse_product_mix_clustering_spark.ml.autoencoder import EMBEDDING_COLS, pooled_embeddings
from data_warehouse_product_mix_clustering_spark.ml.pipelines import kmeans_assign
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.plans.warehouse import quarter_rollup

# revenue is cent-rounded exactly like quarter_rollup's output — the Spark
# plans consume quarter_rollup, so the oracle must aggregate the same grid.
_QUARTERLY_CTE = f"""
    , quarterly AS (
        SELECT ProductID AS product_id,
               CAST(year(OrderDate) * 4 + quarter(OrderDate) AS BIGINT) AS quarter_key,
               CAST(count(DISTINCT SalesOrderID) AS BIGINT) AS order_frequency,
               sum(OrderQty) AS total_quantity,
               {sql_money_round("sum(LineTotal)")} AS revenue
        FROM fact_sales
        GROUP BY 1, 2
    )
"""


@register(
    "quarterly_sequences",
    oracle=star_sql(
        _QUARTERLY_CTE
        + f"""
        SELECT product_id, quarter_key,
               CAST(row_number() OVER (
                   PARTITION BY product_id ORDER BY quarter_key) AS BIGINT) AS seq_pos,
               order_frequency, total_quantity,
               {sql_money_round("revenue")} AS revenue
        FROM quarterly
    """
    ),
)
def quarterly_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 in relational form: quarter-ordered per-product sequence rows.

    ``seq_pos`` is the position the LSTM consumes; the quarterly agg and
    the ordering window share the product_id shuffle (one exchange).
    """
    q = quarter_rollup(spark, sf_dir)
    w = Window.partitionBy("product_id").orderBy("quarter_key")
    return q.select(
        "product_id",
        "quarter_key",
        F.row_number().over(w).cast("long").alias("seq_pos"),
        "order_frequency",
        "total_quantity",
        "revenue",
    )


@register(
    "sequence_arrays",
    oracle=star_sql(
        _QUARTERLY_CTE
        + """
        SELECT product_id, CAST(count(*) AS BIGINT) AS seq_len,
               string_agg(
                   quarter_key || ':' || order_frequency || ':'
                       || CAST(trunc(total_quantity) AS BIGINT) || ':'
                       || CAST(round(revenue * 100) AS BIGINT),
                   ';' ORDER BY quarter_key) AS sequence_csv
        FROM quarterly
        GROUP BY product_id
    """
    ),
)
def sequence_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4's sequence, serialized for cross-engine comparison.

    Each element is ``quarter_key:order_frequency:total_quantity:cents``
    (integers only — float→string formatting differs across engines, so
    revenue rides as exact cents), joined time-ordered with ';'. A
    string rather than the nested array-of-struct, because this boundary
    form is hashable by the driver's canonicalizer AND oracle-checkable
    in DuckDB via string_agg.
    """
    q = quarter_rollup(spark, sf_dir)
    elem = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "quarter_key", "order_frequency", "total_quantity", "revenue"
                    )
                )
            ),
            lambda s: F.concat_ws(
                ":",
                s.quarter_key.cast("string"),
                s.order_frequency.cast("string"),
                # cast('long') truncates toward zero; the oracle matches with
                # CAST(trunc(...) AS BIGINT) — DuckDB's bare double→BIGINT cast
                # ROUNDS, which would silently diverge on fractional sums.
                s.total_quantity.cast("long").cast("string"),
                F.round(s.revenue * 100).cast("long").cast("string"),
            ),
        ),
        ";",
    )
    return q.groupBy("product_id").agg(
        F.count(F.lit(1)).cast("long").alias("seq_len"),
        elem.alias("sequence_csv"),
    )


@register(
    "trajectory_stats",
    oracle=star_sql(
        _QUARTERLY_CTE
        + f"""
        SELECT p.Type AS category, q.quarter_key,
               CAST(count(*) AS BIGINT) AS n_products,
               {sql_ratio_round("avg(q.revenue)", 2)} AS avg_revenue,
               {sql_ratio_round("stddev_samp(q.revenue)", 2)} AS std_revenue
        FROM quarterly q
        JOIN (SELECT DISTINCT ProductID, Type FROM dim_product) p
          ON q.product_id = p.ProductID
        GROUP BY p.Type, q.quarter_key
    """
    ),
)
def trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: mean + std of quarterly revenue per (category, quarter).

    Reference nb LSTM cell 24 computes cluster trajectories; the category
    axis is the oracle-checkable analogue (cluster ids are model output).
    The tiny dim side broadcasts; stddev_samp is NULL for n=1 groups in
    both engines.
    """
    from data_warehouse_product_mix_clustering_spark.etl.star_schema import dim_product

    q = quarter_rollup(spark, sf_dir)
    dp = dim_product(spark, sf_dir).select("ProductID", "Type").distinct()
    return (
        q.join(F.broadcast(dp), q.product_id == dp.ProductID)
        .groupBy(F.col("Type").alias("category"), "quarter_key")
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            ratio_round(F.avg("revenue"), 2).alias("avg_revenue"),
            ratio_round(F.stddev_samp("revenue"), 2).alias("std_revenue"),
        )
    )


_EMB_STATS = ",\n               ".join(
    f"""{sql_ratio_round(f"avg(CAST({f} AS DOUBLE))", 6)} AS {f}_mean,
               {sql_ratio_round(f"coalesce(stddev_pop(CAST({f} AS DOUBLE)), 0.0)", 6)} AS {f}_std,
               {sql_ratio_round(f"arg_min(CAST({f} AS DOUBLE), quarter_key)", 6)} AS {f}_first,
               {sql_ratio_round(f"arg_max(CAST({f} AS DOUBLE), quarter_key)", 6)} AS {f}_last"""
    for f in ("order_frequency", "total_quantity", "revenue")
)


@register(
    "sequence_embeddings",
    oracle=star_sql(
        _QUARTERLY_CTE
        + f"""
        SELECT product_id, CAST(count(*) AS BIGINT) AS seq_len,
               {_EMB_STATS}
        FROM quarterly
        GROUP BY product_id
    """
    ),
)
def sequence_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5's output contract via the deterministic pooled embedder.

    12-d per-product embedding ([mean, std, first, last] × 3 quarterly
    features) — the oracle-checkable stand-in for the LSTM autoencoder
    (ml/autoencoder.py gates the torch path). One hash agg, no sequence
    materialization.
    """
    q = quarter_rollup(spark, sf_dir)
    emb = pooled_embeddings(q)
    return emb.select(
        "product_id",
        F.col("seq_len").cast("long").alias("seq_len"),
        *[ratio_round(F.col(c), 6).alias(c) for c in EMBEDDING_COLS],
    )


@register("sequence_clusters")
def sequence_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: KMeans k=4 over the sequence embeddings (scaled, seed 42).

    Same pipeline shape as the notebook's KMeans-on-LSTM-embeddings
    (cell 22); model output ⇒ rows-only check + unit-tested determinism.
    """
    emb = pooled_embeddings(quarter_rollup(spark, sf_dir))
    return kmeans_assign(emb, EMBEDDING_COLS, order_col="product_id").select(
        "product_id", F.col("cluster").cast("int").alias("cluster"), "seq_len"
    )


@register(
    "sequence_cluster_audit",
    oracle="""
        SELECT CAST(4 AS BIGINT) AS n_clusters,
               TRUE AS all_assigned,
               TRUE AS same_seed_identical,
               TRUE AS lstm_clusters_complete
    """,
)
def sequence_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for the sequence-clustering family (covers the
    rows-only ``sequence_clusters`` and ``sequence_clusters_lstm`` —
    ``embedding_cluster_audit`` style, closing the family's audit gap).

    Pins, Spark-measured while the oracle states the contract:
    - ``n_clusters`` / ``all_assigned`` / ``same_seed_identical``: two
      same-seed KMeans k=4 fits over the pooled sequence embeddings use
      all 4 clusters, label every product, and produce the IDENTICAL
      partition (bijective label mapping — ``_partition_identity``);
    - ``lstm_clusters_complete``: the learned-path twin
      (``sequence_clusters_lstm``: train → embed → cluster) labels every
      product with a non-null cluster in [0, 4) and uses ≥ 2 clusters —
      the structural contract of the notebook's cell-22 pipeline; its
      embedding determinism/quality is separately driver-gated by
      ``lstm_quality_audit``, so this closes the clustering stage without
      re-pinning the training gates.
    """
    from data_warehouse_product_mix_clustering_spark.plans.ml import _partition_identity

    q = quarter_rollup(spark, sf_dir).localCheckpoint(eager=True)
    emb = pooled_embeddings(q).localCheckpoint(eager=True)
    n_products = emb.count()
    a = kmeans_assign(emb, EMBEDDING_COLS, order_col="product_id")
    b = kmeans_assign(emb, EMBEDDING_COLS, order_col="product_id")
    identity = _partition_identity(a, b, "product_id", n_products)

    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import lstm_autoencoder_embeddings
    from data_warehouse_product_mix_clustering_spark.ml.pipelines import assign_vectors

    lstm = assign_vectors(
        lstm_autoencoder_embeddings(q, epochs=60), "embedding", k=4,
        order_col="product_id",
    )
    lstm_ok = lstm.agg(
        F.coalesce(
            (F.count(F.lit(1)) == F.lit(n_products))
            & (F.count(F.when(F.col("cluster").isNull(), 1)) == 0)
            & (F.min("cluster") >= 0)
            & (F.max("cluster") < 4)
            & (F.countDistinct("cluster") >= 2),
            F.lit(False),
        ).alias("lstm_clusters_complete")
    )
    return identity.crossJoin(lstm_ok).select(
        "n_clusters", "all_assigned", "same_seed_identical",
        "lstm_clusters_complete",
    )


@register("sequence_embeddings_lstm")
def sequence_embeddings_lstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5's REAL path: the trained (NumPy) LSTM autoencoder embedding.

    Reference: src/models/LSTM_Autoencoder.py:5-98 + LSTM_features_learning
    cells 17-20 (hidden=12, AdamW 2e-3/5e-4, batch 16, masked MSE, global
    StandardScaler). Trained on a deterministic product sample driver-side,
    scored distributed (Arrow ``mapInPandas``, broadcast weights). Learned
    output ⇒ rows-only driver check; training quality (beats the pooled
    baseline's best-possible reconstruction) is pinned in tests/test_ml.py.
    """
    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import lstm_autoencoder_embeddings

    emb = lstm_autoencoder_embeddings(quarter_rollup(spark, sf_dir))
    # Serialize the vector at the query boundary: the driver's canonicalizer
    # sorts result columns and cannot hash raw array cells. Values are
    # already 6-decimal rounded by the scorer.
    return emb.select(
        "product_id",
        F.col("seq_len").cast("long").alias("seq_len"),
        F.to_json(F.col("embedding")).alias("embedding_json"),
    )


@register(
    "lstm_quality_audit",
    oracle="""
        SELECT CAST(12 AS BIGINT) AS embedding_dim,
               TRUE AS all_embedded,
               TRUE AS beats_pooled_baseline,
               TRUE AS same_seed_identical
    """,
)
def lstm_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit for the learned LSTM path (M5 — covers
    ``sequence_embeddings_lstm`` / ``sequence_clusters_lstm``'s rows-only
    semantics with a driver-checkable hash row).

    Pins:
    - ``embedding_dim`` / ``all_embedded``: the DISTRIBUTED scorer
      (mapInPandas, broadcast weights) emits exactly one 12-d, fully
      non-null vector per product;
    - ``beats_pooled_baseline``: the trained model reconstructs the scaled
      training sample strictly better than the best possible
      constant-per-sequence reconstruction (the per-sequence variance) —
      the same learning gate tests/test_ml.py pins, now attested;
    - ``same_seed_identical``: a second same-seed fit produces
      byte-identical sample embeddings (pure-NumPy training is
      deterministic; divergence means the sample order or seed leaked).

    Training cost is bounded by the 256-sequence sample cap regardless of
    scale factor; scoring is the distributed Arrow path.
    """
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import (
        SEQ_FEATURES,
        _sequence_arrays,
        lstm_autoencoder_embeddings,
    )
    from data_warehouse_product_mix_clustering_spark.ml.lstm_np import LSTMAutoencoderNP

    q = quarter_rollup(spark, sf_dir).localCheckpoint(eager=True)
    n_products = q.select("product_id").distinct().count()

    emb = lstm_autoencoder_embeddings(q, epochs=60)
    dist = emb.agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.size("embedding")).alias("__dmin"),
        F.max(F.size("embedding")).alias("__dmax"),
        F.count(
            F.when(F.exists("embedding", lambda v: v.isNull()), 1)
        ).alias("__n_null"),
    )

    # Driver-side training-quality + determinism gates on the same
    # deterministic sample the embedding query trains on.
    sample = (
        _sequence_arrays(q)
        .orderBy("product_id")
        .limit(256)
        .select("sequence")
        .collect()
    )
    stats = q.select(
        *[F.avg(F.col(f).cast("double")).alias(f"{f}_mu") for f in SEQ_FEATURES],
        *[
            F.stddev_pop(F.col(f).cast("double")).alias(f"{f}_sd")
            for f in SEQ_FEATURES
        ],
    ).first()
    mu = np.array([stats[f"{f}_mu"] for f in SEQ_FEATURES])
    sd = np.array([stats[f"{f}_sd"] or 1.0 for f in SEQ_FEATURES])
    sd[sd == 0.0] = 1.0
    seqs = [
        (
            np.array(
                [[row[f] for f in SEQ_FEATURES] for row in r.sequence], dtype=float
            )
            - mu
        )
        / sd
        for r in sample
    ]
    baseline = sum(float(((s - s.mean(0)) ** 2).sum()) for s in seqs) / sum(
        s.size for s in seqs
    )
    m1 = LSTMAutoencoderNP(len(SEQ_FEATURES), 12, seed=2)
    m1.fit(seqs, epochs=60)
    m2 = LSTMAutoencoderNP(len(SEQ_FEATURES), 12, seed=2)
    m2.fit(seqs, epochs=60)
    beats = m1.reconstruction_mse(seqs) < baseline
    identical = bool(np.array_equal(m1.encode(seqs), m2.encode(seqs)))

    return dist.select(
        F.col("__dmax").cast("long").alias("embedding_dim"),
        (
            (F.col("__n") == F.lit(n_products))
            & (F.col("__dmin") == 12)
            & (F.col("__dmax") == 12)
            & (F.col("__n_null") == 0)
        ).alias("all_embedded"),
        F.lit(bool(beats)).alias("beats_pooled_baseline"),
        F.lit(identical).alias("same_seed_identical"),
    )


@register("sequence_clusters_lstm")
def sequence_clusters_lstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 over the LEARNED embeddings: KMeans k=4 on the LSTM vectors.

    The notebook's cell-22 pipeline end-to-end (train → embed → cluster),
    fully distributed at the scoring/clustering stages. Fewer epochs than
    the embedding query — cluster structure stabilizes well before the
    reconstruction loss floor.
    """
    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import lstm_autoencoder_embeddings
    from data_warehouse_product_mix_clustering_spark.ml.pipelines import assign_vectors

    emb = lstm_autoencoder_embeddings(quarter_rollup(spark, sf_dir), epochs=60)
    return assign_vectors(
        emb, "embedding", k=4, order_col="product_id"
    ).select("product_id", F.col("cluster").cast("int").alias("cluster"), "seq_len")
