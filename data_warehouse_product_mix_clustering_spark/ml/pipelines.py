"""Clustering pipelines (reference §2.8): standardize → KMeans → evaluate.

Mirrors the reference's sklearn stage — StandardScaler → KMeans(k=4,
seed=42) over the 8-feature product matrix (reference
src/pipelines/clustering.py:125-133). The matrix is dimension-sized, so
every fit collects it to the driver and runs the seeded, sklearn-shaped
k-means++ of ``kmeans_np`` (``n_init`` restarts, lowest inertia wins);
the labels are broadcast-joined back onto the plan. A matrix above
``kmeans_np.DRIVER_ROWS_CAP`` rows is refused, not clustered by other
semantics.

Correctness is partition quality (silhouette, identical same-seed
partitions), which the unit tests and the audit queries assert.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.ml import Pipeline
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.ml import kmeans_np

SEED = 42  # reference src/pipelines/clustering.py:14


def _fit_labels(
    df: DataFrame,
    cols: list[str],
    order_col: str,
    k: int,
    to_matrix: Callable[[pd.DataFrame], np.ndarray],
) -> DataFrame:
    """Fit k-means on the driver and append an int ``cluster`` column.

    localCheckpoint materializes the input once and truncates lineage, so
    neither the collect nor the returned joined plan recomputes the
    upstream multi-join. The row count for the ``DRIVER_ROWS_CAP`` check is
    an ``observe`` metric of that same checkpoint job, so sizing the input
    costs no job of its own; the check still runs before anything is
    collected to the driver. The collected rows are sorted on
    ``order_col`` driver-side (pandas, no Spark sort shuffle): any total
    order works, it only has to be the SAME order every run for the seeded
    fit to be reproducible.
    """
    rows = Observation()
    df = df.observe(rows, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    n, cap = rows.get["n"], kmeans_np.DRIVER_ROWS_CAP
    if n > cap:
        raise ValueError(
            f"k-means input has {n} rows, above kmeans_np.DRIVER_ROWS_CAP={cap}"
        )
    pdf = (
        df.select(order_col, *cols)
        .toPandas()
        .sort_values(order_col, ignore_index=True)
    )
    labels, _ = kmeans_np.kmeans_fit(to_matrix(pdf[cols]), k=k, seed=SEED, n_init=10)
    lab = df.sparkSession.createDataFrame(
        pd.DataFrame({order_col: pdf[order_col], "cluster": labels.astype("int32")})
    )
    return df.join(F.broadcast(lab), order_col)


def _standardized(pdf: pd.DataFrame) -> np.ndarray:
    X = pdf.to_numpy(dtype=float)
    mu, sd = X.mean(0), X.std(0)  # ddof=0 — sklearn StandardScaler
    sd[sd == 0] = 1.0
    return (X - mu) / sd


def kmeans_assign(
    df: DataFrame, feature_cols: list[str], k: int = 4, *, order_col: str
) -> DataFrame:
    """Standardize ``feature_cols`` and append a KMeans ``cluster`` id.

    ``order_col`` (an id column) fixes the row order the seeded fit sees,
    so same data ⇒ same partition.
    """
    return _fit_labels(df, feature_cols, order_col, k, _standardized)


def assign_vectors(
    df: DataFrame, vec_col: str, k: int, *, order_col: str
) -> DataFrame:
    """KMeans over an ``array<float>`` embedding column (M6 shape),
    unscaled; otherwise as ``kmeans_assign``."""
    return _fit_labels(
        df, [vec_col], order_col, k,
        lambda pdf: np.stack(pdf[vec_col].to_numpy()).astype(float),
    )


def silhouette(df: DataFrame, feature_cols: list[str]) -> float:
    """Mean silhouette (squared euclidean) of an assigned clustering (M8).

    Evaluated in the SAME standardized space the clustering ran in — raw
    features are scale-dominated (profit in dollars vs ratios), which makes
    the raw-space silhouette meaningless for a scaled-space fit.
    """
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=feature_cols, outputCol="__feat"),
            StandardScaler(
                inputCol="__feat", outputCol="__scaled", withMean=True, withStd=True
            ),
        ]
    )
    withv = pipe.fit(df).transform(df)
    ev = ClusteringEvaluator(
        featuresCol="__scaled", predictionCol="cluster", metricName="silhouette"
    )
    return float(ev.evaluate(withv))
