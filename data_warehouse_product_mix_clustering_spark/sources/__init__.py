from data_warehouse_product_mix_clustering_spark.sources.registry import load_testdata, table

__all__ = [
    "load_testdata",
    "table",
]
