from data_warehouse_product_mix_clustering_spark.operators.asof_join import asof_join
from data_warehouse_product_mix_clustering_spark.operators.pagination import paginate, top_k

__all__ = [
    "asof_join",
    "paginate",
    "top_k",
]
