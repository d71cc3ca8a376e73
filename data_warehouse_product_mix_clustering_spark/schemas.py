"""Explicit StructType schemas for every table the engine touches.

The reference never declares schemas (pd.read_sql infers them at runtime —
reference src/pipelines/etl.py:19-21); the whole pipeline nonetheless depends
on stable column names/types, so the engine makes the contract explicit
(SURVEY.md §1.2). Two families:

1. The reference's star schema (SURVEY.md §1.3, reference
   src/pipelines/etl.py:51-107) — warehouse tables the ETL produces.
2. The driver's TPC-H-ish testdata tables (TESTDATA.md) used by the
   correctness gate.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# 1. Star-schema warehouse tables (reference parity)
# ---------------------------------------------------------------------------

DIM_PRODUCT = T.StructType(
    [
        T.StructField("ProductID", T.LongType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("ProductSubcategoryID", T.IntegerType(), True),
    ]
)

DIM_PRODUCT_SUBCATEGORY = T.StructType(
    [
        T.StructField("ProductSubcategoryID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
        T.StructField("ProductCategoryID", T.IntegerType(), True),
    ]
)

DIM_PRODUCT_CATEGORY = T.StructType(
    [
        T.StructField("ProductCategoryID", T.IntegerType(), False),
        T.StructField("Name", T.StringType(), True),
    ]
)

# NULL EndDate means "open-ended interval" (reference src/pipelines/etl.py:41).
DIM_DATE = T.StructType(
    [
        T.StructField("StartDate", T.TimestampType(), False),
        T.StructField("EndDate", T.TimestampType(), True),
        T.StructField("Id", T.IntegerType(), False),
    ]
)

DIM_PRODUCT_PRICE_COST_HISTORY = T.StructType(
    [
        T.StructField("ProductID", T.LongType(), False),
        T.StructField("StandardCost", T.DoubleType(), True),
        T.StructField("ListPrice", T.DoubleType(), True),
        T.StructField("Interval", T.IntegerType(), False),
    ]
)

FACT_PRODUCT_SALES = T.StructType(
    [
        T.StructField("ProductID", T.LongType(), False),
        T.StructField("OrderQty", T.IntegerType(), True),
        T.StructField("LineTotal", T.DoubleType(), True),
        T.StructField("SalesOrderID", T.LongType(), False),
        T.StructField("OrderDate", T.TimestampType(), True),
        T.StructField("CustomerID", T.LongType(), True),
        T.StructField("Interval", T.IntegerType(), True),
    ]
)

# 8 features in MATRIX_FEATURES (reference src/pipelines/clustering.py:11-12)
# + ProductID + assigned cluster.
PRODUCT_CLUSTERING = T.StructType(
    [
        T.StructField("ProductID", T.LongType(), False),
        T.StructField("profit", T.DoubleType(), True),
        T.StructField("profit_margin", T.DoubleType(), True),
        T.StructField("average_unit_price", T.DoubleType(), True),
        T.StructField("avg_quantity_sold", T.DoubleType(), True),
        T.StructField("nunique_customer", T.LongType(), True),
        T.StructField("customer_loyalty", T.DoubleType(), True),
        T.StructField("revenue_growth", T.DoubleType(), True),
        T.StructField("selling_duration", T.IntegerType(), True),
        T.StructField("cluster", T.IntegerType(), True),
    ]
)

STAR_SCHEMA: dict[str, T.StructType] = {
    "DimProduct": DIM_PRODUCT,
    "DimProductSubcategory": DIM_PRODUCT_SUBCATEGORY,
    "DimProductCategory": DIM_PRODUCT_CATEGORY,
    "DimDate": DIM_DATE,
    "DimProductPriceCostHistory": DIM_PRODUCT_PRICE_COST_HISTORY,
    "FactProductSales": FACT_PRODUCT_SALES,
    "product_clustering": PRODUCT_CLUSTERING,
}

# ---------------------------------------------------------------------------
# 2. Driver testdata tables (TESTDATA.md) — used by the correctness gate
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), False),
        T.StructField("l_partkey", T.LongType(), False),
        T.StructField("l_suppkey", T.LongType(), False),
        T.StructField("l_linenumber", T.IntegerType(), False),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_custkey", T.LongType(), False),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# Multimodal extension: opaque binary payload + typed metadata
# (documents/embeddings-style table for image/audio/video at 100 TB scale).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
