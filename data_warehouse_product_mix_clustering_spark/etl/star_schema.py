"""Star-schema ETL: testdata (TPC-H-ish) → the reference's warehouse shape.

The reference's ETL (reference src/pipelines/etl.py:44-123) extracts an
AdventureWorks-style OLTP source and produces a product-sales star schema:
DimProduct / DimProductSubcategory / DimProductCategory / DimDate (validity
intervals) / DimProductPriceCostHistory / FactProductSales (SURVEY.md §1.3).

Here the OLTP source is the driver's TPC-H-ish testdata, mapped as:

- ``part``                → DimProduct (ProductID/Name + Brand→subcategory,
                            Type→category axes, RetailPrice as the price base)
- ``lineitem ⋈ orders``   → FactProductSales (J2: left join on the order key
                            attaches OrderDate + CustomerID, reference
                            etl.py:70)
- distinct quarter starts → DimDate validity intervals with surrogate ids
                            (F13: row_number over explicit order, reference
                            etl.py:78-80) — the last interval is open-ended
                            (NULL EndDate, reference etl.py:41)
- product × interval      → DimProductPriceCostHistory with a deterministic
                            cost curve (stands in for the reference's
                            CostHistory ⋈ PriceHistory, J1 etl.py:64)

Every builder has a **mirrored DuckDB SQL CTE** (``SQL_CTES``) so any query
over the star schema can be oracle-checked: the driver runs the Spark plan
and the SQL side-by-side on the same parquet files.

``build_star_schema`` is the warehouse load's publish step: it persists
the four warehouse tables once per sf_dir, and clustering then reads the
loaded warehouse (reference src/pipelines/clustering.py:66-136) instead of
deriving the fact again from the OLTP source.

Scale notes (100 TB design):
- The fact build is one shuffle join on the order key; at scale both sides
  would be bucketed by orderkey to make it shuffle-free. Dimension builds are
  tiny (part × quarters) and broadcast everywhere downstream.
- The published star is persisted at ``persist()``'s default level,
  ``MEMORY_AND_DISK_DESER``, so a fact larger than executor memory spills
  to local disk instead of failing. It keeps the fact's shuffle
  partitioning on the order key (a cached plan's output partitioning is
  not coalesced), and it is released when any table file under its
  sf_dir is invalidated.
- No ``collect()`` anywhere; surrogate keys use a window over a
  dimension-sized input only.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.sources.registry import table


def invalidate_star_cache(sf_dir: str | None = None) -> None:
    """Drop everything built from ``sf_dir`` (or everything): see ``state``."""
    state.invalidate(sf_dir)


def _per_session(fn):
    """Memoize a (spark, sf_dir) → DataFrame builder per session.

    Builders are pure plan constructors over the cached table scans, but
    analysis of their join/window subtrees still costs driver time on
    every call; a warehouse resolves a named view once per session."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return state.cached(spark, "star", sf_dir, fn.__name__, lambda: fn(spark, sf_dir))

    return wrapper


@dataclass
class StarSchema:
    """Lazy DataFrames for every warehouse table (nothing scanned yet)."""

    dim_product: DataFrame
    dim_date: DataFrame
    price_history: DataFrame
    fact_sales: DataFrame


@_per_session
def dim_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DimProduct: part with the reference's column contract.

    Brand/Type double as the subcategory/category axes (the reference's
    DimProductSubcategory/DimProductCategory are separate tiny dims built
    from distinct values — see ``dim_category`` / ``dim_subcategory``).
    """
    return table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("ProductID"),
        F.col("p_name").alias("Name"),
        F.col("p_brand").alias("Brand"),
        F.col("p_type").alias("Type"),
        F.col("p_size").alias("Size"),
        F.col("p_retailprice").alias("RetailPrice"),
    )


@_per_session
def dim_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct categories (Type axis) with deterministic surrogate keys (F13)."""
    w = Window.orderBy("Type")
    return (
        dim_product(spark, sf_dir)
        .select("Type")
        .distinct()
        .withColumn("CategoryID", F.row_number().over(w).cast("long"))
    )


@_per_session
def dim_subcategory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (Brand, Type) pairs keyed like the reference's subcategory dim."""
    w = Window.orderBy("Brand", "Type")
    return (
        dim_product(spark, sf_dir)
        .select("Brand", "Type")
        .distinct()
        .withColumn("SubcategoryID", F.row_number().over(w).cast("long"))
    )


@_per_session
def fact_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FactProductSales: lineitem ⋈ orders on the order key (J2).

    LineTotal is the discounted extended price (the testdata analogue of the
    reference's SalesOrderDetail.LineTotal). The join is inner like the
    reference's effective result (every detail row has a header; reference
    etl.py:70 uses left + downstream dropna at :88 — inner expresses the same
    surviving set declaratively).
    """
    # SHUFFLE_HASH hint: at production scale the header side is ~1/4 the
    # fact — far beyond any broadcast threshold — so the join must shuffle
    # both sides on the order key; hashing the smaller (header) side skips
    # the per-partition sorts a sort-merge join pays on BOTH inputs (~20%
    # on this join, measured at sf0.1). Memory-safe at scale: the build
    # side is one header partition (|orders|/shuffle.partitions), bounded
    # by the same sizing that keeps any shuffle partition executor-sized,
    # and AQE's skew splitting applies. Same exchange as SMJ, so the plan
    # is cluster-faithful — just cheaper per partition.
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir).hint("SHUFFLE_HASH")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        F.col("l_partkey").alias("ProductID"),
        F.col("l_quantity").alias("OrderQty"),
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("LineTotal"),
        F.col("l_orderkey").alias("SalesOrderID"),
        F.col("l_linenumber").alias("LineNumber"),
        F.col("o_orderdate").alias("OrderDate"),
        F.col("o_custkey").alias("CustomerID"),
        F.col("l_returnflag").alias("ReturnFlag"),
    )


@_per_session
def dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarterly validity intervals from observed order dates (DimDate).

    Mirrors the reference's distinct-(StartDate, EndDate)+surrogate-id build
    (reference src/pipelines/etl.py:78-80): StartDate = distinct quarter
    start, EndDate = day before the next start, NULL for the last (open)
    interval — reference etl.py:41's NULL-means-open convention.
    """
    w = Window.orderBy("StartDate")
    return (
        table(spark, "orders", sf_dir)
        .select(F.date_trunc("quarter", F.col("o_orderdate")).alias("StartDate"))
        .distinct()
        .withColumn(
            "EndDate",
            F.lead("StartDate").over(w) - F.expr("INTERVAL 1 DAY"),
        )
        .withColumn("IntervalId", F.row_number().over(w).cast("long"))
    )


@_per_session
def price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DimProductPriceCostHistory: one (product, interval) cost/price row.

    Deterministic cost curve so the DuckDB oracle can reproduce it exactly:
    StandardCost = RetailPrice × (0.45 + 0.03 × ((IntervalId + ProductID) mod 7)).
    Stands in for the reference's cost⋈price history join (J1, etl.py:62-65).
    The cross join is dimension-sized (|part| × |quarters|) and stays tiny
    relative to the fact at every scale factor.
    """
    prod = dim_product(spark, sf_dir).select("ProductID", "RetailPrice")
    dates = dim_date(spark, sf_dir).select("IntervalId")
    return prod.crossJoin(F.broadcast(dates)).select(
        "ProductID",
        "IntervalId",
        (
            F.col("RetailPrice")
            * (F.lit(0.45) + F.lit(0.03) * ((F.col("IntervalId") + F.col("ProductID")) % 7))
        ).alias("StandardCost"),
        (F.col("RetailPrice") * F.lit(1.1)).alias("ListPrice"),
    )


@_per_session
def fact_priced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact rows enriched with the effective StandardCost + row-level profit.

    The reference does this with a row-wise dict probe (U1/U2, reference
    src/pipelines/clustering.py:40-54, O(rows × intervals)); here it is two
    joins, both Catalyst-planned, zero Python in the hot path.
    profit = LineTotal − StandardCost × OrderQty (F1, clustering.py:79).

    Join strategy: this DimDate is a quarter calendar, so the interval key
    is DERIVABLE — ``date_trunc('quarter', OrderDate) == StartDate`` — and
    the interval match becomes a broadcast HASH join (whole-stage codegen)
    instead of the generic broadcast-nested-loop range join, which has no
    codegen and costs ~4× on the row-at-a-time predicate. The generic
    as-of/interval operator (operators/asof_join.py) remains the path for
    dims whose intervals aren't derivable (`asof_price_intervals` exercises
    it); the containment filter stays as a guard so the semantics are
    verifiably identical to the range join.
    """
    fact = fact_sales(spark, sf_dir)
    dates = dim_date(spark, sf_dir)
    ph = price_history(spark, sf_dir)
    with_interval = (
        fact.withColumn("__q", F.date_trunc("quarter", F.col("OrderDate")))
        .join(F.broadcast(dates), F.col("__q") == dates.StartDate, "inner")
        .filter(
            (F.col("OrderDate") >= F.col("StartDate"))
            & (F.col("EndDate").isNull() | (F.col("OrderDate") <= F.col("EndDate")))
        )
        .drop("__q", "StartDate", "EndDate")
    )
    return (
        with_interval.join(F.broadcast(ph), ["ProductID", "IntervalId"], "inner")
        .withColumn("profit", F.col("LineTotal") - F.col("StandardCost") * F.col("OrderQty"))
    )


def _unpersist_star(star: StarSchema) -> None:
    for df in vars(star).values():
        state.unpersist_quietly(df)


def build_star_schema(spark: SparkSession, sf_dir: str) -> StarSchema:
    """The warehouse load's publish step: the four warehouse tables of
    ``sf_dir``, each persisted, held as the ``star`` entry
    ``(sf_dir, "published")``.

    The tables are the per-session builders' own DataFrames, so the first
    action on each (the load's write) materializes it, and Spark's cache
    manager substitutes it into every later plan built from the same
    builders: ``fact_priced``, ``product_features`` and the fit read the
    loaded warehouse instead of re-deriving the fact from ``lineitem`` and
    ``orders``. The entry's release unpersists all four, so invalidating
    any table file under ``sf_dir`` (or the bounds, another session, or
    exit) drops them together. Read-only queries take the builders
    directly and never publish."""

    def publish() -> StarSchema:
        star = StarSchema(
            dim_product=dim_product(spark, sf_dir),
            dim_date=dim_date(spark, sf_dir),
            price_history=price_history(spark, sf_dir),
            fact_sales=fact_sales(spark, sf_dir),
        )
        for df in vars(star).values():
            df.persist()
        return star

    return state.cached(spark, "star", sf_dir, "published", publish, release=_unpersist_star)


# ---------------------------------------------------------------------------
# Mirrored DuckDB CTEs (the oracle side of every star-schema query)
# ---------------------------------------------------------------------------

SQL_CTES = """
dim_product AS (
    SELECT p_partkey AS ProductID, p_name AS Name, p_brand AS Brand,
           p_type AS Type, p_size AS Size, p_retailprice AS RetailPrice
    FROM part
),
dim_category AS (
    SELECT Type, CAST(row_number() OVER (ORDER BY Type) AS BIGINT) AS CategoryID
    FROM (SELECT DISTINCT Type FROM dim_product)
),
dim_subcategory AS (
    SELECT Brand, Type,
           CAST(row_number() OVER (ORDER BY Brand, Type) AS BIGINT) AS SubcategoryID
    FROM (SELECT DISTINCT Brand, Type FROM dim_product)
),
fact_sales AS (
    SELECT l_partkey AS ProductID, l_quantity AS OrderQty,
           l_extendedprice * (1 - l_discount) AS LineTotal,
           l_orderkey AS SalesOrderID, l_linenumber AS LineNumber,
           o_orderdate AS OrderDate, o_custkey AS CustomerID,
           l_returnflag AS ReturnFlag
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
dim_date AS (
    SELECT StartDate,
           lead(StartDate) OVER (ORDER BY StartDate) - INTERVAL 1 DAY AS EndDate,
           CAST(row_number() OVER (ORDER BY StartDate) AS BIGINT) AS IntervalId
    FROM (SELECT DISTINCT date_trunc('quarter', o_orderdate) AS StartDate FROM orders)
),
price_history AS (
    SELECT ProductID, IntervalId,
           RetailPrice * (0.45 + 0.03 * ((IntervalId + ProductID) % 7)) AS StandardCost,
           RetailPrice * 1.1 AS ListPrice
    FROM dim_product CROSS JOIN dim_date
),
fact_priced AS (
    SELECT f.*, d.IntervalId, ph.StandardCost,
           f.LineTotal - ph.StandardCost * f.OrderQty AS profit
    FROM fact_sales f
    JOIN dim_date d
      ON f.OrderDate >= d.StartDate
     AND (d.EndDate IS NULL OR f.OrderDate <= d.EndDate)
    JOIN price_history ph
      ON ph.ProductID = f.ProductID AND ph.IntervalId = d.IntervalId
)
""".strip()


def star_sql(body: str) -> str:
    """Wrap a SELECT body with the star-schema CTE preamble."""
    return f"WITH {SQL_CTES}\n{body.strip()}"
