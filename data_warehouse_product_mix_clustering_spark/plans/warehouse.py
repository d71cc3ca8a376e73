"""Warehouse / dashboard-parity queries (SURVEY.md §2 — the reference surface).

Each query re-expresses one or more reference operators (cited per query) as
a declarative Spark plan over the star schema built from the driver's
testdata, with a mirrored DuckDB oracle. Catalyst supplies pushdown /
pruning / join selection; the only hand-placed hints are broadcasts of
dimension-sized inputs.

Cross-engine float discipline (see functions/numeric.py):
- exact-decimal money sums → ``money_round`` / ``sql_money_round`` (decimal
  snap absorbs engine-order summation noise AND the round() impl divergence)
- division-derived ratios/averages → ``ratio_round`` / ``sql_ratio_round``
  (+1e-9 nudge off the half-boundary rationals)
- integer-valued double sums (quantities) → exact in double, no rounding
  needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.etl.star_schema import (
    dim_category,
    dim_date,
    dim_product,
    dim_subcategory,
    fact_priced,
    fact_sales,
    star_sql,
)
from data_warehouse_product_mix_clustering_spark.functions.numeric import (
    money_round,
    ratio_round,
    sql_money_round,
    sql_ratio_round,
)
from data_warehouse_product_mix_clustering_spark.operators.asof_join import asof_join
from data_warehouse_product_mix_clustering_spark.operators.pagination import paginate
from data_warehouse_product_mix_clustering_spark.plans.registry import register
from data_warehouse_product_mix_clustering_spark.sources.registry import table

# ---------------------------------------------------------------------------
# Flagship: dashboard cluster-summary shape (J6 + A1/A2 + F12)
# ---------------------------------------------------------------------------


@register(
    "cluster_summary",
    oracle=star_sql(f"""
        SELECT p.ProductID AS product_id, p.Name AS product_name,
               CAST(count(DISTINCT f.SalesOrderID) AS BIGINT) AS order_frequency,
               coalesce(sum(f.OrderQty), 0) AS total_quantity,
               {sql_money_round("coalesce(sum(f.LineTotal), 0)")} AS total_revenue
        FROM dim_product p LEFT JOIN fact_sales f ON p.ProductID = f.ProductID
        GROUP BY p.ProductID, p.Name
    """),
    headline=True,
)
@state.served
def cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + grouped agg with COUNT(DISTINCT) and COALESCE defaults.

    Reference: Clustering_Analysis.py:84-100 (product_clustering LEFT JOIN
    FactProductSales, GROUP BY, COUNT(DISTINCT SalesOrderID), SUM(OrderQty),
    COALESCE → 0). Plan shape: the bare fact aggregates FIRST in two narrow
    levels — (ProductID, SalesOrderID) partials, then per-product rollup
    where the distinct-order count is a plain count of level-1 rows — and
    the dim attaches by broadcast LEFT join afterwards, so product names
    never ride the fact shuffle and no Expand/distinct machinery runs.
    Unmatched products survive via the dim-driving join; COALESCE restores
    the reference's zero defaults.
    """
    per_order = fact_sales(spark, sf_dir).groupBy("ProductID", "SalesOrderID").agg(
        F.sum("OrderQty").alias("__qty"), F.sum("LineTotal").alias("__line")
    )
    per_product = per_order.groupBy("ProductID").agg(
        F.count(F.lit(1)).alias("order_frequency"),
        F.sum("__qty").alias("__tq"),
        F.sum("__line").alias("__tr"),
    )
    return (
        dim_product(spark, sf_dir).select("ProductID", "Name")
        .join(F.broadcast(per_product), "ProductID", "left")
        .select(
            "ProductID",
            "Name",
            F.coalesce(F.col("order_frequency"), F.lit(0)).cast("long").alias(
                "order_frequency"
            ),
            F.coalesce(F.col("__tq"), F.lit(0.0)).alias("total_quantity"),
            money_round(F.coalesce(F.col("__tr"), F.lit(0.0))).alias("total_revenue"),
        )
        .select(
            F.col("ProductID").alias("product_id"),
            F.col("Name").alias("product_name"),
            "order_frequency",
            "total_quantity",
            "total_revenue",
        )
    )


# ---------------------------------------------------------------------------
# 3-way dimension join + rollup (J7 + A5/A6)
# ---------------------------------------------------------------------------


@register(
    "category_rollup",
    oracle=star_sql(f"""
        SELECT c.CategoryID AS category_id, s.Type AS category, s.Brand AS brand,
               CAST(count(DISTINCT f.ProductID) AS BIGINT) AS n_products,
               CAST(count(*) AS BIGINT) AS n_lines,
               {sql_money_round("sum(f.LineTotal)")} AS revenue,
               sum(f.OrderQty) AS quantity
        FROM fact_sales f
        JOIN dim_product p ON f.ProductID = p.ProductID
        JOIN dim_subcategory s ON p.Brand = s.Brand AND p.Type = s.Type
        JOIN dim_category c ON s.Type = c.Type
        GROUP BY c.CategoryID, s.Type, s.Brand
    """),
)
@state.served
def category_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dim join then (category, brand) rollup.

    Reference: pages/1_Product_Categories.py:44-53 (DimProduct ⋈
    DimProductSubcategory ⋈ DimProductCategory) + :104-110 (grouped profit /
    qty / count per category+subcategory). All three dims broadcast.
    """
    f = fact_sales(spark, sf_dir)
    p = dim_product(spark, sf_dir)
    sub = dim_subcategory(spark, sf_dir)
    cat = dim_category(spark, sf_dir)
    return (
        f.join(F.broadcast(p), "ProductID")
        .join(F.broadcast(sub), ["Brand", "Type"])
        .join(F.broadcast(cat), "Type")
        .groupBy("CategoryID", "Type", "Brand")
        .agg(
            F.count_distinct("ProductID").alias("n_products"),
            F.count(F.lit(1)).alias("n_lines"),
            money_round(F.sum("LineTotal")).alias("revenue"),
            F.sum("OrderQty").alias("quantity"),
        )
        .select(
            F.col("CategoryID").alias("category_id"),
            F.col("Type").alias("category"),
            F.col("Brand").alias("brand"),
            "n_products",
            "n_lines",
            "revenue",
            "quantity",
        )
    )


# ---------------------------------------------------------------------------
# As-of / interval joins (J4/J5 — the custom operator)
# ---------------------------------------------------------------------------


@register(
    "asof_price_intervals",
    oracle=star_sql(f"""
        SELECT d.IntervalId AS interval_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT f.ProductID) AS BIGINT) AS n_products,
               {sql_money_round("sum(f.LineTotal)")} AS revenue
        FROM fact_sales f
        JOIN dim_date d ON f.OrderDate >= d.StartDate
                       AND (d.EndDate IS NULL OR f.OrderDate <= d.EndDate)
        GROUP BY d.IntervalId
    """),
    headline=True,
)
def asof_price_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join of the fact against validity intervals.

    Reference: src/pipelines/etl.py:27-42 (merge_asof on sorted inputs +
    interval post-filter, NULL EndDate = open). Implemented with the
    engine's ``asof_join`` (broadcast range-join strategy); the oracle uses
    the equivalent containment join (intervals are non-overlapping, so the
    latest-start-≤-date row IS the containing row).
    """
    # The agg reads 3 columns; pruning the fact to them BEFORE the as-of
    # keeps the lineitem⋈orders shuffle rows narrow.
    f = fact_sales(spark, sf_dir).select("OrderDate", "ProductID", "LineTotal")
    d = dim_date(spark, sf_dir)
    # bucket: the quarter calendar can't overlap (the bucketed strategy's
    # contract), so the quarter-trunc equi key upgrades the
    # BroadcastNestedLoopJoin to a codegen'd BroadcastHashJoin and the
    # latest-match dedup window (a full re-shuffle of the joined fact) is
    # skipped; horizon: OrderDate IS orders' o_orderdate, so the
    # open-interval coverage bound is a single-column scan of orders
    # instead of re-executing the whole fact join for one max.
    joined = asof_join(
        f,
        d,
        left_on="OrderDate",
        right_on="StartDate",
        end_col="EndDate",
        how="inner",
        bucket="quarter",
        horizon=table(spark, "orders", sf_dir).select(F.max("o_orderdate")),
    )
    # Two-level Expand-free distinct: a direct count_distinct alongside the
    # other aggregates makes Spark Expand every joined row ×2 before the
    # shuffle; grouping by (interval, product) first then re-aggregating
    # shuffles each distinct pair once instead (measured ~15% faster here,
    # and the gap widens with fact size).
    per_product = joined.groupBy("IntervalId", "ProductID").agg(
        F.count(F.lit(1)).alias("n"), F.sum("LineTotal").alias("rev")
    )
    # F.count(col) (not count(*)) so a NULL-ProductID group is NOT counted
    # as a product — matching count(DISTINCT ProductID)'s NULL-skipping
    # semantics exactly, not just for today's non-null l_partkey.
    return (
        per_product.groupBy("IntervalId")
        .agg(
            F.sum("n").cast("long").alias("n_lines"),
            F.count(F.col("ProductID")).alias("n_products"),
            money_round(F.sum("rev")).alias("revenue"),
        )
        .withColumnRenamed("IntervalId", "interval_id")
    )


@register(
    "asof_union_monthly_quotes",
    oracle="""
        WITH fact AS (
            SELECT l_partkey AS ProductID, o_orderdate AS OrderDate,
                   l_returnflag AS ReturnFlag,
                   l_extendedprice * (1 - l_discount) AS LineTotal,
                   l_quantity AS OrderQty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        months AS (
            SELECT DISTINCT date_trunc('month', o_orderdate) AS qdate FROM orders
        ),
        quotes AS (
            SELECT p_partkey AS ProductID, qdate,
                   p_retailprice * (1 + 0.01 * ((p_partkey
                       + EXTRACT(year FROM qdate) * 12
                       + EXTRACT(month FROM qdate)) % 10)) AS quote_price
            FROM part CROSS JOIN months
        )
        SELECT f.ReturnFlag AS return_flag,
               CAST(count(*) AS BIGINT) AS n_lines,
               {rev} AS revenue,
               {quoted} AS quoted_value
        FROM fact f
        ASOF JOIN quotes q
          ON f.ProductID = q.ProductID AND f.OrderDate >= q.qdate
        GROUP BY f.ReturnFlag
    """.format(
        rev=sql_money_round("sum(f.LineTotal)"),
        quoted=sql_money_round("sum(q.quote_price * f.OrderQty)"),
    ),
    headline=True,
)
def asof_union_monthly_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large backward as-of join — the union strategy at bench scale.

    The 100 TB fact ⋈ 100 GB dim story: the fact (600k rows at sf0.1)
    as-of joined per product to a monthly quote table (|part| × ~80 months
    ≈ 1.6M rows at sf0.1) — NEITHER side broadcastable at scale.
    ``strategy="union"`` runs it as ONE shuffle on the by-key + a single
    per-partition sorted window walk (no join operator at all), the
    distributed equivalent of pandas merge_asof's merge walk (reference
    src/pipelines/etl.py:27-42 at production scale). The oracle is DuckDB's
    native ASOF JOIN over identically-derived quotes.
    """
    f = fact_sales(spark, sf_dir).select(
        "ProductID", "OrderDate", "ReturnFlag", "LineTotal", "OrderQty"
    )
    months = (
        table(spark, "orders", sf_dir)
        .select(F.date_trunc("month", F.col("o_orderdate")).alias("qdate"))
        .distinct()
    )
    # quote_price is a PURE FUNCTION of (ProductID, qdate, p_retailprice),
    # so it is deferred past the as-of join: the union shuffle + window
    # sort then carry a PAYLOAD-FREE right side (by-key + month only — the
    # operator's single-carry fast path), and the price is reconstructed
    # afterwards from the matched month plus one broadcast-hash probe into
    # part for p_retailprice. At 100 TB the deferral removes |quotes| × 8
    # bytes from the one large shuffle in exchange for a map-side probe of
    # a dimension — always the right trade.
    quotes = (
        table(spark, "part", sf_dir)
        .select(F.col("p_partkey").alias("ProductID"))
        .crossJoin(F.broadcast(months))
    )
    joined = asof_join(
        f,
        quotes,
        left_on="OrderDate",
        right_on="qdate",
        by=["ProductID"],
        how="inner",
        strategy="union",
    )
    retail = F.broadcast(
        table(spark, "part", sf_dir).select(
            F.col("p_partkey").alias("ProductID"), "p_retailprice"
        )
    )
    quote_price = F.col("p_retailprice") * (
        F.lit(1)
        + F.lit(0.01)
        * ((F.col("ProductID") + F.year("qdate") * F.lit(12) + F.month("qdate")) % 10)
    )
    return (
        joined.join(retail, "ProductID")
        .groupBy("ReturnFlag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            money_round(F.sum("LineTotal")).alias("revenue"),
            money_round(F.sum(quote_price * F.col("OrderQty"))).alias(
                "quoted_value"
            ),
        )
        .withColumnRenamed("ReturnFlag", "return_flag")
    )


_QUOTES_CTE = """
    WITH fact AS (
        SELECT l_partkey AS ProductID, o_orderdate AS OrderDate,
               l_returnflag AS ReturnFlag,
               l_extendedprice * (1 - l_discount) AS LineTotal,
               l_quantity AS OrderQty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    months AS (
        SELECT DISTINCT date_trunc('month', o_orderdate) AS qdate FROM orders
    ),
    quotes AS (
        SELECT p_partkey AS ProductID, qdate,
               p_retailprice * (1 + 0.01 * ((p_partkey
                   + EXTRACT(year FROM qdate) * 12
                   + EXTRACT(month FROM qdate)) % 10)) AS quote_price
        FROM part CROSS JOIN months
    )
"""


def _monthly_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monthly-quote dimension shared by the forward/nearest as-of
    queries: part × distinct order months with a deterministic quote price
    (mirrored in _QUOTES_CTE's ``quotes``)."""
    months = (
        table(spark, "orders", sf_dir)
        .select(F.date_trunc("month", F.col("o_orderdate")).alias("qdate"))
        .distinct()
    )
    return (
        table(spark, "part", sf_dir)
        .select("p_partkey", "p_retailprice")
        .crossJoin(F.broadcast(months))
        .select(
            F.col("p_partkey").alias("ProductID"),
            "qdate",
            (
                F.col("p_retailprice")
                * (
                    F.lit(1)
                    + F.lit(0.01)
                    * (
                        (
                            F.col("p_partkey")
                            + F.year("qdate") * F.lit(12)
                            + F.month("qdate")
                        )
                        % 10
                    )
                )
            ).alias("quote_price"),
        )
    )


@register(
    "asof_forward_next_quote",
    oracle=_QUOTES_CTE
    + """
        SELECT f.ReturnFlag AS return_flag,
               CAST(count(*) AS BIGINT) AS n_lines,
               {quoted} AS next_quote_value
        FROM fact f
        ASOF JOIN quotes q
          ON f.ProductID = q.ProductID AND f.OrderDate <= q.qdate
        GROUP BY f.ReturnFlag
    """.format(quoted=sql_money_round("sum(q.quote_price * f.OrderQty)")),
)
def asof_forward_next_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'): each
    fact line matched to the EARLIEST monthly quote at/after its order
    date — the "next scheduled price" lookup. Runs the union (large-large)
    strategy on the negated-time axis (operators/asof_join.py::
    _asof_forward), so the scale path is the same one-shuffle window walk
    as the backward join; DuckDB's native forward ASOF JOIN
    (``ON f.OrderDate <= q.qdate``) is the oracle.
    """
    f = fact_sales(spark, sf_dir).select(
        "ProductID", "OrderDate", "ReturnFlag", "OrderQty"
    )
    quotes = _monthly_quotes(spark, sf_dir)
    joined = asof_join(
        f,
        quotes,
        left_on="OrderDate",
        right_on="qdate",
        by=["ProductID"],
        how="inner",
        strategy="union",
        direction="forward",
    )
    return (
        joined.groupBy("ReturnFlag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            money_round(F.sum(F.col("quote_price") * F.col("OrderQty"))).alias(
                "next_quote_value"
            ),
        )
        .withColumnRenamed("ReturnFlag", "return_flag")
    )


_NEAREST_QUOTE_ORACLE = (
    _QUOTES_CTE
    + """
        , b AS (
            SELECT f.ProductID, f.OrderDate, f.ReturnFlag, f.OrderQty,
                   q.qdate AS bdate, q.quote_price AS bprice
            FROM fact f
            ASOF LEFT JOIN quotes q
              ON f.ProductID = q.ProductID AND f.OrderDate >= q.qdate
        ), bf AS (
            SELECT b.*, q2.qdate AS fdate, q2.quote_price AS fprice
            FROM b
            ASOF LEFT JOIN quotes q2
              ON b.ProductID = q2.ProductID AND b.OrderDate <= q2.qdate
        )
        SELECT ReturnFlag AS return_flag,
               CAST(count(*) AS BIGINT) AS n_lines,
               {quoted} AS nearest_quote_value
        FROM (
            SELECT ReturnFlag, OrderQty,
                   CASE WHEN bdate IS NOT NULL AND (fdate IS NULL
                             OR epoch_us(OrderDate) - epoch_us(bdate)
                                <= epoch_us(fdate) - epoch_us(OrderDate))
                        THEN bprice ELSE fprice END AS quote_price
            FROM bf
        )
        GROUP BY ReturnFlag
    """.format(quoted=sql_money_round("sum(quote_price * OrderQty)"))
)


@register("asof_nearest_quote", oracle=_NEAREST_QUOTE_ORACLE)
def asof_nearest_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'): each
    fact line priced at the closest monthly quote in either direction,
    ties resolved backward. The union strategy computes BOTH candidates in
    one shuffle and one Window operator (preceding-frame last + following-
    frame first); DuckDB has no native nearest ASOF, so the oracle chains
    a backward and a forward ASOF join and picks the smaller gap.
    """
    return _nearest_quote_rollup(spark, sf_dir, strategy="union")


def _nearest_quote_rollup(
    spark: SparkSession, sf_dir: str, strategy: str, bucket: str | None = None
) -> DataFrame:
    f = fact_sales(spark, sf_dir).select(
        "ProductID", "OrderDate", "ReturnFlag", "OrderQty"
    )
    joined = asof_join(
        f,
        _monthly_quotes(spark, sf_dir),
        left_on="OrderDate",
        right_on="qdate",
        by=["ProductID"],
        how="inner",
        strategy=strategy,
        direction="nearest",
        bucket=bucket,
        # OrderDate IS orders' o_orderdate: the cover bounds come from a
        # single-column scan of orders instead of re-executing the fact
        # join (the same horizon trick asof_price_intervals uses).
        horizon=None if bucket is None else table(spark, "orders", sf_dir).select(
            F.min("o_orderdate"), F.max("o_orderdate")
        ),
    )
    return (
        joined.groupBy("ReturnFlag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            money_round(F.sum(F.col("quote_price") * F.col("OrderQty"))).alias(
                "nearest_quote_value"
            ),
        )
        .withColumnRenamed("ReturnFlag", "return_flag")
    )


@register(
    "asof_nearest_bucketed_quote",
    oracle=_NEAREST_QUOTE_ORACLE,
)
def asof_nearest_bucketed_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same nearest-quote rollup through the BUCKETED HASH strategy
    (operators/asof_join.py::_nearest_bucketed): nearest reduced to a
    non-overlapping interval join over midpoint covers, executed as a
    codegen'd BroadcastHashJoin on the month-bucket equi key. Shares
    ``asof_nearest_quote``'s oracle — the strategies must agree exactly,
    so this row driver-attests the reduction itself.
    """
    return _nearest_quote_rollup(
        spark, sf_dir, strategy="broadcast", bucket="month"
    )


@register(
    "interval_join_per_product",
    oracle=star_sql(f"""
        SELECT ProductID AS product_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               {sql_money_round("sum(profit)")} AS total_profit
        FROM fact_priced
        GROUP BY ProductID
    """),
)
def interval_join_per_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product interval join → effective cost → row-level profit.

    Reference: notebooks/etl_transform.ipynb cell 28 (per-product equi +
    range join) and the driver-dict probe it replaces
    (src/pipelines/clustering.py:24-54). profit = LineTotal − StandardCost ×
    OrderQty (F1, clustering.py:79).
    """
    fp = fact_priced(spark, sf_dir)
    return (
        fp.groupBy("ProductID")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_round(F.sum("profit")).alias("total_profit"),
        )
        .withColumnRenamed("ProductID", "product_id")
    )


@register(
    "dim_date_intervals",
    oracle=star_sql("""
        SELECT StartDate AS start_date, EndDate AS end_date, IntervalId AS interval_id
        FROM dim_date
    """),
)
def dim_date_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validity-interval dimension itself: distinct + surrogate keys.

    Reference: src/pipelines/etl.py:78-80 (drop_duplicates + Id = index+1).
    Surrogate ids are row_number over an explicit total order (F13) — never
    monotonically_increasing_id, which is partition-layout-dependent.
    """
    return dim_date(spark, sf_dir).select(
        F.col("StartDate").alias("start_date"),
        F.col("EndDate").alias("end_date"),
        F.col("IntervalId").alias("interval_id"),
    )


# ---------------------------------------------------------------------------
# The 8-feature product matrix (A1-A12 + F1-F9 — the analytical heart)
# ---------------------------------------------------------------------------

_FEATURES_SQL = star_sql(f"""
    , final AS (
        SELECT max(OrderDate) + INTERVAL 1 DAY AS final_date FROM fact_sales
    ),
    stats AS (
        SELECT ProductID,
               min(OrderDate) AS first_sale,
               sum(LineTotal) AS alltime_rev,
               max(f.final_date) AS final_date,
               sum(CASE WHEN OrderDate >= f.final_date - INTERVAL 365 DAY
                        THEN OrderQty END) AS sum_qty,
               sum(CASE WHEN OrderDate >= f.final_date - INTERVAL 365 DAY
                        THEN LineTotal END) AS sum_line,
               sum(CASE WHEN OrderDate >= f.final_date - INTERVAL 365 DAY
                        THEN profit END) AS sum_profit,
               count(DISTINCT CASE WHEN OrderDate >= f.final_date - INTERVAL 365 DAY
                                   THEN SalesOrderID END) AS order_frequency,
               count(DISTINCT CASE WHEN OrderDate >= f.final_date - INTERVAL 365 DAY
                                   THEN CustomerID END) AS nunique_customer
        FROM fact_priced, final f
        GROUP BY ProductID
    )
    SELECT ProductID AS product_id,
           {sql_money_round("sum_profit")} AS profit,
           {sql_ratio_round("sum_profit / sum_line")} AS profit_margin,
           {sql_ratio_round("sum_line / sum_qty", 4)} AS average_unit_price,
           {sql_ratio_round("sum_qty / order_frequency")} AS avg_quantity_sold,
           CAST(nunique_customer AS BIGINT) AS nunique_customer,
           {sql_ratio_round("CAST(order_frequency AS DOUBLE) / nunique_customer")} AS customer_loyalty,
           {sql_ratio_round("sum_line * date_diff('day', first_sale, final_date) / (alltime_rev * 365)")} AS revenue_growth,
           CAST(date_diff('day', first_sale, final_date) AS BIGINT) AS selling_duration
    FROM stats
    WHERE order_frequency > 0
""")
# Notes: the body starts with ", final AS (...)" which continues star_sql's
# WITH-clause CTE list — valid SQL as-is. FINAL_DATE comes from fact_sales
# (= fact_priced's date set: the interval and price joins are row-preserving
# by construction), so the scalar pass skips the join subtree entirely.


@register("product_features", oracle=_FEATURES_SQL, headline=True)
def product_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 8-feature per-product matrix (MATRIX_FEATURES).

    Reference: src/pipelines/clustering.py:79-121 —
    profit (F1, summed), profit_margin (F3), average_unit_price (F2),
    avg_quantity_sold (F8), nunique_customer, customer_loyalty (F4),
    revenue_growth (F7 = last-year revenue over annualized lifetime revenue),
    selling_duration (F5, FINAL_DATE = max date + 1 day, :85).
    Active = any sale in the trailing 365 days (:86-89). Non-standard
    semantics preserved deliberately (SURVEY.md §7.3).

    Plan shape: one pass over the priced fact, aggregated in TWO levels.
    Level 1 groups by (ProductID, SalesOrderID) — OrderDate and CustomerID
    are constant within an order, so this loses nothing — and reduces the
    fact to one narrow row per product-order. Level 2 groups by ProductID
    with a SINGLE count_distinct (CustomerID); order_frequency becomes a
    plain conditional count because level-1 rows are already distinct
    orders. Two distinct aggregates in one pass would make Catalyst plan an
    Expand (every fact row tripled — one replica per distinct group —
    before the first shuffle); the two-level shape shuffles the fact once,
    narrow, un-tripled, then shuffles the much smaller per-order rows.
    That second shuffle is an explicit repartition on ProductID: it
    satisfies both the distinct aggregate's (ProductID, CustomerID)
    clustering and the per-product one, where the planner would shuffle
    once for each. The fact arrives partitioned on its order key (the
    join's shuffle, or the published star's cached partitioning), so the
    per-order level needs no shuffle of its own.
    The active-window measures stay CASE-gated on the broadcast FINAL_DATE
    scalar, which comes from the cheap pre-join fact (row-preserving joins
    make the date sets identical) — no driver round-trip.

    The output projection is one ``selectExpr`` of the oracle's rounding
    expressions, the same plan as the column-function form: each PySpark
    column function costs several py4j round trips (call-site capture),
    and this one call halves the round trips of building this plan.
    """
    fp = fact_priced(spark, sf_dir)
    final = fact_sales(spark, sf_dir).select(
        F.date_add(F.max("OrderDate").cast("date"), 1).cast("timestamp").alias("final_date")
    )
    in_window = F.col("OrderDate") >= F.col("final_date") - F.expr("INTERVAL 365 DAY")
    per_order = (
        fp.crossJoin(F.broadcast(final))
        .groupBy("ProductID", "SalesOrderID")
        .agg(
            F.min("OrderDate").alias("OrderDate"),
            F.min("final_date").alias("final_date"),
            F.min("CustomerID").alias("CustomerID"),
            F.sum("OrderQty").alias("o_qty"),
            F.sum("LineTotal").alias("o_line"),
            F.sum("profit").alias("o_profit"),
        )
    )
    stats = per_order.repartition("ProductID").groupBy("ProductID").agg(
        F.min("OrderDate").alias("first_sale"),
        F.sum("o_line").alias("alltime_rev"),
        F.max("final_date").alias("final_date"),
        F.sum(F.when(in_window, F.col("o_qty"))).alias("sum_qty"),
        F.sum(F.when(in_window, F.col("o_line"))).alias("sum_line"),
        F.sum(F.when(in_window, F.col("o_profit"))).alias("sum_profit"),
        F.count(F.when(in_window, F.lit(1))).alias("order_frequency"),
        F.count_distinct(F.when(in_window, F.col("CustomerID"))).alias(
            "nunique_customer"
        ),
    )
    dur = "datediff(final_date, first_sale)"
    return stats.filter("order_frequency > 0").selectExpr(
        "ProductID AS product_id",
        f"{sql_money_round('sum_profit')} AS profit",
        f"{sql_ratio_round('sum_profit / sum_line')} AS profit_margin",
        f"{sql_ratio_round('sum_line / sum_qty', 4)} AS average_unit_price",
        f"{sql_ratio_round('sum_qty / order_frequency')} AS avg_quantity_sold",
        "nunique_customer",
        f"{sql_ratio_round('CAST(order_frequency AS DOUBLE) / nunique_customer')} AS customer_loyalty",
        f"{sql_ratio_round(f'sum_line * {dur} / (alltime_rev * 365)')} AS revenue_growth",
        f"CAST({dur} AS BIGINT) AS selling_duration",
    )


# ---------------------------------------------------------------------------
# Pivot / median / percent-of-total (A7, A9, A11)
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "pivot_category_priority",
    oracle="""
        SELECT p.p_type AS category,
               {cols}
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type
    """.format(
        cols=",\n               ".join(
            f"""CAST(count(*) FILTER (WHERE o.o_orderpriority = '{v}') AS BIGINT) AS \"{v}\""""
            for v in _PRIORITIES
        )
    ),
)
@state.served
def pivot_category_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: category × order-priority count matrix with 0 fill.

    Reference: notebooks/data_clustering.ipynb cell 26
    (``groupby.size().unstack(fill_value=0)``, A9). Explicit pivot values →
    single-pass pivot agg, no extra distinct-values job.
    """
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir)
    part = table(spark, "part", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_type").alias("category"))
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
        .na.fill(0)
    )


@register(
    "cube_category_priority",
    oracle=f"""
        SELECT p.p_type AS category, o.o_orderpriority AS priority,
               CAST(GROUPING(p.p_type) * 2 + GROUPING(o.o_orderpriority) AS BIGINT)
                   AS gid,
               CAST(count(*) AS BIGINT) AS n_lines,
               {sql_money_round("sum(l.l_extendedprice * (1 - l.l_discount))")} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY CUBE(p.p_type, o.o_orderpriority)
    """,
)
def cube_category_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (category, priority): every subtotal level in one pass.

    The warehouse rollup surface beyond plain GROUP BY: per-cell, per-axis
    and grand totals with an explicit grouping id (so subtotal NULLs are
    distinguishable from genuine NULL keys). Spark expands the cube
    map-side into the same single shuffle a plain agg uses.
    """
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir)
    part = table(spark, "part", sf_dir)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_type").alias("category"),
            F.col("o_orderpriority").alias("priority"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("__rev"),
        )
    )
    return (
        joined.cube("category", "priority")
        .agg(
            (F.grouping("category") * 2 + F.grouping("priority"))
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_lines"),
            money_round(F.sum("__rev")).alias("revenue"),
        )
        .select("category", "priority", "gid", "n_lines", "revenue")
    )


@register(
    "quarterly_running_revenue",
    oracle=f"""
        WITH q AS (
            SELECT p.p_type AS category,
                   CAST(year(o.o_orderdate) * 4 + quarter(o.o_orderdate) AS BIGINT)
                       AS quarter_key,
                   {sql_money_round("sum(l.l_extendedprice * (1 - l.l_discount))")}
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        )
        SELECT category, quarter_key, revenue,
               {sql_money_round("sum(revenue) OVER (PARTITION BY category ORDER BY quarter_key ROWS UNBOUNDED PRECEDING)", snap=2)}
                   AS running_revenue,
               {sql_money_round("avg(revenue) OVER (PARTITION BY category ORDER BY quarter_key ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)")}
                   AS moving_avg_4q
        FROM q
    """,
)
def quarterly_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + 4-quarter moving average per category (window frames).

    The time-series window surface: cumulative and sliding frames over the
    quarter grid. One shuffle on category serves the agg and both windows
    (quarter_key is unique per category, so the frame order is total).
    """
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir)
    part = table(spark, "part", sf_dir)
    y = F.year("o_orderdate").cast("long")
    qq = F.quarter("o_orderdate").cast("long")
    q = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_type").alias("category"), (y * 4 + qq).alias("quarter_key")
        )
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue")
        )
    )
    run = (
        Window.partitionBy("category")
        .orderBy("quarter_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mov = (
        Window.partitionBy("category").orderBy("quarter_key").rowsBetween(-3, 0)
    )
    return q.select(
        "category",
        "quarter_key",
        "revenue",
        money_round(F.sum("revenue").over(run), snap=2).alias("running_revenue"),
        # avg of ≤4 exact-2dp values is an exact 4dp decimal → decimal-snap
        # (the 1e-9 nudge is below FP sum noise at 1e7 magnitudes).
        money_round(F.avg("revenue").over(mov)).alias("moving_avg_4q"),
    )


@register(
    "returnflag_stats",
    oracle=star_sql(f"""
        SELECT ReturnFlag AS return_flag,
               CAST(count(*) AS BIGINT) AS n_lines,
               {sql_ratio_round("avg(LineTotal)", 4)} AS avg_line_total,
               {sql_money_round("median(LineTotal)", 4, 6)} AS median_line_total,
               sum(OrderQty) AS total_quantity,
               {sql_ratio_round("avg(OrderQty)")} AS avg_quantity
        FROM fact_sales
        GROUP BY ReturnFlag
    """),
)
def returnflag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stat grouped agg including an exact median (A7).

    Reference: Clustering_Analysis.py:221-230 (cluster stats: count / mean /
    median / sum). Spark 3.4+ ``median`` is an exact interpolated
    percentile — matches DuckDB's; the interpolated midpoint of two
    4-decimal values is an exact 5-decimal value, so it gets the decimal
    snap (6 digits) rather than the ratio nudge.
    """
    f = fact_sales(spark, sf_dir)
    return f.groupBy(F.col("ReturnFlag").alias("return_flag")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        ratio_round(F.avg("LineTotal"), 4).alias("avg_line_total"),
        money_round(F.median("LineTotal"), 4, 6).alias("median_line_total"),
        F.sum("OrderQty").alias("total_quantity"),
        ratio_round(F.avg("OrderQty")).alias("avg_quantity"),
    )


@register(
    "category_pct_of_total",
    oracle=star_sql(f"""
        SELECT Type AS category,
               {sql_money_round("sum_rev")} AS revenue,
               {sql_ratio_round("100 * sum_rev / sum(sum_rev) OVER ()")} AS revenue_pct
        FROM (
            SELECT p.Type, sum(f.LineTotal) AS sum_rev
            FROM fact_sales f JOIN dim_product p ON f.ProductID = p.ProductID
            GROUP BY p.Type
        )
    """),
)
def category_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via a window over the empty partition (A11).

    Reference: Clustering_Analysis.py:244-245 (cluster profit share). The
    global-total window on the *aggregated* frame (6 rows) is trivially
    cheap; the percent math never touches the fact again.
    """
    f = fact_sales(spark, sf_dir)
    p = dim_product(spark, sf_dir)
    agg = (
        f.join(F.broadcast(p), "ProductID")
        .groupBy("Type")
        .agg(F.sum("LineTotal").alias("sum_rev"))
    )
    w = Window.partitionBy()
    return agg.select(
        F.col("Type").alias("category"),
        money_round(F.col("sum_rev")).alias("revenue"),
        ratio_round(F.lit(100) * F.col("sum_rev") / F.sum("sum_rev").over(w)).alias(
            "revenue_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Filters / search / sort / pagination / distinct (P3-P11, O1-O5)
# ---------------------------------------------------------------------------


@register(
    "product_search",
    oracle=star_sql("""
        SELECT ProductID AS product_id, Name AS product_name, Size AS size
        FROM dim_product
        WHERE contains(lower(Name), 'green') OR contains(CAST(ProductID AS VARCHAR), '42')
    """),
)
def product_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive substring search across name OR stringified id (P9).

    Reference: pages/2_Product_Details.py:163-167. Pure column predicates →
    pushed into the parquet scan where possible.
    """
    p = dim_product(spark, sf_dir)
    return p.filter(
        F.lower(F.col("Name")).contains("green")
        | F.col("ProductID").cast("string").contains("42")
    ).select(
        F.col("ProductID").alias("product_id"),
        F.col("Name").alias("product_name"),
        F.col("Size").alias("size"),
    )


@register(
    "product_pagination",
    oracle=star_sql(f"""
        , revs AS (
            SELECT p.ProductID, p.Name,
                   {sql_money_round("coalesce(sum(f.LineTotal), 0)")} AS revenue
            FROM dim_product p LEFT JOIN fact_sales f ON p.ProductID = f.ProductID
            GROUP BY p.ProductID, p.Name
        )
        SELECT CAST(row_number() OVER (ORDER BY revenue DESC, ProductID) AS BIGINT) AS rank,
               ProductID AS product_id, Name AS product_name, revenue
        FROM revs
        ORDER BY revenue DESC, ProductID
        LIMIT 20 OFFSET 40
    """),
)
def product_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic offset/limit pagination over a ranked product list (O3).

    Reference: pages/2_Product_Details.py:192-231 (20 products/page over the
    sorted frame). Ordering is (snapped revenue DESC, ProductID) — a total
    order, so page 3 is identical across engines and runs. Spark plans
    offset+limit as a global TopK of 60 rows, not a full sort.
    """
    prod = dim_product(spark, sf_dir)
    revs = (
        fact_sales(spark, sf_dir).join(F.broadcast(prod), "ProductID", "right")
        .groupBy("ProductID", "Name")
        .agg(money_round(F.coalesce(F.sum("LineTotal"), F.lit(0.0))).alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("ProductID"))
    ranked = revs.withColumn("rank", F.row_number().over(w).cast("long"))
    return paginate(
        ranked.select(
            "rank",
            F.col("ProductID").alias("product_id"),
            F.col("Name").alias("product_name"),
            "revenue",
        ),
        order_by=[F.col("revenue").desc(), F.col("product_id")],
        page=3,
        page_size=20,
    )


@register(
    "top3_per_category",
    oracle=star_sql(f"""
        , revs AS (
            SELECT p.Type, f.ProductID, {sql_money_round("sum(f.LineTotal)")} AS revenue
            FROM fact_sales f JOIN dim_product p ON f.ProductID = p.ProductID
            GROUP BY p.Type, f.ProductID
        )
        SELECT Type AS category, ProductID AS product_id, revenue,
               CAST(rk AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY Type ORDER BY revenue DESC, ProductID) AS rk
            FROM revs
        )
        WHERE rk <= 3
    """),
)
def top3_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (window row_number ≤ k) — O1 extended to grouped top-k.

    One shuffle on the group key; rank ties broken by ProductID for
    cross-engine determinism.
    """
    f = fact_sales(spark, sf_dir)
    p = dim_product(spark, sf_dir)
    revs = (
        f.join(F.broadcast(p), "ProductID")
        .groupBy("Type", "ProductID")
        .agg(money_round(F.sum("LineTotal")).alias("revenue"))
    )
    w = Window.partitionBy("Type").orderBy(F.col("revenue").desc(), F.col("ProductID"))
    return (
        revs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("Type").alias("category"),
            F.col("ProductID").alias("product_id"),
            "revenue",
            "rank",
        )
    )


@register(
    "latest_order_top1",
    oracle="""
        SELECT o_orderkey AS order_key, o_custkey AS cust_key,
               o_orderdate AS order_date, round(o_totalprice, 2) AS total_price
        FROM orders
        ORDER BY o_orderdate DESC, o_orderkey DESC
        LIMIT 1
    """,
)
def latest_order_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT 1 — latest-run lookup (O2).

    Reference: Clustering_Analysis.py:29-34 (latest PipelineLog row). Spark
    plans TakeOrderedAndProject: no global sort materialized. o_totalprice
    is already an exact 2-decimal value, so plain round is identity-safe.
    """
    o = table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_custkey").alias("cust_key"),
            F.col("o_orderdate").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


@register(
    "category_values",
    oracle=star_sql("""
        SELECT Type AS category, CAST(count(DISTINCT Brand) AS BIGINT) AS n_brands
        FROM dim_product GROUP BY Type
    """),
)
@state.served
def category_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-distinct dropdown values + per-value cardinality (O4/O5, A6).

    Reference: pages/2_Product_Details.py:103-118 (``sorted(unique())``).
    """
    p = dim_product(spark, sf_dir)
    return p.groupBy(F.col("Type").alias("category")).agg(
        F.count_distinct("Brand").alias("n_brands")
    )


@register(
    "semi_join_large_parts",
    oracle=f"""
        SELECT l_partkey AS product_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               {sql_money_round("sum(l_extendedprice * (1 - l_discount))")} AS revenue
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        GROUP BY l_partkey
    """,
)
def semi_join_large_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join replacing the reference's collected IN-list (P4).

    Reference: src/pipelines/etl.py:53,65,73 (``isin(salable_products)``) —
    at scale never a driver-collected list; the semi-join broadcasts the
    filtered key set instead.
    """
    li = table(spark, "lineitem", sf_dir)
    big = table(spark, "part", sf_dir).filter(F.col("p_size") > 40).select("p_partkey")
    return (
        li.join(F.broadcast(big), li.l_partkey == big.p_partkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("product_id"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
        )
    )


@register(
    "customer_order_setops",
    oracle="""
        WITH hi AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000),
             urgent AS (SELECT DISTINCT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
        SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n_customers
        FROM (SELECT o_custkey FROM hi INTERSECT SELECT o_custkey FROM urgent)
        UNION ALL
        SELECT 'hi_only', CAST(count(*) AS BIGINT)
        FROM (SELECT o_custkey FROM hi EXCEPT SELECT o_custkey FROM urgent)
        UNION ALL
        SELECT 'either', CAST(count(*) AS BIGINT)
        FROM (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM urgent)
    """,
)
def customer_order_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.5): INTERSECT / EXCEPT / UNION-distinct cohorts.

    High-value vs urgent-order customer key sets, each set op sized. Spark
    plans these as hash semi/anti joins over the distinct key sets — the
    same single-shuffle shape as the explicit joins above.
    """
    orders = table(spark, "orders", sf_dir)
    hi = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey").distinct()
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    counts = [
        ("both", hi.intersect(urgent)),
        ("hi_only", hi.subtract(urgent)),
        ("either", hi.union(urgent).distinct()),
    ]
    parts = [
        df.agg(F.count(F.lit(1)).cast("long").alias("n_customers")).select(
            F.lit(name).alias("segment"), "n_customers"
        )
        for name, df in counts
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "anti_join_inactive_customers",
    oracle="""
        SELECT c_custkey AS cust_key, c_name AS cust_name, c_mktsegment AS segment
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (coverage beyond reference).

    The reference has no anti join (SURVEY.md §2.3 'NOT present'); included
    as engine surface a warehouse user expects.
    """
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir).select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "recent_activity",
    oracle=star_sql("""
        , final AS (SELECT max(OrderDate) + INTERVAL 1 DAY AS final_date FROM fact_sales)
        SELECT ProductID AS product_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               sum(OrderQty) AS total_quantity
        FROM fact_sales, final
        WHERE OrderDate >= final_date - INTERVAL 365 DAY
        GROUP BY ProductID
    """),
)
def recent_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-365-day activity window relative to the data's end (P5/F9).

    Reference: src/pipelines/clustering.py:85-89 (FINAL_DATE = max+1 day;
    active = OrderDate ≥ FINAL_DATE − 365 days).
    """
    f = fact_sales(spark, sf_dir)
    final = f.select(
        F.date_add(F.max("OrderDate").cast("date"), 1).cast("timestamp").alias("final_date")
    )
    return (
        f.crossJoin(F.broadcast(final))
        .filter(F.col("OrderDate") >= F.col("final_date") - F.expr("INTERVAL 365 DAY"))
        .groupBy(F.col("ProductID").alias("product_id"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("OrderQty").alias("total_quantity"),
        )
    )


@register(
    "quarter_rollup",
    oracle=star_sql(f"""
        SELECT ProductID AS product_id,
               CAST(year(OrderDate) * 4 + quarter(OrderDate) AS BIGINT) AS quarter_key,
               CAST(year(OrderDate) AS BIGINT) || '-Q' || CAST(quarter(OrderDate) AS BIGINT)
                   AS quarter_label,
               CAST(count(DISTINCT SalesOrderID) AS BIGINT) AS order_frequency,
               sum(OrderQty) AS total_quantity,
               {sql_money_round("sum(LineTotal)")} AS revenue
        FROM fact_sales
        GROUP BY ProductID, year(OrderDate), quarter(OrderDate)
    """),
)
def quarter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(product, quarter) rollup with a sortable quarter key (A5/F10).

    Reference: notebooks/LSTM_features_learning.ipynb cell 6-8 +
    src/utils/quarter_format.py:3-41 — QuarterFormatter's total order and
    subtraction become ``year*4 + quarter`` ints; its ``__str__`` becomes the
    label (SURVEY.md §7.3).
    """
    f = fact_sales(spark, sf_dir)
    y = F.year("OrderDate").cast("long")
    q = F.quarter("OrderDate").cast("long")
    return f.groupBy(
        F.col("ProductID").alias("product_id"),
        (y * 4 + q).alias("quarter_key"),
        F.concat(y.cast("string"), F.lit("-Q"), q.cast("string")).alias("quarter_label"),
    ).agg(
        F.count_distinct("SalesOrderID").alias("order_frequency"),
        F.sum("OrderQty").alias("total_quantity"),
        money_round(F.sum("LineTotal")).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped headline aggregates (A1 at benchmark scale)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle=f"""
        SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
               sum(l_quantity) AS sum_qty,
               {sql_money_round("sum(l_extendedprice)", 0)} AS sum_base_price,
               {sql_money_round("sum(l_extendedprice * (1 - l_discount))", 0)} AS sum_disc_price,
               {sql_money_round("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))", 0, 6)} AS sum_charge,
               {sql_ratio_round("avg(l_quantity)", 4)} AS avg_qty,
               {sql_ratio_round("avg(l_extendedprice)", 2)} AS avg_price,
               {sql_ratio_round("avg(l_discount)")} AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the scan+hash-agg throughput anchor.

    Multi-function grouped agg (A1) — partial aggregation map-side means
    only (6 groups × partitions) rows shuffle regardless of fact size.
    Quantity sums are integer-valued doubles (exact); money sums get the
    decimal snap (4 digits for price/disc_price, 6 for charge).
    """
    li = table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
        )
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            money_round(F.sum("l_extendedprice"), 0).alias("sum_base_price"),
            money_round(F.sum(disc_price), 0).alias("sum_disc_price"),
            money_round(F.sum(disc_price * (1 + F.col("l_tax"))), 0, 6).alias("sum_charge"),
            ratio_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            ratio_round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            ratio_round(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "nation_revenue",
    oracle=f"""
        SELECT n.n_name AS nation, r.r_name AS region,
               {sql_money_round("sum(l.l_extendedprice * (1 - l.l_discount))", 0)} AS revenue,
               CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
    """,
    headline=True,
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table join chain → revenue per nation (J7 at benchmark scale).

    Aggregate pushdown below the join: lineitem rolls up to per-order
    revenue FIRST (the one big shuffle, on the order key), the orders join
    then reuses that hash partitioning (no second shuffle of the big
    side), dims broadcast, and the final (nation, region) agg sees one
    narrow row per order — the distinct-order count becomes a plain count.
    At 100 TB, bucketing lineitem+orders by orderkey removes even the one
    shuffle. The CUSTOMER join takes its strategy FROM the stats
    advisor's measured decision (hint applied iff advised) rather than a
    hard-coded hint — see ``nation_revenue_parts``.
    """
    return nation_revenue_parts(spark, sf_dir)[0]


def nation_revenue_parts(spark: SparkSession, sf_dir: str):
    """(result, advisor_choice) — the ANALYZE→plan loop closed (VERDICT
    r10 #6): the customer-dim join is planned by
    ``operators/stats.py::advise_broadcast_join`` from measured Catalyst
    plan sizes, so the executed strategy follows the stats instead of a
    hope-it-fits hint. At test/bench SFs customer sits well under the
    10 MB default and is advised broadcast; at a 100 TB customer dim the
    SAME query honestly degrades to an AQE-planned shuffle join. The
    choice string is returned so the plan-shape test can pin advice ≡
    executed plan (a stats regression flips both together, and the test
    catches a divergence)."""
    from data_warehouse_product_mix_clustering_spark.operators.stats import advise_broadcast_join

    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    n = table(spark, "nation", sf_dir)
    r = table(spark, "region", sf_dir)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    fact = per_order.join(o, per_order.l_orderkey == o.o_orderkey)
    enriched, choice = advise_broadcast_join(
        fact,
        c.withColumnRenamed("c_custkey", "o_custkey"),
        ["o_custkey"],
        # Session-memoized (VERDICT r11 #1): the two plan_size_bytes
        # optimizer passes run once per (session, sf_dir); every later
        # serving call applies the remembered choice for free. The scan
        # cache's invalidate() drops the entry if the data is rewritten.
        cache_key=("nation_revenue.customer", sf_dir),
    )
    out = (
        enriched.join(F.broadcast(n), enriched.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            money_round(F.sum("__rev"), 0).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return out, choice


@register(
    "shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey AS order_key,
               {sql_money_round("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
               o.o_orderdate AS order_date, o.o_orderpriority AS ship_priority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, order_date, order_key
        LIMIT 10
    """,
    headline=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → agg → top-10.

    The segment filter pushes into the customer scan; customer broadcasts
    into orders; the lineitem⋈orders join is the only shuffle. Top-k via
    global sort+limit — Spark runs it as a per-partition top-k + single
    merge, no full sort materialization.
    """
    c = table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("ship_priority"),
        )
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("order_key", "revenue", "order_date", "ship_priority")
        .orderBy(F.col("revenue").desc(), "order_date", "order_key")
        .limit(10)
    )


@register(
    "global_metrics",
    oracle=star_sql(f"""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT SalesOrderID) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT CustomerID) AS BIGINT) AS n_customers,
               CAST(count(DISTINCT ProductID) AS BIGINT) AS n_products,
               {sql_money_round("sum(LineTotal)", 0)} AS total_revenue,
               {sql_ratio_round("avg(LineTotal)", 2)} AS avg_line_value,
               min(OrderDate) AS first_order,
               max(OrderDate) AS last_order
        FROM fact_sales
    """),
)
def global_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard metric tiles (A4): global counts / sums / date range.

    Reference: Clustering_Analysis.py:118-124 + pages/2:137-146 (len, sum,
    mean, nunique tiles). One scan, one 1-row aggregate.
    """
    f = fact_sales(spark, sf_dir)
    return f.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count_distinct("SalesOrderID").alias("n_orders"),
        F.count_distinct("CustomerID").alias("n_customers"),
        F.count_distinct("ProductID").alias("n_products"),
        money_round(F.sum("LineTotal"), 0).alias("total_revenue"),
        ratio_round(F.avg("LineTotal"), 2).alias("avg_line_value"),
        F.min("OrderDate").alias("first_order"),
        F.max("OrderDate").alias("last_order"),
    )


@register(
    "customer_value_quartiles",
    oracle=f"""
        WITH cust AS (
            SELECT o_custkey AS cust_key,
                   {sql_money_round("sum(o_totalprice)", snap=2)} AS lifetime_value
            FROM orders GROUP BY o_custkey
        ), tiled AS (
            SELECT cust_key, lifetime_value,
                   CAST(ntile(4) OVER (ORDER BY lifetime_value DESC, cust_key)
                        AS BIGINT) AS quartile
            FROM cust
        )
        SELECT quartile, CAST(count(*) AS BIGINT) AS n_customers,
               {sql_money_round("sum(lifetime_value)", snap=2)} AS segment_value,
               {sql_money_round("min(lifetime_value)", snap=2)} AS min_value,
               {sql_money_round("max(lifetime_value)", snap=2)} AS max_value
        FROM tiled GROUP BY quartile
    """,
)
def customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation by lifetime-value quartile.

    Runs ``quantile_segment`` on its EXACT path (ntile over an
    un-partitioned window — a single-reducer sort). Correct here because
    the input is the already-aggregated per-customer rollup, orders of
    magnitude smaller than the fact table; past ~100 M customers the
    operator's ``exact=False`` path (approx_percentile boundaries +
    broadcast bucket join — see ``value_segments_audit``) replaces the
    global sort. The deterministic (value, key) order makes the tile
    boundaries cross-engine stable.
    """
    from data_warehouse_product_mix_clustering_spark.operators.segmentation import quantile_segment

    orders = table(spark, "orders", sf_dir)
    cust = orders.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        money_round(F.sum("o_totalprice"), snap=2).alias("lifetime_value")
    )
    tiled = quantile_segment(
        cust, "lifetime_value", 4, tiebreak=["cust_key"], segment_col="quartile"
    )
    return tiled.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money_round(F.sum("lifetime_value"), snap=2).alias("segment_value"),
        money_round(F.min("lifetime_value"), snap=2).alias("min_value"),
        money_round(F.max("lifetime_value"), snap=2).alias("max_value"),
    )


@register(
    "value_segments_audit",
    oracle="""
        WITH cust AS (
            SELECT o_custkey AS cust_key, sum(o_totalprice) AS lifetime_value
            FROM orders GROUP BY o_custkey
        )
        SELECT CAST(4 AS BIGINT) AS n_segments,
               CAST(count(*) AS BIGINT) AS n_customers,
               TRUE AS sizes_ok,
               TRUE AS monotone_ok
        FROM cust
    """,
)
def value_segments_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attested contract for ``quantile_segment``'s SCALE path
    (``exact=False``: approx_percentile boundaries + broadcast bucket
    fold — no global sort, no single reducer).

    Approximate tile boundaries are sketch outputs, not oracle-stable
    values, so — ``ann_recall_audit``-style — the oracle pins the
    CONTRACT instead: 4 segments come back, every segment's size is
    within the sketch's rank-error envelope of N/4 (accuracy=10000 ⇒
    error ≤ N/10000, checked with a generous N/100 + 2 slack so tie
    clustering can't flap the row), and segments are strictly
    value-ordered (every customer in segment k outranks every customer
    in segment k+1 — guaranteed by bucket assignment, unlike ntile's
    tie-splitting). A regression in the approx path flips a boolean and
    hash-mismatches the driver row.
    """
    from data_warehouse_product_mix_clustering_spark.operators.segmentation import quantile_segment

    orders = table(spark, "orders", sf_dir)
    cust = orders.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.sum("o_totalprice").alias("lifetime_value")
    )
    seg = quantile_segment(
        cust, "lifetime_value", 4, exact=False, segment_col="segment"
    )
    per_seg = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lifetime_value").alias("lo"),
        F.max("lifetime_value").alias("hi"),
    )
    total = seg.agg(F.count(F.lit(1)).alias("n_total"))
    nxt = Window.orderBy("segment")
    checked = (
        per_seg.withColumn("next_hi", F.lead("hi").over(nxt))
        .crossJoin(F.broadcast(total))
    )
    return checked.agg(
        F.countDistinct("segment").alias("n_segments"),
        F.max("n_total").cast("long").alias("n_customers"),
        F.every(
            F.abs(F.col("n") - F.col("n_total") / 4) <= F.col("n_total") / 100 + 2
        ).alias("sizes_ok"),
        F.every(
            F.col("next_hi").isNull() | (F.col("lo") > F.col("next_hi"))
        ).alias("monotone_ok"),
    )


@register(
    "orders_above_customer_avg",
    oracle="""
        SELECT o.o_orderkey AS order_key, o.o_custkey AS cust_key
        FROM orders o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: orders 1.5× above their customer's mean.

    Written as the correlated scalar subquery a user would type
    (spark.sql) — Catalyst DECORRELATES it into one aggregate + one join
    (SURVEY §4.2: optimizations the reference hand-rolls row-wise are
    free here). The plan guard in tests/test_plans.py pins that no
    per-row subquery execution survives.
    """
    orders = table(spark, "orders", sf_dir)
    orders.createOrReplaceTempView("__orders_corr")
    return spark.sql("""
        SELECT o.o_orderkey AS order_key, o.o_custkey AS cust_key
        FROM __orders_corr o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM __orders_corr o2
            WHERE o2.o_custkey = o.o_custkey
        )
    """)


@register(
    "order_value_histogram",
    oracle="""
        SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
               CAST(floor(o_totalprice / 25000) * 25000 AS DOUBLE) AS bucket_low,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY 1, 2
    """,
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (floor-bucket arithmetic).

    floor(x / w) is the portable width_bucket: identical in every engine,
    single partial-aggregated shuffle, output rows = bucket count.
    """
    orders = table(spark, "orders", sf_dir)
    bucket = F.floor(F.col("o_totalprice") / 25000)
    return orders.groupBy(
        bucket.cast("long").alias("bucket"),
        (bucket * 25000).cast("double").alias("bucket_low"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "order_priority_check",
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 bulk line (qty > 45), by priority.

    The EXISTS correlated predicate becomes a left-semi join — the big
    side streams once, no duplicate-counting, no distinct needed. (The
    testdata carries no receipt/commit dates, so the flag predicate is a
    quantity threshold; the plan shape is identical to Q4's.)
    """
    orders = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "returnflag_priority_split",
    oracle="""
        SELECT l_returnflag AS return_flag,
               CAST(count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS high_priority_lines,
               CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS low_priority_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag
    """,
)
def returnflag_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per return-flag conditional priority counts.

    Conditional aggregation (count_if) instead of two passes or a pivot —
    one join, one shuffle. (Q12 groups by ship mode; the testdata carries
    no shipmode column, so return flag stands in — same plan shape.)
    """
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.count_if(high).alias("high_priority_lines"),
            F.count_if(~high).alias("low_priority_lines"),
        )
    )


@register(
    "promo_revenue_pct",
    oracle=f"""
        SELECT {sql_ratio_round(
            "100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' "
            "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
            "/ sum(l_extendedprice * (1 - l_discount))", 4)} AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-class revenue share (conditional ratio).

    Both the numerator and denominator come out of ONE aggregation over
    the joined fact (CASE inside sum), so the percent is a single-pass
    global aggregate with the part dim broadcast.
    """
    li = table(spark, "lineitem", sf_dir)
    part = table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            ratio_round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_pct")
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / window-max / anti-join-with-scalar-subquery (TPC-H shapes)
# ---------------------------------------------------------------------------


@register(
    "revenue_grouping_sets",
    oracle=f"""
        WITH o AS (
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   o_orderpriority AS priority, o_totalprice
            FROM orders
        )
        SELECT o_year, priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_money_round("sum(o_totalprice)")} AS revenue,
               CAST(GROUPING(o_year) AS BIGINT) AS g_year,
               CAST(GROUPING(priority) AS BIGINT) AS g_priority
        FROM o
        GROUP BY GROUPING SETS ((o_year, priority), (o_year), ())
    """,
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain rollup in one pass: (year, priority) + (year) + grand total.

    GROUPING SETS — the generalization behind the reference dashboard's
    separate per-year and per-priority summary panels (A9's cube is the
    dense variant). One Expand + one shuffle regardless of grain count;
    ``grouping()`` flags disambiguate the NULLs of coarser grains.
    """
    o = table(spark, "orders", sf_dir).select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
    )
    return o.groupingSets(
        [["o_year", "priority"], ["o_year"], []], "o_year", "priority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_round(F.sum("o_totalprice")).alias("revenue"),
        F.grouping("o_year").cast("long").alias("g_year"),
        F.grouping("priority").cast("long").alias("g_priority"),
    )


@register(
    "top_supplier_period",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_money_round("sum(l_extendedprice * (1 - l_discount))")}
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_supplier_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max revenue in a 3-month window.

    The max is taken over the ROUNDED per-supplier revenue (both engines),
    so the winner is cross-engine deterministic even under summation-order
    float noise. The scalar max travels as a broadcast single-row join —
    no global window, no second scan of lineitem.
    """
    li = table(spark, "lineitem", sf_dir)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    sup = table(spark, "supplier", sf_dir)
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "untapped_customer_balance",
    oracle=f"""
        WITH avg_bal AS (
            SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
        )
        SELECT n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_customers,
               {sql_money_round("sum(c_acctbal)")} AS total_balance
        FROM customer, avg_bal
        JOIN nation ON n_nationkey = c_nationkey
        WHERE c_acctbal > a
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2000-09-01'
          )
        GROUP BY n_name
    """,
)
def untapped_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-dormant customers per nation.

    Above-average-balance customers with no orders since the cutoff:
    scalar subquery (broadcast single-row avg) + anti-join against the
    recent-order custkey set + dim join + agg. The anti-join probe side is
    pre-shrunk to distinct custkeys past the date filter — at scale that
    projection is the only thing shuffled.
    """
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    n = table(spark, "nation", sf_dir)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    recent = (
        o.filter(F.col("o_orderdate") >= F.lit("2000-09-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_round(F.sum("c_acctbal")).alias("total_balance"),
        )
    )


@register(
    "waiting_orders_by_supplier",
    oracle="""
        WITH f AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS is_late
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        ),
        q AS (
            SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
            FROM f l1
            WHERE l1.is_late
              AND EXISTS (SELECT 1 FROM f l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM f l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.is_late)
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM q JOIN supplier ON s_suppkey = l_suppkey
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
)
def waiting_orders_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier orders
    ("late" = shipped > 90 days after the order date; the testdata carries
    no commit/receipt dates). The first fact SELF-JOIN shape in the
    inventory.

    The classic formulation is EXISTS + NOT EXISTS — two extra self-joins
    of the fact (the oracle states it that way, so the driver row proves
    the rewrite). Spark-first, both existentials collapse into ONE pass:
    the fact reduces to one row per (order, supplier) with an any-late
    flag, and the per-order supplier/late counts are WINDOW aggregates
    over the same order-key partitioning — a supplier qualifies iff his
    row is late, the order has > 1 supplier, and exactly 1 shipped late.
    One shuffle on the order key (shared by the join, the pair rollup,
    and the window — hash partitioning on a prefix of the grouping keys
    satisfies all three); no second pass over the fact at any scale.
    """
    li = table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    f = li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate").cast("date"), 90)
         .cast("timestamp")).alias("is_late"),
    )
    pairs = f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("__any_late")
    )
    w = Window.partitionBy("l_orderkey")
    qualified = (
        pairs.select(
            "l_orderkey",
            "l_suppkey",
            "__any_late",
            F.count(F.lit(1)).over(w).alias("__n_supps"),
            F.count(F.when(F.col("__any_late"), 1)).over(w).alias("__n_late"),
        )
        .filter(
            F.col("__any_late")
            & (F.col("__n_supps") > 1)
            & (F.col("__n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    sup = table(spark, "supplier", sf_dir)
    return (
        qualified.join(F.broadcast(sup), qualified.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "large_order_customers",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               {sql_money_round("o_totalprice")} AS o_totalprice,
               {sql_money_round("total_qty")} AS total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with very large orders (HAVING over a
    fact rollup → join back to headers + customers).

    The HAVING pre-filter reduces the fact to the ~1% biggest orders
    BEFORE any join, so the order/customer joins probe a tiny relation;
    at scale the only full-fact work is the one groupBy shuffle on the
    order key.
    """
    li = table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 250)
    )
    o = table(spark, "orders", sf_dir)
    c = table(spark, "customer", sf_dir)
    return (
        big.join(o.hint("SHUFFLE_HASH"), big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            money_round(F.col("o_totalprice")).alias("o_totalprice"),
            money_round(F.col("__qty")).alias("total_qty"),
        )
    )


@register(
    "volume_shipping_nations",
    oracle=f"""
        SELECT ns.n_name AS supp_nation,
               nc.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {sql_money_round("sum(l_extendedprice * (1 - l_discount))")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ns ON ns.n_nationkey = s_nationkey
        JOIN nation nc ON nc.n_nationkey = c_nationkey
        WHERE ns.n_name <> nc.n_name
        GROUP BY 1, 2, 3
    """,
)
def volume_shipping_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border shipping volume per (supplier nation,
    customer nation, ship year) — the nation dimension joined TWICE under
    different roles (supplier side / customer side).

    Supplier and customer are broadcast onto the fact pre-shuffle (each
    carrying its broadcast-joined nation name), so the only large exchange
    is the lineitem ⋈ orders order-key shuffle; the 6-way join costs one
    shuffle total.
    """
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    n = table(spark, "nation", sf_dir)
    sup = (
        table(spark, "supplier", sf_dir)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, "customer", sf_dir)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            money_round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            ).alias("revenue")
        )
    )


@register(
    "trailing_30d_revenue",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
                   CAST(min(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS order_day,
                   {sql_money_round("sum(o_totalprice)")} AS day_revenue
            FROM orders
            GROUP BY day_no
        )
        SELECT order_day, day_revenue,
               {sql_money_round("sum(day_revenue) OVER (ORDER BY day_no RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)")}
                   AS trailing_30d
        FROM daily
    """,
)
def trailing_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-day revenue + trailing-30-day rolling sum.

    RANGE (value-based) frames differ from ROWS frames exactly when days
    are missing — the frame spans 30 *calendar* days, not 30 rows. The
    window runs over the PRE-AGGREGATED daily table (one row per day —
    dimension-sized at any SF), so the global order is never a fact-scale
    single-partition sort; the fact reduces in one shuffle first.
    """
    o = table(spark, "orders", sf_dir)
    daily = (
        o.select(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
            F.col("o_orderdate").cast("date").alias("od"),
            "o_totalprice",
        )
        .groupBy("day_no")
        .agg(
            F.min("od").cast("timestamp").alias("order_day"),
            money_round(F.sum("o_totalprice")).alias("day_revenue"),
        )
    )
    w = Window.orderBy("day_no").rangeBetween(-30, 0)
    return daily.select(
        "order_day",
        "day_revenue",
        money_round(F.sum("day_revenue").over(w)).alias("trailing_30d"),
    )


@register(
    "customer_revenue_distribution",
    oracle=f"""
        WITH cr AS (
            SELECT o_custkey AS customer_id,
                   {sql_money_round("sum(o_totalprice)")} AS revenue
            FROM orders GROUP BY o_custkey
        )
        SELECT customer_id, revenue,
               {sql_ratio_round("percent_rank() OVER (ORDER BY revenue, customer_id)")}
                   AS pct_rank,
               {sql_ratio_round("cume_dist() OVER (ORDER BY revenue, customer_id)")}
                   AS cume
        FROM cr
    """,
)
def customer_revenue_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over per-customer revenue (O1 family).

    Distribution position of every customer in the revenue ranking —
    the dashboard's \"where does this customer sit\" lens. Ties broken by
    customer id for a total (cross-engine deterministic) order; the window
    input is the pre-aggregated per-customer rollup, not the fact.
    """
    o = table(spark, "orders", sf_dir)
    cr = o.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        money_round(F.sum("o_totalprice")).alias("revenue")
    )
    w = Window.orderBy("revenue", "customer_id")
    return cr.select(
        "customer_id",
        "revenue",
        ratio_round(F.percent_rank().over(w)).alias("pct_rank"),
        ratio_round(F.cume_dist().over(w)).alias("cume"),
    )


@register(
    "asof_tolerance_quotes",
    oracle="""
        WITH fact AS (
            SELECT l_partkey AS ProductID, o_orderdate AS OrderDate,
                   l_returnflag AS ReturnFlag, l_quantity AS OrderQty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        months AS (
            SELECT DISTINCT date_trunc('month', o_orderdate) AS qdate
            FROM orders WHERE EXTRACT(month FROM o_orderdate) % 3 = 1
        ),
        quotes AS (
            SELECT p_partkey AS ProductID, qdate,
                   p_retailprice * (1 + 0.01 * ((p_partkey
                       + EXTRACT(year FROM qdate) * 12
                       + EXTRACT(month FROM qdate)) % 10)) AS quote_price
            FROM part CROSS JOIN months
        ),
        matched AS (
            SELECT f.ReturnFlag,
                   CASE WHEN q.qdate >= f.OrderDate - INTERVAL 45 DAY
                        THEN q.quote_price END AS eff_price,
                   f.OrderQty
            FROM fact f
            ASOF LEFT JOIN quotes q
              ON f.ProductID = q.ProductID AND f.OrderDate >= q.qdate
        )
        SELECT ReturnFlag AS return_flag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(eff_price) AS BIGINT) AS n_quoted,
               {quoted} AS quoted_value
        FROM matched
        GROUP BY ReturnFlag
    """.format(
        quoted=sql_money_round("sum(eff_price * OrderQty)"),
    ),
)
def asof_tolerance_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas merge_asof semantics).

    Quotes exist only every third month, so the latest match can be up to
    ~90 days stale; ``tolerance='45 days'`` voids those matches (NULL right
    columns) exactly like merge_asof's tolerance — the fact row survives,
    its quote does not. Exercises the operator's tolerance post-filter
    under the large-large union strategy with a DuckDB ASOF LEFT JOIN +
    CASE gate as the oracle.
    """
    f = fact_sales(spark, sf_dir).select(
        "ProductID", "OrderDate", "ReturnFlag", "OrderQty"
    )
    months = (
        table(spark, "orders", sf_dir)
        .filter(F.month("o_orderdate") % 3 == 1)
        .select(F.date_trunc("month", F.col("o_orderdate")).alias("qdate"))
        .distinct()
    )
    quotes = (
        table(spark, "part", sf_dir)
        .select("p_partkey", "p_retailprice")
        .crossJoin(F.broadcast(months))
        .select(
            F.col("p_partkey").alias("ProductID"),
            "qdate",
            (
                F.col("p_retailprice")
                * (
                    F.lit(1)
                    + F.lit(0.01)
                    * (
                        (
                            F.col("p_partkey")
                            + F.year("qdate") * F.lit(12)
                            + F.month("qdate")
                        )
                        % 10
                    )
                )
            ).alias("quote_price"),
        )
    )
    joined = asof_join(
        f,
        quotes,
        left_on="OrderDate",
        right_on="qdate",
        by=["ProductID"],
        how="left",
        strategy="union",
        tolerance="45 days",
    )
    return joined.groupBy(F.col("ReturnFlag").alias("return_flag")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("quote_price").alias("n_quoted"),
        money_round(F.sum(F.col("quote_price") * F.col("OrderQty"))).alias(
            "quoted_value"
        ),
    )
