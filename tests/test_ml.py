"""ML-stage tests (SURVEY §5.3): partition quality and cross-run partition
similarity — never exact label equality with the reference. The fit is
the driver-side seeded k-means++ of ``ml/kmeans_np.py``, so label
numbers depend on its init, not on sklearn's; partitions are the
contract."""

from __future__ import annotations

from collections import Counter

from data_warehouse_product_mix_clustering_spark.ml.pipelines import kmeans_assign, silhouette
from data_warehouse_product_mix_clustering_spark.plans.ml import MATRIX_FEATURES
from data_warehouse_product_mix_clustering_spark.plans.warehouse import product_features

from conftest import SF_SMOKE


def adjusted_rand_index(a: dict[int, int], b: dict[int, int]) -> float:
    """ARI between two labelings of the same key set (no sklearn here)."""
    keys = sorted(a)
    assert sorted(b) == keys
    cont: Counter[tuple[int, int]] = Counter((a[k], b[k]) for k in keys)
    ai = Counter(a[k] for k in keys)
    bi = Counter(b[k] for k in keys)
    comb2 = lambda n: n * (n - 1) // 2
    sum_ij = sum(comb2(n) for n in cont.values())
    sum_a = sum(comb2(n) for n in ai.values())
    sum_b = sum(comb2(n) for n in bi.values())
    n2 = comb2(len(keys))
    expected = sum_a * sum_b / n2
    max_idx = (sum_a + sum_b) / 2
    if max_idx == expected:
        return 1.0
    return (sum_ij - expected) / (max_idx - expected)


def _assign(spark) -> dict[int, int]:
    feats = product_features(spark, SF_SMOKE)
    pc = kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")
    return {r.product_id: r.cluster for r in pc.select("product_id", "cluster").collect()}


def test_product_clustering_partition_quality(spark):
    feats = product_features(spark, SF_SMOKE)
    pc = kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")
    clusters = {r.cluster for r in pc.select("cluster").distinct().collect()}
    assert clusters == {0, 1, 2, 3}, f"expected 4 non-empty clusters, got {clusters}"
    s = silhouette(pc, MATRIX_FEATURES)
    assert s > 0.1, f"silhouette {s:.3f} suspiciously low for 4-means on 8 features"


def test_product_clustering_same_seed_similar(spark):
    """Same seed + same data ⇒ near-identical partitions (ARI ≥ 0.9)."""
    a, b = _assign(spark), _assign(spark)
    ari = adjusted_rand_index(a, b)
    assert ari >= 0.9, f"same-seed partitions diverged: ARI={ari:.3f}"


def test_lstm_autoencoder_learns_beyond_pooled_baseline(spark):
    """The trained autoencoder must reconstruct (scaled) sequences better
    than the pooled embedder's best possible reconstruction — a constant
    per-sequence value, whose optimal MSE is the per-sequence variance.
    Beating it proves the model learned temporal structure, which is the
    capability the pooled stand-in lacks."""
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import SEQ_FEATURES
    from data_warehouse_product_mix_clustering_spark.ml.lstm_np import LSTMAutoencoderNP
    from data_warehouse_product_mix_clustering_spark.plans.warehouse import quarter_rollup

    q = quarter_rollup(spark, SF_SMOKE)
    rows = (
        q.orderBy("product_id", "quarter_key")
        .select("product_id", *SEQ_FEATURES)
        .collect()
    )
    by_pid: dict = {}
    for r in rows:
        by_pid.setdefault(r.product_id, []).append([float(r[f]) for f in SEQ_FEATURES])
    seqs = [np.array(v) for v in by_pid.values()]
    allv = np.vstack(seqs)
    mu, sd = allv.mean(0), allv.std(0)
    sd[sd == 0] = 1.0
    seqs = [(s - mu) / sd for s in seqs]

    num = sum(float(((s - s.mean(0)) ** 2).sum()) for s in seqs)
    den = sum(s.size for s in seqs)
    baseline = num / den  # optimal constant-per-sequence reconstruction

    model = LSTMAutoencoderNP(len(SEQ_FEATURES), 12, seed=2)
    model.fit(seqs, epochs=60)
    mse = model.reconstruction_mse(seqs)
    assert mse < baseline, f"LSTM mse {mse:.4f} ≥ pooled-baseline {baseline:.4f}"

    # determinism: same seed + data ⇒ identical embeddings
    again = LSTMAutoencoderNP(len(SEQ_FEATURES), 12, seed=2)
    again.fit(seqs, epochs=60)
    assert np.array_equal(model.encode(seqs), again.encode(seqs))


def test_lstm_embedding_pipeline_end_to_end(spark):
    """The distributed path: sample-train, mapInPandas-score, KMeans on the
    learned vectors. Embeddings must be 12-d, non-degenerate, and cluster."""
    from data_warehouse_product_mix_clustering_spark.ml.autoencoder import lstm_autoencoder_embeddings
    from data_warehouse_product_mix_clustering_spark.ml.pipelines import assign_vectors
    from data_warehouse_product_mix_clustering_spark.plans.warehouse import quarter_rollup

    q = quarter_rollup(spark, SF_SMOKE)
    emb = lstm_autoencoder_embeddings(q, epochs=15)
    rows = emb.collect()
    assert len(rows) == q.select("product_id").distinct().count()
    assert all(len(r.embedding) == 12 for r in rows)
    dims = {tuple(round(x, 6) for x in r.embedding) for r in rows}
    assert len(dims) > len(rows) // 2  # embeddings differ across products

    clustered = assign_vectors(emb, "embedding", k=4, order_col="product_id")
    labels = {r.cluster for r in clustered.select("cluster").distinct().collect()}
    assert labels == {0, 1, 2, 3}


def test_lstm_backward_matches_finite_differences():
    """Central-difference gradient check of the hand-derived BPTT: for
    sampled elements of EVERY parameter tensor, the analytic gradient must
    match (f(p+h) - f(p-h)) / 2h to tight relative error. This is the
    'finite-difference-checked' guarantee the README claims."""
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.lstm_np import LSTMAutoencoderNP, pad_batch

    rng = np.random.default_rng(3)
    seqs = [rng.normal(size=(t, 5)) for t in (4, 2, 6)]  # ragged → mask path
    X, lengths = pad_batch(seqs)
    T = X.shape[1]
    model = LSTMAutoencoderNP(input_size=5, hidden_size=7, seed=9)

    def loss_of() -> float:
        emb, _ = model._encode_forward(X, lengths)
        Y, _ = model._decode_forward(emb, T)
        mask = (np.arange(T)[None, :] < lengths[:, None]).astype(np.float64)
        diff = (Y - X) * mask[:, :, None]
        return float((diff * diff).sum() / (mask.sum() * X.shape[2]))

    emb, enc_cache = model._encode_forward(X, lengths)
    Y, dec_cache = model._decode_forward(emb, T)
    loss, grads = model._backward(X, lengths, Y, enc_cache, dec_cache)
    assert abs(loss - loss_of()) < 1e-12

    # h balances truncation (O(h^2)) against roundoff amplification
    # (~1e-16/h on tiny-magnitude gradients); 1e-5 keeps both below tol.
    h = 1e-5
    for name, p in model.params.items():
        flat = p.reshape(-1)
        gflat = grads[name].reshape(-1)
        idxs = rng.choice(flat.size, size=min(6, flat.size), replace=False)
        for i in idxs:
            orig = flat[i]
            flat[i] = orig + h
            up = loss_of()
            flat[i] = orig - h
            down = loss_of()
            flat[i] = orig
            numeric = (up - down) / (2 * h)
            denom = max(abs(numeric), abs(gflat[i]), 1e-8)
            rel = abs(numeric - gflat[i]) / denom
            assert rel < 5e-5, f"{name}[{i}]: analytic {gflat[i]:.3e} vs numeric {numeric:.3e} (rel {rel:.2e})"


def test_lstm_reference_config_keeps_descending():
    """The reference trains 1000 epochs (notebooks/LSTM_features_learning.ipynb);
    this repo defaults to 150 because the loss is already past the pooled
    baseline by then. This test proves the reference config is REACHABLE:
    on a small synthetic corpus the full 1000-epoch run keeps improving —
    the loss at 1000 epochs is strictly below the loss at the 150-epoch
    default, and the tail of the curve is non-increasing overall."""
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.lstm_np import LSTMAutoencoderNP

    rng = np.random.default_rng(7)
    # 12 sequences with real temporal structure (sines + trend + noise):
    # something a longer fit can keep extracting signal from.
    seqs = []
    for i in range(12):
        t = np.arange(5 + (i % 4))[:, None]
        base = np.sin(0.7 * t + i) + 0.1 * t + 0.05 * rng.normal(size=(len(t), 3))
        seqs.append(np.concatenate([base, np.cos(0.3 * t + i)], axis=1))
    allv = np.vstack(seqs)
    mu, sd = allv.mean(0), allv.std(0)
    sd[sd == 0] = 1.0
    seqs = [(s - mu) / sd for s in seqs]

    model = LSTMAutoencoderNP(input_size=4, hidden_size=6, seed=2)
    losses = model.fit(seqs, epochs=1000, batch_size=16)
    assert len(losses) == 1000
    assert losses[999] < losses[149], (
        f"1000-epoch loss {losses[999]:.5f} not below 150-epoch {losses[149]:.5f}"
    )
    # The tail should still be trending down, not diverging: compare mean
    # loss over the last 100 epochs vs epochs 150-250.
    early = float(np.mean(losses[150:250]))
    late = float(np.mean(losses[-100:]))
    assert late < early, f"late mean {late:.5f} not below early mean {early:.5f}"


def test_star_invalidation_clears_cluster_cache(spark):
    """invalidate_star_cache must also drop fitted clusterings built on
    that data, so the documented testdata-rewrite protocol leaves no
    stale fit behind."""
    from data_warehouse_product_mix_clustering_spark.etl.star_schema import invalidate_star_cache
    from data_warehouse_product_mix_clustering_spark.plans import ml as ml_plans

    a = ml_plans.product_clusters(spark, SF_SMOKE)
    assert ml_plans.product_clusters(spark, SF_SMOKE) is a
    invalidate_star_cache(SF_SMOKE)
    b = ml_plans.product_clusters(spark, SF_SMOKE)
    assert b is not a, "post-invalidate call must refit, not reuse"


def _details(spark, flt):
    """The Product Details relation, built as the dashboard page builds
    it: ``product_clusters ⋈ dim_product`` on ``product_id``, then the
    page's search, cluster or category filter."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.etl.star_schema import dim_product
    from data_warehouse_product_mix_clustering_spark.plans import ml as ml_plans

    df = ml_plans.product_clusters(spark, SF_SMOKE).join(
        dim_product(spark, SF_SMOKE).select(
            F.col("ProductID").alias("product_id"),
            F.col("Name").alias("product_name"),
            F.col("Type").alias("category"),
        ),
        "product_id",
    )
    kind, arg = flt
    if kind == "search":
        return df.filter(
            F.lower("product_name").contains(arg) | F.col("product_id").cast("string").contains(arg)
        )
    if kind == "cluster":
        return df.filter(F.col("cluster") == arg)
    if kind == "category":
        return df.filter(F.col("category") == arg)
    return df


def _details_widgets(df):
    """The page's two widgets: the filtered count and one sorted page."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.pagination import paginate

    return (
        df.agg(F.count(F.lit(1)).alias("n")),
        paginate(df, [F.col("profit").desc(), F.col("product_id")], 2, 5),
    )


def _plan_walk(plan) -> list:
    """The operators of an executed plan, through AQE and its query stages
    but not into a cached relation's own plan."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    return [plan] + [n for k in kids for n in _plan_walk(k)]


def _plan_nodes(plan) -> list[str]:
    """Operator class names of an executed plan, as ``_plan_walk``."""
    return [n.getClass().getSimpleName() for n in _plan_walk(plan)]


def _run_in_group(spark, action, group: str):
    """``action()`` and the number of jobs it ran, counted under a job
    group as perfbench's spans count them."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _collect_in_group(spark, df, group: str):
    """``df.collect()`` and the number of jobs it ran, as ``_run_in_group``."""
    return _run_in_group(spark, df.collect, group)


def test_details_page_reads_the_persisted_base(spark):
    """Once the fit is published, the Details page's count and page read
    the persisted base relation: one in-memory partition, no exchange, one
    job per collect, and the same rows as the join run without either
    persisted relation."""
    from data_warehouse_product_mix_clustering_spark.plans import ml as ml_plans

    ml_plans.invalidate_cluster_cache(SF_SMOKE)
    fit, base = ml_plans._published_fit(spark, SF_SMOKE)
    category = _details(spark, ("none", None)).first().category
    filters = [("none", None), ("search", "bolt"), ("cluster", 0), ("category", category)]
    got = {}
    try:
        for flt in filters:
            for i, df in enumerate(_details_widgets(_details(spark, flt))):
                rows, jobs = _collect_in_group(spark, df, f"details-{flt[0]}-{i}")
                nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
                assert "InMemoryTableScanExec" in nodes, (flt, nodes)
                assert not [n for n in nodes if "Exchange" in n], (flt, nodes)
                assert jobs == 1, (flt, i, jobs)
                got[flt, i] = rows
    finally:
        base.unpersist()
        fit.unpersist()
    try:
        for flt in filters:
            for i, df in enumerate(_details_widgets(_details(spark, flt))):
                assert "InMemoryTableScanExec" not in _plan_nodes(df._jdf.queryExecution().executedPlan())
                assert df.collect() == got[flt, i], flt
    finally:
        ml_plans.invalidate_cluster_cache(SF_SMOKE)
    n = {kind: got[(kind, arg), 0][0].n for kind, arg in filters}
    assert n["none"] > n["cluster"] > 0 and n["search"] > 0 and n["category"] > 0


def test_refit_releases_the_details_base(spark, monkeypatch):
    """A refit (``invalidate_cluster_cache``) releases both persisted
    relations of the old fit, and the next Details render reads the new
    fit's labels."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans import ml as ml_plans

    ml_plans.invalidate_cluster_cache(SF_SMOKE)
    fit, base = ml_plans._published_fit(spark, SF_SMOKE)
    n_products = _details(spark, ("none", None)).count()
    assert base.is_cached and fit.is_cached
    ml_plans.invalidate_cluster_cache(SF_SMOKE)
    assert not base.is_cached and not fit.is_cached
    monkeypatch.setattr(
        ml_plans, "kmeans_assign", lambda feats, cols, order_col: feats.withColumn("cluster", F.lit(0))
    )
    try:
        assert _details(spark, ("cluster", 0)).count() == n_products
    finally:
        ml_plans.invalidate_cluster_cache(SF_SMOKE)  # drop the one-cluster fit


def test_fit_reads_the_published_star(spark, tmp_path):
    """Once the warehouse load has published the star and written its four
    tables, the features plan reads the persisted relations, not the
    ``lineitem``/``orders`` files; the fit runs at most 8 jobs; and its
    partition equals the one the same plan gives from the sources."""
    from data_warehouse_product_mix_clustering_spark import state
    from data_warehouse_product_mix_clustering_spark.etl.star_schema import build_star_schema
    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_version

    def fit(feats):
        return kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")

    def labels(assigned):
        return sorted(tuple(r) for r in assigned.select("product_id", "cluster").collect())

    def source_scans(feats):
        return [
            n.toString()
            for n in _plan_walk(feats._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() == "FileSourceScanExec"
            and ("lineitem" in n.toString() or "orders" in n.toString())
        ]

    state.invalidate(SF_SMOKE)
    star = build_star_schema(spark, SF_SMOKE)
    try:
        for name, df in vars(star).items():
            write_version(df, str(tmp_path / name))
        feats = product_features(spark, SF_SMOKE)
        nodes = _plan_nodes(feats._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in nodes, nodes
        assert not source_scans(feats)
        assigned, jobs = _run_in_group(spark, lambda: fit(feats), "fit-from-published-star")
        assert jobs <= 8, jobs
        published = labels(assigned)
        for df in vars(star).values():
            df.unpersist()
        feats = product_features(spark, SF_SMOKE)
        assert "InMemoryTableScanExec" not in _plan_nodes(feats._jdf.queryExecution().executedPlan())
        assert source_scans(feats)
        assert published == labels(fit(feats))
    finally:
        state.invalidate(SF_SMOKE)


def test_rewrite_releases_the_published_star(spark, tmp_path):
    """Rewriting ``lineitem.parquet`` and invalidating that path releases
    all four published tables, and the next published fact is the
    rewritten file's, as ``SQL_CTES`` computes it."""
    import math
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.etl.star_schema import build_star_schema, star_sql
    from data_warehouse_product_mix_clustering_spark.sources import registry

    from conftest import make_duckdb

    def held(df) -> bool:
        level = df.storageLevel
        return df.is_cached or level.useMemory or level.useDisk

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    try:
        old = build_star_schema(spark, sf)
        for df in vars(old).values():
            df.count()
        assert all(held(df) for df in vars(old).values())
        li = os.path.join(sf, "lineitem.parquet")
        full = pq.read_table(li)
        pq.write_table(full.filter(pc.equal(pc.bit_wise_and(full["l_orderkey"], 1), 0)), li)
        registry.invalidate(li)
        assert not [name for name, df in vars(old).items() if held(df)]
        got = build_star_schema(spark, sf).fact_sales.agg(
            F.count(F.lit(1)).alias("n"), F.sum("LineTotal").alias("revenue")
        ).first()
        con = make_duckdb(sf)
        want = con.execute(star_sql("SELECT count(*), sum(LineTotal) FROM fact_sales")).fetchone()
        con.close()
        assert got.n == want[0] < full.num_rows
        assert math.isclose(got.revenue, want[1], rel_tol=1e-9)
    finally:
        registry.invalidate(sf)


def test_kmeans_refuses_matrix_above_driver_cap(spark, monkeypatch):
    """Above kmeans_np.DRIVER_ROWS_CAP rows the fit refuses the matrix,
    naming the row count and the cap; it never switches to another
    clustering algorithm with a different answer."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.ml import kmeans_np
    from data_warehouse_product_mix_clustering_spark.ml.pipelines import assign_vectors
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    monkeypatch.setattr(kmeans_np, "DRIVER_ROWS_CAP", 10)
    feats = product_features(spark, SF_SMOKE)
    with pytest.raises(ValueError, match=r"199 rows, above .*DRIVER_ROWS_CAP=10"):
        kmeans_assign(feats, MATRIX_FEATURES, order_col="product_id")
    emb = table(spark, "embeddings", SF_SMOKE)
    with pytest.raises(ValueError, match=r"500 rows, above .*DRIVER_ROWS_CAP=10"):
        assign_vectors(emb, "embedding", k=10, order_col="vec_id")


def test_kmeans_np_empty_cluster_repair_no_nan():
    """Empty-cluster repair must not steal a cluster's sole member (the
    NaN-center cascade — review r9): duplicate-heavy data with k close
    to the distinct-point count forces empties; every fit must return
    finite centers and k non-empty clusters when n >= k, and n < k must
    not divide by zero."""
    import numpy as np

    from data_warehouse_product_mix_clustering_spark.ml.kmeans_np import kmeans_fit

    # 3 distinct locations, many duplicates, k=3: k-means++ can seed two
    # centers on one location -> empty-cluster repair engages
    X = np.array([[0.0, 0.0]] * 5 + [[10.0, 0.0]] * 5 + [[0.0, 10.0]] * 1)
    for seed in range(6):
        labels, centers = kmeans_fit(X, k=3, seed=seed, n_init=1)
        assert np.isfinite(centers).all(), f"seed={seed}: NaN centers"
        assert len(set(labels.tolist())) == 3, f"seed={seed}: empty cluster"

    # n < k: unfillable clusters keep a finite center, no crash
    Y = np.array([[0.0, 0.0], [1.0, 1.0]])
    labels, centers = kmeans_fit(Y, k=4, seed=0, n_init=1)
    assert np.isfinite(centers).all()
    assert len(set(labels.tolist())) == 2


def test_lstm_fit_empty_corpus_raises():
    import numpy as np
    import pytest

    from data_warehouse_product_mix_clustering_spark.ml.lstm_np import LSTMAutoencoderNP

    m = LSTMAutoencoderNP(input_size=4, hidden_size=8, seed=0)
    with pytest.raises(ValueError, match="at least one training sequence"):
        m.fit([])


def test_train_softmax_rejects_null_labels(spark):
    """A NULL class label fails loudly. collect_set would drop it from
    the class set while its row still counted in the gradient's doc
    count, silently diluting every update."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.ml.logreg import train_softmax

    feats = spark.createDataFrame(
        [(1, "b0", 1.0), (2, "b0", 1.0), (3, "b1", 1.0)],
        "__id long, bucket string, x double",
    )
    labels = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "de")], "__id long, y string"
    )
    with pytest.raises(ValueError, match="1 of 3 label rows have a NULL class"):
        train_softmax(feats, labels, n_iter=1)
    w, _ = train_softmax(feats, labels.fillna("en", ["y"]), n_iter=1)
    assert sorted(w) == ["de", "en"]


def test_train_logreg_rejects_null_labels(spark):
    """A NULL binary label fails loudly. The gradient sum skips its
    residual while the doc count still counts its row, which would
    silently dilute every update."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.ml.logreg import BIAS_KEY, train_logreg

    feats = spark.createDataFrame(
        [(1, "b0", 1.0), (2, "b0", 1.0), (3, "b1", 1.0)],
        "__id long, bucket string, x double",
    )
    labels = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 0.0)], "__id long, y double"
    )
    with pytest.raises(ValueError, match="1 of 3 label rows have a NULL label"):
        train_logreg(feats, labels, n_iter=1)
    w, _ = train_logreg(feats, labels.fillna(0.0, ["y"]), n_iter=1)
    assert sorted(w) == sorted(["b0", "b1", BIAS_KEY])
