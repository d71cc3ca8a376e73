"""Schema-contract tests: the declared StructType contracts below must
match what the driver's testdata actually carries (names + types for the
columns we declare) — catches silent testdata drift between rounds."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from data_warehouse_product_mix_clustering_spark import schemas as S
from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.etl.star_schema import build_star_schema
from data_warehouse_product_mix_clustering_spark.operators.stats import advise_broadcast_join
from data_warehouse_product_mix_clustering_spark.plans.dedup import shared_shingles
from data_warehouse_product_mix_clustering_spark.plans.ml import _published_fit
from data_warehouse_product_mix_clustering_spark.plans.text import _postings_index_for, corpus_bpe_merges
from data_warehouse_product_mix_clustering_spark.plans.warehouse import cluster_summary
from data_warehouse_product_mix_clustering_spark.sources import registry
from data_warehouse_product_mix_clustering_spark.sources.registry import table

from conftest import SF_SMOKE

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

DECLARED = {
    "lineitem": LINEITEM,
    "orders": ORDERS,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}


@pytest.mark.parametrize("name", sorted(DECLARED))
def test_testdata_matches_declared_schema(spark, name):
    actual = {f.name: f.dataType.simpleString() for f in table(spark, name, SF_SMOKE).schema}
    for field in DECLARED[name]:
        assert field.name in actual, f"{name}: missing column {field.name}"
        assert actual[field.name] == field.dataType.simpleString().replace(
            "timestamp_ntz", "timestamp"
        ) or actual[field.name] in (
            field.dataType.simpleString(),
            field.dataType.simpleString().replace("timestamp", "timestamp_ntz"),
        ), (
            f"{name}.{field.name}: declared {field.dataType.simpleString()}, "
            f"testdata has {actual[field.name]}"
        )


def test_all_testdata_tables_load(spark):
    for name in S.TESTDATA_TABLES:
        df = table(spark, name, SF_SMOKE)
        assert df.count() > 0, f"{name} empty"


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_loader_handles_both_ts_encodings(spark, tmp_path, unit):
    """The events loader must type-gate its ts fixup: timestamp[us] files
    (current testdata) pass through as-is, TIMESTAMP(NANOS) files (round 1-2
    testdata) are read as epoch-nanos longs and truncated to µs. Round 3
    shipped with the nanos division applied unconditionally, which crashed
    every events query when the testdata switched to µs — this test pins
    both vintages so a future encoding change is a red unit test, not a
    crashed bench."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = t0 + dt.timedelta(hours=1, microseconds=123456)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t0, t1], pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["view", "purchase"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d = tmp_path / unit
    d.mkdir()
    # version=2.6 preserves TIMESTAMP(NANOS) on disk for unit="ns"
    pq.write_table(tbl, str(d / "events.parquet"), version="2.6")
    df = table(spark, "events", str(d))
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == [t0, t1], f"{unit}: {got}"


def test_table_scan_metadata_cached(spark):
    """Repeated table() calls return the SAME resolved scan DataFrame —
    the metadata cache that keeps plan construction from re-listing the
    path and re-reading parquet footers per query build. Different paths
    (and the events normalization) must not collide."""
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    a = table(spark, "orders", "/root/testdata/sf0.001")
    b = table(spark, "orders", "/root/testdata/sf0.001")
    assert a is b, "same (session, path) must hit the cache"
    c = table(spark, "orders", "/root/testdata/sf0.01")
    assert c is not a, "different sf_dir must not collide"
    ev1 = table(spark, "events", "/root/testdata/sf0.001")
    ev2 = table(spark, "events", "/root/testdata/sf0.001")
    assert ev1 is ev2
    assert dict(ev1.dtypes)["ts"].startswith("timestamp"), (
        "cached events scan must be the NORMALIZED one"
    )


def _advice(spark, sf):
    nat = table(spark, "nation", sf).withColumnRenamed("n_nationkey", "s_nationkey")
    sup = table(spark, "supplier", sf)
    return advise_broadcast_join(sup, nat, ["s_nationkey"], cache_key=("test_store", sf))[1]


# kind → (getter, a table file whose invalidation must drop the entry, a
# table file whose invalidation must keep it or None, "was the value
# released" probe or None for kinds that hold nothing to release).
STORE_KINDS = {
    "table": (lambda sp, sf: table(sp, "orders", sf), "orders.parquet", "nation.parquet", None),
    "star": (
        build_star_schema,
        "part.parquet",
        None,
        lambda star: not any(df.is_cached for df in vars(star).values()),
    ),
    "clusters": (
        _published_fit, "lineitem.parquet", None, lambda entry: not any(df.is_cached for df in entry)
    ),
    "result": (cluster_summary, "lineitem.parquet", None, lambda df: not df.is_cached),
    "shingles": (shared_shingles, "documents.parquet", "nation.parquet", lambda df: not df.is_cached),
    "postings": (_postings_index_for, "documents.parquet", "nation.parquet", lambda d: not os.path.exists(d)),
    "merges": (corpus_bpe_merges, "documents.parquet", "nation.parquet", None),
    "advice": (_advice, "nation.parquet", None, None),
}


@pytest.mark.parametrize("kind", sorted(STORE_KINDS))
def test_store_entry_lifecycle(spark, monkeypatch, kind):
    """Every memoized kind goes through the one session store: a hit
    returns the same object; only invalidating a path the entry was built
    from (or its sf_dir) drops it; the LRU bound, the bound on entries
    that own storage and other-session eviction on insert hold; and an evicted or invalidated entry is
    released (persisted relations unpersisted, index dirs removed)."""
    get, drop_file, keep_file, released = STORE_KINDS[kind]
    built: list[str] = []
    real_cached = state.cached

    def spy(spark_, kind_, src, params, build, release=None):
        def recorded():
            built.append(kind_)
            return build()

        return real_cached(spark_, kind_, src, params, recorded, release)

    monkeypatch.setattr(state, "cached", spy)

    def fetch():
        built.clear()
        value = get(spark, SF_SMOKE)
        return value, kind in built

    def probe(session, release=None):
        real_cached(session, "probe", "/probe", (), object, release)

    def is_released(value):
        return released is None or released(value)

    state.invalidate()
    a, new = fetch()
    assert new
    b, new = fetch()
    assert b is a and not new, "a hit must return the same object"

    # Unrelated paths keep it: a sibling sf_dir whose name only extends
    # this one's, and (for per-file kinds) another table of the same dir.
    registry.invalidate(SF_SMOKE + "0")
    if keep_file:
        registry.invalidate(os.path.join(SF_SMOKE, keep_file))
    b, new = fetch()
    assert b is a and not new

    # Entries that own storage have their own bound; the others do not
    # count against it.
    held = state.MAX_HELD
    monkeypatch.setattr(state, "MAX_HELD", 1)
    probe(spark, [].append)
    monkeypatch.setattr(state, "MAX_HELD", held)
    state.invalidate(kind="probe")
    # Probed before the rebuild: a rebuilt published star persists the
    # same builder DataFrames again.
    evicted = released is not None and released(a)
    b, new = fetch()
    if released is None:
        assert b is a and not new, "an entry that owns nothing must survive the held bound"
    else:
        assert new and evicted, "the held bound must evict and release the entry"
    a = b

    # The LRU bound holds, and eviction releases the entry.
    bound = state.MAX_ENTRIES
    monkeypatch.setattr(state, "MAX_ENTRIES", 1)
    probe(spark)
    assert len(state._entries) == 1
    assert is_released(a)
    monkeypatch.setattr(state, "MAX_ENTRIES", bound)
    b, new = fetch()
    assert new, "an evicted entry must be rebuilt"

    # Inserting evicts (and releases) every other session's entries.
    dead = []
    probe(SimpleNamespace(sparkContext=SimpleNamespace(applicationId="dead-app-id")), dead.append)
    assert is_released(b)
    c, new = fetch()
    assert new and dead, "another session's entry must be evicted on insert"

    # Invalidating a table FILE the entry was built from drops it.
    registry.invalidate(os.path.join(SF_SMOKE, drop_file))
    assert is_released(c)
    d, new = fetch()
    assert new, "path-scoped invalidation must force a rebuild"

    # Invalidating the sf_dir drops it too, also where the entry was
    # built from one file under that dir.
    registry.invalidate(SF_SMOKE)
    assert is_released(d)
    _, new = fetch()
    assert new, "invalidating the sf_dir must drop entries built from its files"


def test_cluster_profile_follows_a_new_fit(spark, monkeypatch):
    """``invalidate_cluster_cache`` drops the served ``cluster_profile``
    too: the next render profiles the new fit, not the persisted answer
    of the old one."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans import ml as plans_ml

    before = plans_ml.cluster_profile(spark, SF_SMOKE).collect()
    assert len(before) == 4
    plans_ml.invalidate_cluster_cache(SF_SMOKE)
    monkeypatch.setattr(
        plans_ml, "kmeans_assign", lambda feats, cols, order_col: feats.withColumn("cluster", F.lit(0))
    )
    try:
        after = plans_ml.cluster_profile(spark, SF_SMOKE).collect()
    finally:
        plans_ml.invalidate_cluster_cache(SF_SMOKE)  # drop the one-cluster fit
    assert [(r.cluster, r.n_products) for r in after] == [(0, sum(r.n_products for r in before))]


def test_refit_keeps_served_results_that_do_not_read_the_fit(spark):
    """``invalidate_cluster_cache`` drops only what reads the fit: the
    served ``cluster_summary``, built from the fact alone, stays persisted
    and is served again without re-deriving the fact."""
    from data_warehouse_product_mix_clustering_spark.plans import ml as plans_ml

    a = cluster_summary(spark, SF_SMOKE)
    assert a.is_cached
    plans_ml.invalidate_cluster_cache(SF_SMOKE)
    b = cluster_summary(spark, SF_SMOKE)
    assert b is a and b.is_cached


@pytest.mark.parametrize("name", ["cluster_summary", "category_rollup"])
def test_served_result_follows_a_rewritten_lineitem(spark, tmp_path, name):
    """Rewriting ``lineitem.parquet`` and invalidating that path drops the
    served answer: the next call returns the rewritten table's answer,
    the one the query's own plan computes."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    fn = all_queries()[name].fn

    def answer(df):
        return sorted(tuple(r) for r in df.collect())

    old = answer(fn(spark, sf))
    li = os.path.join(sf, "lineitem.parquet")
    full = pq.read_table(li)
    pq.write_table(full.filter(pc.equal(pc.bit_wise_and(full["l_orderkey"], 1), 0)), li)
    registry.invalidate(li)
    new = answer(fn(spark, sf))
    assert new != old
    assert new == answer(fn.__wrapped__(spark, sf))
    registry.invalidate(sf)


def test_store_builds_a_key_once_under_racing_misses():
    """Threads that miss on one key while another thread builds it wait
    for that build: one build, every caller gets its value, nothing is
    released. (Two builds of one persisted plan share one cache entry, so
    releasing the loser would uncache the winner's value.) A build that
    raises leaves no key marked as being built."""
    import threading
    import time

    session = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="race-app"))
    built, released, got = [], [], []

    def build():
        time.sleep(0.05)
        built.append(object())
        return built[-1]

    barrier = threading.Barrier(8)

    def worker():
        barrier.wait()
        got.append(state.cached(session, "probe", "/race", (), build, released.append))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    try:
        assert not any(t.is_alive() for t in threads)
        assert len(built) == 1 and not released
        assert len(got) == 8 and all(v is built[0] for v in got)

        def failing():
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError):
            state.cached(session, "probe", "/race-failed", (), failing)
        assert not state._building
    finally:
        state.invalidate(kind="probe")


def test_store_concurrent_inserts_release_every_loser(monkeypatch):
    """Threads racing on overlapping keys under a tight bound: every
    built value is either live in the store or released exactly once."""
    import sys
    import threading

    session = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stress-app"))
    monkeypatch.setattr(state, "MAX_ENTRIES", 4)
    built, released = [], []

    def build():
        value = object()
        built.append(value)
        return value

    def worker(w):
        for n in range(300):
            state.cached(session, "probe", f"/stress/{(n + w) % 6}", (), build, released.append)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(state._entries) <= 4
    state.invalidate(kind="probe")
    assert len({id(v) for v in released}) == len(released) == len(built)


def test_no_cache_outside_the_store():
    """The session store (state.py) is the package's only memo: no other
    module may define a module-level OrderedDict() or a ``_*_CACHE``
    global."""
    import ast
    import pathlib
    import re

    import data_warehouse_product_mix_clustering_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "state.py" and path.parent == root:
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            calls = [n.func for n in ast.walk(value) if isinstance(n, ast.Call)] if value else []
            ordered = any(
                (isinstance(f, ast.Name) and f.id.endswith("OrderedDict"))
                or (isinstance(f, ast.Attribute) and f.attr == "OrderedDict")
                for f in calls
            )
            if ordered or any(re.fullmatch(r"_\w*_CACHE", n) for n in names):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders


def test_every_package_definition_is_referenced():
    """Every top-level function, class or module constant in the package
    is reachable from production: a ``@register`` query, a module-level
    dunder function (``__getattr__``/``__dir__`` hooks the runtime
    calls), module-level package code other than imports and name
    assignments, or a name read in perfbench/, scripts/, bench.py or
    __spark_entry__.py. Reachability walks by name through the bodies
    of reached definitions; a top-level ``NAME = value`` is a definition
    whose value is walked only once NAME is reached; an ``import x as
    y`` alias leads to ``x``. A name read only in tests/ does not count,
    so code that only tests call fails here. Matching is by name, so a
    name shared with a reached definition elsewhere hides a dead one;
    the scan errs toward passing."""
    import ast
    import pathlib

    import data_warehouse_product_mix_clustering_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent

    def reads(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    def assigned(node):
        return node.targets if isinstance(node, ast.Assign) else [node.target]

    defs, aliases, roots = {}, {}, set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for n in ast.walk(tree):
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                for a in n.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name.rsplit(".", 1)[-1])
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(top.name, []).append((path, top))
                if top.name.startswith("__") or any(
                    ast.unparse(getattr(x, "func", x)) == "register" for x in top.decorator_list
                ):
                    roots.add(top.name)
            elif isinstance(top, (ast.Assign, ast.AnnAssign)) and all(
                isinstance(t, ast.Name) for t in assigned(top)
            ):
                for t in assigned(top):
                    defs.setdefault(t.id, []).append((path, top))
            elif not isinstance(top, (ast.Import, ast.ImportFrom)):
                roots |= reads(top)
    for path in [
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "scripts").rglob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]:
        roots |= reads(ast.parse(path.read_text()))

    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(aliases.get(name, ()))
            for _, d in defs.get(name, ()):
                todo.extend(reads(d))

    def exempt(path, name):
        return (
            name.startswith("__")  # module hooks the runtime calls
            or name.endswith("_py")  # Python reference twins, kept beside their parity tests
            or path == root / "etl" / "reference_pipeline.py"  # the reference's ETL, golden-tested
        )
    dead = sorted(
        f"{path.relative_to(root)}::{name}"
        for name, found in defs.items()
        for path, _ in found
        if name not in reached and not exempt(path, name)
    )
    assert not dead, dead
