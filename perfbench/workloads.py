"""The benchmark's workloads and their output checks.

Each workload has ``warm()`` (untimed, part of set-up), ``ops()`` (the
seeded stream of operation descriptors, run in whole blocks of ``block``
operations, each counted as ``nominal_s`` seconds of the run's length),
``op(d)`` (one timed operation) and ``after(d)``, which verifies the
operation's outputs after its timing ended and returns the errors found.
Every call into the engine goes through the public functions of
``sources``, ``etl``, ``plans``, ``ml``, ``operators`` and ``streaming``
and is wrapped in a span.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil

import duckdb
from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.etl import star_schema
from data_warehouse_product_mix_clustering_spark.ml.pipelines import kmeans_assign
from data_warehouse_product_mix_clustering_spark.operators.pagination import paginate
from data_warehouse_product_mix_clustering_spark.plans import ml as plans_ml
from data_warehouse_product_mix_clustering_spark.plans import warehouse
from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries
from data_warehouse_product_mix_clustering_spark.sources import registry, versioned
from data_warehouse_product_mix_clustering_spark.streaming.incremental import incremental_events_etl

from gen import TABLES

STAR_TABLES = ("dim_product", "dim_date", "price_history", "fact_sales")
N_CLUSTERS = 4
PAGE_SIZE = 20


# ---------------------------------------------------------------------------
# Result normalisation shared by the checks
# ---------------------------------------------------------------------------


def _norm_value(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)) or hasattr(v, "as_integer_ratio"):
        return f"{float(v):.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def norm_rows(rows: list[dict]) -> list[tuple]:
    """Rows as tuples of (column, value) pairs, columns sorted by name."""
    return [tuple((k, _norm_value(r[k])) for k in sorted(r)) for r in rows]


def bag_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of a result."""
    return hashlib.sha1(repr(sorted(norm_rows(rows))).encode()).hexdigest()


def list_hash(rows: list[dict]) -> str:
    """Order-sensitive hash of a result (pages are ordered)."""
    return hashlib.sha1(repr(norm_rows(rows)).encode()).hexdigest()


def duck_inputs(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def duck_dicts(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def partition_key(rows) -> str:
    """Canonical form of a clustering: the set of member sets, so the
    labels' numbering does not matter."""
    groups: dict = {}
    for pid, c in rows:
        groups.setdefault(c, []).append(pid)
    return hashlib.sha1(repr(sorted(sorted(g) for g in groups.values())).encode()).hexdigest()


def _close(a, b) -> bool:
    return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9)


# ---------------------------------------------------------------------------
# warehouse_batch: ETL + clustering, cold caches, writes
# ---------------------------------------------------------------------------


class WarehouseBatch:
    """One pass = invalidate every cache, build the star schema, write its
    four tables and the cluster assignments as fresh versioned tables,
    computing features and fitting KMeans on the way, then ingest the
    events table into the warehouse with the incremental streaming ETL
    (a fresh checkpoint, so the whole table is one micro-batch)."""

    name = "warehouse_batch"
    block = 1
    nominal_s = 4.0  # sizing: five passes in a 20 s run

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark, self.sf, self.tracer = spark, data_dir, tracer
        self.out_root = os.path.join(work_dir, "warehouse")
        con = duck_inputs(data_dir)
        star = star_schema.star_sql
        self.want_rows = {
            t: con.execute(star(f"SELECT count(*) FROM {t}")).fetchone()[0] for t in STAR_TABLES
        }
        self.want_revenue, self.want_qty = con.execute(
            star("SELECT sum(LineTotal), sum(OrderQty) FROM fact_sales")
        ).fetchone()
        feats = all_queries()["product_features"].oracle
        self.want_products = con.execute(f"SELECT count(*) FROM ({feats})").fetchone()[0]
        self.want_events = con.execute("SELECT count(*), sum(value) FROM events").fetchone()
        con.close()
        self.partition: str | None = None
        self._writes: list = []

    def _out(self, i) -> str:
        return os.path.join(self.out_root, f"pass-{i}")

    def _write(self, df, table_dir: str) -> None:
        t = self.tracer
        if t.enabled:
            with t.span("executedPlan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
        with t.span("write_version", "sources") as sp:
            versioned.write_version(df, table_dir)
        if sp is not None:
            self._writes.append((sp, table_dir))

    def op(self, i) -> None:
        spark, sf, t = self.spark, self.sf, self.tracer
        out = self._out(i)
        with t.span("invalidate", "step"):
            registry.invalidate()
            star_schema.invalidate_star_cache()
            plans_ml.invalidate_cluster_cache()
        with t.span("star", "step"):
            with t.span("build_star_schema", "etl"):
                star = star_schema.build_star_schema(spark, sf)
        for name in STAR_TABLES:
            with t.span(f"write.{name}", "step"):
                self._write(getattr(star, name), os.path.join(out, name))
        with t.span("features", "step"):
            with t.span("product_features", "plans"):
                feats = warehouse.product_features(spark, sf)
        with t.span("fit", "step"):
            with t.span("kmeans_assign", "ml"):
                assigned = kmeans_assign(feats, plans_ml.MATRIX_FEATURES, order_col="product_id")
        with t.span("write.clusters", "step"):
            self._write(assigned, os.path.join(out, "clusters"))
        with t.span("events_etl", "step"):
            with t.span("incremental_events_etl", "streaming") as sp:
                incremental_events_etl(
                    spark, sf, os.path.join(out, "events"), os.path.join(out, "events-checkpoint")
                )
            if sp is not None:
                self._writes.append((sp, os.path.join(out, "events")))

    def after(self, i) -> list[str]:
        """Record write sizes on the spans, check the pass, drop its output."""
        for sp, d in self._writes:
            sp.attrs["bytes"], sp.attrs["files"] = dir_usage(d)
        self._writes = []
        out = self._out(i)
        try:
            return self._check(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _check(self, out: str) -> list[str]:
        errs = []
        con = duckdb.connect()
        try:
            scan = lambda t: f"read_parquet('{out}/{t}/v=0/*.parquet')"  # noqa: E731
            for t in STAR_TABLES:
                got = con.execute(f"SELECT count(*) FROM {scan(t)}").fetchone()[0]
                if got != self.want_rows[t]:
                    errs.append(f"{t}: {got} rows, want {self.want_rows[t]}")
            rev, qty = con.execute(
                f"SELECT sum(LineTotal), sum(OrderQty) FROM {scan('fact_sales')}"
            ).fetchone()
            if not (_close(rev, self.want_revenue) and _close(qty, self.want_qty)):
                errs.append(f"fact_sales sums {rev}, {qty} want {self.want_revenue}, {self.want_qty}")
            rows = con.execute(f"SELECT product_id, cluster FROM {scan('clusters')}").fetchall()
            events = con.execute(
                f"SELECT count(*), sum(value) FROM read_parquet('{out}/events/**/*.parquet')"
            ).fetchone()
        finally:
            con.close()
        if events[0] != self.want_events[0] or not _close(events[1], self.want_events[1]):
            errs.append(f"events: {events[0]} rows, sum {events[1]}, want {self.want_events}")
        if len(rows) != self.want_products:
            errs.append(f"clusters: {len(rows)} products, want {self.want_products}")
        k = len({c for _, c in rows})
        if k != N_CLUSTERS:
            errs.append(f"clusters: {k} clusters, want {N_CLUSTERS}")
        key = partition_key(rows)
        if self.partition is None:
            self.partition = key
        elif key != self.partition:
            errs.append("clusters: partition differs from the first pass")
        return errs

    def kind(self, i) -> str:
        return "pass"

    def ops(self):
        i = 0
        while True:
            yield i
            i += 1

    def warm(self) -> list[str]:
        """Two untimed passes: the first pays most of the JIT warm-up, the
        second much of the rest, so the first timed pass is not an outlier."""
        errs = []
        for i in ("warm-0", "warm-1"):
            self.op(i)
            errs += self.after(i)
        return errs


# ---------------------------------------------------------------------------
# dashboard: one analyst, closed loop, warm session
# ---------------------------------------------------------------------------

# The reference's three pages and the registered queries their widgets show.
OVERVIEW = ("cluster_summary", "cluster_profile")
CATEGORIES = ("category_rollup", "category_values", "pivot_category_priority")
SEARCH_TERMS = ("green", "bolt", "ring", "red", "gear", "old", "42")
# One block of the request stream: page renders in seeded order. The
# weights are an assumption, not a measurement (no page-view log of the
# reference exists): Product Details has the search, filter, sort and page
# controls, and every control change reruns its page, so it is drawn twice
# as often as each of the other two pages.
BLOCK = ("overview", "categories", "details", "details")


class Dashboard:
    """One request = one full page render, as Streamlit reruns the whole
    page script on every interaction: every widget of the page, in order.

    - overview: ``cluster_summary`` and ``cluster_profile``;
    - categories: the three category widgets, filtered to a seeded category;
    - details: the filtered product count (the page selector's total) and
      one page of the clustered products, with a seeded search, cluster or
      category filter, sort key and page number."""

    name = "dashboard"
    block = len(BLOCK)
    nominal_s = 1.25  # sizing: four blocks (16 renders) in a 20 s run

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark, self.sf, self.tracer, self.seed = spark, data_dir, tracer, seed
        self.qs = all_queries()
        con = duck_inputs(data_dir)
        # Oracle answers where the registry has one.
        self.want = {
            q: duck_dicts(con, self.qs[q].oracle)
            for q in OVERVIEW + CATEGORIES
            if self.qs[q].oracle is not None
        }
        self.products = duck_dicts(
            con,
            star_schema.star_sql(
                "SELECT ProductID AS product_id, Name AS product_name, Type AS category FROM dim_product"
            ),
        )
        con.close()
        self.categories = sorted({p["category"] for p in self.products})
        self.responses: dict = {}
        self._rows: dict = {}

    def op(self, req) -> None:
        self._rows = self.run(req)

    def after(self, req) -> list[str]:
        return self.check(req, self._rows)

    def kind(self, req) -> str:
        return req["page"]

    # -- requests ------------------------------------------------------------

    def ops(self):
        """The seeded request stream (infinite, same for the same seed)."""
        return self._stream(random.Random(self.seed))

    def _stream(self, rng):
        """Page renders in shuffled blocks of ``BLOCK``, so the page mix, and
        with it the latency distribution, does not drift with the seed."""
        while True:
            for page in rng.sample(BLOCK, len(BLOCK)):
                if page == "details":
                    yield self._details_request(rng)
                elif page == "categories":
                    yield {"page": page, "category": rng.choice(self.categories)}
                else:
                    yield {"page": page}

    def _details_request(self, rng) -> dict:
        kind = rng.choice(("none", "search", "cluster", "category"))
        arg = {
            "none": None,
            "search": rng.choice(SEARCH_TERMS),
            "cluster": rng.randrange(N_CLUSTERS),
            "category": rng.choice(self.categories),
        }[kind]
        req = {
            "page": "details", "filter": (kind, arg),
            "sort": rng.choice(plans_ml.MATRIX_FEATURES), "desc": rng.random() < 0.5,
        }
        n = len(self._details_rows(req["filter"]))
        req["page_no"] = rng.randint(1, max(1, math.ceil(n / PAGE_SIZE)))
        return req

    # -- engine side ---------------------------------------------------------

    def _widget(self, q: str, category):
        with self.tracer.span(q, "plans"):
            df = self.qs[q].fn(self.spark, self.sf)
            if category is not None:
                df = df.filter(F.col("category") == category)
        return df

    def _details(self, req):
        """The filtered products, before sorting and paging."""
        spark, sf, t = self.spark, self.sf, self.tracer
        with t.span("product_clusters", "ml"):
            clusters = plans_ml.product_clusters(spark, sf)
        with t.span("dim_product", "etl"):
            dim = star_schema.dim_product(spark, sf)
        with t.span("product_details", "plans"):
            df = clusters.join(
                dim.select(
                    F.col("ProductID").alias("product_id"),
                    F.col("Name").alias("product_name"),
                    F.col("Type").alias("category"),
                ),
                "product_id",
            )
            kind, arg = req["filter"]
            if kind == "search":
                df = df.filter(
                    F.lower("product_name").contains(arg)
                    | F.col("product_id").cast("string").contains(arg)
                )
            elif kind == "cluster":
                df = df.filter(F.col("cluster") == arg)
            elif kind == "category":
                df = df.filter(F.col("category") == arg)
        return df

    def _collect(self, df) -> list[dict]:
        t = self.tracer
        if t.enabled:
            with t.span("executedPlan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
        with t.span("collect", "exec"):
            return [r.asDict() for r in df.collect()]

    def run(self, req) -> dict:
        """Render one page: ``{widget: rows}``."""
        t, page = self.tracer, req["page"]
        out = {}
        if page == "details":
            with t.span("details.filter", "step"):
                df = self._details(req)
            with t.span("details.count", "step"):
                out["count"] = self._collect(df.agg(F.count(F.lit(1)).alias("n")))
            with t.span("details.page", "step"):
                with t.span("paginate", "plans"):
                    key = F.col(req["sort"]).desc() if req["desc"] else F.col(req["sort"]).asc()
                    df = paginate(df, [key, F.col("product_id")], req["page_no"], PAGE_SIZE)
                out["page"] = self._collect(df)
            return out
        for q in OVERVIEW if page == "overview" else CATEGORIES:
            with t.span(f"{page}.{q}", "step"):
                out[q] = self._collect(self._widget(q, req.get("category")))
        return out

    # -- checks --------------------------------------------------------------

    def _details_rows(self, flt) -> list[dict]:
        kind, arg = flt
        rows = self.details_base
        if kind == "search":
            rows = [r for r in rows if arg in r["product_name"].lower() or arg in str(r["product_id"])]
        elif kind == "cluster":
            rows = [r for r in rows if r["cluster"] == arg]
        elif kind == "category":
            rows = [r for r in rows if r["category"] == arg]
        return rows

    def _expected_page(self, req) -> list[dict]:
        col, desc = req["sort"], req["desc"]
        rows = self._details_rows(req["filter"])
        # Spark's defaults: ascending puts NULLs first, descending last.
        if desc:
            key = lambda r: (r[col] is None, -(r[col] or 0), r["product_id"])  # noqa: E731
        else:
            key = lambda r: (r[col] is not None, r[col] or 0, r["product_id"])  # noqa: E731
        lo = (req["page_no"] - 1) * PAGE_SIZE
        return sorted(rows, key=key)[lo : lo + PAGE_SIZE]

    def expected(self, req) -> dict:
        """``{widget: (hash function, expected hash)}`` for a page render."""
        if req["page"] == "details":
            n = len(self._details_rows(req["filter"]))
            return {
                "count": (bag_hash, bag_hash([{"n": n}])),
                "page": (list_hash, list_hash(self._expected_page(req))),
            }
        cat = req.get("category")
        out = {}
        for q in OVERVIEW if req["page"] == "overview" else CATEGORIES:
            if q in self.want:
                rows = [r for r in self.want[q] if cat is None or r["category"] == cat]
                out[q] = (bag_hash, bag_hash(rows))
            else:
                # No oracle: the first warm response is the reference.
                out[q] = (bag_hash, self.responses[(q, cat)])
        return out

    def check(self, req, rows: dict) -> list[str]:
        what = req.get("category") or req.get("filter") or ""
        return [
            f"{req['page']}.{w} {what}: wrong answer"
            for w, (fn, want) in self.expected(req).items()
            if w not in rows or fn(rows[w]) != want
        ]

    def warm(self) -> list[str]:
        """Render the overview (this also fits the clustering) and keep the
        warm answers of widgets without an oracle, then render one block of
        a request stream of its own, so that the JIT warm-up of every page's
        plans is paid here and not in the first timed renders."""
        req = {"page": "overview"}
        rows = self.run(req)
        for q, r in rows.items():
            if q not in self.want:
                self.responses[(q, None)] = bag_hash(r)
        errs = self.check(req, rows)
        base = plans_ml.product_clusters(self.spark, self.sf).collect()
        names = {p["product_id"]: p for p in self.products}
        self.details_base = [{**r.asDict(), **names[r["product_id"]]} for r in base]
        if len({r["cluster"] for r in self.details_base}) != N_CLUSTERS:
            errs.append(f"product_clusters: want {N_CLUSTERS} clusters")
        stream = self._stream(random.Random(f"warm-{self.seed}"))
        for _ in range(len(BLOCK)):
            req = next(stream)
            errs += self.check(req, self.run(req))
        return errs


WORKLOADS = {w.name: w for w in (WarehouseBatch, Dashboard)}
