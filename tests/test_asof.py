"""As-of join edge cases (SURVEY §7.3): open intervals (NULL end), events
before any interval, inclusive boundary ties, per-key variant — and
strategy agreement (broadcast range join vs union+window large-large path)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.operators.asof_join import asof_join

D = lambda s: dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, D("2024-01-05"), "before-any"),
            (2, D("2024-02-01"), "on-start-tie"),
            (3, D("2024-02-15"), "inside-first"),
            (4, D("2024-03-10"), "gap-after-first-closed"),
            (5, D("2024-04-02"), "inside-open"),
            (6, D("2030-01-01"), "far-future-open"),
        ],
        ["id", "ts", "label"],
    )
    right = spark.createDataFrame(
        [
            (D("2024-02-01"), D("2024-02-29"), 10.0),
            (D("2024-04-01"), None, 20.0),
        ],
        ["start", "end", "price"],
    )
    return left, right


EXPECTED = {
    1: None,  # before any interval
    2: 10.0,  # inclusive start boundary
    3: 10.0,
    4: None,  # after first interval closed, before second starts
    5: 20.0,  # open interval
    6: 20.0,  # open interval extends forever
}


def _check_interval_semantics(left, right, **kw):
    """EXPECTED on how='left'; on how='inner' the same matches with the
    unmatched rows dropped."""
    for how in ("left", "inner"):
        out = asof_join(
            left, right, left_on="ts", right_on="start", end_col="end", how=how,
            **kw,
        )
        got = {r.id: r.price for r in out.collect()}
        want = {k: v for k, v in EXPECTED.items() if how == "left" or v is not None}
        assert got == want, f"{kw} how={how}: {got}"


@pytest.mark.parametrize("strategy", ["broadcast", "union"])
def test_asof_interval_semantics(spark, frames, strategy):
    _check_interval_semantics(*frames, strategy=strategy)


@pytest.mark.parametrize("bucket", ["month", "quarter"])
def test_asof_fast_paths_same_semantics(spark, frames, bucket):
    """The bucket (hash-join, window-free) path must be semantically
    identical to the generic range join on non-overlapping intervals —
    incl. open intervals, pre-interval rows, and rows far past the last
    bucket."""
    _check_interval_semantics(*frames, bucket=bucket)


@pytest.mark.parametrize("strategy", ["broadcast", "union"])
def test_asof_overlapping_intervals_pick_latest_start(spark, strategy):
    """With OVERLAPPING intervals both generic strategies pick the LATEST
    matching start (the dedup window / the carry), not the older cover."""
    left = spark.createDataFrame([(1, D("2024-01-20"))], ["id", "ts"])
    right = spark.createDataFrame(
        [
            (D("2024-01-01"), D("2024-03-01"), 1.0),  # covers ts, older
            (D("2024-01-15"), D("2024-02-01"), 2.0),  # covers ts, latest
        ],
        ["start", "end", "price"],
    )
    got = {
        r.id: r.price
        for r in asof_join(
            left, right, "ts", "start", end_col="end", strategy=strategy
        ).collect()
    }
    assert got == {1: 2.0}, strategy


def test_asof_tied_start_deterministic(spark):
    """Two intervals sharing a StartDate: the open one must win, on every
    strategy, every run (ADVICE determinism fix)."""
    left = spark.createDataFrame([(1, D("2024-02-10"))], ["id", "ts"])
    right = spark.createDataFrame(
        [
            (D("2024-01-01"), D("2024-06-30"), 1.0),
            (D("2024-01-01"), None, 2.0),
        ],
        ["start", "end", "price"],
    )
    for strategy in ("broadcast", "union"):
        for _ in range(3):
            got = {
                r.id: r.price
                for r in asof_join(
                    left, right, "ts", "start", end_col="end", strategy=strategy
                ).collect()
            }
            assert got == {1: 2.0}, strategy


def test_asof_strategies_agree_on_real_data(spark):
    """Both strategies must produce identical matches on the testdata dims."""
    from data_warehouse_product_mix_clustering_spark.etl.star_schema import dim_date, fact_sales

    from conftest import SF_SMOKE

    fact = fact_sales(spark, SF_SMOKE).select("SalesOrderID", "LineNumber", "OrderDate")
    dates = dim_date(spark, SF_SMOKE)

    def run(strategy):
        rows = asof_join(
            fact, dates, "OrderDate", "StartDate", end_col="EndDate",
            strategy=strategy,
        ).collect()
        return sorted(
            (r.SalesOrderID, r.LineNumber, r.OrderDate, r.IntervalId) for r in rows
        )

    a, b = run("broadcast"), run("union")
    assert a == b
    assert len(a) == fact.count()
    assert all(iv is not None for *_, iv in a)  # every date falls in an interval


def test_asof_by_keys(spark):
    """Per-key as-of (the notebook variant): intervals scoped to a product."""
    left = spark.createDataFrame(
        [(1, D("2024-01-10")), (2, D("2024-01-10"))], ["pid", "ts"]
    )
    right = spark.createDataFrame(
        [
            (1, D("2024-01-01"), 5.0),
            (2, D("2024-01-05"), 7.0),
            (2, D("2024-01-09"), 8.0),
        ],
        ["pid", "start", "cost"],
    )
    for strategy in ("broadcast", "union"):
        got = {
            r.pid: r.cost
            for r in asof_join(
                left, right, "ts", "start", by=["pid"], strategy=strategy
            ).collect()
        }
        assert got == {1: 5.0, 2: 8.0}, strategy


def test_asof_bucketed_scd2_boundary_day(spark):
    """A type-2 dimension closes the old row the day BEFORE the change
    (non-overlapping intervals, the ``bucket=`` contract), so a fact
    dated exactly on the change day matches only the newly opened row,
    even on the dedup-free bucketed path."""
    day = dt.date.fromisoformat
    dim = spark.createDataFrame(
        [
            (1, "red", day("2024-01-01"), day("2024-05-31")),
            (1, "crimson", day("2024-06-01"), None),
            (2, "blue", day("2024-01-01"), None),
            (3, "green", day("2023-01-01"), day("2023-12-31")),
            (3, "lime", day("2024-01-01"), None),
            (9, "black", day("2024-06-01"), None),
        ],
        "pid int, color string, StartDate date, EndDate date",
    )
    facts = spark.createDataFrame(
        [(1, day("2024-03-01")), (1, day("2024-06-01")), (1, day("2024-07-01"))],
        "pid int, d date",
    )
    matched = asof_join(
        facts, dim, left_on="d", right_on="StartDate",
        by=["pid"], end_col="EndDate", bucket="day",
    )
    assert sorted((r.d, r.color) for r in matched.collect()) == [
        (day("2024-03-01"), "red"),
        (day("2024-06-01"), "crimson"),
        (day("2024-07-01"), "crimson"),
    ]


@pytest.mark.parametrize("strategy", ["broadcast", "union"])
def test_asof_tolerance(spark, strategy):
    """merge_asof tolerance: matches older than left_on - tolerance drop."""
    left = spark.createDataFrame(
        [(1, D("2024-03-01")), (2, D("2024-01-02"))], ["id", "ts"]
    )
    right = spark.createDataFrame([(D("2024-01-01"), 9.0)], ["start", "price"])
    got = {
        r.id: r.price
        for r in asof_join(
            left, right, "ts", "start", strategy=strategy, tolerance="30 DAYS"
        ).collect()
    }
    assert got == {1: None, 2: 9.0}, f"{strategy}: {got}"


def test_asof_union_left_on_also_by_key(spark):
    """left_on may double as a by-key: the stale-interval check reads the
    retained window timestamp, not the packed left struct (which excludes
    by-keys) — regression guard for the r5 fix."""
    left = spark.createDataFrame(
        [(D("2024-02-10"), 1), (D("2024-06-10"), 2)], ["ts", "id"]
    )
    right = spark.createDataFrame(
        [(D("2024-02-10"), D("2024-01-01"), D("2024-03-31"), 5.0),
         (D("2024-06-10"), D("2024-01-01"), D("2024-01-31"), 7.0)],
        ["ts", "start", "end", "price"],
    )
    got = {
        r.id: r.price
        for r in asof_join(
            left, right, left_on="ts", right_on="start", by=["ts"],
            end_col="end", strategy="union",
        ).collect()
    }
    # id=1's interval contains its ts; id=2's carried interval ended before
    # its ts, so the match must be discarded (stale), not resurrected
    assert got == {1: 5.0, 2: None}, got


@pytest.mark.parametrize("strategy", ["broadcast", "union"])
def test_asof_forward(spark, strategy):
    """direction='forward': earliest right at/after left_on, inclusive on
    ties, NULL (or dropped on inner) when nothing follows."""
    left = spark.createDataFrame(
        [(1, D("2024-01-15")), (2, D("2024-03-02")), (3, D("2024-12-31"))],
        ["id", "ts"],
    )
    right = spark.createDataFrame(
        [(D("2024-01-15"), 10.0), (D("2024-02-01"), 20.0), (D("2024-06-01"), 30.0)],
        ["ts2", "v"],
    )
    got = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", strategy=strategy, direction="forward"
        ).collect()
    }
    assert got == {1: 10.0, 2: 30.0, 3: None}, f"{strategy}: {got}"

    inner = asof_join(
        left, right, "ts", "ts2", how="inner", strategy=strategy,
        direction="forward",
    )
    assert {r.id for r in inner.collect()} == {1, 2}


@pytest.mark.parametrize("strategy", ["broadcast", "union"])
def test_asof_forward_by_and_tolerance(spark, strategy):
    """Forward with by-keys and tolerance: matches newer than
    left_on + tolerance are discarded."""
    left = spark.createDataFrame(
        [(1, 1, D("2024-01-01")), (2, 1, D("2024-01-01")), (3, 2, D("2024-01-01"))],
        ["id", "k", "ts"],
    )
    left = left.filter(left.id != 2).union(left.filter(left.id == 2))  # stable
    right = spark.createDataFrame(
        [(1, D("2024-01-10"), 1.0), (2, D("2024-05-01"), 2.0)],
        ["k", "ts2", "v"],
    )
    got = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", by=["k"], strategy=strategy,
            direction="forward", tolerance="30 DAYS",
        ).collect()
    }
    # k=1 rows match the Jan 10 quote (within 30d); k=2's only quote is
    # 4 months out -> nulled by tolerance
    assert got == {1: 1.0, 2: 1.0, 3: None}, f"{strategy}: {got}"


def test_asof_forward_matches_pandas(spark):
    """Property: forward as-of equals pandas merge_asof(direction='forward')
    on a randomized fixture, both strategies."""
    import random

    import pandas as pd

    rng = random.Random(11)
    base = dt.datetime(2024, 1, 1)
    lrows = sorted(
        (base + dt.timedelta(minutes=rng.randrange(0, 50_000)),)
        for _ in range(300)
    )
    lpdf = pd.DataFrame({"ts": [r[0] for r in lrows]})
    lpdf["id"] = range(len(lpdf))
    rrows = sorted(
        (base + dt.timedelta(minutes=rng.randrange(0, 50_000)),)
        for _ in range(80)
    )
    rpdf = pd.DataFrame({"ts2": [r[0] for r in rrows]})
    rpdf["v"] = [float(i) for i in range(len(rpdf))]

    want = pd.merge_asof(
        lpdf.sort_values("ts"), rpdf.sort_values("ts2"),
        left_on="ts", right_on="ts2", direction="forward",
    ).set_index("id")["v"].to_dict()
    want = {k: (None if pd.isna(v) else v) for k, v in want.items()}

    ldf = spark.createDataFrame(lpdf[["id", "ts"]])
    rdf = spark.createDataFrame(rpdf[["ts2", "v"]])
    for strategy in ("broadcast", "union"):
        got = {
            r.id: r.v
            for r in asof_join(
                ldf, rdf, "ts", "ts2", strategy=strategy, direction="forward"
            ).collect()
        }
        assert got == want, strategy


# The two nearest strategies: broadcast (which requires bucket=) and union.
NEAREST_STRATEGIES = [{"strategy": "broadcast", "bucket": "day"}, {"strategy": "union"}]
nearest_strategies = pytest.mark.parametrize(
    "kw", NEAREST_STRATEGIES, ids=["broadcast", "union"]
)


@nearest_strategies
def test_asof_nearest(spark, kw):
    """direction='nearest': smallest absolute gap wins, ties go backward,
    symmetric tolerance nulls far matches."""
    left = spark.createDataFrame(
        [(1, D("2024-01-20")), (2, D("2024-01-28")), (3, D("2024-02-01")),
         (4, D("2023-01-01"))],
        ["id", "ts"],
    )
    right = spark.createDataFrame(
        [(D("2024-01-15"), 10.0), (D("2024-02-01"), 20.0)], ["ts2", "v"]
    )
    got = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", **kw, direction="nearest"
        ).collect()
    }
    # id=1: 5d back vs 12d fwd -> 10; id=2: 13d back vs 4d fwd -> 20;
    # id=3: exact tie at 0 gap -> backward (equal) row 20; id=4: only fwd
    assert got == {1: 10.0, 2: 20.0, 3: 20.0, 4: 10.0}, f"{kw}: {got}"

    tol = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", **kw, direction="nearest",
            tolerance="30 DAYS",
        ).collect()
    }
    assert tol == {1: 10.0, 2: 20.0, 3: 20.0, 4: None}, f"{kw}: {tol}"


def test_asof_nearest_matches_pandas(spark):
    """Property: nearest as-of equals pandas merge_asof(direction='nearest')
    on a randomized fixture with unique right keys, both strategies."""
    import random

    import pandas as pd

    rng = random.Random(23)
    base = dt.datetime(2024, 1, 1)
    lpdf = pd.DataFrame(
        {"ts": [base + dt.timedelta(minutes=rng.randrange(0, 50_000))
                for _ in range(300)]}
    ).sort_values("ts", ignore_index=True)
    lpdf["id"] = range(len(lpdf))
    rmins = rng.sample(range(0, 50_000), 80)  # unique right timestamps
    rpdf = pd.DataFrame(
        {"ts2": [base + dt.timedelta(minutes=m) for m in sorted(rmins)]}
    )
    rpdf["v"] = [float(i) for i in range(len(rpdf))]

    want = pd.merge_asof(
        lpdf, rpdf, left_on="ts", right_on="ts2", direction="nearest"
    ).set_index("id")["v"].to_dict()
    want = {k: (None if pd.isna(v) else v) for k, v in want.items()}

    ldf = spark.createDataFrame(lpdf[["id", "ts"]])
    rdf = spark.createDataFrame(rpdf[["ts2", "v"]])
    for kw in NEAREST_STRATEGIES:
        got = {
            r.id: r.v
            for r in asof_join(
                ldf, rdf, "ts", "ts2", **kw, direction="nearest"
            ).collect()
        }
        assert got == want, kw


@nearest_strategies
def test_asof_nearest_null_left_ts(spark, kw):
    """A NULL left event time must NOT fabricate a match (ADVICE r5 high):
    nearest is null-rejecting like backward/forward — pandas merge_asof
    refuses unsortable keys outright, so NULL ts ⇒ NULL right columns."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    left = spark.createDataFrame(
        [(1, D("2024-01-20")), (2, None), (3, D("2024-02-05"))], schema
    )
    right = spark.createDataFrame(
        [(D("2024-01-15"), 10.0), (D("2024-02-01"), 20.0)], ["ts2", "v"]
    )
    got = {
        r.id: (r.v, r.ts2)
        for r in asof_join(
            left, right, "ts", "ts2", **kw, direction="nearest"
        ).collect()
    }
    assert got == {
        1: (10.0, D("2024-01-15")),
        2: (None, None),
        3: (20.0, D("2024-02-01")),
    }, f"{kw}: {got}"
    # inner drops the NULL-ts row entirely
    inner = asof_join(
        left, right, "ts", "ts2", how="inner", **kw,
        direction="nearest",
    )
    assert {r.id for r in inner.collect()} == {1, 3}


@nearest_strategies
def test_asof_nearest_date_axis(spark, kw):
    """DATE-typed axes on BOTH sides must work (ADVICE r5 medium): the gap
    goes through cast('timestamp') → unix_micros, never CAST(DATE AS
    DOUBLE) which Spark forbids."""
    DD = dt.date.fromisoformat
    left = spark.createDataFrame(
        [(1, DD("2024-01-20")), (2, DD("2024-01-29")), (3, DD("2024-02-01"))],
        ["id", "ts"],
    )
    right = spark.createDataFrame(
        [(DD("2024-01-15"), 10.0), (DD("2024-02-01"), 20.0)], ["ts2", "v"]
    )
    got = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", **kw, direction="nearest"
        ).collect()
    }
    # id=1: 5d back vs 12d fwd; id=2: 14d back vs 3d fwd; id=3: 0-gap tie
    assert got == {1: 10.0, 2: 20.0, 3: 20.0}, f"{kw}: {got}"


@nearest_strategies
def test_asof_nearest_null_right_on(spark, kw):
    """Right rows with NULL right_on are never candidates (ADVICE r5 low):
    a left row whose only by-key partner has NULL right_on comes back fully
    NULL, not a half-match with payload but no timestamp."""
    from pyspark.sql import types as T

    left = spark.createDataFrame([(1, 1, D("2024-01-20"))], ["id", "k", "ts"])
    rschema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts2", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    right = spark.createDataFrame([(1, None, 99.0)], rschema)
    rows = asof_join(
        left, right, "ts", "ts2", by=["k"], **kw,
        direction="nearest",
    ).collect()
    assert len(rows) == 1
    assert rows[0].v is None and rows[0].ts2 is None, f"{kw}: {rows}"


def test_asof_nearest_exact_microsecond_tie(spark):
    """Exact-microsecond gaps must tie BACKWARD: long-microsecond gap math
    cannot round a true tie into a forward win (the double epoch-seconds
    bug class ADVICE r5 flagged)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame([(1, base)], ["id", "ts"])
    right = spark.createDataFrame(
        [(base - us, 1.0), (base + us, 2.0)], ["ts2", "v"]
    )
    for kw in NEAREST_STRATEGIES:
        got = {
            r.id: r.v
            for r in asof_join(
                left, right, "ts", "ts2", **kw,
                direction="nearest",
            ).collect()
        }
        assert got == {1: 1.0}, f"{kw}: {got}"


def test_asof_nearest_bucketed_matches_broadcast(spark):
    """The broadcast strategy's bucket= form for direction='nearest' (the
    hash join over midpoint covers) must agree with the union strategy,
    which is pinned to pandas, on a randomized by-keyed fixture."""
    import random

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    lrows = [
        (i, i % 3, base + dt.timedelta(minutes=rng.randrange(0, 40_000)))
        for i in range(200)
    ]
    rrows = [
        (m % 3, base + dt.timedelta(minutes=m), float(m))
        for m in rng.sample(range(0, 40_000), 60)
    ]
    left = spark.createDataFrame(lrows, ["id", "k", "ts"])
    right = spark.createDataFrame(rrows, ["k", "ts2", "v"])

    def run(**kw):
        return {
            r.id: (r.v, r.ts2)
            for r in asof_join(
                left, right, "ts", "ts2", by=["k"], direction="nearest", **kw
            ).collect()
        }

    want = run(strategy="union")
    assert run(strategy="broadcast", bucket="day") == want
    assert run(strategy="broadcast", bucket="month") == want

    # Explicit (lower, upper) horizon — same contract shape as backward's.
    bounds = left.select(F.min("ts"), F.max("ts"))
    assert run(strategy="broadcast", bucket="day", horizon=bounds) == want

    # Plan shape: the PROBE join is a codegen'd BroadcastHashJoin. (The
    # only nested-loop join allowed is the 1-row bounds crossJoin inside
    # the cover build — a Cross with a single-row build side.)
    plan = (
        asof_join(
            left, right, "ts", "ts2", by=["k"], direction="nearest",
            strategy="broadcast", bucket="day",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert ", Cross" in line, f"non-cross BNLJ in plan: {line}"


def test_asof_nearest_bucketed_semantics(spark):
    """Bucketed nearest honors every nearest contract: backward ties
    (including exact-microsecond), symmetric tolerance, inner, and
    out-of-range rows matching the first/last cover."""
    us = dt.timedelta(microseconds=1)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, D("2024-01-20")), (2, D("2024-01-28")), (3, D("2024-02-01")),
         (4, D("2023-01-01")), (5, base)],
        ["id", "ts"],
    )
    right = spark.createDataFrame(
        [(D("2024-01-15"), 10.0), (D("2024-02-01"), 20.0),
         (base - us, 1.0), (base + us, 2.0)],
        ["ts2", "v"],
    )
    got = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", strategy="broadcast", bucket="day",
            direction="nearest",
        ).collect()
    }
    # id=3: zero-gap tie -> the equal (backward) row; id=4: far before the
    # first quote -> first cover; id=5: exact-µs tie -> backward row.
    assert got == {1: 10.0, 2: 20.0, 3: 20.0, 4: 1.0, 5: 1.0}, got

    tol = {
        r.id: r.v
        for r in asof_join(
            left, right, "ts", "ts2", strategy="broadcast", bucket="day",
            direction="nearest", tolerance="30 DAYS",
        ).collect()
    }
    assert tol[4] is None and tol[1] == 10.0, tol
    inner = asof_join(
        left, right, "ts", "ts2", how="inner", strategy="broadcast",
        bucket="day", direction="nearest", tolerance="30 DAYS",
    )
    assert {r.id for r in inner.collect()} == {1, 2, 3, 5}


def test_asof_union_keys_only_fast_path(spark):
    """A payload-free right side (by-keys + event time only) takes the
    single-carry union path: same answers as the broadcast strategy, one
    Window, no marker struct in the plan."""
    left = spark.createDataFrame(
        [(1, 1, D("2024-01-20")), (2, 1, D("2024-01-01")), (3, 2, D("2024-03-01"))],
        ["id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(1, D("2024-01-10")), (1, D("2024-01-15")), (2, D("2024-02-01"))],
        ["k", "ts2"],
    )
    want = {
        r.id: r.ts2
        for r in asof_join(
            left, right, "ts", "ts2", by=["k"], strategy="broadcast"
        ).collect()
    }
    got_df = asof_join(left, right, "ts", "ts2", by=["k"], strategy="union")
    # plan BEFORE executing: post-execution AQE toString appends the
    # initial plan as a second section, double-counting operators
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    got = {r.id: r.ts2 for r in got_df.collect()}
    assert got == want == {
        1: D("2024-01-15"),
        2: None,
        3: D("2024-02-01"),
    }, got
    n_windows = sum(
        1 for line in plan.splitlines() if line.lstrip("+- :").startswith("Window ")
    )
    assert n_windows == 1, f"expected exactly 1 Window, saw {n_windows}"
    assert "__asof_r#" not in plan, "keys-only path must not build the marker struct"

    # inner drops the unmatched row
    inner = asof_join(
        left, right, "ts", "ts2", by=["k"], how="inner", strategy="union"
    )
    assert {r.id for r in inner.collect()} == {1, 3}


@pytest.mark.parametrize("payload", [False, True])
def test_asof_union_date_left_keeps_date_type(spark, payload):
    """DATE left axis + TIMESTAMP right axis (ADVICE r6 low): the union
    strategies rebuild left_on from the widened __asof_ts column, which
    silently changed its type to timestamp vs the broadcast strategy on the
    same inputs. The union strategy must restore it with and without a
    right payload."""
    DD = dt.date.fromisoformat
    left = spark.createDataFrame(
        [(1, 1, DD("2024-01-20")), (2, 1, DD("2024-01-01"))], ["id", "k", "d"]
    )
    rrows = (
        [(1, D("2024-01-10T06:00:00"), 9.5)] if payload
        else [(1, D("2024-01-10T06:00:00"))]
    )
    right = spark.createDataFrame(
        rrows, ["k", "ts2", "px"] if payload else ["k", "ts2"]
    )
    for strategy in ("broadcast", "union"):
        out = asof_join(left, right, "d", "ts2", by=["k"], strategy=strategy)
        assert dict(out.dtypes)["d"] == "date", (
            f"{strategy} payload={payload}: left_on must stay DATE, "
            f"got {dict(out.dtypes)['d']}"
        )
        rows = {r.id: r.d for r in out.collect()}
        assert rows == {1: DD("2024-01-20"), 2: DD("2024-01-01")}


def test_asof_expired_latest_masks_older_cover(spark):
    """Reference semantics with OVERLAPPING intervals (review r8): the
    LATEST-started interval wins even when expired — it masks an older
    still-covering one, exactly like pandas merge_asof + end post-filter.
    broadcast and union must agree."""
    left = spark.createDataFrame([(1, D("2024-10-01"))], ["id", "ts"])
    right = spark.createDataFrame(
        [
            (D("2024-01-01"), None, 1.0),              # open, older
            (D("2024-05-01"), D("2024-06-01"), 2.0),   # latest start, expired
        ],
        ["start", "end", "price"],
    )
    import pandas as pd

    want = pd.merge_asof(
        left.toPandas().sort_values("ts"),
        right.toPandas().sort_values("start"),
        left_on="ts",
        right_on="start",
    )
    masked = want.loc[0, "end"] is not None and want.loc[0, "ts"] > want.loc[0, "end"]
    assert masked  # pandas picks the expired latest -> post-filter nulls it

    for strategy in ("broadcast", "union"):
        got = {
            r.id: r.price
            for r in asof_join(
                left, right, "ts", "start", end_col="end", strategy=strategy
            ).collect()
        }
        assert got == {1: None}, strategy
    # inner drops the masked row entirely
    assert (
        asof_join(
            left, right, "ts", "start", end_col="end", how="inner"
        ).count()
        == 0
    )
