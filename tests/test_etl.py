"""ETL source and sink tests: the JDBC source, CSV quarantine splits,
the versioned and snapshot sinks, MERGE, and the composed refresh
pipeline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.sources.io import split_csv_quarantine


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    """S1 runtime proof: write → read (query pushdown) → read (partitioned
    scan) through a REAL JDBC engine — the Derby embedded driver that ships
    on Spark's own classpath for the Hive metastore. Covers the
    query-vs-partitionColumn API contract (dbtable subquery alias) end to
    end, not just its option plumbing."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.sources.io import read_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(100).selectExpr("id", "id * 2 AS val")
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t1")
        .option("driver", props["driver"])
        .mode("overwrite")
        .save()
    )

    # Query pushdown: the filter executes inside Derby.
    back = read_jdbc(
        spark, url, 'SELECT "id", "val" FROM t1 WHERE "id" >= 10', properties=props
    )
    assert back.count() == 90

    # Partitioned parallel scan: 4 executor-side range slices, exact data.
    part = read_jdbc(
        spark,
        url,
        'SELECT "id", "val" FROM t1',
        properties=props,
        partition_column='"id"',
        num_partitions=4,
        lower_bound=0,
        upper_bound=100,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    assert part.agg(F.sum("val")).first()[0] == 9900


def test_read_csv_quarantine_splits_clean_and_malformed(spark, tmp_path):
    """Malformed lines (bad arity, uncastable values) land in the
    quarantine with their raw text; clean rows parse fully typed; header
    lines are dropped; nothing is silently nulled or lost."""
    from pyspark.sql import types as T

    path = str(tmp_path / "feed.csv")
    lines = [
        "id,qty,label",
        "1,10,alpha",
        "2,notanumber,beta",  # uncastable qty -> quarantine
        "3,30,gamma",
        "4,40",               # short arity -> quarantine
        "",                   # blank line -> quarantine (never an all-null clean row)
        "5,50,epsilon",
        "6,60,zeta,extra",    # long arity -> quarantine
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("label", T.StringType()),
        ]
    )
    clean, quarantined = split_csv_quarantine(spark.read.text(path), schema)
    got = {(r.id, r.qty, r.label) for r in clean.collect()}
    assert got == {(1, 10, "alpha"), (3, 30, "gamma"), (5, 50, "epsilon")}
    bad = {r.raw_line for r in quarantined.collect()}
    assert bad == {"2,notanumber,beta", "4,40", "", "6,60,zeta,extra"}
    # conservation: every non-header input line lands in exactly one channel
    assert clean.count() + quarantined.count() == len(lines) - 1

    # all-string schema + header=True is refused (a data row equal to the
    # header would be silently deleted — the ambiguity is an error, not a
    # silent policy)
    all_str = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("label", T.StringType())]
    )
    with pytest.raises(ValueError, match="all-string schema"):
        split_csv_quarantine(spark.read.text(path), all_str)

    # reserved-word / spaced field names survive the DDL round trip
    odd = T.StructType(
        [T.StructField("from", T.LongType()), T.StructField("order count", T.LongType())]
    )
    odd_path = str(tmp_path / "odd.csv")
    with open(odd_path, "w") as f:
        f.write("from,order count\n7,70\nx,y\n")
    oc, oq = split_csv_quarantine(spark.read.text(odd_path), odd)
    assert [(r["from"], r["order count"]) for r in oc.collect()] == [(7, 70)]
    assert oq.count() == 1


def test_versioned_table_lifecycle(spark, tmp_path):
    """Versioned sink: atomic publish, time travel, rollback, vacuum —
    and an orphan (uncommitted) directory is never visible."""
    from data_warehouse_product_mix_clustering_spark.sources.versioned import (
        read_table,
        rollback,
        vacuum,
        versions,
        write_version,
    )

    d = str(tmp_path / "tbl")
    v0 = write_version(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), d)
    v1 = write_version(spark.createDataFrame([(1, "a2"), (3, "c")], ["id", "v"]), d)
    assert (v0, v1) == (0, 1) and versions(d) == [0, 1]

    assert {tuple(r) for r in read_table(spark, d).collect()} == {(1, "a2"), (3, "c")}
    assert {tuple(r) for r in read_table(spark, d, 0).collect()} == {(1, "a"), (2, "b")}

    rollback(d, 0)
    assert {tuple(r) for r in read_table(spark, d).collect()} == {(1, "a"), (2, "b")}
    with pytest.raises(ValueError):
        rollback(d, 99)

    # a crashed write = orphan v-dir with no marker move: never visible
    import os

    os.makedirs(os.path.join(d, "v=7"))
    assert versions(d) == [0, 1]
    # next write skips past the orphan rather than colliding with it
    v_next = write_version(spark.createDataFrame([(9, "z")], ["id", "v"]), d)
    assert v_next == 8

    deleted = vacuum(d, keep_last=1)
    assert 8 not in deleted and versions(d) == [8]
    # the orphan survives a normal vacuum and dies only on opt-in reclaim
    assert os.path.isdir(os.path.join(d, "v=7"))
    vacuum(d, keep_last=1, reclaim_orphans=True)
    assert not os.path.isdir(os.path.join(d, "v=7"))
    assert versions(d) == [8]


def test_version_diff_classifies_changes(spark, tmp_path):
    from data_warehouse_product_mix_clustering_spark.sources.versioned import (
        version_diff,
        write_version,
    )

    d = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, None, 30)], "id long, v string, x long"
        ),
        d,
    )
    write_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b2", 20), (3, "now", 30), (4, "d", 40)],
            "id long, v string, x long",
        ),
        d,
    )
    got = {
        r.id: r.change_type
        for r in version_diff(spark, d, 0, 1, key=["id"]).collect()
    }
    # id 1 unchanged -> absent; 2 changed; 3 NULL->value must be 'changed'
    # (the eqNullSafe discipline); 4 added. Nothing removed here.
    assert got == {2: "changed", 3: "changed", 4: "added"}

    # and a removal: diff in the reverse direction sees 4 vanish
    rev = {
        r.id: r.change_type
        for r in version_diff(spark, d, 1, 0, key=["id"]).collect()
    }
    assert rev[4] == "removed"


def test_incremental_agg_matches_full_recompute(spark, tmp_path):
    """Applying the CDC diff to a materialized SUM/COUNT rollup must equal
    a full recompute on the new version — including rows that MOVE between
    groups, group births, group deaths, and NULL group keys."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.incremental_agg import apply_agg_delta
    from data_warehouse_product_mix_clustering_spark.sources.versioned import (
        version_diff,
        write_version,
    )

    d = str(tmp_path / "tbl")
    v0_rows = [
        (1, "g1", 10.0), (2, "g1", 20.0), (3, "g2", 30.0),
        (4, "g3", 40.0),                      # group g3 will die
        (5, None, 5.0),                       # NULL group key
    ]
    v1_rows = [
        (1, "g1", 11.0),                      # value change, same group
        (2, "g2", 20.0),                      # MOVES g1 -> g2
        (3, "g2", 30.0),                      # unchanged
        (5, None, 6.0),                       # NULL-group value change
        (6, "g4", 60.0),                      # group g4 is born
    ]
    schema = "id long, grp string, amount double"
    write_version(spark.createDataFrame(v0_rows, schema), d)
    write_version(spark.createDataFrame(v1_rows, schema), d)

    def rollup(df):
        return df.groupBy("grp").agg(
            F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n")
        )

    old_agg = rollup(spark.createDataFrame(v0_rows, schema))
    diff = version_diff(spark, d, 0, 1, key=["id"])
    got = {
        r.grp: (r.total, r.n)
        for r in apply_agg_delta(
            old_agg, diff, ["grp"], {"total": "amount"}, count_col="n"
        ).collect()
    }
    want = {
        r.grp: (r.total, r.n)
        for r in rollup(spark.createDataFrame(v1_rows, schema)).collect()
    }
    assert got == want, f"{got} != {want}"
    assert "g3" not in got and "g4" in got and None in got


def test_version_diff_null_keys_and_preconditions(spark, tmp_path):
    """NULL-keyed rows must match themselves across versions (no phantom
    removed+added churn); duplicate keys and type drift fail fast."""
    from data_warehouse_product_mix_clustering_spark.sources.versioned import (
        version_diff,
        write_version,
    )

    d = str(tmp_path / "tbl")
    write_version(
        spark.createDataFrame(
            [(None, "same", 1), (1, "x", 1)], "id long, v string, x long"
        ),
        d,
    )
    write_version(
        spark.createDataFrame(
            [(None, "edited", 1), (1, "x", 1)], "id long, v string, x long"
        ),
        d,
    )
    got = {r.id: r.change_type for r in version_diff(spark, d, 0, 1, ["id"]).collect()}
    # the NULL key matched itself -> ONE 'changed' row, nothing else
    assert got == {None: "changed"}

    # duplicate key -> fail fast, not a silent cross product
    d2 = str(tmp_path / "dup")
    write_version(
        spark.createDataFrame([(1, "a", 0), (1, "b", 0)], "id long, v string, x long"), d2
    )
    write_version(
        spark.createDataFrame([(1, "a", 0)], "id long, v string, x long"), d2
    )
    with pytest.raises(ValueError, match="not unique"):
        version_diff(spark, d2, 0, 1, ["id"])

    # same names, different type -> clear drift error, not struct confusion
    d3 = str(tmp_path / "drift")
    write_version(spark.createDataFrame([(1, 10)], "id long, x long"), d3)
    write_version(spark.createDataFrame([(1, 10.0)], "id long, x double"), d3)
    with pytest.raises(ValueError, match="names AND types"):
        version_diff(spark, d3, 0, 1, ["id"])

    # key-only table refused
    d4 = str(tmp_path / "keyonly")
    write_version(spark.createDataFrame([(1,)], "id long"), d4)
    write_version(spark.createDataFrame([(2,)], "id long"), d4)
    with pytest.raises(ValueError, match="key covers every column"):
        version_diff(spark, d4, 0, 1, ["id"])


def test_refresh_pipeline_end_to_end(spark, tmp_path):
    """The composed refresh: dirty landing feed → quarantine → versioned
    publish → CDC diff → incrementally maintained rollup. Three runs:
    initial build, an upsert+insert batch, and a no-new-data run."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table
    from data_warehouse_product_mix_clustering_spark.streaming.quarantine import read_sink

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
    )

    (land / "a.csv").write_text("id,grp,amount\n1,g1,10.0\n2,g1,20.0\n3,g2,30.0\nbad,row\n")
    r1 = refresh_warehouse(**args)
    assert r1["changes"] == -1  # initial full build
    agg1 = {r.grp: (r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()}
    assert agg1 == {"g1": (30.0, 2), "g2": (30.0, 1)}
    assert read_sink(spark, f"{work}/quarantine").count() == 1  # 'bad,row'

    # batch 2: id=2 moves g1->g2 (upsert), id=4 is new
    (land / "b.csv").write_text("id,grp,amount\n2,g2,25.0\n4,g3,40.0\n")
    r2 = refresh_warehouse(**args)
    assert r2["version"] == r1["version"] + 1
    assert r2["changes"] == 2  # one changed, one added
    agg2 = {r.grp: (r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()}
    assert agg2 == {"g1": (10.0, 1), "g2": (55.0, 2), "g3": (40.0, 1)}
    # the maintained rollup equals a full recompute of the published table
    full = {
        r.grp: (r.total, r.n)
        for r in read_table(spark, f"{work}/table")
        .groupBy("grp")
        .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert agg2 == full

    # run 3: nothing landed -> a new version publishes with zero changes
    r3 = refresh_warehouse(**args)
    assert r3["changes"] == 0
    agg3 = {r.grp: (r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()}
    assert agg3 == agg2


def test_refresh_pipeline_watermark_crash_recovery(spark, tmp_path):
    """A stale ingest watermark (crash between publish and watermark
    write) must make the next run idempotent — re-included batches tie
    out against the baseline and the diff is empty."""
    import os

    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
    )
    (land / "a.csv").write_text("id,grp,amount\n1,g1,10.0\n")
    refresh_warehouse(**args)
    (land / "b.csv").write_text("id,grp,amount\n1,g1,11.0\n")
    refresh_warehouse(**args)

    # simulate the crash: roll the watermark back to pre-b state
    os.remove(os.path.join(work, "_ingest_watermark"))
    r = refresh_warehouse(**args)
    assert r["changes"] == 0, "stale watermark re-applied already-published rows"


def test_refresh_pipeline_rejects_key_overlap(spark, tmp_path):
    """group_keys / measure sources overlapping the upsert key are refused
    up front with a named constraint — not a first-refresh-works,
    second-refresh-dies unresolved-field error (ADVICE r7)."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse

    land = tmp_path / "landing"
    land.mkdir()
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    base = dict(
        spark=spark, landing_dir=str(land), work_dir=str(tmp_path / "w"),
        schema=schema,
    )
    with pytest.raises(ValueError, match="disjoint from key.*'id'"):
        refresh_warehouse(
            **base, key=["id"], group_keys=["id"], measures={"total": "amount"}
        )
    with pytest.raises(ValueError, match="disjoint from key.*'id'"):
        refresh_warehouse(
            **base, key=["id", "grp"], group_keys=["grp2"], measures={"s": "id"}
        )


def test_refresh_pipeline_empty_landing_noop(spark, tmp_path):
    """A first run over an empty landing directory — or one whose every
    line quarantines — no-ops (version -1, zero changes) instead of
    crashing on the absent/uninferable clean sink; a later real batch
    then builds v0 normally (ADVICE r7)."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
    )
    # empty landing: nothing to ingest, nothing published
    r0 = refresh_warehouse(**args)
    assert r0 == {"version": -1, "agg_version": -1, "changes": 0}

    # every line quarantines: still a no-op, evidence kept
    (land / "a.csv").write_text("id,grp,amount\nbad,row\n")
    r1 = refresh_warehouse(**args)
    assert r1 == {"version": -1, "agg_version": -1, "changes": 0}

    # a real batch finally lands: v0 builds as usual
    (land / "b.csv").write_text("id,grp,amount\n1,g1,10.0\n")
    r2 = refresh_warehouse(**args)
    assert (r2["version"], r2["changes"]) == (0, -1)
    assert {(r.grp, r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()} == {
        ("g1", 10.0, 1)
    }


def test_refresh_pipeline_corrupt_clean_sink_raises(spark, tmp_path, monkeypatch):
    """The empty-landing no-op is scoped to PATH_NOT_FOUND /
    UNABLE_TO_INFER_SCHEMA only: any OTHER analysis failure on the clean
    sink (e.g. conflicting schemas = corruption) must fail the refresh,
    not report changes=0 (ADVICE r8)."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T
    from pyspark.sql.readwriter import DataFrameReader

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse

    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.csv").write_text("id,grp,amount\n1,g1,10.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    orig = DataFrameReader.parquet

    def corrupt_clean(self, *paths, **kw):
        if any(str(p).rstrip("/").endswith("clean") for p in paths):
            raise AnalysisException("conflicting schemas in clean sink")
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", corrupt_clean)
    with pytest.raises(AnalysisException, match="conflicting schemas"):
        refresh_warehouse(
            spark=spark, landing_dir=str(land), work_dir=str(tmp_path / "work"),
            schema=schema, key=["id"], group_keys=["grp"],
            measures={"total": "amount"},
        )


def test_refresh_pipeline_integer_measure_schema_stable(spark, tmp_path):
    """An integer (Long) measure keeps ONE rollup schema across versions:
    the initial full build casts its sums to double, matching the
    double arithmetic the incremental maintainer uses — so the rollup's
    own version history never drifts long→double (ADVICE r7)."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.sources.versioned import (
        read_table,
        version_diff,
    )

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("qty", T.LongType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"qty_sum": "qty"},
    )
    (land / "a.csv").write_text("id,grp,qty\n1,g1,10\n2,g2,5\n")
    refresh_warehouse(**args)
    v0_type = dict(read_table(spark, f"{work}/agg", 0).dtypes)["qty_sum"]
    assert v0_type == "double"

    (land / "b.csv").write_text("id,grp,qty\n2,g2,7\n3,g1,1\n")
    refresh_warehouse(**args)
    v1_type = dict(read_table(spark, f"{work}/agg", 1).dtypes)["qty_sum"]
    assert v1_type == "double"
    # the rollup's own history is diffable (schema-drift guard stays quiet)
    d = version_diff(spark, f"{work}/agg", 0, 1, key=["grp"])
    assert d.count() == 2  # g1: new id=3 (10→11); g2: id=2 upserted (5→7)
    got = {(r.grp, r.qty_sum) for r in read_table(spark, f"{work}/agg").collect()}
    assert got == {("g1", 11.0), ("g2", 7.0)}


def test_csv_quarantine_midfile_header_conserved(spark, tmp_path):
    """A header-equal line in the MIDDLE of a file is not silently
    deleted: exactly one header per file is dropped, the imposter lands
    in quarantine, and clean+quarantined == lines-1 for the whole file,
    not just line 1 (ADVICE r7)."""
    from pyspark.sql import types as T

    path = str(tmp_path / "feed.csv")
    lines = [
        "id,qty,label",
        "1,10,alpha",
        "id,qty,label",  # concatenated-shard header: quarantine, not deletion
        "2,20,beta",
        "id,qty,label",  # and again
        "3,30,gamma",
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("label", T.StringType()),
        ]
    )
    clean, quarantined = split_csv_quarantine(spark.read.text(path), schema)
    assert {(r.id, r.qty, r.label) for r in clean.collect()} == {
        (1, 10, "alpha"), (2, 20, "beta"), (3, 30, "gamma")
    }
    assert [r.raw_line for r in quarantined.collect()] == [
        "id,qty,label", "id,qty,label"
    ]
    # conservation over the WHOLE file: one dropped header, all else kept
    assert clean.count() + quarantined.count() == len(lines) - 1

    # two files: each file's own header is dropped independently
    path2 = str(tmp_path / "feed2.csv")
    with open(path2, "w") as f:
        f.write("id,qty,label\n4,40,delta\n")
    clean2, quar2 = split_csv_quarantine(spark.read.text(str(tmp_path / "feed*.csv")), schema)
    assert clean2.count() == 4
    assert quar2.count() == 2


def test_merge_into_three_clauses(spark):
    """MERGE semantics row by row: matched+delete-cond rows vanish,
    matched rows update (explicit or update-all), unmatched-target rows
    pass through untouched, unmatched-source rows insert (with NULL for
    target-only columns), and a NULL key matches null-safely."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (None, "n", 5.0)],
        "id long, tag string, amt double",
    )
    source = spark.createDataFrame(
        [(2, "B", 200.0), (3, "C", 300.0), (4, "d", 40.0), (None, "N", 50.0)],
        "id long, tag string, amt double",
    )
    out = merge_into(
        target, source, ["id"],
        delete_condition=F.col("s.tag") == "C",  # deletes id=3
    )
    got = {r.id: (r.tag, r.amt) for r in out.collect()}
    assert got == {
        1: ("a", 10.0),        # untouched
        2: ("B", 200.0),       # updated (update-all default)
        4: ("d", 40.0),        # inserted
        None: ("N", 50.0),     # NULL key matched null-safely and updated
    }

    # explicit update_set referencing both sides; no inserts
    out2 = merge_into(
        target, source, ["id"],
        update_set={"amt": F.col("t.amt") + F.col("s.amt")},
        insert_unmatched=False,
    )
    got2 = {r.id: (r.tag, r.amt) for r in out2.collect()}
    assert got2 == {
        1: ("a", 10.0),
        2: ("b", 220.0),       # tag NOT updated, amt summed
        3: ("c", 330.0),
        None: ("n", 55.0),
    }

    # source missing a target column -> inserted rows get NULL there
    slim = spark.createDataFrame([(9, 90.0)], "id long, amt double")
    got3 = {r.id: (r.tag, r.amt) for r in merge_into(target, slim, ["id"]).collect()}
    assert got3[9] == (None, 90.0)


def test_merge_into_rejects_bad_inputs(spark):
    """Duplicate source keys fail IN-PLAN (the ANSI precondition), and
    malformed column specs fail fast at build time."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    from data_warehouse_product_mix_clustering_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, 10.0)], "id long, amt double")
    dup_src = spark.createDataFrame([(1, 1.0), (1, 2.0)], "id long, amt double")
    with pytest.raises(SparkRuntimeException, match="duplicate rows"):
        merge_into(target, dup_src, ["id"]).collect()

    with pytest.raises(ValueError, match="key must be non-empty"):
        merge_into(target, target, [])
    with pytest.raises(ValueError, match="missing from source or target"):
        merge_into(target, target, ["nope"])
    extra_src = spark.createDataFrame([(1, 1.0, "x")], "id long, amt double, z string")
    with pytest.raises(ValueError, match="absent from target"):
        merge_into(target, extra_src, ["id"])
    with pytest.raises(ValueError, match="key/unknown"):
        merge_into(target, target, ["id"], update_set={"id": F.lit(0)})


def test_merge_into_dup_guard_survives_empty_update_set(spark):
    """The duplicate-source-key assert must fire even when NO column
    routes through an update expression (update_set={}, delete-only
    merges) — otherwise the full-outer join silently fans the matched
    target row out once per duplicate (review r8)."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, 10.0)], "id long, amt double")
    dup_src = spark.createDataFrame([(1, 1.0), (1, 2.0)], "id long, amt double")
    with pytest.raises(SparkRuntimeException, match="duplicate rows"):
        merge_into(
            target, dup_src, ["id"], update_set={}, insert_unmatched=False
        ).collect()
    with pytest.raises(SparkRuntimeException, match="duplicate rows"):
        merge_into(
            target, dup_src, ["id"],
            update_set={}, delete_condition=F.col("s.amt") > 100,
        ).collect()
    # ADVICE r8: when EVERY duplicate copy satisfies the delete condition,
    # the deleted rows never reach the guarded projection — the assert
    # must ride the delete predicate itself, not silently delete.
    with pytest.raises(SparkRuntimeException, match="duplicate rows"):
        merge_into(
            target, dup_src, ["id"],
            update_set={}, delete_condition=F.col("s.amt") < 100,
        ).collect()
    # and a legitimate single-row delete still works through the guarded
    # predicate (no false positive, unmatched rows never evaluate it)
    single = spark.createDataFrame([(1, 1.0)], "id long, amt double")
    tgt2 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amt double")
    left = merge_into(
        tgt2, single, ["id"],
        update_set={}, delete_condition=F.col("s.amt") < 100,
        insert_unmatched=False,
    ).collect()
    assert {r.id for r in left} == {2}


def test_refresh_pipeline_tombstone_deletes(spark, tmp_path):
    """The soft-delete extension: a landed tombstone removes its key from
    the published state, the diff reports it as removed, the rollup
    group shrinks (and dies when its last row goes), re-deleting an
    absent key is a no-op, and the flag is validated as marker-only."""
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("dead", T.BooleanType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
        tombstone_col="dead",
    )
    (land / "a.csv").write_text(
        "id,grp,amount,dead\n1,g1,10.0,false\n2,g1,20.0,false\n3,g2,30.0,false\n"
    )
    refresh_warehouse(**args)
    # delete id=2; delete the WHOLE g2 group (id=3); re-delete absent id=9
    (land / "b.csv").write_text("id,grp,amount,dead\n2,,,true\n3,,,true\n9,,,true\n")
    r2 = refresh_warehouse(**args)
    assert r2["changes"] == 2  # id=9 never existed -> not a change
    state = {(r.id, r.grp, r.amount) for r in read_table(spark, f"{work}/table").collect()}
    assert state == {(1, "g1", 10.0)}
    agg = {r.grp: (r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()}
    assert agg == {"g1": (10.0, 1)}  # g2 died with its last row

    with pytest.raises(ValueError, match="marker-only|must not be"):
        refresh_warehouse(
            spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
            key=["id"], group_keys=["dead"], measures={"total": "amount"},
            tombstone_col="dead",
        )
    with pytest.raises(ValueError, match="not in schema"):
        refresh_warehouse(
            spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
            key=["id"], group_keys=["grp"], measures={"total": "amount"},
            tombstone_col="nope",
        )


def test_merge_update_only_broadcasts_source(spark):
    """insert_unmatched=False downgrades the merge to a LEFT join so a
    dimension-sized source broadcasts — full-outer (required for insert
    detection) can only sort-merge, so the common maintenance case must
    not pay that shuffle."""
    from data_warehouse_product_mix_clustering_spark.operators.merge import merge_into

    t = spark.range(1000).selectExpr("id", "cast(id as double) as amt")
    s = spark.range(10).selectExpr("id", "cast(id*2 as double) as amt")
    plan_upd = (
        merge_into(t, s, ["id"], insert_unmatched=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_upd and "FullOuter" not in plan_upd
    # delete-only merges keep the broadcast too — the guarded delete
    # predicate (ADVICE r8) must not force the join shape back to
    # sort-merge (VERDICT r8 Next #6)
    from pyspark.sql import functions as F

    plan_del = (
        merge_into(
            t, s, ["id"], update_set={},
            delete_condition=F.col("s.amt") > 1e9,
            insert_unmatched=False,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_del and "FullOuter" not in plan_del
    plan_full = (
        merge_into(t, s, ["id"])._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in plan_full  # insert detection needs both sides


def test_snapshot_store_contract(spark, tmp_path):
    """sources/snapshot.py edge contract: empty store errors, unsafe
    table names rejected, absent-table/absent-snapshot lookups raise,
    rollback validates, and per-table _LATEST is bypassed by readers."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.sources.snapshot import (
        current_snapshot,
        publish_snapshot,
        read_snapshot_table,
        rollback_snapshot,
        snapshot_manifest,
        snapshots,
    )

    store = str(tmp_path / "store")
    assert snapshots(store) == [] and current_snapshot(store) is None
    with pytest.raises(LookupError, match="no snapshot"):
        snapshot_manifest(store)
    with pytest.raises(ValueError, match="at least one"):
        publish_snapshot(store, {})
    with pytest.raises(ValueError, match="filesystem-safe"):
        publish_snapshot(store, {"../evil": spark.range(1)})

    publish_snapshot(store, {"t": spark.range(3)})
    assert read_snapshot_table(spark, store, "t").count() == 3
    with pytest.raises(LookupError, match="not in snapshot"):
        read_snapshot_table(spark, store, "other")
    with pytest.raises(LookupError, match="does not exist"):
        snapshot_manifest(store, 9)
    with pytest.raises(ValueError, match="does not exist"):
        rollback_snapshot(store, 9)

    publish_snapshot(store, {"t": spark.range(5)})
    assert [
        read_snapshot_table(spark, store, "t", s).count() for s in snapshots(store)
    ] == [3, 5]

    # publish after rollback BRANCHES FORWARD: snapshot 1's manifest is
    # never overwritten (review r9 — ids allocate past the highest
    # existing snapshot, not current+1)
    rollback_snapshot(store, 0)
    s2 = publish_snapshot(store, {"t": spark.range(7)})
    assert s2 == 2 and snapshots(store) == [0, 1, 2]
    assert [
        read_snapshot_table(spark, store, "t", s).count() for s in snapshots(store)
    ] == [3, 5, 7]

    # reserved store names are rejected before any data lands
    with pytest.raises(ValueError, match="reserved"):
        publish_snapshot(store, {"_snapshots": spark.range(1)})
    with pytest.raises(ValueError, match="reserved"):
        publish_snapshot(store, {"_SNAPSHOT": spark.range(1)})


def test_snapshot_vacuum_is_manifest_aware(spark, tmp_path):
    '''vacuum_snapshots keeps every version a kept manifest references,
    including the CURRENT snapshot after a rollback and carried-forward
    versions, and drops the rest plus their manifests (review r9: the
    per-table vacuum would delete manifest-referenced versions).'''
    import os

    from data_warehouse_product_mix_clustering_spark.sources.snapshot import (
        publish_snapshot,
        read_snapshot_table,
        rollback_snapshot,
        snapshots,
        vacuum_snapshots,
    )

    store = str(tmp_path / "store")
    publish_snapshot(store, {"t": spark.range(3), "u": spark.range(2)})   # s0
    publish_snapshot(store, {"t": spark.range(5)})                        # s1: u carries
    publish_snapshot(store, {"t": spark.range(7)})                        # s2
    publish_snapshot(store, {"t": spark.range(9)})                        # s3
    rollback_snapshot(store, 1)

    # a crashed publish of a brand-new table: data landed, no manifest
    # ever named it — must still be reclaimable (review r9)
    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_version

    write_version(spark.range(4), str(tmp_path / "store" / "orphan_tbl"))

    res = vacuum_snapshots(store, keep_last=2)
    # kept: s2, s3 (last 2) + s1 (current). dropped: s0. deleted: t's v0
    # + the orphan table's v0.
    assert res == {"snapshots_dropped": 1, "versions_deleted": 2}
    assert not os.path.isdir(os.path.join(store, "orphan_tbl", "v=0"))
    assert snapshots(store) == [1, 2, 3]
    assert read_snapshot_table(spark, store, "t").count() == 5   # current = s1
    assert read_snapshot_table(spark, store, "u").count() == 2   # carried v0 kept
    assert read_snapshot_table(spark, store, "t", 3).count() == 9
    assert not os.path.isdir(os.path.join(store, "t", "v=0"))


def test_refresh_pipeline_crash_between_table_and_rollup_heals(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER the table publish but BEFORE the rollup publish must
    not lose that run's delta: the next (successful) refresh maintains
    the rollup from the table version the rollup actually reflects (the
    basis sidecar), so the missed changes apply then. A prior[-1]-based
    delta would see an empty diff (re-ingested batches are idempotent)
    and leave the rollup stale forever."""
    from pyspark.sql import types as T

    import data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline as rp
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
    )
    (land / "a.csv").write_text("id,grp,amount\n1,g1,10.0\n2,g2,5.0\n")
    rp.refresh_warehouse(**args)

    # batch 2 lands; the run CRASHES right after the table publish
    (land / "b.csv").write_text("id,grp,amount\n1,g1,100.0\n3,g1,7.0\n")
    orig = rp.write_version

    def crash_on_agg(df, table_dir):
        if table_dir.rstrip("/").endswith("agg"):
            raise RuntimeError("simulated crash before rollup publish")
        return orig(df, table_dir)

    monkeypatch.setattr(rp, "write_version", crash_on_agg)
    with pytest.raises(RuntimeError, match="simulated crash"):
        rp.refresh_warehouse(**args)
    monkeypatch.setattr(rp, "write_version", orig)

    # next run succeeds; the rollup must now include the crashed run's
    # delta (id1: 10→100, id3 new) — equal to a recompute over the table
    rp.refresh_warehouse(**args)
    got = {
        r.grp: (r.total, r.n)
        for r in read_table(spark, f"{work}/agg").collect()
    }
    want = {
        r.grp: (float(r.total), r.n)
        for r in read_table(spark, f"{work}/table")
        .groupBy("grp")
        .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want == {"g1": (107.0, 2), "g2": (5.0, 1)}


def test_publish_snapshot_concurrent_writers(spark, tmp_path):
    """Optimistic concurrency on the snapshot id (ADVICE r9 #6): two
    publishers racing the same id must BOTH commit, on distinct ids —
    never a silent manifest overwrite. Pinned two ways: a deterministic
    simulated race (the id a publisher would pick is pre-claimed, as if
    another writer won first — it must land on the next id with the
    loser's manifest intact) and a real two-thread race."""
    import json
    import os
    from concurrent.futures import ThreadPoolExecutor

    from data_warehouse_product_mix_clustering_spark.sources.snapshot import (
        current_snapshot,
        publish_snapshot,
        snapshot_manifest,
        snapshots,
    )

    store = str(tmp_path / "store")
    publish_snapshot(store, {"a": spark.range(3)})  # snapshot 0

    # deterministic race: snapshot 1's manifest already claimed by a
    # "concurrent" writer; our publish must branch to id 2, not clobber
    rival = {"a": 0}
    mdir = os.path.join(store, "_snapshots")
    with open(os.path.join(mdir, "1.json"), "w") as f:
        json.dump(rival, f)
    got = publish_snapshot(store, {"b": spark.range(5)})
    assert got == 2
    with open(os.path.join(mdir, "1.json")) as f:
        assert json.load(f) == rival, "rival manifest must survive untouched"
    assert snapshot_manifest(store, 2) == {"a": 0, "b": 0}

    # real race: two threads publish different tables concurrently
    before = set(snapshots(store))
    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(publish_snapshot, store, {"c": spark.range(2)})
        f2 = ex.submit(publish_snapshot, store, {"d": spark.range(4)})
        ids = {f1.result(), f2.result()}
    assert len(ids) == 2, "racing publishers must land on distinct ids"
    assert set(snapshots(store)) == before | ids
    for s in ids:
        snapshot_manifest(store, s)  # both manifests committed and readable
    assert current_snapshot(store) in ids


def test_write_small_file_exclusive_same_process_race():
    """The exclusive-create primitive must isolate SAME-PROCESS racers:
    threads share a pid, so a pid-only temp suffix let one thread
    truncate the other's staged bytes before os.link decided the winner
    (review r10) — the committed file could be empty/partial and the
    loser crashed on FileNotFoundError instead of seeing FileExistsError.
    Here two threads race the same target with distinct payloads, many
    rounds: exactly one wins, the loser always gets FileExistsError, and
    the committed content is always one COMPLETE payload."""
    import os
    import threading
    import tempfile

    from data_warehouse_product_mix_clustering_spark.sources.versioned import write_small_file_exclusive

    payload_a = "A" * 4096
    payload_b = "B" * 4096
    with tempfile.TemporaryDirectory() as root:
        for i in range(25):
            target = os.path.join(root, f"m{i}")
            barrier = threading.Barrier(2)
            results = {}

            def attempt(name, payload):
                barrier.wait()
                try:
                    write_small_file_exclusive(target, payload)
                    results[name] = "won"
                except FileExistsError:
                    results[name] = "lost"

            t1 = threading.Thread(target=attempt, args=("a", payload_a))
            t2 = threading.Thread(target=attempt, args=("b", payload_b))
            t1.start(); t2.start(); t1.join(); t2.join()
            assert sorted(results.values()) == ["lost", "won"], results
            with open(target) as f:
                content = f.read()
            winner = payload_a if results["a"] == "won" else payload_b
            assert content == winner, "committed content must be complete"
            leftovers = [f for f in os.listdir(root) if ".tmp." in f]
            assert not leftovers, f"temp files must not accumulate: {leftovers}"


def test_refresh_with_interleaved_compaction(spark, tmp_path):
    """compact_table between refresh runs must be invisible to the
    incremental pipeline: the compacted version is row-identical, so the
    next refresh's basis-spanning CDC diff counts ONLY the genuinely new
    batch, and the maintained rollup still equals a full recompute."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.sources.versioned import compact_table, read_table

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["id"], group_keys=["grp"], measures={"total": "amount"},
    )
    (land / "a.csv").write_text("id,grp,amount\n1,g1,10.0\n2,g1,20.0\n3,g2,30.0\n")
    r1 = refresh_warehouse(**args)

    stats = compact_table(spark, f"{work}/table")
    assert stats["version"] == r1["version"] + 1
    assert stats["files_after"] <= stats["files_before"]

    (land / "b.csv").write_text("id,grp,amount\n2,g2,25.0\n4,g3,40.0\n")
    r2 = refresh_warehouse(**args)
    assert r2["version"] == stats["version"] + 1
    assert r2["changes"] == 2, (
        "the compacted (row-identical) version must contribute ZERO rows "
        "to the CDC diff — only batch b's upsert+insert count"
    )
    agg = {r.grp: (r.total, r.n) for r in read_table(spark, f"{work}/agg").collect()}
    assert agg == {"g1": (10.0, 1), "g2": (55.0, 2), "g3": (40.0, 1)}


def test_refresh_feeds_minhash_index_maintenance(spark, tmp_path):
    """The ingest→dedup composition: the refresh pipeline's versioned
    publishes drive update_minhash_index through version_diff, and the
    maintained signature index equals a fresh build of the published
    state — so a streaming corpus keeps its dedup index current at
    O(touched buckets) per refresh, never a rebuild."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_warehouse_product_mix_clustering_spark.etl.refresh_pipeline import refresh_warehouse
    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_candidates,
        update_minhash_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff

    land = tmp_path / "landing"
    land.mkdir()
    work = str(tmp_path / "work")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    args = dict(
        spark=spark, landing_dir=str(land), work_dir=work, schema=schema,
        key=["doc_id"], group_keys=["grp"], measures={}, header=False,
    )
    body = "the quick brown fox jumps over the lazy dog again and again"
    (land / "a.csv").write_text(
        f"1,g,{body} alpha\n2,g,{body} beta\n3,g,completely different text here\n"
    )
    refresh_warehouse(**args)
    idx = str(tmp_path / "mh")
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table

    build_minhash_index(read_table(spark, f"{work}/table"), idx, n_buckets=32)

    # batch 2: doc 2's text changes, doc 4 lands as a near-copy of doc 1
    (land / "b.csv").write_text(
        f"2,g,totally new content for doc two\n4,g,{body} alpha\n"
    )
    r2 = refresh_warehouse(**args)
    diff = version_diff(spark, f"{work}/table", 0, r2["version"], key=["doc_id"])
    stats = update_minhash_index(spark, idx, diff)
    assert stats == {
        "added": 1, "removed": 0, "changed": 1,
        "buckets_touched": stats["buckets_touched"],
        "touched": stats["touched"],
    }

    idx2 = str(tmp_path / "mh2")
    build_minhash_index(read_table(spark, f"{work}/table"), idx2, n_buckets=32)
    a = spark.read.parquet(f"{idx}/buckets").select("doc_id", "band", "key", "pbucket")
    b = spark.read.parquet(f"{idx2}/buckets").select("doc_id", "band", "key", "pbucket")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # doc 4 (identical text to doc 1) must surface doc 1 as a candidate
    probe = spark.createDataFrame([(4, f"{body} alpha")], "doc_id long, text string")
    cands = {
        (r.doc_new, r.doc_corpus)
        for r in minhash_index_candidates(spark, idx, probe).collect()
    }
    assert (4, 1) in cands


def test_minhash_cols_resolution_rules():
    """Column resolution for the persisted MinHash index (ADVICE r10 +
    review r11): meta wins; a caller override is legal only for legacy
    metas that predate text_col (then it is the ONLY correct source);
    a conflicting override on a modern meta refuses rather than signing
    the wrong column."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.dedup import _minhash_cols

    modern = {"id_col": "k", "text_col": "body"}
    assert _minhash_cols(modern, None) == ("k", "body")
    assert _minhash_cols(modern, "body") == ("k", "body")
    with pytest.raises(ValueError, match="refusing"):
        _minhash_cols(modern, "text")

    legacy = {"id_col": "k"}  # pre-r11 meta: no text_col recorded
    assert _minhash_cols(legacy, None) == ("k", "text")  # historical default
    assert _minhash_cols(legacy, "body") == ("k", "body")  # caller knows best
