"""Local version of the driver's t2 gate: every registered query with an
oracle runs through Spark AND DuckDB on the same parquet tables; results
must match exactly (after name-sorted columns + row sort).

Runs at sf0.001 for speed; the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_warehouse_product_mix_clustering_spark.plans.registry import all_queries

from conftest import SF_SMOKE, SHARED_ANSWERS, make_duckdb  # noqa: F401

QUERIES = all_queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in QUERIES.items() if q.oracle is None)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(name, collected, duck_smoke):
    q = QUERIES[name]
    got = normalize(collected(name))
    want = normalize(duck_smoke.sql(q.oracle).df())

    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            # NaN must match NaN exactly — a NaN on one engine vs a value
            # (incl. 0.0) on the other is a real divergence.
            assert (g.isna() == w.isna()).all(), (
                f"{name}.{c}: NaN placement differs "
                f"({int(g.isna().sum())} vs {int(w.isna().sum())} NaNs)"
            )
            both_nan = g.isna() & w.isna()
            bad = ~both_nan & ~np.isclose(g, w, rtol=0, atol=0, equal_nan=False)
            if bad.any():
                diffs = (g - w).abs()
                raise AssertionError(
                    f"{name}.{c}: {int(bad.sum())} value diffs, max |Δ|={diffs.max()}"
                    f"\nfirst rows:\n{pd.DataFrame({'got': g[bad], 'want': w[bad]}).head()}"
                )
        else:
            pd.testing.assert_series_equal(g, w, check_names=False, obj=f"{name}.{c}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, spark, collected):
    """Queries without an oracle must still run and return a stable schema."""
    if name in SHARED_ANSWERS:
        got = collected(name)
        assert list(got.columns)
        assert len(got) >= 0
        return
    df = QUERIES[name].fn(spark, SF_SMOKE)
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # every oracle key must exist in queries()
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
