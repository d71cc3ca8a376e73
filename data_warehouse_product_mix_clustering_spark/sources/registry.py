"""Testdata registry: load the driver's parquet tables as DataFrames/views.

Scans are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown + column pruning; no schema is forced on read (parquet carries it);
tests/test_schemas.py pins the expected column types against the testdata.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_product_mix_clustering_spark import state
from data_warehouse_product_mix_clustering_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` across testdata vintages, type-gated.

    Two on-disk encodings have been observed across driver rounds:

    - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so it
      arrives as epoch-nanos LongType via the ``nanosAsLong`` legacy conf →
      truncate to a µs timestamp (the same truncation DuckDB applies).
    - parquet timestamp[us] (current): arrives as TIMESTAMP_NTZ → cast to the
      session-tz TIMESTAMP, value-preserving because the session tz is UTC
      (session.py pins ``spark.sql.session.timeZone=UTC``).

    Applying the nanos division unconditionally is what crashed round 3
    (AnalysisException on TIMESTAMP_NTZ) and, on the streaming path, silently
    collapsed µs values to ~1970 — hence the explicit type gate.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def invalidate(path: str | None = None) -> None:
    """Drop everything built from ``path`` (or everything): see ``state``."""
    state.invalidate(path)


def _unlink_quietly(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


_PYFILES_SHIPPED: set[str] = set()
# appId -> failed-attempt count. A transient failure (disk full, zip write
# error) must NOT permanently disable the shim (ADVICE r15): retry on later
# table() calls, bounded so a persistent failure doesn't warn per-query.
_PYFILES_FAILED: dict[str, int] = {}
_PYFILES_MAX_ATTEMPTS = 3


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor python workers, once per SparkContext.

    Worker-executed functions (Arrow pandas UDFs, the
    ``applyInPandasWithState`` session kernel, ``mapInPandas`` media
    kernels) are pickled BY REFERENCE to their defining module, so every
    worker interpreter must be able to ``import data_warehouse_product_mix_clustering_spark``. That
    works for free when the driver ran from the repo root (cwd is on the
    worker's sys.path), but a harness that imports the package via a
    patched ``sys.path`` from another cwd ships closures the workers
    cannot resolve (observed: ModuleNotFoundError from /tmp). A
    source-only zip through ``addPyFile`` fixes it for ANY cwd and ANY
    session — including sessions this library did not create — at the
    cost of one ~sub-MB zip per process."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _PYFILES_SHIPPED:
        return
    if _PYFILES_FAILED.get(app_id, 0) >= _PYFILES_MAX_ATTEMPTS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)
    try:
        # A fresh mkstemp path per SparkContext, never a predictable or
        # reused name (ADVICE r15): a fixed /tmp path keyed by pid invited
        # pid-recycling staleness, truncated-zip reuse after a crash, and
        # pre-creation by another user on a shared host. The zip is
        # rebuilt from current sources every time it ships (sub-MB, ms),
        # so driver and workers cannot skew.
        fd, zpath = tempfile.mkstemp(prefix="spark_graft_pkg_", suffix=".zip")
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(
                fh, "w", zipfile.ZIP_DEFLATED
            ) as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if not fn.endswith(".py"):
                            continue
                        full = os.path.join(root, fn)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
            sc.addPyFile(zpath)
            # On success the file must outlive this call (executors fetch
            # it lazily, and addPyFile re-serves it to late-joining
            # workers), but the system temp dir is NOT per-process — an
            # un-reaped zip per SparkContext would accumulate on a
            # long-lived host. Unlink at interpreter exit: by then every
            # executor of this app has either fetched it or died with it.
            import atexit

            atexit.register(_unlink_quietly, zpath)
        except BaseException:
            # addPyFile never saw a working zip — don't leak the temp file.
            _unlink_quietly(zpath)
            raise
    except Exception as ex:  # noqa: BLE001
        # Best-effort, but VISIBLY so (ADVICE r15): warn and leave the
        # appId un-cached so a later table() call retries (bounded above).
        # Failing table() over a robustness shim would be worse than the
        # gap it closes — cwd-importable packages still work without it.
        _PYFILES_FAILED[app_id] = _PYFILES_FAILED.get(app_id, 0) + 1
        import warnings

        warnings.warn(
            f"worker-import shim: shipping the package zip failed "
            f"(attempt {_PYFILES_FAILED[app_id]}/{_PYFILES_MAX_ATTEMPTS}: "
            f"{ex!r}); executor-side imports may require the driver cwd "
            f"to be the repo root",
            RuntimeWarning,
            stacklevel=2,
        )
        return
    _PYFILES_SHIPPED.add(app_id)
    # A shipped app no longer needs its failure history (ADVICE r16): a
    # long-lived process cycling many SparkContexts would otherwise
    # accumulate stale appId keys here forever.
    _PYFILES_FAILED.pop(app_id, None)


def table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one testdata table. Lazy; nothing is scanned until an action.

    ``events`` gets its ``ts`` column normalized to a µs session-tz
    timestamp regardless of the file's encoding (see normalize_events_ts).
    The resolved scan is cached per (session, path) — repeated plan
    construction over the same table skips the file-listing/footer read.
    The cached DataFrame pins the file listing resolved at first read, so
    a caller that rewrites the path mid-session must ``invalidate`` it.
    """
    _ensure_worker_imports(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        if name != "events":
            return spark.read.parquet(path)
        # Harmless for µs files; required in case ts is TIMESTAMP(NANOS).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(path))

    return state.cached(spark, "table", path, (), build)


def load_testdata(
    spark: SparkSession,
    sf_dir: str | None = None,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load every testdata table; optionally register temp views for SQL."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
