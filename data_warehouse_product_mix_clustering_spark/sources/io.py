"""Sources and sinks the engine's own paths call (SURVEY.md §2.1, S1).

The reference's sources are ODBC SQL scans with hand-written projection
pushdown (reference src/pipelines/etl.py:19-21). Parquet reads and writes
go straight through ``spark.read`` / ``df.write``; what lives here is
what needs more than one call:

- ``read_jdbc``: the JDBC source (S1), with a partitioned parallel scan
  and a clear error when the driver jar is missing.
- ``write_single_parquet_file``: one bare parquet file, the landing-file
  shape a file-source stream consumes one per micro-batch.
- ``split_csv_quarantine``: dirty-feed CSV parsing with a malformed-row
  channel — one raw-text scan, split by projection (no PERMISSIVE cache
  workaround, no silent nulls/drops). ``streaming/quarantine.py`` runs it
  on every micro-batch.
"""

from __future__ import annotations

import os
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_single_parquet_file(df: DataFrame, path: str) -> None:
    """Write ``df`` as ONE bare parquet FILE at ``path`` (not a
    directory) — the landing-file shape a file-source stream consumes
    one-per-micro-batch. Spark-side write so column types survive
    exactly (pandas.to_parquet widens float32 arrays to DOUBLE whenever
    Arrow conversion is off in the hosting session, which an explicit
    stream schema then refuses): stage a coalesce(1) directory, move the
    single part file into place, drop the staging dir. Test/audit
    utility — production sinks write partitioned directories."""
    import glob as _glob
    import shutil as _shutil

    stage = path + "__stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    _shutil.move(_glob.glob(os.path.join(stage, "part-*.parquet"))[0], path)
    _shutil.rmtree(stage, ignore_errors=True)


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC source (S1) — the reference's SQL Server extract equivalent.

    Projection/predicate pushdown happens inside the remote DBMS via the
    query string; ``partition_column`` + bounds parallelize the scan across
    executors instead of the reference's single ODBC cursor.

    No JDBC driver jar ships in this image; this raises a clear error if the
    jar is missing rather than failing deep inside py4j.
    """
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound/upper_bound")
        # Spark rejects 'query' combined with 'partitionColumn'; the
        # documented parallel-scan form is a dbtable subquery alias.
        # No leading underscore: standard SQL identifiers may not start
        # with one and strict DBMSs (Derby) reject it.
        reader = (
            reader.option("dbtable", f"({query}) spark_jdbc_sub")
            .option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    else:
        reader = reader.option("query", query)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - environment-dependent
        # Only a missing driver gets the jar hint; option-validation or
        # SQL errors surface as-is instead of a misleading wrapper.
        msg = str(exc)
        if "No suitable driver" in msg or "ClassNotFoundException" in msg:
            raise RuntimeError(
                "JDBC source unavailable (driver jar not on classpath?). "
                "Add the vendor jar via spark.jars to use S1/JDBC scans."
            ) from exc
        raise


# ---------------------------------------------------------------------------
# Quarantine ingestion (round-7 second session): dirty-file reads with a
# malformed-row channel instead of silent nulls or whole-job failure.
# ---------------------------------------------------------------------------


# Optional input column carrying each line's source file. Callers that
# cache/persist the raw lines before splitting must stamp it first (a
# cached scan no longer knows its files); see split_csv_quarantine.
FILE_COL = "__src_file"


def _ddl_of(schema: T.StructType) -> str:
    # backtick-quoted: reserved words / spaces in field names stay valid DDL
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)


def split_csv_quarantine(
    raw: DataFrame,
    schema: T.StructType,
    header: bool = True,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Split a raw-text-line DataFrame (column ``value``) into
    (clean typed rows, quarantined raw lines).

    The parser of ``streaming/quarantine.py``, whose foreachBatch hands
    this function a plain batch DataFrame per micro-batch (a batch
    caller passes ``spark.read.text(path)``). The parse itself is a pure
    projection; ``header=True`` adds a tiny per-file window over the
    header-equal lines only (see below), which is why the streaming path
    applies this inside foreachBatch rather than to the stream directly.

    Policy decisions (pinned in tests):

    - Blank / whitespace-only lines are QUARANTINED — ``from_csv`` would
      otherwise parse them into all-null "clean" rows with no corrupt
      marker, the exact silent-null failure this module exists to stop.
    - ``header=True`` drops AT MOST ONE line equal to
      ``sep.join(field names)`` per input file — the header Spark's CSV
      writer emits. Any FURTHER header-equal line (a mid-file
      paste accident, a concatenated shard) is NOT silently deleted: it
      flows on to the parser, where the schema's guaranteed non-string
      field makes it unparseable, so it lands in the quarantine — the
      "every non-header line reaches exactly one channel" conservation
      invariant holds for the whole file, not just line 1 (ADVICE r7).
      A foreign header variant (quoted, spaced, reordered) likewise lands
      in the quarantine where it is visible. For an all-string schema the
      equality rule is ambiguous (a legitimate data row could equal the
      header and would be silently deleted), so that combination is
      refused — pre-strip the header and pass ``header=False``.
      Deduplicating the header costs a second pass over the text scan
      (the window shuffles only the header-equal lines themselves, never
      the data); feeds that pre-strip headers and pass ``header=False``
      keep the single-scan plan, which is the recommended 100 TB shape.
    """
    if any(f.name == "_corrupt_record" for f in schema.fields):
        raise ValueError("schema must not already contain _corrupt_record")
    from pyspark.sql import functions as F

    if header:
        if all(isinstance(f.dataType, T.StringType) for f in schema.fields):
            raise ValueError(
                "header=True with an all-string schema is ambiguous (a data "
                "row equal to the header line would be silently dropped); "
                "strip the header upstream and pass header=False"
            )
        header_line = sep.join(f.name for f in schema.fields)
        is_hdr = F.col("value") == F.lit(header_line)
        # Drop one header-equal line per file; re-inject the rest so they
        # reach the parser (and thus the quarantine — the all-string guard
        # above guarantees at least one non-string field, so a header line
        # can never parse clean). Header-equal lines are identical strings,
        # so WHICH one is dropped cannot affect either channel's contents —
        # the row_number needs no cross-retry ordering guarantee. The
        # window's shuffle input is only the header-equal lines (O(files)),
        # not the data scan. File identity comes from a pre-stamped
        # ``FILE_COL`` when the caller provides one (the streaming path
        # MUST: it persists the batch, and input_file_name() over a cached
        # scan is empty — write_quarantine_batch stamps before persisting);
        # otherwise from input_file_name() on the live scan. An
        # unidentifiable file (literal DataFrames in tests) degrades to
        # one group per batch: at most one header dropped, the rest
        # visible in quarantine — conserved either way.
        from pyspark.sql import Window

        file_expr = (
            F.col(FILE_COL) if FILE_COL in raw.columns else F.input_file_name()
        )
        hdr_w = Window.partitionBy("__f").orderBy("__id")
        extra_hdrs = (
            raw.filter(is_hdr)
            .select(
                "value",
                file_expr.alias("__f"),
                F.monotonically_increasing_id().alias("__id"),
            )
            .withColumn("__rn", F.row_number().over(hdr_w))
            .filter(F.col("__rn") > 1)
            .select("value")
        )
        raw = raw.filter(~is_hdr).select("value").unionByName(extra_hdrs)
    parse_schema = f"{_ddl_of(schema)}, _corrupt_record string"
    options = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": "_corrupt_record",
        "sep": sep,
    }
    parsed = raw.select(
        F.col("value"), F.from_csv(F.col("value"), parse_schema, options).alias("r")
    )
    blank = F.trim(F.col("value")) == ""
    bad = blank | F.col("r._corrupt_record").isNotNull()
    clean = parsed.filter(~bad).select(
        *[F.col(f"r.{f.name}").alias(f.name) for f in schema.fields]
    )
    quarantined = parsed.filter(bad).select(F.col("value").alias("raw_line"))
    return clean, quarantined
