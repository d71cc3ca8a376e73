"""Versioned table sink: atomic publish, time travel, rollback, diff.

The reference refreshes its warehouse with a monthly full-table replace
(``to_sql(if_exists='replace')`` — reference src/pipelines/etl.py:102-107),
which is neither atomic (a reader mid-replace sees a missing/partial
table) nor undoable. The production pattern — what Delta/Iceberg provide,
built here from parquet + a marker file, no extra dependency:

- every write lands in a NEW directory ``v=N`` (never touched again);
- a tiny ``_LATEST`` marker file names the current version, published by
  an atomic ``os.replace`` — readers see the old table or the new one,
  never anything in between;
- old versions stay readable (time travel) until an explicit ``vacuum``;
- ``rollback`` repoints the marker — an O(1) undo, no data rewrite;
- ``version_diff`` extracts the row-level change set between two
  versions (the CDC feed a downstream incremental consumer wants).

Scale notes: the marker is bytes; writes cost exactly the parquet write
(no copy, no rewrite of history); ``version_diff`` is two scans + one
full-outer hash join on the key — the same cost as the naive comparison,
but expressed once, distributed, with deleted/added/changed classified in
a single pass.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LATEST = "_LATEST"
_VDIR = re.compile(r"^v=(\d+)$")

# Per-call sequence for write_small_file_exclusive's temp names: pid +
# thread id alone still collide when one thread retries (same identifiers)
# while a crashed attempt's file lingers; the counter makes every call
# unique within the process.
import itertools as _itertools

_EXCL_SEQ = _itertools.count()


def versions(table_dir: str) -> list[int]:
    """All committed versions, ascending. A version counts as committed
    iff its directory carries Spark's ``_SUCCESS`` marker — an in-flight
    or crashed write leaves an orphan directory without one, which is
    never visible (and a later ``rollback`` does not un-commit newer
    versions; they stay time-travelable)."""
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(table_dir)
        if (m := _VDIR.match(d))
        and os.path.exists(os.path.join(table_dir, d, "_SUCCESS"))
    )


def _read_marker(table_dir: str) -> int | None:
    p = os.path.join(table_dir, _LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def analysis_condition(e: Exception) -> str | None:
    """Spark error-class name for an AnalysisException, portably.

    ``getCondition`` arrived in PySpark 4.0; on older versions falling
    back to ``None`` would make callers' condition whitelists never match
    and silently regress documented no-op paths (ADVICE r9) — so absent
    the API, match the error-class token in the message text (Spark
    prefixes it as ``[PATH_NOT_FOUND] ...``).
    """
    if hasattr(e, "getCondition"):
        return e.getCondition()
    msg = str(e)
    for cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
        if cond in msg:
            return cond
    return None


def write_small_file_atomic(path: str, content: str) -> None:
    """Durable atomic small-file publish: write + flush + fsync a temp
    file, then ``os.replace``. The fsync matters — a rename can persist
    BEFORE the data on common filesystems, so a crash would otherwise
    leave an empty marker/manifest behind a durable name. The ONE
    definition every marker/sidecar/manifest writer in the engine uses
    (versioned marker, snapshot store, refresh watermark + basis).

    The temp name is FIXED (not PID-suffixed): writers are single-process
    by the store contract, and a fixed name means a crashed attempt's
    leftover is overwritten by the next run instead of accumulating one
    stale temp file per crashed PID forever (review r9)."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_small_file_exclusive(path: str, content: str) -> None:
    """Like ``write_small_file_atomic`` but CREATE-EXCLUSIVE: fails with
    ``FileExistsError`` if ``path`` already exists, atomically. The
    optimistic-concurrency primitive for id allocation (snapshot store):
    the content lands fully in a temp file first (fsync'd), then
    ``os.link`` claims the name — link is atomic and refuses an existing
    target, so two racing writers can never both own the same id, and a
    reader never observes partial content under the final name.

    Temp name is unique PER CALL (pid + thread id + counter), not merely
    per process: two racing writers sharing one temp name would overwrite
    each other's staged content BEFORE the link decided the winner — and
    racing THREADS share a pid, so a pid-only suffix re-opens exactly the
    same-process race the snapshot test exercises (review r10: the
    truncation could commit an empty manifest, and the winner's unlink
    made the loser's cleanup raise FileNotFoundError instead of
    retrying)."""
    import threading

    tmp = (
        f"{path}.tmp.{os.getpid()}.{threading.get_ident()}.{next(_EXCL_SEQ)}"
    )
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def next_version(table_dir: str) -> int:
    """The version the next ``write_version`` call will allocate: one past
    the max of the published marker and EVERY ``v=*`` directory —
    committed or crash-orphaned. Callers that pre-stage per-version
    sidecars (the refresh pipeline's agg basis) must use this, not
    ``versions()[-1] + 1``: the committed-only view skips orphans and
    would key the sidecar to a version the write never produces."""
    if not os.path.isdir(table_dir):
        return 0
    current = _read_marker(table_dir)
    existing = [
        int(m.group(1))
        for d in os.listdir(table_dir)
        if (m := _VDIR.match(d))
    ]
    return max([current if current is not None else -1, *existing, -1]) + 1


def _write_marker(table_dir: str, version: int) -> None:
    write_small_file_atomic(os.path.join(table_dir, _LATEST), str(version))


def write_version(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the next version and atomically publish it.

    The data write happens entirely in an unpublished ``v=N`` directory;
    only after it completes does the marker move. A crash mid-write
    leaves the previous version live and an invisible orphan directory
    (re-running simply takes the next N)."""
    os.makedirs(table_dir, exist_ok=True)
    n = next_version(table_dir)
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, f"v={n}"))
    _write_marker(table_dir, n)
    return n


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the latest-published (default) or any committed version —
    including ones newer than the marker after a rollback (that is what
    makes rollback reversible)."""
    current = _read_marker(table_dir)
    if current is None:
        raise FileNotFoundError(f"no published version in {table_dir}")
    v = current if version is None else version
    if v not in versions(table_dir):
        raise FileNotFoundError(
            f"version {v} is not committed (vacuumed, orphaned, or never "
            f"written); committed: {versions(table_dir)}"
        )
    return spark.read.parquet(os.path.join(table_dir, f"v={v}"))


def rollback(table_dir: str, version: int) -> None:
    """Repoint the marker to an older committed version — O(1) undo."""
    if version not in versions(table_dir):
        raise ValueError(f"cannot roll back to unknown version {version}")
    _write_marker(table_dir, version)


def vacuum(
    table_dir: str, keep_last: int = 2, reclaim_orphans: bool = False
) -> list[int]:
    """Delete all but the newest ``keep_last`` committed versions (the
    current marker target is always kept). Returns deleted versions.

    ``reclaim_orphans`` additionally removes uncommitted ``v=N``
    directories (no ``_SUCCESS``) left by crashed writes — these are
    invisible to readers but hold disk forever otherwise. Only safe when
    no write is in flight: an in-progress write looks exactly like an
    orphan until its ``_SUCCESS`` lands (the same tradeoff as Delta's
    retention-window VACUUM, made explicit here as an opt-in).
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = versions(table_dir)
    current = _read_marker(table_dir)
    doomed = [v for v in vs[:-keep_last] if v != current]
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v={v}"))
    if reclaim_orphans:
        committed = set(versions(table_dir))
        for d in os.listdir(table_dir):
            m = _VDIR.match(d)
            if m and int(m.group(1)) not in committed:
                shutil.rmtree(os.path.join(table_dir, d))
                doomed.append(int(m.group(1)))
    return doomed


def version_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key: list[str],
    validate_keys: bool = True,
) -> DataFrame:
    """Row-level change set between two versions, keyed by ``key``:
    one row per changed key with ``change_type`` ∈ added/removed/changed.

    The CDC extract for downstream incremental consumers: a full-outer
    join on the key — NULL-SAFE on every key column, so a NULL-keyed row
    present in both versions matches itself (no phantom removed+added
    churn) — with change classified by side-presence and a null-safe
    comparison of the non-key columns (NULL→value edits are 'changed',
    not missed). Unchanged keys are dropped before the output.

    Precondition: ``key`` is unique within each version — duplicates
    would turn the join into a per-key cross product and silently corrupt
    every downstream consumer, so ``validate_keys`` (default on) fails
    fast with the offending keys; pass ``False`` only when uniqueness is
    already enforced upstream and the extra per-side aggregation scan
    matters.
    """
    old = read_table(spark, table_dir, from_version)
    new = read_table(spark, table_dir, to_version)
    old_fields = sorted((f.name, f.dataType.simpleString()) for f in old.schema.fields)
    new_fields = sorted((f.name, f.dataType.simpleString()) for f in new.schema.fields)
    if old_fields != new_fields:
        raise ValueError(
            f"schema drift between v{from_version} and v{to_version}: "
            f"{sorted(set(old_fields) ^ set(new_fields))} (diff needs "
            "matching names AND types; evolve first, then diff)"
        )
    if validate_keys:
        for label, df, v in (("from", old, from_version), ("to", new, to_version)):
            dup = (
                df.groupBy(*key)
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > 1)
                .limit(3)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"key {key} is not unique in v{v} ({label} side); "
                    f"e.g. {[tuple(r)[:-1] for r in dup]} — a non-unique key "
                    "makes the diff a cross product"
                )
    attrs = [c for c in new.columns if c not in key]
    if not attrs:
        raise ValueError(
            "key covers every column — a key-only table has no attributes "
            "to diff; presence changes alone need only an anti-join"
        )
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in key], F.struct(*attrs).alias("__old")
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in key], F.struct(*attrs).alias("__new")
    )
    cond = None
    for k in key:
        c = F.col(f"__ko_{k}").eqNullSafe(F.col(f"__kn_{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    # side-presence must key off the join MISS, not attribute NULLs: a
    # matched row whose every attr is NULL still has a present struct, but
    # after a full-outer miss the whole side (incl. its key rename) is NULL.
    miss_old = F.col("__old").isNull()
    miss_new = F.col("__new").isNull()
    change = (
        F.when(miss_old, F.lit("added"))
        .when(miss_new, F.lit("removed"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__kn_{k}"), F.col(f"__ko_{k}")).alias(k)
                for k in key
            ],
            "change_type",
            "__old",
            "__new",
        )
    )


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: republish the CURRENT version's rows as a
    new version with ≈``target_file_bytes`` per output file. The
    operational counterpart to ``vacuum``: a streaming refresh publishes
    one version per micro-run and each carries a file per shuffle task,
    so the live version's file count (and with it scan planning overhead
    and footer-read fan-out) grows without bound unless something
    rewrites it.

    Same commit discipline as every publish here: the compacted data
    lands invisibly in ``v=N`` and the marker flips last, so readers see
    the old layout or the new — never partial. Rows are IDENTICAL by
    construction (one read → coalesce → write; no shuffle, no
    re-ordering semantics), which means a ``version_diff`` across the
    compaction is empty and downstream incremental consumers (rollups,
    index maintenance) see zero changes. Pre-compaction versions remain
    time-travelable until ``vacuum``. Do not point it at a table inside
    a multi-table snapshot store (``sources/snapshot.py``): it flips only
    the per-table marker, which snapshot readers bypass.

    Returns {'version', 'files_before', 'files_after', 'bytes'}.
    ``coalesce`` (not repartition) keeps it shuffle-free; output file
    count is ceil(bytes/target) floored at 1. Skews in input file sizes
    carry through — acceptable for compaction, whose goal is fewer
    files, not perfect balance.
    """
    current = _read_marker(table_dir)
    if current is None:
        raise FileNotFoundError(f"no published version in {table_dir}")
    vdir = os.path.join(table_dir, f"v={current}")
    parts = [
        os.path.join(vdir, f)
        for f in os.listdir(vdir)
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    total = sum(os.path.getsize(p) for p in parts)
    n_out = max(1, -(-total // target_file_bytes))
    df = read_table(spark, table_dir).coalesce(int(n_out))
    v = write_version(df, table_dir)
    after = len(
        [
            f
            for f in os.listdir(os.path.join(table_dir, f"v={v}"))
            if f.endswith(".parquet") or f.startswith("part-")
        ]
    )
    return {
        "version": v,
        "files_before": len(parts),
        "files_after": after,
        "bytes": int(total),
    }
