"""As-of joins (SURVEY.md §2.3 J4 — the one custom operator).

The reference implements a backward as-of join with pandas ``merge_asof``
(reference src/pipelines/etl.py:27-42): each fact row is matched to the
latest validity interval with ``StartDate <= OrderDate``, then post-filtered
to ``OrderDate <= EndDate`` where a NULL EndDate means an open interval.
Its per-product interval join (reference notebooks/etl_transform.ipynb
cell 28) and the hand-rolled driver-dict "broadcast join" probed per row
(reference src/pipelines/clustering.py:24-54, O(rows x intervals)) are
served by ``etl/star_schema.py::fact_priced``.

Vanilla PySpark has no native as-of join, so this module provides two
distributed strategies behind one API:

1. ``strategy="broadcast"`` — broadcast range join. Right side (the interval
   dimension) is broadcast; the join condition is the pure range predicate.
   For backward-asof semantics a window keeps only the latest matching
   StartDate per left row. Correct + fast when the right side is dimension-
   sized (reference DimDate is dozens of rows; anything < ~100 MB).
   With ``bucket=`` the caller states its intervals cannot overlap, and the
   join becomes a broadcast HASH join on a calendar-bucket key.

2. ``strategy="union"`` — sort-merge as-of for large-large joins: union the
   two inputs tagged by origin, window over (by-keys) ordered by event time,
   ``last(right_cols, ignorenulls=True)`` carries the most recent right row
   forward onto each left row. One shuffle on the by-keys, no cartesian
   blow-up, scales to 100 TB fact x 100 GB dim.

Both honor the reference's semantics: inclusive bounds, NULL end = open
interval, and rows matching no interval come out with NULL right columns
(caller drops them, as reference etl.py:88 does). With OVERLAPPING
intervals that means "latest START, then end post-filter" — an expired
latest interval masks an older covering one (pandas merge_asof +
post-filter, pinned in test_asof.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _right_cols(right: DataFrame, on_right: str, by: list[str]) -> list[str]:
    return [c for c in right.columns if c != on_right and c not in by]


# Calendar bucket → the INTERVAL step that advances one bucket.
_BUCKET_STEP = {
    "year": "1 year",
    "quarter": "3 months",
    "month": "1 month",
    "week": "1 week",
    "day": "1 day",
    "hour": "1 hour",
}


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str] | None = None,
    end_col: str | None = None,
    how: str = "left",
    strategy: str = "broadcast",
    tolerance: str | None = None,
    bucket: str | None = None,
    horizon: DataFrame | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join. Backward (default): latest right row with
    ``right_on <= left_on``. Forward: earliest right row with
    ``right_on >= left_on`` (pandas merge_asof ``direction='forward'``) —
    implemented by running the backward machinery on a NEGATED epoch-micros
    axis, so every strategy/tolerance path is shared, not re-derived.

    Parameters
    ----------
    left_on / right_on : event-time column on each side.
    by : optional equi-keys (the notebook variant joins per ProductID;
         the production variant passes none — date-only intervals).
    end_col : optional right-side end column; when given, matches where
         ``left_on > coalesce(end_col, +inf)`` are discarded (interval
         semantics, NULL = open-ended).
    how : 'left' keeps unmatched left rows with NULL right columns;
         'inner' drops them.
    tolerance : optional INTERVAL string (e.g. ``'30 days'``), pandas
         merge_asof semantics: matches older than ``left_on − tolerance``
         are discarded. Applied as a post-condition in both strategies.
    bucket : calendar unit (year/quarter/month/week/day/hour), broadcast
         strategy only; requires ``end_col``. CONTRACT: the caller states
         that the right intervals cannot overlap (per by-key), so each left
         row matches ≤ 1 interval by construction. The strategy then
         derives an equi key — ``date_trunc(bucket, time)`` — and explodes
         each interval over the buckets it spans, turning the
         BroadcastNestedLoopJoin (row-at-a-time, no codegen) into a
         broadcast HASH join with the range predicate, end included, as an
         in-join filter; the per-row latest-match dedup window — a full
         re-shuffle of the joined fact — is skipped. The coverage is
         exhaustive (open intervals span to max(left_on)); pick a unit near
         the typical interval length so the explosion stays ~1-2 rows per
         interval. Overlapping intervals would match a left row once per
         covering interval: use the plain broadcast or union strategy.
    horizon : optional 1-row, 1-column DataFrame whose value is an upper
         bound on ``max(left_on)`` (bucketed strategy only). Open intervals
         are exploded up to this bound instead of a ``max`` aggregate over
         the left — which, when the left is itself a join, would re-execute
         that whole plan just for one scalar. Callers that know the time
         column's provenance (e.g. a fact whose date comes from one base
         table) pass a max over the narrow base column instead; a few extra
         buckets from a loose bound only pad the broadcast dim by rows.
         CONTRACT: the bound must be ≥ max(left_on), else rows past it
         silently lose their open-interval matches.
    """
    by = by or []
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest: {direction}")
    if horizon is not None and bucket is None:
        raise ValueError("horizon= applies to the bucketed strategy only (needs bucket=)")
    if strategy == "union" and bucket is not None:
        raise ValueError("bucket= applies to the broadcast strategy only")
    if direction != "backward":
        # Interval semantics are inherently backward (an interval CONTAINS
        # the event time); forward/nearest are plain as-of joins. Nearest
        # additionally supports bucket= (reduced to a non-overlapping
        # interval join over midpoint covers — see _nearest_bucketed).
        if end_col is not None:
            raise ValueError(
                f"direction='{direction}' supports plain as-of only (no end_col)"
            )
        if direction == "forward":
            if bucket is not None:
                raise ValueError("bucket= is not supported for direction='forward'")
            return _asof_forward(
                left, right, left_on, right_on, by, how, strategy, tolerance
            )
        return _asof_nearest(
            left, right, left_on, right_on, by, how, strategy, tolerance,
            bucket, horizon,
        )
    if bucket is not None and end_col is None:
        raise ValueError(
            "bucket= requires end_col (non-overlapping interval semantics)"
        )
    if strategy == "broadcast":
        if bucket is not None:
            out = _asof_bucketed(
                left, right, left_on, right_on, by, end_col, how, bucket, horizon
            )
        else:
            out = _asof_broadcast(left, right, left_on, right_on, by, end_col, how)
    elif strategy == "union":
        out = _asof_union(left, right, left_on, right_on, by, end_col, how)
    else:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if tolerance is not None:
        fresh = F.col(right_on) >= F.col(left_on) - F.expr(f"INTERVAL {tolerance}")
        out = _null_stale(out, left, right, right_on, by, fresh, how)
    return out


def _null_stale(
    out: DataFrame,
    left: DataFrame,
    right: DataFrame,
    right_on: str,
    by: list[str],
    fresh: Column,
    how: str,
) -> DataFrame:
    """The tolerance post-filter of every direction (pandas merge_asof
    semantics): a match failing ``fresh`` keeps its left row with NULL
    right columns, or is dropped on ``how='inner'``."""
    out = out.select(
        *left.columns,
        *[
            F.when(fresh, F.col(c)).otherwise(F.lit(None)).alias(c)
            for c in _right_cols(right, right_on, by) + [right_on]
        ],
    )
    if how == "inner":
        out = out.filter(F.col(right_on).isNotNull())
    return out


def _asof_forward(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    how: str,
    strategy: str,
    tolerance: str | None,
) -> DataFrame:
    """Forward as-of via time negation: the EARLIEST right row at/after
    left_on is the LATEST row on the ``-epoch_micros`` axis, so the whole
    backward implementation (broadcast + union strategies, dedup
    tie-breaks, null handling) is reused verbatim. The original event-time
    columns ride through untouched — only the synthetic negated columns
    join — and tolerance is re-applied on the originals with the flipped
    bound (``right_on <= left_on + tolerance``).
    """
    def _negate(df: DataFrame, col: str) -> Column:
        dt = dict(df.dtypes)[col]
        if dt in ("timestamp", "timestamp_ntz", "date"):
            return -F.unix_micros(F.col(col).cast("timestamp"))
        return -F.col(col)  # numeric event times negate directly

    negl, negr = "__asof_fwd_l", "__asof_fwd_r"
    l2 = left.withColumn(negl, _negate(left, left_on))
    r2 = right.withColumn(negr, _negate(right, right_on))
    out = asof_join(
        l2,
        r2,
        left_on=negl,
        right_on=negr,
        by=by,
        how="left",  # tolerance nulls are applied here, on the originals
        strategy=strategy,
    )
    if tolerance is not None:
        fresh = F.col(right_on) <= F.col(left_on) + F.expr(f"INTERVAL {tolerance}")
        out = _null_stale(out, left, right, right_on, by, fresh, how)
    elif how == "inner":
        out = out.filter(F.col(negr).isNotNull())
    return out.select(*left.columns, *[c for c in right.columns if c not in by])


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    how: str,
    strategy: str,
    tolerance: str | None,
    bucket: str | None = None,
    horizon: DataFrame | None = None,
) -> DataFrame:
    """Nearest as-of (pandas merge_asof ``direction='nearest'``): the right
    row with the smallest |right_on − left_on|, ties won by the earlier
    (backward) row.

    - broadcast (requires bucket=): the hash-join strategy — nearest
      reduced to a NON-OVERLAPPING interval join over midpoint covers,
      executed by the bucketed backward machinery as a codegen'd
      BroadcastHashJoin (see _nearest_bucketed).
    - union: ONE shuffle + ONE Window operator holding BOTH carries — the
      preceding-frame ``last`` (backward candidate) and the following-frame
      ``first`` (forward candidate); the smaller gap wins per row. Same
      scale shape as the backward union walk.

    ``tolerance`` is symmetric (pandas semantics): matches farther than
    the interval in either direction are nulled.
    """
    if strategy == "broadcast":
        if bucket is None:
            raise ValueError(
                "direction='nearest' with strategy='broadcast' requires bucket="
            )
        out = _nearest_bucketed(left, right, left_on, right_on, by, bucket, horizon)
    elif strategy == "union":
        out = _nearest_union(left, right, left_on, right_on, by)
    else:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if tolerance is not None:
        tol = F.expr(f"INTERVAL {tolerance}")
        fresh = (F.col(right_on) >= F.col(left_on) - tol) & (
            F.col(right_on) <= F.col(left_on) + tol
        )
        return _null_stale(out, left, right, right_on, by, fresh, how)
    if how == "inner":
        out = out.filter(F.col(right_on).isNotNull())
    return out


def _axis_num(col: Column, dtype: str) -> Column:
    """Event-time column → an exactly-comparable numeric axis.

    Temporal types go through cast('timestamp') → unix_micros, yielding
    LONG microseconds: DATE is not directly castable to double (Spark
    raises DATATYPE_MISMATCH), and double epoch seconds round away
    exact-microsecond gaps, which can flip a nearest tie against the
    documented backward tie rule. Numerics pass through unchanged.
    """
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        return F.unix_micros(col.cast("timestamp"))
    return col


def _abs_gap(a: Column, b: Column, dtype_a: str, dtype_b: str) -> Column:
    return F.abs(_axis_num(a, dtype_a) - _axis_num(b, dtype_b))


def _nearest_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    bucket: str,
    horizon: DataFrame | None,
) -> DataFrame:
    """Nearest as-of as a NON-OVERLAPPING interval join — the hash-join
    strategy.

    Reduction: per (by-key) the right rows split the time axis at the
    MIDPOINTS between consecutive event times; each right row's cover
    interval is exactly the set of left times for which it is the nearest
    candidate, with the tie-at-midpoint landing on the EARLIER row (the
    documented backward tie rule: prev wins iff left − prev ≤ next − left,
    i.e. left ≤ floor((prev + next) / 2) in long microseconds — the same
    exact axis the union strategy compares on). The covers are disjoint and
    exhaustive by construction, which is the bucketed backward machinery's
    contract, so _asof_bucketed (codegen'd BroadcastHashJoin, no dedup
    window) runs unchanged over them.

    One window over the dimension-sized right derives the covers; right
    rows sharing (by, right_on) are merged first (max payload struct —
    deterministic, where pandas' pick is input-order-dependent).

    ``horizon``: optional 1-row, 2-column DataFrame (lower, upper bounds
    on left_on) closing the first/last covers — same contract and
    motivation as backward's 1-column horizon; defaults to one
    column-pruned (min, max) aggregate over the left.
    """
    rcols = _right_cols(right, right_on, by)
    rtype = dict(right.dtypes)[right_on]
    base = right.filter(F.col(right_on).isNotNull())
    if rcols:
        merged = (
            base.groupBy(*by, right_on)
            .agg(F.max(F.struct(*[F.col(c) for c in rcols])).alias("__p"))
            .select(
                *by, right_on, *[F.col(f"__p.{c}").alias(c) for c in rcols]
            )
        )
    else:
        merged = base.select(*by, right_on).distinct()

    if horizon is not None:
        bounds = horizon.select(
            F.col(horizon.columns[0]).alias("__asof_lo"),
            F.col(horizon.columns[1]).alias("__asof_hi"),
        )
    else:
        bounds = left.select(
            F.min(F.col(left_on)).alias("__asof_lo"),
            F.max(F.col(left_on)).alias("__asof_hi"),
        )
    bounds = bounds.localCheckpoint(eager=False)  # 1 row, consumed twice

    t = _axis_num(F.col(right_on), rtype)
    w = Window.partitionBy(*by).orderBy(t.asc())
    cur, prev, nxt = t, F.lag(t).over(w), F.lead(t).over(w)
    # floor() keeps the midpoint exact: |epoch µs| sums stay < 2^53.
    start = F.when(
        prev.isNull(), F.col("__asof_lo").cast("timestamp")
    ).otherwise(F.timestamp_micros((F.floor((prev + cur) / 2) + 1).cast("long")))
    end = F.when(
        nxt.isNull(), F.lit(None).cast("timestamp")
    ).otherwise(F.timestamp_micros(F.floor((cur + nxt) / 2).cast("long")))

    covered = merged.crossJoin(F.broadcast(bounds.select("__asof_lo"))).select(
        *by,
        start.alias("__cover_start"),
        end.alias("__cover_end"),
        F.col(right_on),
        *rcols,
    )
    out = _asof_bucketed(
        left,
        covered,
        left_on,
        "__cover_start",
        by,
        "__cover_end",
        "left",
        bucket,
        horizon=bounds.select("__asof_hi"),
    )
    # Canonical column order (matches the union strategy).
    return out.select(*left.columns, *rcols, right_on)


# Column names of the union strategies' tagged relation.
_TS = "__asof_ts"
_SIDE = "__asof_side"  # 0 = right (sorts before left on ties → inclusive)
_RSTRUCT = "__asof_r"
_LSTRUCT = "__asof_l"


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    rfields: list[Column],
) -> DataFrame:
    """Both sides as ONE relation for the union strategies' window walk:
    (by..., _TS, _SIDE, [_RSTRUCT], _LSTRUCT). Each side's payload is
    packed into a struct BEFORE the union: a NULL struct costs only a
    null bit in the shuffled UnsafeRow, whereas flat null-padded
    fixed-width columns (the obvious layout) still occupy their 8-byte
    slots on every row of the OTHER side. The event times do not ride in
    the structs — _TS holds left_on (side 1) / right_on (side 0). Empty
    ``rfields`` (a payload-free right side) builds no right struct at all.

    A NULL right_on row can never be an as-of match (the range predicate
    is null-rejecting in the broadcast strategy); it is dropped here so
    every carry over the walk stays row-consistent.
    """
    lcols = [c for c in left.columns if c not in by and c != left_on]
    lfields = [F.col(c) for c in lcols] or [F.lit(True).alias("__asof_m")]
    rpart = right.filter(F.col(right_on).isNotNull()).select(
        *[F.col(k) for k in by],
        F.col(right_on).alias(_TS),
        F.lit(0).alias(_SIDE),
        *([F.struct(*rfields).alias(_RSTRUCT)] if rfields else []),
    )
    rnull = (
        [F.lit(None).cast(rpart.schema[_RSTRUCT].dataType).alias(_RSTRUCT)]
        if rfields
        else []
    )
    lpart = left.select(
        *[F.col(k) for k in by],
        F.col(left_on).alias(_TS),
        F.lit(1).alias(_SIDE),
        *rnull,
        F.struct(*lfields).alias(_LSTRUCT),
    )
    ltype = lpart.schema[_LSTRUCT].dataType
    rpart = rpart.withColumn(_LSTRUCT, F.lit(None).cast(ltype))
    return lpart.unionByName(rpart.select(*lpart.columns))


def _walk(unioned: DataFrame, by: list[str], carries: list[Column]) -> DataFrame:
    """Evaluate the window ``carries`` over the tagged union and keep the
    left rows. All carries go in ONE select so Catalyst plans a single
    Window operator per frame spec (chained withColumns put a Project
    between two same-spec Windows, which blocks CollapseWindow → two
    walks per partition)."""
    return (
        unioned.select(
            *[F.col(k) for k in by], F.col(_TS), F.col(_SIDE), F.col(_LSTRUCT),
            *carries,
        )
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE)
    )


def _left_out(left: DataFrame, left_on: str, by: list[str]) -> list[Column]:
    """The left row's columns rebuilt after the window walk: by-keys as
    they are, the rest from the packed struct, and left_on from _TS cast
    back to its input type — the union widens _TS to the common
    event-time type, and DATE must stay DATE, as in the broadcast
    strategy's output on the same inputs."""
    left_on_type = dict(left.dtypes)[left_on]

    def col(c: str) -> Column:
        if c in by:
            return F.col(c)
        if c == left_on:
            return F.col(_TS).cast(left_on_type).alias(c)
        return F.col(f"{_LSTRUCT}.{c}").alias(c)

    return [col(c) for c in left.columns]


def _nearest_union(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
) -> DataFrame:
    ts, side = _TS, _SIDE
    rcols = _right_cols(right, right_on, by)
    # A payload-free right side still carries a marker struct: a non-NULL
    # carry is what tells "no candidate" apart below.
    rfields = [F.col(c) for c in rcols] or [F.lit(True).alias("__asof_m")]
    unioned = _tagged_union(left, right, left_on, right_on, by, rfields)

    order = [F.col(ts).asc(), F.col(side).asc()]
    wb = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    r_ts = F.when(F.col(side) == 0, F.col(ts))
    # Four carries, one Window operator (same partitioning+sort, two
    # frames). The equal-ts right row sorts BEFORE the left row, so it is
    # captured by the backward frame with gap 0 — which wins every nearest
    # tie anyway (pandas resolves nearest ties backward).
    carried = _walk(
        unioned,
        by,
        [
            F.last(_RSTRUCT, ignorenulls=True).over(wb).alias("__b"),
            F.last(r_ts, ignorenulls=True).over(wb).alias("__bts"),
            F.first(_RSTRUCT, ignorenulls=True).over(wf).alias("__f"),
            F.first(r_ts, ignorenulls=True).over(wf).alias("__fts"),
        ],
    )

    ts_dt = dict(carried.dtypes)[ts]  # post-union widened axis type
    gap_b = _abs_gap(F.col(ts), F.col("__bts"), ts_dt, ts_dt)
    gap_f = _abs_gap(F.col(ts), F.col("__fts"), ts_dt, ts_dt)
    # A NULL left event time has no defined gap — it must NOT match (the
    # backward/forward paths are null-rejecting; pandas merge_asof refuses
    # unsortable keys). Without the guard the NULL ts sorts first, so the
    # following-frame first() would fabricate a match on the earliest right
    # row. when/when with no otherwise yields NULL on a NULL ts.
    valid = F.col(ts).isNotNull()
    pick_b = valid & F.col("__b").isNotNull() & (
        F.col("__f").isNull() | (gap_b <= gap_f)
    )
    chosen = F.when(pick_b, F.col("__b")).when(valid, F.col("__f"))
    chosen_ts = F.when(pick_b, F.col("__bts")).when(valid, F.col("__fts"))

    return carried.select(
        *_left_out(left, left_on, by),
        *[chosen.getField(c).alias(c) for c in rcols],
        chosen_ts.alias(right_on),
    )


def _range_cond(
    left_on: str, right_on: str, by: list[str], end_col: str | None
) -> Column:
    cond: Column = F.col(f"l.{left_on}") >= F.col(f"r.{right_on}")
    for k in by:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    if end_col is not None:
        cond = cond & (
            F.col(f"r.{end_col}").isNull()
            | (F.col(f"l.{left_on}") <= F.col(f"r.{end_col}"))
        )
    return cond


def _joined_cols(
    left: DataFrame, right: DataFrame, right_on: str, by: list[str]
) -> list[Column]:
    """Output columns of an ``l``/``r``-aliased join: the left row, then
    the right payload, then right_on."""
    return [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in _right_cols(right, right_on, by)
    ] + [F.col(f"r.{right_on}")]


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    end_col: str | None,
    how: str,
) -> DataFrame:
    # Reference semantics with OVERLAPPING intervals (review r8): pandas
    # merge_asof picks the LATEST START, then the end condition post-
    # filters — an expired latest interval masks an older covering one.
    # The end predicate therefore must NOT sit inside the join (that
    # yields "latest covering interval" — a different answer whenever a
    # closed interval overlaps an older open one). Join on start only,
    # dedup to the latest start, THEN null out expired matches. Cost:
    # expired intervals re-enter the candidate set — fine for the
    # dimension-sized right side this strategy targets; pass bucket= for
    # non-overlapping calendars to keep the end-in-join fast path.
    # Left rows are tagged so the dedup windows per original row.
    lid = "__asof_lid"
    l = left.withColumn(lid, F.monotonically_increasing_id()).alias("l")
    r = F.broadcast(right).alias("r")
    cond = _range_cond(left_on, right_on, by, None)
    joined = l.join(r, cond, "left" if how == "left" else "inner")

    # Keep only the latest matching right row per left row. Tie-break
    # beyond right_on: an open-ended interval (NULL end) outranks a closed
    # one starting the same instant — deterministic across runs and
    # strategies (pandas merge_asof keeps the last row in sort order, which
    # for the reference's dim builder is the open interval).
    order = [F.col(f"r.{right_on}").desc_nulls_last()]
    if end_col is not None:
        order.append(F.col(f"r.{end_col}").desc_nulls_first())
    w = Window.partitionBy(f"l.{lid}").orderBy(*order)
    dedup = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*_joined_cols(left, right, right_on, by))
    )
    if end_col is None:
        return dedup

    expired = (
        F.col(right_on).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(left_on) > F.col(end_col))
    )
    rout = _right_cols(right, right_on, by) + [right_on]
    out = dedup.select(
        *[F.col(c) for c in left.columns],
        *[F.when(~expired, F.col(c)).alias(c) for c in rout],
    )
    if how == "inner":
        out = out.filter(F.col(right_on).isNotNull())
    return out


def _asof_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    end_col: str,
    how: str,
    bucket: str,
    horizon: DataFrame | None = None,
) -> DataFrame:
    """Broadcast HASH as-of join over NON-OVERLAPPING intervals via a
    derived calendar-bucket equi key.

    Each right interval is exploded over every ``date_trunc(bucket, ·)``
    value it covers — from its start bucket to its end bucket (open
    intervals cover through ``max(left_on)``, one column-pruned aggregate
    over the left). The join is then a plain equi join on the bucket key
    (+ by-keys) with the exact range predicate, end included, kept as an
    in-join filter, so Catalyst plans BroadcastHashJoin with whole-stage
    codegen instead of a BroadcastNestedLoopJoin (~4× on the row-at-a-time
    predicate, measured in this repo's bench). Non-overlap means ≤ 1 match
    per left row, so no dedup window follows the join; with
    non-overlapping intervals "latest start then end-filter" ≡ "covering
    interval", so the end predicate in the join is exact.
    """
    if bucket not in _BUCKET_STEP:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_STEP)}: {bucket}")
    step = _BUCKET_STEP[bucket]
    bk = "__asof_bk"

    # Upper coverage bound: open/endless intervals must reach the newest
    # left row. One tiny broadcast row; computed from the caller's cheap
    # ``horizon`` plan when given (see asof_join docstring), else a
    # left_on-pruned aggregate over the left.
    if horizon is not None:
        upper = horizon.select(F.col(horizon.columns[0]).alias("__asof_max"))
    else:
        upper = left.select(F.max(F.col(left_on)).alias("__asof_max"))
    stop_ts = F.date_trunc(
        bucket,
        F.greatest(
            F.coalesce(
                F.col(end_col).cast("timestamp"),
                F.col("__asof_max").cast("timestamp"),
            ),
            F.col(right_on).cast("timestamp"),
        ),
    )
    rexp = (
        right.crossJoin(F.broadcast(upper))
        .withColumn(
            bk,
            F.explode(
                F.sequence(
                    F.date_trunc(bucket, F.col(right_on).cast("timestamp")),
                    stop_ts,
                    F.expr(f"interval {step}"),
                )
            ),
        )
        .drop("__asof_max")
    )

    cond = (F.col(f"l.{bk}") == F.col(f"r.{bk}")) & _range_cond(
        left_on, right_on, by, end_col
    )
    l = left.withColumn(
        bk, F.date_trunc(bucket, F.col(left_on).cast("timestamp"))
    ).alias("l")
    r = F.broadcast(rexp).alias("r")
    return l.join(r, cond, "left" if how == "left" else "inner").select(
        *_joined_cols(left, right, right_on, by)
    )


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str],
    end_col: str | None,
    how: str,
) -> DataFrame:
    """Union + window last(ignorenulls): the large-large as-of strategy.

    One shuffle on (by, event_time); each partition is sorted once and the
    most recent right-side ROW is carried forward — the distributed
    equivalent of pandas merge_asof's merge walk. The right row travels as
    ONE struct: per-column ``last(ignorenulls)`` would skip a genuinely
    NULL field (e.g. an open interval's end date) and resurrect the
    previous row's value; a struct is non-null as a whole, so its internal
    NULLs survive the carry.

    right_on is reconstructed from a second carry expression over the
    SAME window frame (one sort pass, two aggregate buffers). A
    payload-free right side (the caller deferred every derivable column
    past the join) carries no struct at all: the carried right event time
    IS the whole match — one carry per row instead of two.
    """
    ts, side = _TS, _SIDE
    rcols = _right_cols(right, right_on, by)
    unioned = _tagged_union(
        left, right, left_on, right_on, by, [F.col(c) for c in rcols]
    )

    # Tie-break among right rows sharing the same start: the open interval
    # (NULL end) — or failing that the longest one — is carried, matching
    # the broadcast strategy's dedup order and pandas merge_asof's
    # last-in-sort-order behavior on the reference's dim builder.
    order = [F.col(ts).asc(), F.col(side).asc()]
    if end_col is not None:
        order.append(F.col(f"{_RSTRUCT}.{end_col}").asc_nulls_last())
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rts = "__asof_rts"
    rcarry = "__asof_rc"
    carries = [
        F.last(F.when(F.col(side) == 0, F.col(ts)), ignorenulls=True)
        .over(w)
        .alias(rts)
    ]
    if rcols:
        carries.insert(0, F.last(_RSTRUCT, ignorenulls=True).over(w).alias(rcarry))
    carried = _walk(unioned, by, carries)

    payload, match_ts = [], F.col(rts)
    if rcols:
        matched = F.col(rcarry).isNotNull()
        if end_col is not None:
            # Discard stale matches: the carried interval already ended.
            # The retained _TS column holds left_on's value on side-1 rows
            # — reading left_on through the left struct would break when
            # left_on is also a by-key (by-keys are excluded from it).
            matched = matched & (
                F.col(f"{rcarry}.{end_col}").isNull()
                | (F.col(ts) <= F.col(f"{rcarry}.{end_col}"))
            )
        payload = [
            F.when(matched, F.col(f"{rcarry}.{c}")).otherwise(F.lit(None)).alias(c)
            for c in rcols
        ]
        match_ts = F.when(matched, match_ts).otherwise(F.lit(None))
    out = carried.select(
        *_left_out(left, left_on, by), *payload, match_ts.alias(right_on)
    )
    if how == "inner":
        out = out.filter(F.col(right_on).isNotNull())
    return out
