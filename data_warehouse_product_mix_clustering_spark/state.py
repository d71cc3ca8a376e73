"""One session-scoped store for everything the engine memoizes.

Every memo is an entry keyed ``(applicationId, kind, src, params)``:

- ``kind`` names what was built: ``table`` (a resolved parquet scan),
  ``star`` (a star-schema builder's plan, or the published star: the
  four warehouse tables persisted by the warehouse load), ``clusters``
  (the persisted product clustering with the Product Details base
  published with it, and the persisted ``cluster_profile`` that reads
  it), ``result`` (the persisted answer of a registered query that the
  dashboard serves, see ``served``), ``shingles`` (a persisted shingle
  relation), ``postings`` (an on-disk inverted index), ``merges`` (a
  trained BPE merge table) or ``advice`` (a broadcast-advisor decision);
- ``src`` is the path the value was built from: a table file, or the
  sf_dir for values built from several of its tables;
- ``params`` tells apart values of one kind built from one ``src``.

The store is one LRU with one bound. Inserting evicts every entry of
another session (a stopped session's DataFrames are unusable and would
pin it). An entry may carry a ``release`` callback — unpersist a
persisted relation, remove an index directory — that runs when the entry
is evicted or invalidated, and at interpreter exit for every entry still
live. Entries that carry one own executor storage or disk, so at most
``MAX_HELD`` of them stay live; past that the least recently used of
them is evicted.

``invalidate(path)`` drops every entry whose ``src`` equals ``path`` or
where either lies under the other, compared by path component. So
rewriting ``{sf}/nation.parquet`` drops that scan and everything built
from ``{sf}`` as a whole, but keeps the other tables' scans and the text
entries built from ``{sf}/documents.parquet``.
"""

from __future__ import annotations

import atexit
import functools
import os
import threading
from collections import OrderedDict
from typing import Callable

from py4j.protocol import Py4JError

# Running every registered query at one sf_dir, after a warehouse load,
# peaks at 29 live entries (10 scans, 7 star plans, the published star,
# 4 served results, 2 clusters entries, 2 shingle relations, one of each
# other kind), so the bound holds four corpora.
MAX_ENTRIES = 128
# One corpus holds ten entries that own storage (the published star, four
# served results, the fit with its published Details base, the persisted
# cluster profile, two persisted shingle relations and one postings index
# directory), so the bound holds two corpora before one's renders evict
# the other's.
MAX_HELD = 20

_entries: "OrderedDict[tuple, tuple[object, Callable | None]]" = OrderedDict()
_lock = threading.Lock()
# Keys being built, each with the event its builder sets when done.
_building: "dict[tuple, threading.Event]" = {}
_exit_hook = False


def _release(dropped) -> None:
    for value, release in dropped:
        if release is not None:
            release(value)


def cached(spark, kind: str, src: str, params, build: Callable, release: Callable | None = None):
    """The session's value for ``(kind, src, params)``, built by
    ``build()`` on a miss, once: a caller that misses while another
    thread builds the same key waits for that build. ``release(value)``
    runs when the entry leaves the store."""
    global _exit_hook
    app_id = spark.sparkContext.applicationId
    key = (app_id, kind, src, params)
    while True:
        with _lock:
            hit = _entries.get(key)
            if hit is not None:
                _entries.move_to_end(key)
                return hit[0]
            pending = _building.get(key)
            if pending is None:
                _building[key] = threading.Event()
                break
        # Another thread is building this key. Wait for its value rather
        # than build a second one: two builds of one persisted plan share
        # one cache entry, so releasing the loser would uncache the winner.
        pending.wait()
    try:
        value = build()  # outside the lock: builds nest (star → table)
    except BaseException:
        with _lock:
            _building.pop(key).set()
        raise
    with _lock:
        _building.pop(key).set()
        dropped = [_entries.pop(k) for k in [k for k in _entries if k[0] != app_id]]
        _entries[key] = (value, release)
        while len(_entries) > MAX_ENTRIES:
            dropped.append(_entries.popitem(last=False)[1])
        held = [k for k, (_, r) in _entries.items() if r is not None]
        for k in held[: max(0, len(held) - MAX_HELD)]:
            dropped.append(_entries.pop(k))
        if not _exit_hook:
            # Registered after the session exists, so it runs before
            # pyspark's own exit hook stops the JVM.
            atexit.register(invalidate)
            _exit_hook = True
    _release(dropped)
    return value


def unpersist_quietly(df) -> None:
    """Release a persisted relation; a no-op once its session has
    stopped (the exit hook runs after tests and scripts stop theirs)."""
    try:
        df.unpersist()
    except (Py4JError, ConnectionError):
        pass  # session (or its gateway) already stopped; nothing to release


def served(fn: Callable) -> Callable:
    """Serve a ``(spark, sf_dir) -> DataFrame`` query from its persisted
    answer, held as the ``result`` entry ``(sf_dir, fn.__name__)``.

    The answer is the query's own plan, persisted on first use, so a
    page that renders it again (or filters it) reads the cached relation
    instead of re-deriving the fact. ``invalidate`` of a table file under
    ``sf_dir`` drops it, like every entry built from ``sf_dir``."""

    @functools.wraps(fn)
    def wrapper(spark, sf_dir: str):
        return cached(
            spark,
            "result",
            sf_dir,
            fn.__name__,
            lambda: fn(spark, sf_dir).persist(),
            release=unpersist_quietly,
        )

    return wrapper


def _parts(path: str) -> list[str]:
    return os.path.abspath(path).split(os.sep)


def _related(src: str, path: list[str]) -> bool:
    s = _parts(src)
    n = min(len(s), len(path))
    return s[:n] == path[:n]


def invalidate(path: str | None = None, kind: str | None = None) -> None:
    """Drop (and release) the entries built from ``path`` — or all
    entries — optionally of one ``kind`` only."""
    parts = None if path is None else _parts(path)
    with _lock:
        doomed = [
            k
            for k in _entries
            if (kind is None or k[1] == kind) and (parts is None or _related(k[2], parts))
        ]
        dropped = [_entries.pop(k) for k in doomed]
    _release(dropped)
