"""Snapshot-keyed result cache for the seven dashboard queries.

A dashboard refresh re-runs the same seven bounded aggregates over gold
files that rarely change; each uncached answer costs 4–5 Spark jobs, a
LocalRelation holding the same rows costs none. :func:`snapshot_cached`
wraps a query function of :mod:`plans.analytics` so that a repeat call
over an unchanged gold snapshot returns the stored LocalRelation frame.

- **Eligible** only when every input frame is a bare file scan (its
  analyzed plan is one ``LogicalRelation``, as ``spark.read.parquet``
  gives) over local ``file:`` paths. Derived or in-memory frames
  (``medallion.gold()``, ``createDataFrame``, filtered frames) bypass
  and get the lazy frame the function builds.
- **Key:** one slot per (query, sorted state set, ``k``, owning
  SparkSession); the slot holds the snapshot it was computed from —
  each frame's schema and ``(path, st_mtime_ns, st_size)`` of each
  input file. Any other snapshot is a miss that replaces the slot, and
  a failed ``stat`` (a rewrite deleted the files) evicts it, so a gold
  rewrite is never served stale. A new session never sees another
  session's frames.
- **Miss:** collect the query once and store, and return, a
  LocalRelation of its rows built in the JVM (empty answers included).
- **Bounds:** an LRU of ``_MAX_ENTRIES`` slots under one lock; the
  collect itself runs outside it, once per key: concurrent callers
  missing the same key wait for the first one's answer.
"""

from __future__ import annotations

import functools
import inspect
import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# 7 queries x the dashboard's filters, with room for a few sessions
_MAX_ENTRIES = 64

_lock = threading.Lock()
_slots: OrderedDict = OrderedDict()
_counts = {"hits": 0, "misses": 0, "bypasses": 0}
# (slot, snapshot) -> Event set when the caller computing it is done
_flights: dict = {}


def stats() -> dict[str, int]:
    """Counters since process start: ``hits``, ``misses``,
    ``bypasses`` and the current number of ``entries``."""
    with _lock:
        return dict(_counts, entries=len(_slots))


def _file_snapshot(df: DataFrame) -> tuple | None:
    """(schema, ((path, mtime_ns, size), ...)) of a bare local file
    scan; None for any other frame. Raises OSError when a file is gone."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    files = []
    # the relation's files, not df.inputFiles(): once a frame is
    # persisted its optimized plan is an InMemoryRelation with none
    for uri in relation.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        st = os.stat(unquote(parsed.path))
        files.append((uri, st.st_mtime_ns, st.st_size))
    if not files:
        return None
    return df.schema.json(), tuple(sorted(files))


def _lookup(slot, snapshot) -> DataFrame | None:
    """The stored frame of ``slot`` if it was computed from
    ``snapshot``, counting the hit. Call under ``_lock``."""
    held = _slots.get(slot)
    if held is None or held[0] != snapshot:
        return None
    _slots.move_to_end(slot)
    _counts["hits"] += 1
    return held[1]


def _fill(fn, args, kwargs, spark, slot, snapshot) -> DataFrame:
    """Miss: collect ``fn``'s query, store its rows as a LocalRelation
    and return that frame. The rows stay in the JVM: the collected
    ``java.util.List[Row]`` becomes the LocalRelation with the query's
    own schema, so values and types are exact and no SQL is parsed."""
    query = fn(*args, **kwargs)._jdf
    rows = query.collectAsList()
    local = DataFrame(spark._jsparkSession.createDataFrame(rows, query.schema()), spark)
    with _lock:
        _slots[slot] = (snapshot, local)
        _slots.move_to_end(slot)
        while len(_slots) > _MAX_ENTRIES:
            _slots.popitem(last=False)
        _counts["misses"] += 1
    return local


def snapshot_cached(fn):
    """Serve ``fn``'s answer from the cache when its frames are an
    unchanged local file snapshot (see the module docstring)."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        frames = [v for v in bound.arguments.values() if isinstance(v, DataFrame)]
        spark = frames[0].sparkSession
        states = bound.arguments.get("states")
        slot = (fn.__name__, tuple(sorted(set(states))) if states else None,
                bound.arguments.get("k"), spark)
        try:
            snaps = [_file_snapshot(df) for df in frames]
        except OSError:  # the files are gone: drop what they gave
            snaps = None
        if snaps is None or None in snaps or any(df.sparkSession is not spark for df in frames):
            with _lock:
                if snaps is None:
                    _slots.pop(slot, None)
                _counts["bypasses"] += 1
            return fn(*args, **kwargs)
        snapshot = tuple(snaps)
        with _lock:
            stored = _lookup(slot, snapshot)
            if stored is not None:
                return stored
            # one computation per key: concurrent callers wait for it
            flight = _flights.get((slot, snapshot))
            leader = flight is None
            if leader:
                flight = _flights[(slot, snapshot)] = threading.Event()
        if not leader:
            flight.wait()
            with _lock:
                stored = _lookup(slot, snapshot)
            if stored is not None:
                return stored
        try:
            return _fill(fn, args, kwargs, spark, slot, snapshot)
        finally:
            if leader:
                with _lock:
                    del _flights[(slot, snapshot)]
                flight.set()

    return wrapper
