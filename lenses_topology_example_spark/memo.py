"""The session-scoped memo: the one cache every builder shares.

``cached(spark, sf_dir, key, build)`` returns the value stored under
``(applicationId, sf_dir, key)``; on a miss it calls the zero-arg
``build`` and stores what it returns.

- Loader frames (``tables.load_table``, keys ``"table:<name>"``) are
  stored plain: ``spark.read.parquet`` pays a driver-side footer read
  per call, and a catalog build issues ~800 loads over ~10 sources
  (68.5 s -> 48.8 s for the 287-entry build phase when memoized).
- Derived frames are stored persisted (callers pass
  ``lambda: frame.persist()``): Spark reuses no exchange across the
  consumers of an uncached frame, and persisting a fresh frame per call
  would stack a new cached copy per invocation in a long-lived session.
- ``build`` is a thunk because PySpark analyzes eagerly: constructing a
  memo frame costs 47-236 ms of Catalyst work at sf0.1, which a hit
  should not pay. Eager builds (the cluster fixpoints) sit inside it too.
- Repeated calls return the SAME object, so a self-join of two results
  must go through ``.alias()``.
- Each key has its own lock, so concurrent misses build a key once,
  and the store lock guards only dict access, so no lookup waits behind
  another key's build. A thunk that raises stores nothing.
- Keys carry the applicationId (a frame of a stopped session crashes
  its consumer). Each miss drops, and unpersists best-effort, entries
  of other sessions that are DEMONSTRABLY stopped; an entry whose
  liveness probe fails for an unknown reason (Spark Connect has no
  ``_jsc``) is kept, since evicting a live foreign session's frames
  would thrash two concurrent sessions. ``drop`` releases one
  ``sf_dir`` explicitly.
- Inside ``recording()`` every build appends ``(key, value, self_s)``
  in completion order, which is dependency order. ``self_s`` is the
  thunk's wall time minus the builds nested in it on the same thread.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

from pyspark.sql import SparkSession

_STORE: dict[tuple[str, str, str], Any] = {}
_KEY_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_LOCK = threading.Lock()
_RECORDERS: list[list[tuple[str, Any, float]]] = []
_THREAD = threading.local()  # .nested: seconds of nested builds per open build


def cached(
    spark: SparkSession, sf_dir: str, key: str, build: Callable[[], Any]
) -> Any:
    """The value stored for ``key`` in this session and ``sf_dir``;
    on a miss, ``build()`` runs once and its result is stored."""
    app = spark.sparkContext.applicationId
    k = (app, sf_dir, key)
    with _LOCK:
        if k in _STORE:
            return _STORE[k]
        key_lock = _KEY_LOCKS.setdefault(k, threading.Lock())
        foreign = [(fk, v) for fk, v in _STORE.items() if fk[0] != app]
    with key_lock:
        with _LOCK:
            if k in _STORE:  # built by the thread we waited for
                return _STORE[k]
        _evict([fk for fk, v in foreign if _stopped(v)])
        nested = _THREAD.__dict__.setdefault("nested", [])
        nested.append(0.0)
        t0 = time.perf_counter()
        try:
            value = build()
        finally:
            wall = time.perf_counter() - t0
            self_s = wall - nested.pop()
            if nested:
                nested[-1] += wall
        with _LOCK:
            _STORE[k] = value
            for rec in _RECORDERS:
                rec.append((key, value, self_s))
    return value


def _stopped(value: Any) -> bool:
    try:
        jsc = value.sparkSession.sparkContext._jsc
        return jsc is None or jsc.sc().isStopped()
    except Exception:
        return False  # leak-on-doubt


def _evict(keys: list[tuple[str, str, str]]) -> None:
    with _LOCK:
        values = [_STORE.pop(k) for k in keys if k in _STORE]
        for k in keys:
            _KEY_LOCKS.pop(k, None)
    for v in values:
        try:
            v.unpersist()
        except Exception:
            pass


def drop(spark: SparkSession, sf_dir: str) -> None:
    """Release every entry this session holds for ``sf_dir``."""
    app = spark.sparkContext.applicationId
    with _LOCK:
        keys = [k for k in _STORE if k[:2] == (app, sf_dir)]
    _evict(keys)


@contextmanager
def recording() -> Iterator[list[tuple[str, Any, float]]]:
    """Yield a list that collects ``(key, value, self_s)`` for every
    build that completes inside the block."""
    rec: list[tuple[str, Any, float]] = []
    with _LOCK:
        _RECORDERS.append(rec)
    try:
        yield rec
    finally:
        with _LOCK:
            _RECORDERS.remove(rec)
