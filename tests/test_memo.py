"""The session memo (memo.py): eviction, per-key build locking, and the
build records bench.py times."""

from __future__ import annotations

import threading
import time
import uuid

import pytest

from lenses_topology_example_spark import memo
from lenses_topology_example_spark.tables import load_table


def _key(spark, sf_dir, key):
    return (spark.sparkContext.applicationId, sf_dir, key)


class _StoppedFrame:
    # sparkSession.sparkContext._jsc is None == stopped context
    unpersisted = False

    class _Sess:
        class sparkContext:
            _jsc = None

    sparkSession = _Sess()

    def unpersist(self):
        self.unpersisted = True


class _UnknownFrame:
    unpersisted = False

    @property
    def sparkSession(self):
        raise RuntimeError("probe failed for unknown cause")

    def unpersist(self):
        self.unpersisted = True


class _LiveFrame:
    unpersisted = False

    def __init__(self, sess):
        self.sparkSession = sess

    def unpersist(self):
        self.unpersisted = True


@pytest.mark.parametrize("kind", ["derived", "loader"])
def test_memo_eviction_only_stopped_sessions(spark, fresh_sf_dir, kind):
    """A miss sweeps out other sessions' entries, but must not thrash
    entries of OTHER LIVE sessions (eviction keyed on 'differs from
    current app' would rebuild the victim's frames unboundedly): a
    foreign entry whose context is alive survives; one whose context is
    DEMONSTRABLY stopped (_jsc gone — the classic stop signature) is
    unpersisted best-effort and dropped; and one whose liveness probe
    fails for an UNKNOWN reason (e.g. Spark Connect has no _jsc chain at
    all) is KEPT — leak-on-doubt. The same sweep serves loader frames,
    triggered by load_table."""
    key = "table:region" if kind == "loader" else "tokens"
    dead, unknown = _StoppedFrame(), _UnknownFrame()
    live = _LiveFrame(spark)
    planted = {
        ("dead-app-id", "x", key): dead,
        ("unknown-app-id", "x", key): unknown,
        ("other-live-app-id", "x", key): live,
    }
    memo._STORE.update(planted)
    try:
        if kind == "loader":
            load_table(spark, fresh_sf_dir, "region")
        else:
            memo.cached(spark, fresh_sf_dir, key, lambda: spark.range(1))
        assert ("dead-app-id", "x", key) not in memo._STORE
        assert dead.unpersisted
        assert ("unknown-app-id", "x", key) in memo._STORE
        assert not unknown.unpersisted
        assert ("other-live-app-id", "x", key) in memo._STORE
        assert not live.unpersisted
    finally:
        for k in planted:
            memo._STORE.pop(k, None)


def test_concurrent_misses_of_one_key_build_once(spark):
    sf = f"memo-test-{uuid.uuid4().hex}"
    entered, release = threading.Event(), threading.Event()
    calls, results = [], []

    def build():
        calls.append(1)
        entered.set()
        assert release.wait(30)
        return object()

    def run():
        results.append(memo.cached(spark, sf, "k", build))

    threads = [threading.Thread(target=run) for _ in range(2)]
    threads[0].start()
    assert entered.wait(30)
    threads[1].start()
    time.sleep(0.2)  # let the second thread reach the key lock
    release.set()
    for t in threads:
        t.join(30)
    memo.drop(spark, sf)
    assert len(calls) == 1
    assert len(results) == 2 and results[0] is results[1]


def test_load_table_does_not_wait_behind_another_build(spark, fresh_sf_dir):
    """The store lock is held only around dict access: a loader miss
    completes while another key's thunk is still running."""
    entered, release = threading.Event(), threading.Event()

    def slow():
        entered.set()
        assert release.wait(60)
        return object()

    builder = threading.Thread(
        target=memo.cached, args=(spark, fresh_sf_dir, "slow", slow)
    )
    builder.start()
    try:
        assert entered.wait(30)
        loaded = []
        loader = threading.Thread(
            target=lambda: loaded.append(
                load_table(spark, fresh_sf_dir, "nation")
            )
        )
        loader.start()
        loader.join(30)
        assert loaded, "load_table waited behind another key's build"
    finally:
        release.set()
        builder.join(30)


def test_raising_thunk_stores_nothing(spark):
    sf = f"memo-test-{uuid.uuid4().hex}"

    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        memo.cached(spark, sf, "k", boom)
    assert _key(spark, sf, "k") not in memo._STORE
    value = object()
    assert memo.cached(spark, sf, "k", lambda: value) is value
    memo.drop(spark, sf)
    assert _key(spark, sf, "k") not in memo._STORE


def test_recording_lists_builds_in_dependency_order(spark):
    """Inner builds complete first, and an outer build's self time
    excludes the builds nested inside it."""
    sf = f"memo-test-{uuid.uuid4().hex}"

    def inner():
        time.sleep(0.3)
        return "inner"

    def outer():
        memo.cached(spark, sf, "inner", inner)
        time.sleep(0.05)
        return "outer"

    with memo.recording() as builds:
        memo.cached(spark, sf, "outer", outer)
        memo.cached(spark, sf, "outer", outer)  # a hit records nothing
    memo.drop(spark, sf)
    assert [(k, v) for k, v, _ in builds] == [
        ("inner", "inner"),
        ("outer", "outer"),
    ]
    self_s = {k: s for k, _, s in builds}
    assert self_s["inner"] >= 0.3
    assert 0.05 <= self_s["outer"] < 0.3


def test_drop_releases_only_its_sf_dir(spark):
    a, b = (f"memo-test-{uuid.uuid4().hex}" for _ in range(2))
    fa, fb = _LiveFrame(spark), _LiveFrame(spark)
    memo.cached(spark, a, "k", lambda: fa)
    memo.cached(spark, b, "k", lambda: fb)
    memo.drop(spark, a)
    assert _key(spark, a, "k") not in memo._STORE and fa.unpersisted
    assert _key(spark, b, "k") in memo._STORE and not fb.unpersisted
    memo.drop(spark, b)
