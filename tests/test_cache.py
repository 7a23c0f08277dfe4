"""The package's one cache primitive (alma_memory_spark/cache.py): bound
and LRU order, validity, eviction callbacks, the session rule and
build-once under concurrency. No Spark session needed: the session rule
only reads `spark.sparkContext.applicationId`."""

import pathlib
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

from alma_memory_spark.cache import LRU, session_key


def _fake_spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_bound_evicts_least_recently_used():
    c = LRU(max_entries=2)
    c.put("a", 1)
    c.put("b", 2)
    assert c.get("a") == 1  # refreshes a: b is now the oldest
    c.put("c", 3)
    assert c.get("b") is None
    assert (c.get("a"), c.get("c")) == (1, 3)
    assert len(c) == 2


def test_put_refreshes_recency():
    c = LRU(max_entries=2)
    c.put("a", 1)
    c.put("b", 2)
    c.put("a", 10)
    c.put("c", 3)
    assert c.values() == [10, 3]


def test_unbounded_keeps_everything():
    c = LRU()
    for i in range(500):
        c.put(i, i)
    assert len(c) == 500


def test_valid_rejection_drops_the_entry():
    c = LRU()
    c.put("k", 1)
    assert c.get("k", valid=lambda v: v == 2) is None
    assert len(c) == 0
    assert c.get("k") is None
    c.put("k", 2)
    assert c.get("k", valid=lambda v: v == 2) == 2


def test_on_evict_runs_once_per_entry_for_bound_and_clear():
    gone = []
    c = LRU(max_entries=2, on_evict=gone.append)
    for v in ("a", "b", "c", "d"):
        c.put(v, v)
    assert gone == ["a", "b"]
    c.clear()
    assert sorted(gone) == ["a", "b", "c", "d"]
    c.clear()
    assert len(gone) == 4


def test_on_evict_runs_for_rejected_and_replaced_values():
    gone = []
    c = LRU(on_evict=gone.append)
    c.put("k", "old")
    c.put("k", "new")
    assert gone == ["old"]
    c.put("k", "new")  # the same object again: nothing left the cache
    assert gone == ["old"]
    assert c.get("k", valid=lambda v: False) is None
    assert gone == ["old", "new"]


def test_discard_drops_one_entry_through_on_evict():
    gone = []
    c = LRU(on_evict=gone.append)
    c.put("a", 1)
    c.put("b", 2)
    c.discard("a")
    assert gone == [1]
    assert (c.get("a"), c.get("b")) == (None, 2)
    c.discard("a")  # absent: nothing leaves
    assert gone == [1]


def test_session_rule_evicts_other_applications_once():
    gone = []
    c = LRU(on_evict=gone.append, session_scoped=True)
    a, b = _fake_spark("app-a"), _fake_spark("app-b")
    c.put(session_key(a, 1), "a1")
    c.put(session_key(a, 2), "a2")
    assert gone == []
    c.put(session_key(b, 1), "b1")
    assert sorted(gone) == ["a1", "a2"]
    assert c.values() == ["b1"]
    # a lookup under a new applicationId applies the rule too
    assert c.get(session_key(a, 1)) is None
    assert sorted(gone) == ["a1", "a2", "b1"]
    assert len(c) == 0


def test_sessions_sharing_an_application_do_not_evict_each_other():
    gone = []
    c = LRU(on_evict=gone.append, session_scoped=True)
    s1, s2 = _fake_spark("app"), _fake_spark("app")  # newSession() twins
    c.put(session_key(s1, "x"), 1)
    c.put(session_key(s2, "y"), 2)
    assert gone == [] and len(c) == 2


def test_get_or_build_builds_once_under_contention():
    c = LRU()
    calls = []
    go = threading.Barrier(16)

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    def worker(_):
        go.wait()
        return c.get_or_build("k", build)

    with ThreadPoolExecutor(16) as pool:
        got = list(pool.map(worker, range(16)))
    assert len(calls) == 1
    assert len({id(v) for v in got}) == 1
    assert c._builds == {}


def test_different_keys_build_concurrently():
    """Key A's build waits on an event only key B's build sets: with a
    cache-wide build lock this deadlocks (the wait times out)."""
    c = LRU()
    a_building, b_ran = threading.Event(), threading.Event()

    def build_a():
        a_building.set()
        assert b_ran.wait(timeout=10), "key B could not build while A built"
        return "a"

    def build_b():
        b_ran.set()
        return "b"

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(c.get_or_build, "A", build_a)
        assert a_building.wait(timeout=10)
        fb = pool.submit(c.get_or_build, "B", build_b)
        assert (fa.result(), fb.result()) == ("a", "b")


def test_concurrent_puts_evict_each_value_exactly_once():
    """Stress: 32 threads put into a bound-8 cache, reusing keys, with a
    short switch interval. Every value put is either still cached or was
    handed to on_evict exactly once: none lost, none evicted twice."""
    gone = []
    c = LRU(max_entries=8, on_evict=gone.append)

    def worker(t):
        for i in range(200):
            c.put((t, i % 4), (t, i))
            c.get((t, (i + 1) % 4))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(32) as pool:
            list(pool.map(worker, range(32)))
    finally:
        sys.setswitchinterval(old)
    assert len(c) == 8
    assert sorted(gone + c.values()) == [(t, i) for t in range(32) for i in range(200)]


def test_failed_build_caches_nothing():
    c = LRU()

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        c.get_or_build("k", boom)
    assert c.get("k") is None and c._builds == {}
    assert c.get_or_build("k", lambda: 5) == 5


def test_cache_py_is_the_only_cache_implementation():
    """The package's only hand-rolled LRU and session keying live in
    cache.py: no other module orders entries, pops the oldest, or keys
    by applicationId."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "alma_memory_spark"
    banned = ("OrderedDict", ".popitem(", "sparkContext.applicationId")
    hits = [
        f"{path.relative_to(pkg)}: {word}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "cache.py" or path.parent != pkg
        for word in banned
        if word in path.read_text()
    ]
    assert hits == []
