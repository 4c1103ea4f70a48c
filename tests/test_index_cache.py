"""hermod_spark.state.IndexCache: the process-level memo behind every
build-once artifact the entry serves from.

- a hit is lock-free: it never waits behind a build of another key;
- concurrent misses on one key run ``build`` exactly once;
- a ``build`` that raises stores nothing, so the next ``get`` retries.
"""

from __future__ import annotations

import sys
import threading
import time

import pytest

from hermod_spark.state import IndexCache


def _never():
    raise AssertionError("build must not run on a hit")


def _in_thread(fn):
    out = []
    t = threading.Thread(target=lambda: out.append(fn()), daemon=True)
    t.start()
    return t, out


def test_hit_and_other_miss_never_wait_behind_a_blocked_build():
    cache = IndexCache()
    cache.get(("k", "a"), lambda: "A")
    started, release = threading.Event(), threading.Event()

    def blocked_build():
        started.set()
        release.wait(30)
        return "B"

    builder, built = _in_thread(lambda: cache.get(("k", "b"), blocked_build))
    try:
        assert started.wait(10)
        hit, got = _in_thread(lambda: cache.get(("k", "a"), _never))
        hit.join(5)
        assert got == ["A"], "a hit on A waited behind the build of B"
        miss, got = _in_thread(lambda: cache.get(("k", "c"), lambda: "C"))
        miss.join(5)
        assert got == ["C"], "a miss on C waited behind the build of B"
    finally:
        release.set()
        builder.join(10)
    assert built == ["B"]


def test_concurrent_misses_on_one_key_build_once():
    cache = IndexCache()
    calls = []
    gate = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the other seven inside their miss
        return object()

    def one():
        gate.wait(10)
        return cache.get(("ann", "sf"), build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [_in_thread(one) for _ in range(8)]
        for t, _ in threads:
            t.join(10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t, _ in threads)
    values = [out[0] for _, out in threads]
    assert len(calls) == 1
    assert all(v is values[0] for v in values)


def test_failed_build_stores_nothing_and_retries():
    cache = IndexCache()

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        cache.get(("fp", "sf"), boom)
    assert cache.get(("fp", "sf"), lambda: "built") == "built"
    assert cache.get(("fp", "sf"), _never) == "built"
