"""Focused units for the r15 optimization internals: `_run_staged`
(concurrent staged-write execution inside a mutation leg — guide §2.6)
must run every thunk, propagate failures, and degrade to a plain call
for a single thunk.  The store-content consequences of using it (byte-
identical pinned files, manifest correctness, serve parity) are locked
by the existing test_vectorstore / test_pin_lifecycle / test_parity
suites; these units pin the helper's own contract."""

import threading

import pytest

from intellect_bi_spark.operators.retrieval import _run_staged


def test_run_staged_runs_every_thunk():
    done = []
    lock = threading.Lock()

    def mk(i):
        def t():
            with lock:
                done.append(i)

        return t

    _run_staged(*[mk(i) for i in range(4)])
    assert sorted(done) == [0, 1, 2, 3]


def test_run_staged_propagates_the_failure():
    done = []

    def ok():
        done.append("ok")

    def boom():
        raise ValueError("staged write failed")

    with pytest.raises(ValueError, match="staged write failed"):
        _run_staged(ok, boom)
    # the publish-gated contract: the surviving thunk may or may not
    # have completed (both are just unpublished staged debris), but the
    # failure must reach the caller so no publish happens
    assert done in ([], ["ok"])


def test_run_staged_single_thunk_runs_inline():
    tid = []
    _run_staged(lambda: tid.append(threading.get_ident()))
    assert tid == [threading.get_ident()]


def test_run_staged_pools_derive_from_the_callers_pool(spark):
    """Concurrent callers in different scheduler pools stage their
    jobs in distinct pools (``{caller_pool}-staged-{i}``); a caller
    with no pool gets ``sgraft-staged-{i}``."""
    sc = spark.sparkContext
    seen: dict = {}
    lock = threading.Lock()
    both_in = threading.Barrier(2)

    def caller(pool):
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:

            def thunk(i):
                def t():
                    with lock:
                        seen[(pool, i)] = sc.getLocalProperty(
                            "spark.scheduler.pool"
                        )

                return t

            both_in.wait()  # the two callers' _run_staged overlap
            _run_staged(thunk(0), thunk(1))
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    threads = [
        threading.Thread(target=caller, args=(p,)) for p in ("chain-a", "chain-b")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert seen == {
        ("chain-a", 0): "chain-a-staged-0",
        ("chain-a", 1): "chain-a-staged-1",
        ("chain-b", 0): "chain-b-staged-0",
        ("chain-b", 1): "chain-b-staged-1",
    }

    got = []
    _run_staged(
        lambda: got.append(sc.getLocalProperty("spark.scheduler.pool")),
        lambda: got.append(sc.getLocalProperty("spark.scheduler.pool")),
    )
    assert sorted(got) == ["sgraft-staged-0", "sgraft-staged-1"]
