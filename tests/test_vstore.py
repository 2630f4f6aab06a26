"""The versioned-store core (operators/vstore.py): the commit loop.

Every store family commits through :func:`vstore.commit_next`, so its
retry, no-op and burned-marker rules are locked here once, with trivial
``stage`` callbacks and driver-side metadata files only (no Spark job).
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import time

import pytest

from intellect_bi_spark.operators import vstore


@pytest.fixture
def store(spark):
    """A store with v=1 published (manifest pinning one entry)."""
    tmp = tempfile.mkdtemp(prefix="sgraft_vstore_")
    _publish(spark, tmp, 1, "a0", [("s0", 0)])
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _publish(spark, path, v, att, entries):
    """A rival writer's whole commit of version ``v``."""
    vstore.write_manifest(spark, path, v, entries, att)
    vstore.publish_version(spark, path, v, att)


def _burn(spark, path, v):
    """The empty marker a writer killed inside the create-to-close
    window leaves behind."""
    fs, hp = vstore.fs_of(spark, f"{path}/_published/v={v}")
    fs.create(hp, False).close()


def _markers(spark, path):
    fs, hp = vstore.fs_of(spark, f"{path}/_published")
    return sorted(
        (st.getPath().getName(), st.getLen()) for st in fs.listStatus(hp)
    )


def _appending(spark, path, calls, entry=("s1", 0)):
    """A stage that records its (base, next, att) and merges one entry
    onto the base version's manifest."""

    def stage(base, nxt, att):
        calls.append((base, nxt, att))
        return vstore.manifest_entries(spark, path, base) + [entry], nxt

    return stage


def test_conflict_restages_with_fresh_attempt_at_next_number(spark, store):
    calls = []
    stage = _appending(spark, store, calls)

    def racing(base, nxt, att):
        if not calls:  # a rival publishes ``nxt`` while we stage it
            _publish(spark, store, nxt, "rival", [("r", 1)])
        return stage(base, nxt, att)

    assert vstore.commit_next(spark, store, racing) == 3
    assert [(b, n) for b, n, _ in calls] == [(1, 2), (2, 3)]
    assert calls[0][2] != calls[1][2]
    assert vstore.latest_version(spark, store) == 3
    assert vstore.version_meta(spark, store, 3)["att"] == calls[1][2]
    # the retry merged onto the rival's version, losing nothing
    assert vstore.manifest_entries(spark, store, 3) == [
        ("r", 1), ("s1", 0)
    ]


def test_retry_budget_runs_out_with_version_conflict(spark, store):
    calls = []
    stage = _appending(spark, store, calls)

    def always_beaten(base, nxt, att):
        _publish(spark, store, nxt, f"rival{nxt}", [("r", nxt)])
        return stage(base, nxt, att)

    with pytest.raises(vstore.VersionConflict):
        vstore.commit_next(spark, store, always_beaten)
    assert len(calls) == vstore.PUBLISH_RETRIES
    assert [n for _, n, _ in calls] == list(
        range(2, 2 + vstore.PUBLISH_RETRIES)
    )
    # every published version is a rival's; none is ours
    assert all(
        vstore.version_meta(spark, store, n)["att"].startswith("rival")
        for _, n, _ in calls
    )


def test_nothing_to_commit_publishes_nothing(spark, store):
    before = _markers(spark, store)
    assert vstore.commit_next(
        spark, store, lambda base, nxt, att: (None, "noop")
    ) == "noop"
    assert _markers(spark, store) == before
    assert vstore.versions_in(spark, f"{store}/manifests") == [1]


def test_burned_marker_is_skipped_after_the_wait(spark, store):
    _burn(spark, store, 2)
    calls = []
    t0 = time.perf_counter()
    assert vstore.commit_next(spark, store, _appending(spark, store, calls)) == 3
    # the empty marker was waited on (version_meta's bounded retry)
    # before it counted as burned
    assert time.perf_counter() - t0 >= 0.5
    assert [(b, n) for b, n, _ in calls] == [(1, 3)]
    assert vstore.latest_version(spark, store) == 3
    assert vstore.published_versions(spark, store) == [1, 3]
    # vacuum sweeps the burned marker; the next commit takes 4
    vstore.vacuum_versioned_store(spark, store, ("manifests",), (), 1)
    assert [name for name, _ in _markers(spark, store)] == ["v=3"]
    calls.clear()
    vstore.commit_next(spark, store, _appending(spark, store, calls))
    assert [(b, n) for b, n, _ in calls] == [(3, 4)]


def test_marker_that_gains_a_body_is_merged_onto(spark, store):
    # a concurrent publisher of v=2 between its marker create and its
    # body write: the commit must wait, then stage onto v=2
    vstore.write_manifest(spark, store, 2, [("r", 1)], "rival")
    _burn(spark, store, 2)

    def finish_publish():
        time.sleep(0.2)
        fs, hp = vstore.fs_of(spark, f"{store}/_published/v=2")
        out = fs.create(hp, True)
        try:
            out.write(bytearray(b'{"att": "rival", "bid": null}'))
        finally:
            out.close()

    writer = threading.Thread(target=finish_publish)
    writer.start()
    calls = []
    try:
        assert vstore.commit_next(
            spark, store, _appending(spark, store, calls)
        ) == 3
    finally:
        writer.join()
    assert [(b, n) for b, n, _ in calls] == [(2, 3)]
    assert vstore.manifest_entries(spark, store, 3) == [
        ("r", 1), ("s1", 0)
    ]


def test_first_commit_on_an_empty_store_publishes_v1(spark):
    tmp = tempfile.mkdtemp(prefix="sgraft_vstore_")
    try:
        calls = []
        vstore.commit_next(
            spark,
            tmp,
            lambda base, nxt, att: (calls.append((base, nxt)) or [("s", 0)], None),
        )
        assert calls == [(0, 1)]
        assert vstore.latest_version(spark, tmp) == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
