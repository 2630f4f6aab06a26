"""Manifest-pinned sketch-store maintenance: the cell-level
upsert/delete ≡ rebuild claims, the copy-on-write file-level claims
(every pre-mutation file byte-untouched), and the r15 snapshot-
isolation contract (VERDICT r14 #3, option A — a reader pinned at v
mid-erasure sees the complete pre-delete rollup; the r14 documented
read-committed-per-day contract is retired) — the vectorstore/
retrieval store-test discipline applied to the fourth store."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from intellect_bi_spark.catalog import load_tables
from intellect_bi_spark.operators import sketches as sk
from intellect_bi_spark.operators import vstore


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )


def _cells(spark, path, v=None):
    """(day, event_type) → (estimate, n_events) from the store's
    PINNED cells (latest or version ``v``'s manifest)."""
    if v is None:
        v = vstore.latest_version(spark, path)
    pinned = vstore.read_segments(
        spark,
        f"{path}/{sk._SK_ROOT}",
        vstore.manifest_entries(spark, path, v),
        sk._SK_CELL_SCHEMA,
        pcol="day_part",
    )
    return {
        (str(r["day"]), r["event_type"]): (r["est"], r["n_events"])
        for r in pinned.groupBy("day", "event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
            F.sum("n_events").alias("n_events"),
        )
        .collect()
    }


def _seg_files(path):
    """Every data file under every segment → its size (the byte-
    untouched ledger for the copy-on-write claims)."""
    out = {}
    root = os.path.join(path, sk._SK_ROOT)
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            fp = os.path.join(dirpath, f)
            out[os.path.relpath(fp, root)] = os.path.getsize(fp)
    return out


def _served(spark, path, v=None):
    return sorted(
        (r["event_type"], r["est"], r["n_events"])
        for r in sk.serve_sketch_rollup_from_store(spark, path, v=v)
        .collect()
    )


def test_sketch_upsert_cells_equal_full_rebuild(spark, sf_dir):
    ev = _events(spark, sf_dir)
    is_batch = F.dayofmonth(F.expr("CAST(ts AS DATE)")) % 7 == 3
    up_tmp = tempfile.mkdtemp(prefix="sgraft_skup_")
    rb_tmp = tempfile.mkdtemp(prefix="sgraft_skrb_")
    try:
        sk._init_sketch_store(ev.filter(~is_batch), up_tmp)
        sk.upsert_sketch_rollup_store(ev.filter(is_batch), up_tmp)
        sk.build_sketch_rollup_store(spark, sf_dir, rb_tmp)
        assert _cells(spark, up_tmp) == _cells(spark, rb_tmp)
        # and the served per-type merge agrees too
        assert _served(spark, up_tmp) == _served(spark, rb_tmp)
    finally:
        shutil.rmtree(up_tmp, ignore_errors=True)
        shutil.rmtree(rb_tmp, ignore_errors=True)


def test_sketch_upsert_copy_on_write_and_manifest(spark, sf_dir):
    """The upsert's file-level claims under the manifest discipline:
    one NEW segment lands, every pre-existing file is byte-untouched,
    and the v2 manifest pins exactly v1's entries plus the batch's
    day cells."""
    ev = _events(spark, sf_dir)
    is_batch = F.dayofmonth(F.expr("CAST(ts AS DATE)")) % 7 == 3
    tmp = tempfile.mkdtemp(prefix="sgraft_skupf_")
    try:
        sk._init_sketch_store(ev.filter(~is_batch), tmp)
        before = _seg_files(tmp)
        v1_entries = vstore.manifest_entries(spark, tmp, 1)
        batch_days = sorted(
            str(r["d"])
            for r in ev.filter(is_batch)
            .select(F.expr("CAST(CAST(ts AS DATE) AS STRING)").alias("d"))
            .distinct()
            .collect()
        )
        assert batch_days and not (
            set(batch_days) & {d for _, d in v1_entries}
        )
        sk.upsert_sketch_rollup_store(ev.filter(is_batch), tmp)
        after = _seg_files(tmp)
        for f, sz in before.items():
            assert after.get(f) == sz, f"{f}: pre-existing file changed"
        v2_entries = vstore.manifest_entries(spark, tmp, 2)
        new = [e for e in v2_entries if e not in v1_entries]
        assert sorted(d for _, d in new) == batch_days
        segs = {s for s, _ in new}
        assert len(segs) == 1 and segs != {s for s, _ in v1_entries}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sketch_delete_equals_rebuild_without_users(spark, sf_dir):
    """Deletion through the sketch store: after erasing the user set,
    the PINNED cell relation equals a from-scratch rollup of ONLY the
    surviving events (same estimates, same exact counts per cell) —
    and EVERY pre-delete file is byte-untouched (copy-on-write: the
    erasure writes a survivor segment and un-pins, never rewrites)."""
    ev = _events(spark, sf_dir)
    pred = sk._del_users_pred()
    tmp = tempfile.mkdtemp(prefix="sgraft_skdel_")
    tmp2 = tempfile.mkdtemp(prefix="sgraft_skdel_rebuild_")
    try:
        sk.build_sketch_rollup_store(spark, sf_dir, tmp)
        before = _seg_files(tmp)
        affected = sk.delete_users_from_sketch_store(spark, tmp, ev, pred)
        assert affected  # ~10% of users must touch some day
        after = _seg_files(tmp)
        for f, sz in before.items():
            assert after.get(f) == sz, f"{f}: pre-delete file rewritten"
        # pinned cell relation == rebuild over survivors only
        sk._init_sketch_store(ev.filter(~pred), tmp2)
        assert _cells(spark, tmp) == _cells(spark, tmp2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)


def test_sketch_delete_pinned_reader_snapshot(spark, sf_dir):
    """The r15 snapshot-isolation contract
    (delete_users_from_sketch_store's docstring): a reader pinned at
    v=1 DURING/AFTER the erasure sees the complete pre-delete rollup —
    bit-exact cells, byte-identical pinned files — while the latest
    reader sees survivors only; the erasure is one atomic cross-day
    cut at publish, not the per-day transitional state the r14
    in-place rewrite exposed.  Vacuum then GCs the unpinned segment
    and the latest serve is unchanged."""
    ev = _events(spark, sf_dir)
    pred = sk._del_users_pred()
    tmp = tempfile.mkdtemp(prefix="sgraft_skpin_")
    try:
        sk.build_sketch_rollup_store(spark, sf_dir, tmp)
        pre_cells = _cells(spark, tmp, v=1)
        pre_served = _served(spark, tmp, v=1)
        pre_files = _seg_files(tmp)
        v1_entries = vstore.manifest_entries(spark, tmp, 1)
        affected = sk.delete_users_from_sketch_store(spark, tmp, ev, pred)
        assert affected
        # the pinned reader: full pre-delete state, bit-exact
        assert _cells(spark, tmp, v=1) == pre_cells
        assert _served(spark, tmp, v=1) == pre_served
        after_files = _seg_files(tmp)
        for f, sz in pre_files.items():
            assert after_files.get(f) == sz, f"{f}: pinned file changed"
        # the latest reader: survivors only, no erased-day leakage
        v2_entries = vstore.manifest_entries(spark, tmp, 2)
        hit = set(affected)
        assert not [e for e in v2_entries if e in v1_entries and e[1] in hit]
        post_served = _served(spark, tmp)
        surv_exact = {
            r["event_type"]: r["n"]
            for r in ev.filter(~pred)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {t: n for t, _e, n in post_served} == surv_exact
        # vacuum: v1 gone, unreferenced segments GC'd, serve unchanged
        removed = sk.vacuum_sketch_store(spark, tmp, keep_last=1)
        assert removed > 0
        live_segs = {s for s, _ in vstore.manifest_entries(spark, tmp, 2)}
        root = os.path.join(tmp, sk._SK_ROOT)
        on_disk = {
            d[4:] for d in os.listdir(root) if d.startswith("seg=")
        }
        assert on_disk == live_segs
        assert not os.path.exists(
            os.path.join(tmp, "_published", "v=1")
        )
        assert _served(spark, tmp) == post_served
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sketch_compact_serve_invariant(spark, sf_dir):
    """Compaction merges the upsert chain's partial-day cells to one
    per (day, type) — manifest entries drop to the distinct-day count
    — and the served estimates are BIT-identical (union associativity:
    merging at compact time ≡ merging at serve time); the pre-compact
    version stays fully readable until vacuumed."""
    ev = _events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_skcomp_")
    try:
        sk._init_sketch_store(ev.filter(~sk._sk_user_batch_pred()), tmp)
        sk.upsert_sketch_rollup_store(
            ev.filter(sk._sk_user_batch_pred()), tmp
        )
        pre_served = _served(spark, tmp)
        pre_cells = _cells(spark, tmp)
        n_before, n_after = sk.compact_sketch_store(spark, tmp)
        n_days = ev.select(F.expr("CAST(ts AS DATE)")).distinct().count()
        assert n_after == n_days and n_before > n_after
        assert _served(spark, tmp) == pre_served
        # per-(day, type) estimates also survive the merge bit-exactly
        assert _cells(spark, tmp) == pre_cells
        # the pre-compact version is still a complete pinned snapshot
        assert _served(spark, tmp, v=2) == pre_served
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sketch_stream_composes_to_single_pass_build(spark, sf_dir):
    """The streaming ingest chain: per-batch markers land, the batch
    ids ride the publish markers (the exactly-once record — ADVICE r14
    #1: redelivery skips even if the fast _batches marker is gone),
    and the stream-composed store SERVES exactly what the single-pass
    build serves — partial-day cells from different batches merge
    losslessly (union associativity over max-register HLL)."""
    ev = _events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_skstream_")
    tmp2 = tempfile.mkdtemp(prefix="sgraft_skstream_build_")
    try:
        vstore.run_upsert_stream(
            spark, ev, tmp, sk._init_sketch_store, sk.upsert_sketch_rollup_store
        )
        store = f"{tmp}/store"
        for bid in range(vstore.N_FEED_FILES):
            assert os.path.isdir(f"{store}/_batches/bid={bid}")
        assert vstore.published_bids(spark, store) == set(
            range(vstore.N_FEED_FILES)
        )
        sk.build_sketch_rollup_store(spark, sf_dir, tmp2)
        got = _served(spark, store)
        assert got == _served(spark, tmp2)
        # exact accounting reached the store losslessly
        n_ev = ev.count()
        assert sum(n for _t, _e, n in got) == n_ev
        # redelivery of an applied batch id must change nothing, even
        # with the fast marker REMOVED (the publish-marker bid is the
        # authoritative ledger)
        shutil.rmtree(f"{store}/_batches/bid=0")
        v_before = vstore.latest_version(spark, store)
        vstore.stream_sink(
            store, ev.limit(50), 0, sk._init_sketch_store,
            sk.upsert_sketch_rollup_store,
        )
        assert vstore.latest_version(spark, store) == v_before
        assert _served(spark, store) == got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)
