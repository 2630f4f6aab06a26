"""Persisted IVF-PQ index serving (operators/vectorstore.py).

Locks the two properties the parity gate alone can't see:
(1) stored ≡ in-memory — the parquet write/read cycle changes nothing
    about the ranking; and
(2) the cell-partitioned code table actually serves a PRUNED probe —
    the probed-cells scan reads exactly the probed cells' codes.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from intellect_bi_spark.operators import vectorstore as vs
from intellect_bi_spark.operators.clustering import _pq_codes
from intellect_bi_spark.operators.similarity import _emb, ivf_assignments


def _in_memory_index(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    codes, cb = _pq_codes(spark, sf_dir)
    codes_cells = codes.join(ivf_assignments(spark, sf_dir), "vec_id")
    return vs._centroids(emb), cb, codes_cells


def test_stored_equals_in_memory_ranking(spark, sf_dir):
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    want = [
        (r["vec_id"], r["label"], r["cosine"])
        for r in vs.topk_from_index(
            centroids, codebook, codes, emb
        ).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        got = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index(spark, tmp), emb
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # bit-exact, order included: the store must be a pure roundtrip
    assert got == want and len(got) == vs.TOP_K


def _spark_formulation_topk(centroids, codebook, codes, emb, qids):
    """The single-query serve restated as ONE Spark plan over many
    queries: probe, ADC and rerank as the broadcast joins and per-query
    windows of ``topk_batch_from_index``, with the single-query
    candidate rule (every vector but the query).  It shares nothing with
    the driver-side probe and ADC table the serve computes, so equality
    proves those are bit-identical to the Spark expressions."""
    from pyspark.sql import Window

    from intellect_bi_spark.operators.clustering import QUANT, _subspace_rows
    from intellect_bi_spark.operators.similarity import _dot, _norm

    def first(df, n, *order):
        rn = F.row_number().over(Window.partitionBy("q_id").orderBy(*order))
        return df.withColumn("rn", rn).filter(F.col("rn") <= n).drop("rn")

    qv = emb.filter(F.col("vec_id").isin(qids))
    qs = qv.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probe = first(
        centroids.crossJoin(F.broadcast(qs)).select(
            "q_id",
            "cell",
            (_dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb"))).alias(
                "q_cos"
            ),
        ),
        vs.N_PROBE,
        F.desc("q_cos"),
        "cell",
    ).select("q_id", "cell")
    q_sub = _subspace_rows(qv).select(
        F.col("vec_id").alias("q_id"), "m", F.col("sub").alias("qsub")
    )
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(codebook), ["m", "cid"])
        .join(F.broadcast(q_sub), ["q_id", "m"])
        .select(
            "q_id",
            "vec_id",
            F.expr(
                "CAST(FLOOR(aggregate(zip_with(qsub, carr,"
                " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
                f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("dq"),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dq").alias("dist_q"))
    )
    cand = first(adc, vs.CAND_K, "dist_q", "vec_id").select("q_id", "vec_id")
    ranked = first(
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qs), "q_id")
        .select(
            "q_id",
            "vec_id",
            "label",
            (
                _dot("embedding", "q_emb")
                / (_norm("embedding") * _norm("q_emb"))
            ).alias("cosine"),
        ),
        vs.TOP_K,
        F.desc("cosine"),
        "vec_id",
    )
    out: dict = {}
    for r in ranked.collect():
        out.setdefault(r["q_id"], []).append(
            (r["cosine"], r["vec_id"], r["label"])
        )
    return {
        q: [(v, lab, c) for c, v, lab in sorted(rows, key=lambda t: (-t[0], t[1]))]
        for q, rows in out.items()
    }


def test_stored_equals_in_memory_ranking_every_7th_query(spark, sf_dir):
    """Stored ≡ in-memory over every 7th vec_id, not only QUERY_VEC_ID:
    the serve over the stored index answers each query exactly as the
    all-Spark formulation over the in-memory index frames does."""
    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    qids = sorted(q for q in qids if q % 7 == 0)
    want = _spark_formulation_topk(*_in_memory_index(spark, sf_dir), emb, qids)
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        centroids, codebook, codes = vs.read_index(spark, tmp)
        # the stored model as local relations: a query collects them
        # without a job, as a memoized versioned store's serve does
        centroids = vs._local_frame(centroids)
        codebook = vs._local_frame(codebook)
        for q in qids:
            got = [
                (r["vec_id"], r["label"], r["cosine"])
                for r in vs.topk_from_index(
                    centroids, codebook, codes, emb, query_vec_id=q
                ).collect()
            ]
            assert got == want[q], q
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert len(qids) > 10


def test_build_index_keeps_stage_when_a_rename_fails(spark, sf_dir, monkeypatch):
    """ADVICE r16 #1: after a rename fails partway, the tables not yet
    renamed exist only in the ``_build-*`` stage, so the stage must
    survive the failure."""
    import os

    import pytest

    from intellect_bi_spark.operators import retrieval as rt

    real_fs_of = rt._fs_of

    class _FailingRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if dst.getName() == "codebook":
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def _fs_of(spark, path):
        fs, hp = real_fs_of(spark, path)
        return _FailingRename(fs), hp

    monkeypatch.setattr(rt, "_fs_of", _fs_of)
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        with pytest.raises(IOError):
            vs.build_index(spark, sf_dir, tmp)
        stages = [d for d in os.listdir(tmp) if d.startswith("_build-")]
        assert len(stages) == 1
        stage = os.path.join(tmp, stages[0])
        assert sorted(os.listdir(stage)) == ["codebook", "codes"]
        assert spark.read.parquet(f"{stage}/codebook").count() > 0
        assert os.path.isdir(os.path.join(tmp, "centroids"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_store_roundtrip_preserves_index_tables(spark, sf_dir):
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        r_cent, r_cb, r_codes = vs.read_index(spark, tmp)
        assert sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in r_codes.collect()
        ) == sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in codes.collect()
        )
        assert r_cent.count() == centroids.count() == vs.N_CELLS
        assert r_cb.count() == codebook.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_probe_scan_is_cell_pruned(spark, sf_dir):
    """The probed-cells read touches exactly the probed cells: a literal
    cell filter over the partitioned layout returns the same code rows
    the operator's semi-join feeds to ADC, and the scan's partition
    filters carry the cell predicate (directory pruning, the IVF
    inverted-list property the layout exists for)."""
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        _, _, codes = vs.read_index(spark, tmp)
        cells = [0, 1]
        pruned = codes.filter(F.col("cell").isin(cells))
        got_cells = {
            r["cell"] for r in pruned.select("cell").distinct().collect()
        }
        assert got_cells <= set(cells) and got_cells
        # the cell predicate lands in the scan's PartitionFilters (it
        # prunes directories, never reaching a data filter): the scan
        # node must carry it and the post-scan Filter must not
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        part_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln
        ]
        assert part_lines and any("cell" in ln for ln in part_lines)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_batch_stored_equals_in_memory_ranking(spark, sf_dir):
    """The batch serve (one store, N queries) must also be a pure
    roundtrip of the in-memory index frames."""
    centroids, codebook, codes = _in_memory_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    want = [
        (r["q_id"], r["vec_id"], r["cosine"])
        for r in vs.topk_batch_from_index(
            centroids, codebook, codes, emb
        ).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_vstest_")
    try:
        vs.build_index(spark, sf_dir, tmp)
        got = [
            (r["q_id"], r["vec_id"], r["cosine"])
            for r in vs.topk_batch_from_index(
                *vs.read_index(spark, tmp), emb
            ).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want
    # every query in the batch answered with a full top-k
    from collections import Counter

    per_q = Counter(q for q, _, _ in got)
    assert len(per_q) == vs.N_BATCH_QUERIES
    assert all(n == vs.TOP_K for n in per_q.values())


def test_bm25_stored_equals_direct_ranking(spark, sf_dir):
    """The lexical twin of the IVF-PQ store contract: serving from the
    persisted postings/lexicon/stats must reproduce the direct BM25
    ranking bit for bit (same quantized scores, same order).  Runs
    through serve_bm25_from_store — the SAME composition bench.py's
    bm25_index_serve_only metric times — so the verified path IS the
    timed path (VERDICT r10 #4)."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25test_")
    try:
        rt.build_bm25_index(spark, sf_dir, tmp)
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_from_store(spark, tmp).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want and len(got) == rt.TOP_K


def test_bm25_serve_scan_pushes_term_filter(spark, sf_dir):
    """The serving read must push the query-term IN filter into the
    postings parquet scan — at 100 TB that pushdown (plus term-hash
    bucketing) is what keeps a query from reading the whole index."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25test_")
    try:
        rt.build_bm25_index(spark, sf_dir, tmp)
        postings, lex, stats = rt.read_bm25_index(spark, tmp)
        plan = (
            rt.topk_from_bm25_index(postings, lex, stats)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushed = [
            ln for ln in plan.splitlines() if "PushedFilters" in ln
        ]
        assert any("In(term" in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- incremental upsert (r12, VERDICT r11 #2) --------------------------------




def test_upsert_equals_full_rebuild(spark, sf_dir):
    """The merge loses/duplicates/corrupts nothing: the upserted code
    table and its serve ranking are IDENTICAL to a from-scratch rebuild
    over base+batch under the (batch-invariant) frozen model."""
    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    up_tmp = tempfile.mkdtemp(prefix="sgraft_upsert_")
    rb_tmp = tempfile.mkdtemp(prefix="sgraft_rebuild_")
    try:
        vs.build_index_frozen(spark, sf_dir, up_tmp)
        vs.upsert_index(spark, sf_dir, up_tmp, batch)
        # full rebuild: same reservoir model, ALL vectors encoded fresh
        cents = vs._centroids(emb)
        cents.write.mode("overwrite").parquet(f"{rb_tmp}/centroids")
        cb = vs._reservoir_codebook(spark, sf_dir)
        cb.write.mode("overwrite").parquet(f"{rb_tmp}/codebook")
        (
            vs._encode_codes(emb, cb, cents)
            .repartition(vs.N_CELLS, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{rb_tmp}/codes")
        )
        up_codes = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, up_tmp)[2].collect()
        )
        rb_codes = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index(spark, rb_tmp)[2].collect()
        )
        assert up_codes == rb_codes
        n_vecs = emb.count()
        assert len({(v, m) for v, m, _, _ in up_codes}) == n_vecs * 8
        up_serve = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, up_tmp), emb
            ).collect()
        ]
        rb_serve = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index(spark, rb_tmp), emb
            ).collect()
        ]
        assert up_serve == rb_serve and len(up_serve) == vs.TOP_K
    finally:
        shutil.rmtree(up_tmp, ignore_errors=True)
        shutil.rmtree(rb_tmp, ignore_errors=True)


def test_upsert_rewrites_only_affected_cells(spark, sf_dir):
    """The file-level copy-on-write claim under the r15 manifest
    pinning (VERDICT r11 #2 + r14 #2): the upsert never touches a
    pre-existing code file — all new files land in exactly ONE new
    segment whose cells are the batch's assigned cells, and the v=2
    manifest extends v=1's pin list by exactly that segment's
    entries."""
    from intellect_bi_spark.operators import retrieval as rt

    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_upsertfiles_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/codes")
        m1 = rt._manifest_entries(spark, tmp, 1)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        batch_cells = {
            int(r["cell"])
            for r in vs._assign_cells(batch, centroids).collect()
        }
        assert batch_cells  # the fixture batch is non-empty
        vs.upsert_index(spark, sf_dir, tmp, batch)
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: old file changed"
        new_files = set(after) - set(before)
        assert new_files, "no new code files written"
        new_segs = {path.split("/", 1)[0] for path in new_files}
        assert len(new_segs) == 1, f"batch spread over {new_segs}"
        assert new_segs.isdisjoint({f"seg={seg}" for seg, _ in m1})
        m2 = rt._manifest_entries(spark, tmp, 2)
        assert set(m1) <= set(m2), "v=2 manifest dropped a v=1 pin"
        added = set(m2) - set(m1)
        assert {c for _, c in added} == batch_cells
        assert {f"seg={seg}" for seg, _ in added} == new_segs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_upsert_equals_rebuild_and_direct(spark, sf_dir):
    """The lexical upsert ≡ rebuild proof at the table level: after the
    base-build + batch-merge, the versioned lexicon and stats equal a
    full-corpus rebuild's exactly, and the served ranking equals the
    DIRECT full-corpus scoring bit for bit."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25up_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        # merged lexicon == full-corpus df relation, exactly
        v = rt._latest_version(spark, tmp)
        assert v == 2  # build wrote v=1, the upsert wrote v=2
        merged_lex = sorted(
            (r["term"], r["df"])
            for r in spark.read.parquet(
                rt._table_dir(spark, tmp, "lexicon", v)
            ).collect()
        )
        toks = rt._toks_of(rt._base_docs(spark, sf_dir))
        full_lex = sorted(
            (r["term"], r["df"])
            for r in rt._postings_of(toks)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        )
        assert merged_lex == full_lex
        stats = spark.read.parquet(
            rt._table_dir(spark, tmp, "stats", v)
        ).collect()[0]
        full = rt._stats2_of(toks).collect()[0]
        assert (stats["n_docs"], stats["sum_len"]) == (
            full["n_docs"],
            full["sum_len"],
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _tree_files(root):
    """{relpath: size} for every parquet file under ``root`` — the
    byte-identity snapshot the copy-on-write assertions compare.  A
    FILE root (the r15 JSON manifests) snapshots as itself."""
    import os

    if os.path.isfile(root):
        return {os.path.basename(root): os.path.getsize(root)}
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_bm25_upsert_appends_only_batch_term_buckets(spark, sf_dir):
    """File-level copy-on-write under the manifest pinning (r14): the
    upsert never touches a pre-existing posting file — all new files
    land in exactly ONE new segment whose buckets are the batch's term
    buckets; the v=2 manifest extends v=1's pin list by exactly that
    segment's entries; the superseded lexicon/stats versions stay
    untouched (snapshot isolation)."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25upfiles_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/postings")
        m1 = rt._manifest_entries(spark, tmp, 1)
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        batch_buckets = {
            int(r["tb"])
            for r in rt._postings_of(rt._toks_of(batch))
            .select("tb")
            .distinct()
            .collect()
        }
        assert batch_buckets
        rt.upsert_bm25_index(spark, tmp, batch)
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        new_files = set(after) - set(before)
        assert new_files, "no new posting files written"
        new_segs = {p.split("/", 1)[0] for p in new_files}
        assert len(new_segs) == 1, f"batch spread over {new_segs}"
        assert new_segs.isdisjoint({f"seg={s}" for s, _ in m1})
        m2 = rt._manifest_entries(spark, tmp, 2)
        assert set(m1) <= set(m2), "v=2 manifest dropped a v=1 pin"
        added = set(m2) - set(m1)
        assert {t for _, t in added} == batch_buckets
        assert {f"seg={s}" for s, _ in added} == new_segs
        # v=1 lexicon/stats remain readable (snapshot isolation)
        assert spark.read.parquet(
            rt._table_dir(spark, tmp, "lexicon", 1)
        ).count() > 0
        assert spark.read.parquet(
            rt._table_dir(spark, tmp, "stats", 1)
        ).count() == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_v2_serve_prunes_term_buckets(spark, sf_dir):
    """The v2 serving scan must carry BOTH the tb partition filter
    (directory pruning) and the pushed term IN-filter."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25upplan_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        plan = (
            rt.serve_bm25_v2(spark, tmp)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("In(term" in ln for ln in pushed), plan[:2000]
        part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any("tb" in ln for ln in part), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_stream_upsert_version_chain(spark, sf_dir):
    """The streaming ingest really runs as N_FEED_FILES micro-batches
    (maxFilesPerTrigger=1 under availableNow), each landing one more
    lexicon/stats version — and the final version serves the exact
    direct full-corpus ranking (the upsert chain composes)."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25streamtest_")
    try:
        rt._run_bm25_upsert_stream(spark, sf_dir, tmp)
        store = f"{tmp}/store"
        assert rt._latest_version(spark, store) == rt.N_FEED_FILES
        # every intermediate version survives (snapshot isolation chain)
        for v in range(1, rt.N_FEED_FILES + 1):
            assert os.path.isdir(rt._table_dir(spark, store, "lexicon", v))
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, store).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        # final stats == full corpus accounting
        v = rt._latest_version(spark, store)
        stats = spark.read.parquet(
            rt._table_dir(spark, store, "stats", v)
        ).collect()[0]
        n_docs = rt._base_docs(spark, sf_dir).count()
        assert stats["n_docs"] == n_docs
        # redelivery idempotency (ADVICE r12): every applied batch left
        # a marker, and re-running the sink with an already-applied
        # batch id must NOT double-append — version chain and stats are
        # unchanged after the redelivery
        for bid in range(rt.N_FEED_FILES):
            assert os.path.isdir(f"{store}/_batches/bid={bid}")
        redelivered = rt._base_docs(spark, sf_dir).limit(5)
        rt._bm25_stream_sink(store, redelivered, 0)
        assert rt._latest_version(spark, store) == v
        stats2 = spark.read.parquet(
            rt._table_dir(spark, store, "stats", v)
        ).collect()[0]
        assert stats2["n_docs"] == n_docs
        # the AUTHORITATIVE exactly-once check (ADVICE r14 #1): even
        # with the _batches fast-path marker REMOVED (the crashed
        # publish-to-marker window), redelivery is skipped because a
        # published version already carries the bid
        shutil.rmtree(f"{store}/_batches/bid=0")
        assert 0 in rt._published_bids(spark, store)
        rt._bm25_stream_sink(store, redelivered, 0)
        assert rt._latest_version(spark, store) == v
        got2 = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, store).collect()
        ]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_rewrites_only_affected_cells_to_one_file(spark, sf_dir):
    """After upsert, affected cells are pinned across 2 segments;
    compaction must (a) publish a snapshot whose manifest pins each
    affected cell in exactly ONE new segment with one file per cell
    and identical code content, (b) leave every pre-existing file
    byte-untouched and every unaffected pin unchanged (copy-on-write —
    a reader of v=2 keeps its exact file set), and (c) leave the
    served ranking unchanged."""
    from collections import Counter

    from intellect_bi_spark.operators import retrieval as rt

    emb = _emb(spark, sf_dir)
    batch = emb.filter(vs._upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_compact_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        vs.upsert_index(spark, sf_dir, tmp, batch)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        affected = {
            int(r["cell"])
            for r in vs._assign_cells(batch, centroids)
            .select("cell")
            .distinct()
            .collect()
        }
        before = _tree_files(f"{tmp}/codes")
        m2 = rt._manifest_entries(spark, tmp, 2)
        pins_per_cell = Counter(c for _, c in m2)
        assert any(pins_per_cell[c] > 1 for c in affected)  # real fragmentation
        codes_before = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        serve_before = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        vs.compact_index_cells(spark, tmp, sorted(affected))
        assert rt._latest_version(spark, tmp) == 3  # a snapshot, not a rewrite
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: old file changed"
        m3 = rt._manifest_entries(spark, tmp, 3)
        assert [e for e in m2 if e[1] not in affected] == [
            e for e in m3 if e[1] not in affected
        ], "unaffected pins changed"
        new_pins = set(m3) - set(m2)
        assert new_pins and {c for _, c in new_pins} == affected
        new_segs = {seg for seg, _ in new_pins}
        assert len(new_segs) == 1  # ONE coalesced segment
        seg = new_segs.pop()
        for c in affected:
            files = [
                path
                for path in after
                if path.startswith(f"seg={seg}/cell={c}/")
            ]
            assert len(files) == 1, f"cell {c}: not coalesced to one file"
        codes_after = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        assert codes_after == codes_before
        serve_after = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        assert serve_after == serve_before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_delete_rewrites_only_affected_cells(spark, sf_dir):
    """Deletion through the ANN store (VERDICT r12 #3), file level:
    only the cells holding deleted vectors are rewritten; every other
    cell's files are byte-untouched; the surviving code rows are
    exactly the full build minus the delete set; and the post-delete
    serve equals a from-scratch rebuild WITHOUT the deleted vectors
    (the erasure verifiably reached the derived store)."""
    import os

    emb = _emb(spark, sf_dir)
    dels = emb.filter(vs._delete_pred()).select("vec_id")
    del_ids = {r["vec_id"] for r in dels.collect()}
    assert del_ids  # the fixture erase set is non-empty
    tmp = tempfile.mkdtemp(prefix="sgraft_anndel_")
    try:
        from intellect_bi_spark.operators import retrieval as rt

        vs.build_index_frozen_full(spark, sf_dir, tmp)
        before = _tree_files(f"{tmp}/codes")
        m1 = rt._manifest_entries(spark, tmp, 1)
        codes_before = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        serve_v1 = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp, v=1), emb
            ).collect()
        ]
        affected = vs.delete_from_index(spark, tmp, dels)
        assert affected  # ~10% of the corpus must hit some cell
        hit = set(affected)
        # copy-on-write: NO pre-existing file changes at all
        after = _tree_files(f"{tmp}/codes")
        for path, sz in before.items():
            assert after.get(path) == sz, f"{path}: pre-existing file changed"
        # untouched cells keep their exact v=1 pins; affected cells are
        # re-pinned to one survivor segment
        m2 = rt._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in hit] == [
            e for e in m2 if e[1] not in hit
        ], "untouched cells re-pinned"
        new_pins = set(m2) - set(m1)
        assert new_pins and {c for _, c in new_pins} <= hit
        assert len({seg for seg, _ in new_pins}) == 1
        # the mid-delete reader (VERDICT r14 #2's Done): a reader
        # pinned at v=1 sees the COMPLETE pre-delete store — identical
        # pins, byte-identical files, identical served ranking — even
        # after the delete fully committed v=2
        assert rt._manifest_entries(spark, tmp, 1) == m1
        for seg, c in m1:
            rel_prefix = f"seg={seg}/cell={c}"
            pinned = {path for path in before if path.startswith(rel_prefix)}
            assert pinned
            for path in pinned:
                assert after.get(path) == before[path], f"{path}: v1 file changed"
        got_v1 = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp, v=1), emb
            ).collect()
        ]
        assert got_v1 == serve_v1 and len(got_v1) == vs.TOP_K
        # surviving rows == full build minus the erase set, exactly
        codes_after = sorted(
            (r["vec_id"], r["m"], r["cid"], r["cell"])
            for r in vs.read_index_versioned(spark, tmp)[2].collect()
        )
        assert codes_after == [
            r for r in codes_before if r[0] not in del_ids
        ]
        # delete-then-serve == rebuild-without-docs serve, bit-exact.
        # The model is delete-invariant by construction (centroids are
        # vec_id 1..N_CELLS, the codebook reservoir is vec_id <
        # TRAIN_CAP, and the erase set is vec_id >= TRAIN_CAP), so a
        # from-scratch encode of ONLY the survivors is the true
        # independent rebuild.
        got = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        emb_kept = emb.join(dels, "vec_id", "left_anti")
        cents_kept = vs._centroids(emb_kept)
        cb = vs._reservoir_codebook(spark, sf_dir)
        codes_kept = vs._encode_codes(emb_kept, cb, cents_kept)
        want = [
            tuple(r)
            for r in vs.topk_from_index(
                cents_kept, cb, codes_kept, emb
            ).collect()
        ]
        assert got == want and len(got) == vs.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_stream_upsert_marker_chain(spark, sf_dir):
    """The ANN ingest stream really runs as N_FEED_FILES micro-batches,
    leaves one applied-batch marker per batch, composes the full corpus
    into the codes table, and skips a redelivered batch id without
    double-appending (same idempotency contract as the BM25 sink)."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    emb = _emb(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_annstreamtest_")
    try:
        vs._run_ann_upsert_stream(spark, sf_dir, tmp)
        store = f"{tmp}/store"
        for bid in range(rt.N_FEED_FILES):
            assert os.path.isdir(f"{store}/_batches/bid={bid}")
        # one published version per applied batch, each carrying its bid
        assert rt._latest_version(spark, store) == rt.N_FEED_FILES
        assert rt._published_bids(spark, store) == set(
            range(rt.N_FEED_FILES)
        )
        codes = vs.read_index_versioned(spark, store)[2]
        n_corpus = emb.count()
        assert codes.select("vec_id").distinct().count() == n_corpus
        n_rows = codes.count()
        serve = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, store), emb
            ).collect()
        ]
        # the composed store serves the single-pass full build's answer
        cents = vs._centroids(emb)
        cb = vs._reservoir_codebook(spark, sf_dir)
        want = [
            tuple(r)
            for r in vs.topk_from_index(
                cents, cb, vs._encode_codes(emb, cb, cents), emb
            ).collect()
        ]
        assert serve == want and len(serve) == vs.TOP_K
        # redelivery of an applied batch id must change nothing
        vs._ann_stream_sink(sf_dir, store, emb.limit(5), 0)
        codes2 = vs.read_index_versioned(spark, store)[2]
        assert codes2.count() == n_rows
        assert codes2.select("vec_id").distinct().count() == n_corpus
        # the AUTHORITATIVE exactly-once check (ADVICE r14 #1): even
        # with the fast-path marker removed — the crashed
        # publish-to-marker window — the published bid skips the batch
        shutil.rmtree(f"{store}/_batches/bid=0")
        vs._ann_stream_sink(sf_dir, store, emb.limit(5), 0)
        assert rt._latest_version(spark, store) == rt.N_FEED_FILES
        assert vs.read_index_versioned(spark, store)[2].count() == n_rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_vacuum_ann_store_retention_and_segment_gc(spark, sf_dir):
    """Retention vacuum on the manifest-pinned ANN store: after build
    (v=1, seg A) + full-cell compaction (v=2, seg B — seg A fully
    unpinned) + a planted losing-attempt manifest dir, vacuum
    (keep_last=1) removes the superseded v=1 manifest + marker, the
    attempt debris, and garbage-collects segment A; the live version's
    files are byte-untouched and the served ranking is unchanged.
    Idempotent: a second vacuum removes nothing."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    emb = _emb(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sgraft_annvac_")
    try:
        vs.build_index_frozen(spark, sf_dir, tmp)
        m1 = rt._manifest_entries(spark, tmp, 1)
        seg_a = {seg for seg, _ in m1}
        assert len(seg_a) == 1
        all_cells = sorted({c for _, c in m1})
        vs.compact_index_cells(spark, tmp, all_cells)
        assert rt._latest_version(spark, tmp) == 2
        serve_before = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        # plant a losing attempt's staged manifest file (the race
        # debris vacuum owns; manifests are driver-written JSON files)
        shutil.copy(
            rt._table_dir(spark, tmp, "manifests", 2),
            rt._stage_path(tmp, "manifests", 2, "deadcafe"),
        )
        live_manifest = open(
            rt._table_dir(spark, tmp, "manifests", 2), "rb"
        ).read()
        removed = vs.vacuum_ann_store(spark, tmp, keep_last=1)
        # v=1 manifest + the planted attempt file + segment A
        assert removed == 3
        assert rt._published_versions(spark, tmp) == [2]
        assert not os.path.exists(rt._stage_path(tmp, "manifests", 2, "deadcafe"))
        for seg in seg_a:
            assert not os.path.isdir(f"{tmp}/codes/seg={seg}")
        assert open(
            rt._table_dir(spark, tmp, "manifests", 2), "rb"
        ).read() == live_manifest
        serve_after = [
            tuple(r)
            for r in vs.topk_from_index(
                *vs.read_index_versioned(spark, tmp), emb
            ).collect()
        ]
        assert serve_after == serve_before
        assert vs.vacuum_ann_store(spark, tmp, keep_last=1) == 0  # idempotent
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_vacuum_retains_latest_leaves_live_files(spark, sf_dir):
    """Version retention (VERDICT r12 #2), file level: after a
    3-version chain (build + two upserts), vacuum(keep_last=1) removes
    exactly the six superseded version directories (lexicon, stats and
    manifests × v1,v2); every segment is pinned by the surviving
    manifest so the segment GC removes nothing and the postings tree
    is byte-untouched; the live version's files are byte-untouched;
    and serve-from-latest is unchanged."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES2)
    base = docs.join(b1.unionByName(b2), "doc_id", "left_anti")

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25vac_")
    try:
        rt._init_bm25_store(base, tmp)
        rt.upsert_bm25_index(spark, tmp, b1)
        rt.upsert_bm25_index(spark, tmp, b2)
        for table in ("lexicon", "stats", "manifests"):
            assert rt._versions_in(spark, f"{tmp}/{table}") == [1, 2, 3]
        serve_before = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        live_before = {
            t: _tree_files(f"{tmp}/{t}/v=3")
            for t in ("lexicon", "stats", "manifests")
        }
        postings_before = _tree_files(f"{tmp}/postings")
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 6
        for table in ("lexicon", "stats", "manifests"):
            assert rt._versions_in(spark, f"{tmp}/{table}") == [3]
            assert _tree_files(f"{tmp}/{table}/v=3") == live_before[table]
        assert _tree_files(f"{tmp}/postings") == postings_before
        serve_after = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert serve_after == serve_before and len(serve_after) == rt.TOP_K
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 0  # idempotent
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_delete_equals_rebuild_without_docs(spark, sf_dir):
    """Deletion through the lexical store (VERDICT r12 #3): after
    erasing the delete set from a full-corpus store, the lexicon,
    stats, manifest-pinned surviving postings, AND the served ranking
    all equal a from-scratch index of ONLY the survivors — every
    decremented integer lands exactly where the rebuild puts it
    (changed avgdl and idf included).  File level (r14 manifests): NO
    pre-existing file changes at all — the delete is pure copy-on-
    write; untouched buckets keep their exact v=1 pins, affected
    buckets are re-pinned to one new segment."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    dels = docs.filter(
        F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES
    )
    kept = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25del_")
    tmp2 = tempfile.mkdtemp(prefix="sgraft_bm25del_rebuild_")
    try:
        rt._init_bm25_store(docs, tmp)
        before = _tree_files(f"{tmp}/postings")
        m1 = rt._manifest_entries(spark, tmp, 1)
        affected = set(rt.delete_from_bm25_index(spark, tmp, dels))
        assert affected
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m2 = rt._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in affected] == [
            e for e in m2 if e[1] not in affected
        ], "untouched buckets re-pinned"
        new_pins = set(m2) - set(m1)
        assert new_pins and {t for _, t in new_pins} <= affected
        assert len({s for s, _ in new_pins}) == 1  # one survivor segment
        # independent rebuild over the survivors only
        rt._init_bm25_store(kept, tmp2)
        v = rt._latest_version(spark, tmp)
        assert v == 2  # build wrote v=1, the delete wrote v=2
        got_lex = sorted(
            (r["term"], r["df"])
            for r in spark.read.parquet(
                rt._table_dir(spark, tmp, "lexicon", v)
            ).collect()
        )
        want_lex = sorted(
            (r["term"], r["df"])
            for r in spark.read.parquet(
                rt._table_dir(spark, tmp2, "lexicon", 1)
            ).collect()
        )
        assert got_lex == want_lex
        got_stats = spark.read.parquet(
            rt._table_dir(spark, tmp, "stats", v)
        ).collect()[0]
        want_stats = spark.read.parquet(
            rt._table_dir(spark, tmp2, "stats", 1)
        ).collect()[0]
        assert (got_stats["n_docs"], got_stats["sum_len"]) == (
            want_stats["n_docs"],
            want_stats["sum_len"],
        )
        got_postings = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in rt._read_segments(
                spark, f"{tmp}/postings", m2, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        want_postings = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in rt._read_segments(
                spark,
                f"{tmp2}/postings",
                rt._manifest_entries(spark, tmp2, 1),
                rt._BM25_POSTING_SCHEMA,
            ).collect()
        )
        assert got_postings == want_postings
        got = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        want = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp2).collect()]
        assert got == want and len(got) == rt.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)


def test_bm25_mid_delete_reader_sees_full_pre_delete_store(spark, sf_dir):
    """The r14 manifest upgrade's headline property (VERDICT r13 #3,
    closing ADVICE r13's delete-visibility gap): a reader pinned at
    version v — which is what any reader resolved mid-delete IS —
    sees the COMPLETE pre-delete store: identical served ranking and
    byte-identical pinned files, even after the delete has fully
    committed v+1.  The pre-manifest layout rewrote shared bucket
    files in place, so a v reader could observe post-delete postings
    under pre-delete stats; that state is now unreachable."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    dels = docs.filter(
        F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25midread_")
    try:
        rt._init_bm25_store(docs, tmp)
        want_v1 = [
            tuple(r) for r in rt.serve_bm25_v2_at(spark, tmp, 1).collect()
        ]
        m1 = rt._manifest_entries(spark, tmp, 1)
        before = _tree_files(f"{tmp}/postings")
        assert rt.delete_from_bm25_index(spark, tmp, dels)
        assert rt._latest_version(spark, tmp) == 2
        # the v=1 reader's world is untouched: same pins, same bytes,
        # same answer
        assert rt._manifest_entries(spark, tmp, 1) == m1
        after = _tree_files(f"{tmp}/postings")
        for s, t in m1:
            rel_prefix = f"seg={s}/tb={t}"
            pinned = {p for p in before if p.startswith(rel_prefix)}
            assert pinned
            for p in pinned:
                assert after.get(p) == before[p], f"{p}: v1 file changed"
        got_v1 = [
            tuple(r) for r in rt.serve_bm25_v2_at(spark, tmp, 1).collect()
        ]
        assert got_v1 == want_v1 and len(got_v1) == rt.TOP_K
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_concurrent_upsert_conflict_retries(spark, sf_dir):
    """Optimistic writer concurrency (VERDICT r13 #4 + r14 #4, ADVICE
    r14 #2): two interleaved upserts race the same version number.
    Writer B completes an ENTIRE upsert — staging AND publishing v=2 —
    while writer A has already staged its own v=2 merge; A's
    conditional publish raises VersionConflict and its retry re-merges
    onto v=3.  The r15 attempt-unique staging closes the r14 hole this
    exact interleaving used to hit: A's stale staging can no longer
    clobber B's published v=2 data, because the two writers stage under
    paths only they can name.  Asserted: (a) both batches survive and
    the final lexicon equals a full rebuild's; (b) the WINNER's v=2
    data files are byte-identical after A's conflicting attempt +
    retry (the lost-update is unreachable); (c) the LOSER's staged v=2
    attempt dirs exist as debris and vacuum sweeps exactly them."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_UPSERT_RES2)
    base = docs.join(b1.unionByName(b2), "doc_id", "left_anti")
    want = [
        (r["doc_id"], r["n_hit_terms"], r["score_q"])
        for r in rt.bm25_topk_docs(spark, sf_dir).collect()
    ]
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25race_")
    orig = rt._publish_version
    state = {"conflicts": 0, "fired": False, "winner_files": None}
    try:
        rt._init_bm25_store(base, tmp)

        def racy(sess, store, v, att, bid=None):
            if not state["fired"] and v == 2:
                state["fired"] = True
                # writer B completes an ENTIRE upsert (stage + publish
                # v=2) between A's staging and A's publish
                rt._publish_version = orig
                try:
                    rt.upsert_bm25_index(sess, store, b2)
                finally:
                    rt._publish_version = racy
                # snapshot the winner's published v=2 data bytes
                state["winner_files"] = {
                    t: _tree_files(rt._table_dir(sess, store, t, 2))
                    for t in ("lexicon", "stats", "manifests")
                }
            try:
                return orig(sess, store, v, att, bid)
            except rt.VersionConflict:
                state["conflicts"] += 1
                raise

        rt._publish_version = racy
        rt.upsert_bm25_index(spark, tmp, b1)  # writer A: loses v=2
    finally:
        rt._publish_version = orig
    try:
        assert state["fired"] and state["conflicts"] == 1
        assert rt._latest_version(spark, tmp) == 3
        # (b) the winner's v=2 data survived A's losing attempt
        # byte-identical — the ADVICE r14 #2 lost-update is unreachable
        for t, files in state["winner_files"].items():
            assert _tree_files(rt._table_dir(spark, tmp, t, 2)) == files
        # (c) the loser's staged v=2 dirs are present as debris ...
        win2 = os.path.basename(rt._table_dir(spark, tmp, "lexicon", 2))
        lex_dirs = set(os.listdir(f"{tmp}/lexicon"))
        loser_dirs = {
            d for d in lex_dirs if d.startswith("v=2-") and d != win2
        }
        assert loser_dirs, "loser staging missing — injection broke?"
        got = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got == want and len(got) == rt.TOP_K
        # final lexicon == full-corpus rebuild (both batches merged)
        toks = rt._toks_of(docs)
        full_lex = sorted(
            (r["term"], r["df"])
            for r in rt._postings_of(toks)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        )
        got_lex = sorted(
            (r["term"], r["df"])
            for r in spark.read.parquet(
                rt._table_dir(spark, tmp, "lexicon", 3)
            ).collect()
        )
        assert got_lex == full_lex
        # ... and vacuum sweeps exactly the loser's debris while the
        # retained versions' winning dirs survive
        rt.vacuum_bm25_store(spark, tmp, keep_last=3)
        lex_after = set(os.listdir(f"{tmp}/lexicon"))
        assert loser_dirs.isdisjoint(lex_after)
        assert win2 in lex_after
        got2 = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_manifest_commit_gates_visibility(spark, sf_dir):
    """The marker commit (r13): readers resolve only PUBLISHED
    versions, so a crashed writer's dangling v=N+1 data dirs are
    invisible to serve, and vacuum sweeps them as the crash-recovery
    half.  Walks the whole lifecycle: build publishes v=1, upsert
    publishes v=2, a simulated mid-crash (v=3 data dirs, no marker)
    leaves the live version serving unchanged, and vacuum removes
    exactly the superseded + dangling dirs while the published chain
    stays intact."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25manifest_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        assert rt._published_versions(spark, tmp) == [1]
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        assert rt._published_versions(spark, tmp) == [1, 2]
        assert rt._latest_version(spark, tmp) == 2
        want = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        # simulate a writer that crashed AFTER staging v=3 data but
        # BEFORE the marker commit: copy the live version's parquet
        # into staged v=3 attempt dirs (content is irrelevant — it
        # must be ignored)
        for table in ("lexicon", "stats"):
            shutil.copytree(
                rt._table_dir(spark, tmp, table, 2),
                rt._stage_path(tmp, table, 3, "deadcafe"),
            )
        shutil.copy(  # manifests are files, not parquet dirs (r15)
            rt._table_dir(spark, tmp, "manifests", 2),
            rt._stage_path(tmp, "manifests", 3, "deadcafe"),
        )
        assert rt._versions_in(spark, f"{tmp}/lexicon") == [1, 2, 3]
        assert rt._latest_version(spark, tmp) == 2  # dangling invisible
        got = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        assert got == want  # serve unaffected by the crash debris
        # plus a marker whose writer died inside the create-to-close
        # window (empty body): it must gate nothing and vacuum must
        # sweep it as unresolvable
        open(f"{tmp}/_published/v=9", "w").close()
        assert rt._latest_version(spark, tmp) == 2
        # vacuum removes v=1 (superseded) AND v=3 (dangling) from all
        # three versioned tables: 6 data dirs (every segment is pinned
        # by the surviving v=2 manifest, so the segment GC removes 0)
        assert rt.vacuum_bm25_store(spark, tmp, keep_last=1) == 6
        for table in ("lexicon", "stats", "manifests"):
            assert rt._versions_in(spark, f"{tmp}/{table}") == [2]
        assert rt._published_versions(spark, tmp) == [2]
        assert not os.path.exists(f"{tmp}/_published/v=9")
        assert rt._versions_in(spark, f"{tmp}/lexicon") == [2]
        got2 = [tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()]
        assert got2 == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_stored_equals_direct_ranking(spark, sf_dir):
    """The positional store is a pure roundtrip: serving the fixed
    phrase query from the persisted bucket-partitioned postings must
    reproduce the direct (tokenize-in-query) ranking bit for bit."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        tuple(r) for r in rt.phrase_search_topk(spark, sf_dir).collect()
    ]
    assert want  # the fixture phrase must actually occur
    tmp = tempfile.mkdtemp(prefix="sgraft_phrasetest_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        got = [
            tuple(r)
            for r in rt.serve_phrase_from_store(spark, tmp).collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want


def test_phrase_serve_scan_prunes_and_pushes(spark, sf_dir):
    """The stored phrase serve must carry BOTH the term-bucket
    partition filter (directory pruning) and pushed term predicates —
    the properties that keep a phrase query from reading the whole
    positional index at 100 TB."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_phraseplan_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        plan = (
            rt.serve_phrase_from_store(spark, tmp)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert part and all("tb" in ln for ln in part), plan[:2000]
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("term" in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_adjacency_semantics(spark):
    """Hand-built corpus locks the match semantics: order matters,
    adjacency matters, occurrences can overlap-count per anchor, and
    phrase_tf counts every anchored occurrence."""
    from intellect_bi_spark.operators import retrieval as rt

    w0, w1, w2 = rt.PHRASE
    docs = spark.createDataFrame(
        [
            # two clean occurrences
            (1, f"{w0} {w1} {w2} x {w0} {w1} {w2}"),
            # wrong order: no match
            (2, f"{w2} {w1} {w0}"),
            # gap breaks adjacency: no match
            (3, f"{w0} x {w1} {w2}"),
            # one occurrence at the very start
            (4, f"{w0} {w1} {w2}"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["phrase_tf"], r["first_pos"])
        for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()
    }
    assert got == {1: (2, 0), 4: (1, 0)}


def test_bm25_compact_rewrites_only_affected_buckets_to_one_file(
    spark, sf_dir
):
    """After upsert, the batch's term buckets are pinned across 2
    segments; compaction must (a) re-pin each affected bucket to ONE
    new segment holding exactly one file with identical posting rows,
    (b) keep every untouched bucket's pins unchanged and every
    pre-existing file byte-identical (pure copy-on-write — the v=2
    reader is undisturbed), and (c) leave the served ranking
    unchanged across the new snapshot."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25compact_")
    try:
        rt.build_bm25_index_v2(spark, sf_dir, tmp)
        batch = rt._base_docs(spark, sf_dir).filter(rt._doc_batch_pred())
        rt.upsert_bm25_index(spark, tmp, batch)
        affected = {
            int(r["tb"])
            for r in rt._postings_of(rt._toks_of(batch))
            .select("tb")
            .distinct()
            .collect()
        }
        m2 = rt._manifest_entries(spark, tmp, 2)
        # fragmentation real: every affected bucket pinned in 2 segments
        for b in affected:
            assert len({s for s, t in m2 if t == b}) == 2
        before = _tree_files(f"{tmp}/postings")
        rows_before = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in rt._read_segments(
                spark, f"{tmp}/postings", m2, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        serve_before = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        rt.compact_bm25_buckets(spark, tmp, sorted(affected))
        assert rt._latest_version(spark, tmp) == 3  # compaction snapshots
        after = _tree_files(f"{tmp}/postings")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m3 = rt._manifest_entries(spark, tmp, 3)
        assert [e for e in m2 if e[1] not in affected] == [
            e for e in m3 if e[1] not in affected
        ], "untouched buckets re-pinned"
        new_segs = {s for s, t in m3 if t in affected}
        assert len(new_segs) == 1 and new_segs.isdisjoint(
            {s for s, _ in m2}
        )
        for b in affected:
            pins = [(s, t) for s, t in m3 if t == b]
            assert len(pins) == 1, f"tb={b}: not re-pinned to one segment"
            s = pins[0][0]
            files = [
                f
                for f in os.listdir(f"{tmp}/postings/seg={s}/tb={b}")
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"tb={b}: not coalesced to one file"
        rows_after = sorted(
            (r["term"], r["doc_id"], r["dl"], r["tf"])
            for r in rt._read_segments(
                spark, f"{tmp}/postings", m3, rt._BM25_POSTING_SCHEMA
            ).collect()
        )
        assert rows_after == rows_before
        serve_after = [
            tuple(r) for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        assert serve_after == serve_before
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_near_search_semantics_and_plan(spark):
    """Hand-built corpus locks NEAR semantics: either order matches,
    the window boundary is inclusive, pairs straddling a position
    bucket edge are found EXACTLY once (the 3-bucket explosion loses
    nothing and double-counts nothing), and out-of-window pairs do not
    match.  The plan must realize proximity as an EQUI-join — no
    nested-loop/cartesian anywhere."""
    from intellect_bi_spark.operators import retrieval as rt

    t0, t1 = rt.NEAR_TERMS
    w = rt.NEAR_W
    docs = spark.createDataFrame(
        [
            # gap exactly W (inclusive boundary), t0 first
            (1, f"{t0} x x {t1}"),
            # reversed order, gap 1
            (2, f"{t1} {t0}"),
            # straddles the bucket edge: t0 at pos 2 (bucket 0), t1 at
            # pos 3 (bucket 1) — must count exactly once
            (3, f"x x {t0} {t1}"),
            # gap W+1: no match
            (4, f"{t0} x x x {t1}"),
            # two qualifying pairs: t1 at 1 and 3 around t0 at 2
            (5, f"x {t1} {t0} {t1}"),
        ],
        "doc_id long, text string",
    )
    df = rt._near_topk(rt._pos_postings_of(docs))
    got = {
        r["doc_id"]: (r["near_tf"], r["min_gap"]) for r in df.collect()
    }
    assert got == {1: (1, w), 2: (1, 1), 3: (1, 1), 5: (2, 1)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan[:1500]


def test_near_stored_equals_direct_and_prunes(spark, sf_dir):
    """One positional store serves both query shapes: the stored NEAR
    serve equals the direct ranking bit for bit, and its scan carries
    the bucket partition filter + pushed term predicates."""
    from intellect_bi_spark.operators import retrieval as rt

    want = [
        tuple(r) for r in rt.near_search_topk(spark, sf_dir).collect()
    ]
    assert want
    tmp = tempfile.mkdtemp(prefix="sgraft_neartest_")
    try:
        rt.build_phrase_index(spark, sf_dir, tmp)
        served = rt.serve_near_from_store(spark, tmp)
        got = [tuple(r) for r in served.collect()]
        plan = served._jdf.queryExecution().executedPlan().toString()
        part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert part and all("tb" in ln for ln in part), plan[:2000]
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("term" in ln for ln in pushed), plan[:2000]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == want


def test_phrase_store_upsert_delete_copy_on_write(spark, sf_dir):
    """Positional-store CRUD (VERDICT r13 #5): upsert-then-serve equals
    the direct full-corpus probes, delete-then-serve equals the direct
    survivors-only probes (BOTH probe shapes), and the delete is pure
    copy-on-write — every pre-existing file byte-identical, untouched
    buckets' pins unchanged."""
    from intellect_bi_spark.operators import retrieval as rt

    docs = rt._base_docs(spark, sf_dir)
    batch = docs.filter(rt._doc_batch_pred())
    base = docs.filter(~rt._doc_batch_pred())
    # --- upsert ---------------------------------------------------------
    want_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()]
    want_nr = [tuple(r) for r in rt._near_topk(rt._pos_postings_of(docs)).collect()]
    tmp = tempfile.mkdtemp(prefix="sgraft_posup_")
    try:
        rt._init_pos_store(base, tmp)
        rt.upsert_phrase_index(spark, tmp, batch)
        assert rt._latest_version(spark, tmp) == 2
        got_ph = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        got_nr = [tuple(r) for r in rt.serve_near_from_store(spark, tmp).collect()]
        assert got_ph == want_ph and got_nr == want_nr
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # --- delete ---------------------------------------------------------
    dels = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES)
    surv = docs.join(dels.select("doc_id"), "doc_id", "left_anti")
    want_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(surv)).collect()]
    want_nr = [tuple(r) for r in rt._near_topk(rt._pos_postings_of(surv)).collect()]
    tmp = tempfile.mkdtemp(prefix="sgraft_posdel_")
    try:
        rt._init_pos_store(docs, tmp)
        m1 = rt._manifest_entries(spark, tmp, 1)
        before = _tree_files(f"{tmp}/{rt._POS_ROOT}")
        affected = set(rt.delete_from_phrase_index(spark, tmp, dels))
        assert affected
        after = _tree_files(f"{tmp}/{rt._POS_ROOT}")
        for p, sz in before.items():
            assert after.get(p) == sz, f"{p}: pre-existing file changed"
        m2 = rt._manifest_entries(spark, tmp, 2)
        assert [e for e in m1 if e[1] not in affected] == [
            e for e in m2 if e[1] not in affected
        ]
        got_ph = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        got_nr = [tuple(r) for r in rt.serve_near_from_store(spark, tmp).collect()]
        assert got_ph == want_ph and got_nr == want_nr
        # version-pinned reader of v=1 still sees the pre-delete probes
        pre_ph = [
            tuple(r)
            for r in rt._phrase_topk(
                rt._pos_store_postings(spark, tmp, rt.PHRASE, v=1)
            ).collect()
        ]
        full_ph = [tuple(r) for r in rt._phrase_topk(rt._pos_postings_of(docs)).collect()]
        assert pre_ph == full_ph
        # vacuum drops v=1 and GCs the now-unreferenced init pins of
        # the affected buckets
        removed = rt.vacuum_phrase_store(spark, tmp, keep_last=1)
        assert removed >= 1
        got_ph2 = [tuple(r) for r in rt.serve_phrase_from_store(spark, tmp).collect()]
        assert got_ph2 == want_ph
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_phrase_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch phrase serve must (a) reproduce, per query id, the
    single-phrase chain's head (projected to the shared columns), and
    (b) run as ONE pinned postings scan — no per-query loop, no
    re-scan, no cartesian (VERDICT r13 #6)."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_posbatch_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_phrase_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["phrase_tf"], r["first_pos"])
            )
        pp_all = rt._pos_postings_of(rt._base_docs(spark, sf_dir))
        for qid, words in rt.PHRASE_BATCH:
            occ = pp_all.filter(F.col("term") == words[0]).select(
                "doc_id", "dl", F.col("pos").alias("p0")
            )
            for i, term in enumerate(words[1:], start=1):
                nxt = pp_all.filter(F.col("term") == term).select(
                    "doc_id", (F.col("pos") - i).alias("p0")
                )
                occ = occ.join(nxt, ["doc_id", "p0"])
            want = [
                (r["doc_id"], r["phrase_tf"], r["first_pos"])
                for r in occ.groupBy("doc_id", "dl")
                .agg(
                    F.count(F.lit(1)).alias("phrase_tf"),
                    F.min("p0").alias("first_pos"),
                )
                .orderBy(F.desc("phrase_tf"), "doc_id")
                .limit(rt.PHRASE_BATCH_K)
                .collect()
            ]
            assert got.get(qid, []) == want, f"qid={qid} mismatch"
        plan = served._jdf.queryExecution().executedPlan().toString()
        # post-execution AQE plans print "== Final Plan ==" AND
        # "== Initial Plan ==" — count scans in the final section only
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and rt._POS_ROOT in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        assert "Cartesian" not in plan and "NestedLoop" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ann_filtered_topk_semantics_and_plan(spark, sf_dir):
    """Metadata-filtered ANN (VERDICT r13 #8): every returned row
    matches the label predicate; the result equals brute-force-with-
    filter restricted to the probed cells' candidates (the exact
    contract of pre-rank filtering); and the label predicate is pushed
    into the embeddings scan — it lands BEFORE the distance fold."""
    from intellect_bi_spark.operators import similarity as sim

    df = sim.ann_filtered_topk(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r["label"] == sim.FILTER_LABEL for r in rows)
    # brute-force-with-filter over the same candidate set
    emb = sim._emb(spark, sf_dir)
    assign = sim.ivf_assignments(spark, sf_dir)
    cents = emb.filter(F.col("vec_id").between(1, sim.N_CELLS)).select(
        (F.col("vec_id") - 1).cast("int").alias("cell"),
        F.col("embedding").alias("c_emb"),
    )
    q = emb.filter(F.col("vec_id") == sim.QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell",
            (
                sim._dot("c_emb", "q_emb")
                / (sim._norm("c_emb") * sim._norm("q_emb"))
            ).alias("q_cos"),
        )
        .orderBy(F.desc("q_cos"), "cell")
        .limit(sim.N_PROBE)
        .select("cell")
    )
    cand = (
        assign.join(F.broadcast(probe), "cell", "left_semi")
        .filter(F.col("vec_id") != sim.QUERY_VEC_ID)
        .select("vec_id")
    )
    want = [
        (r["vec_id"], r["label"], r["cosine"])
        for r in emb.join(cand, "vec_id", "left_semi")
        .filter(F.col("label") == sim.FILTER_LABEL)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (
                sim._dot("embedding", "q_emb")
                / (sim._norm("embedding") * sim._norm("q_emb"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(sim.TOP_K)
        .collect()
    ]
    assert [(r["vec_id"], r["label"], r["cosine"]) for r in rows] == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "label" in ln and str(sim.FILTER_LABEL) in ln for ln in pushed
    ), plan[:2000]


def test_near_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch NEAR serve (VERDICT r14 #6) must (a) reproduce, per
    query id, the single-pair banded chain's head, and (b) run as ONE
    pinned postings scan — the grouped pair-count formulation folds
    both sides of every query into a single scan (a naive two-sided
    join would cost one scan per side), no per-query loop, no
    cartesian."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_nearbatch_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_near_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["near_tf"], r["min_gap"])
            )
        pp_all = rt._pos_postings_of(rt._base_docs(spark, sf_dir))
        for qid, (ta, tb) in rt.NEAR_BATCH:
            a = pp_all.filter(F.col("term") == ta).select(
                "doc_id", "dl", F.col("pos").alias("pa")
            )
            b = pp_all.filter(F.col("term") == tb).select(
                "doc_id", F.col("pos").alias("pb")
            )
            want = [
                (r["doc_id"], r["near_tf"], r["min_gap"])
                for r in a.join(b, "doc_id")
                .filter(F.abs(F.col("pa") - F.col("pb")) <= rt.NEAR_W)
                .groupBy("doc_id", "dl")
                .agg(
                    F.count(F.lit(1)).alias("near_tf"),
                    F.min(F.abs(F.col("pa") - F.col("pb"))).alias(
                        "min_gap"
                    ),
                )
                .orderBy(F.desc("near_tf"), "doc_id")
                .limit(rt.NEAR_BATCH_K)
                .collect()
            ]
            assert got.get(qid, []) == want, f"qid={qid} mismatch"
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and rt._POS_ROOT in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        assert "Cartesian" not in plan and "NestedLoop" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_batch_matches_singles_and_one_scan(spark, sf_dir):
    """The batch BM25 serve (VERDICT r14 #6) must (a) score each query
    id exactly as the fixed-query fold scores its term set (the qid
    carrying QUERY_TERMS must reproduce serve_bm25_v2's head within
    the batch k), and (b) run as ONE pinned postings scan with the
    term IN-filter pushed."""
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25batch_")
    try:
        rt._init_bm25_store(rt._base_docs(spark, sf_dir), tmp)
        served = rt.serve_bm25_batch_from_store(spark, tmp)
        rows = served.collect()
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(
                (r["doc_id"], r["n_hit_terms"], r["score_q"])
            )
        # qid 1 IS the fixed query — its batch head must equal the
        # certified fixed-query serve's head, bit for bit
        fixed = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in rt.serve_bm25_v2(spark, tmp).collect()
        ]
        qid_fixed = next(
            qid for qid, ts in rt.BM25_BATCH if tuple(ts) == rt.QUERY_TERMS
        )
        assert got[qid_fixed] == fixed[: rt.BM25_BATCH_K]
        for qid, _ in rt.BM25_BATCH:
            assert len(got.get(qid, [])) <= rt.BM25_BATCH_K
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            ln
            for ln in final.splitlines()
            if "Scan parquet" in ln and "/postings/" in ln
        ]
        assert len(scans) == 1, f"{len(scans)} postings scans:\n" + final[:2000]
        pushed = [ln for ln in final.splitlines() if "PushedFilters" in ln]
        assert any("In(term" in ln for ln in pushed), final[:2000]
        # the 1-row broadcast stats fold plans as BroadcastNestedLoopJoin
        # Cross — the engine's documented bounds-fold pattern (plan_audit
        # does not flag it); only a real CartesianProduct is a violation
        assert "CartesianProduct" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_filtered_topk_semantics_and_plan(spark, sf_dir):
    """Metadata-filtered lexical retrieval (VERDICT r14 #7, the
    ann_filtered_topk twin): every returned doc satisfies the lang
    predicate; the result equals direct-scoring-with-filter (global
    stats, candidates restricted); and the lang equality is PUSHED
    into the documents scan — the filter runs before the score fold,
    not over its output."""
    from intellect_bi_spark.catalog import load_tables
    from intellect_bi_spark.operators import retrieval as rt

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25filt_")
    try:
        rt._init_bm25_store(rt._base_docs(spark, sf_dir), tmp)
        docs_meta = load_tables(spark, sf_dir)["documents"].select(
            "doc_id", "lang"
        )
        served = rt.serve_bm25_filtered_from_store(spark, tmp, docs_meta)
        rows = served.collect()
        assert rows
        en_ids = {
            r["doc_id"]
            for r in docs_meta.filter(
                F.col("lang") == rt.FILTER_LANG
            ).collect()
        }
        assert {r["doc_id"] for r in rows} <= en_ids
        # direct-scoring-with-filter: the certified fixed-query fold
        # over ONLY the qualifying docs (not the unfiltered top-k
        # truncated after the fact — the filter must run before the
        # ranking, so docs below the unfiltered top-k can surface)
        full = rt.topk_from_bm25_index(
            rt._read_segments(
                spark,
                f"{tmp}/postings",
                rt._manifest_entries(
                    spark, tmp, rt._latest_version(spark, tmp)
                ),
                rt._BM25_POSTING_SCHEMA,
            ).join(
                docs_meta.filter(
                    F.col("lang") == rt.FILTER_LANG
                ).select("doc_id"),
                "doc_id",
                "left_semi",
            ),
            spark.read.parquet(
                rt._table_dir(
                    spark, tmp, "lexicon", rt._latest_version(spark, tmp)
                )
            ),
            spark.read.parquet(
                rt._table_dir(
                    spark, tmp, "stats", rt._latest_version(spark, tmp)
                )
            ).select(
                (
                    F.col("sum_len").cast("double")
                    / F.col("n_docs").cast("double")
                ).alias("avgdl"),
                "n_docs",
            ),
        )
        want = [
            (r["doc_id"], r["n_hit_terms"], r["score_q"])
            for r in full.collect()
        ]
        assert [
            (r["doc_id"], r["n_hit_terms"], r["score_q"]) for r in rows
        ] == want
        plan = served._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        pushed = [ln for ln in final.splitlines() if "PushedFilters" in ln]
        assert any(
            "EqualTo(lang," in ln for ln in pushed
        ), final[:2000]
        # 1-row broadcast stats fold → BroadcastNestedLoopJoin Cross is
        # the documented pattern; only CartesianProduct is a violation
        assert "CartesianProduct" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pos_stream_upsert_version_chain(spark, sf_dir):
    """The positional ingest stream (r15): N_FEED_FILES micro-batches
    each publish one more manifest version, the stream-composed store
    serves BOTH probes exactly as a single-pass build does, and
    redelivery is exactly-once end to end (bid rides the publish
    marker — skipped even with the fast-path marker removed)."""
    import os

    from intellect_bi_spark.operators import retrieval as rt

    build_tmp = tempfile.mkdtemp(prefix="sgraft_posstream_build_")
    tmp = tempfile.mkdtemp(prefix="sgraft_posstreamtest_")
    try:
        rt._init_pos_store(rt._base_docs(spark, sf_dir), build_tmp)
        want = rt._pos_probes_from_store(spark, build_tmp).collect()
        rt._run_pos_upsert_stream(spark, sf_dir, tmp)
        store = f"{tmp}/store"
        assert rt._latest_version(spark, store) == rt.N_FEED_FILES
        # every intermediate manifest survives (snapshot chain)
        for v in range(1, rt.N_FEED_FILES + 1):
            assert os.path.isfile(
                rt._table_dir(spark, store, "manifests", v)
            )
        got = rt._pos_probes_from_store(spark, store).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        # redelivery: fast marker present → no-op
        v = rt._latest_version(spark, store)
        for bid in range(rt.N_FEED_FILES):
            assert os.path.isdir(f"{store}/_batches/bid={bid}")
        redelivered = rt._base_docs(spark, sf_dir).limit(5)
        rt._pos_stream_sink(store, redelivered, 0)
        assert rt._latest_version(spark, store) == v
        # authoritative exactly-once: fast marker REMOVED, the publish
        # marker's bid still skips the redelivered batch
        shutil.rmtree(f"{store}/_batches/bid=0")
        assert 0 in rt._published_bids(spark, store)
        rt._pos_stream_sink(store, redelivered, 0)
        assert rt._latest_version(spark, store) == v
        got2 = rt._pos_probes_from_store(spark, store).collect()
        assert [tuple(r) for r in got2] == [tuple(r) for r in want]
    finally:
        shutil.rmtree(build_tmp, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
