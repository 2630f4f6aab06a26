"""Correctness of the serve-path memos.

``retrieval._VERSION_MEMO`` holds, per published BM25 store version,
the manifest pins, the serve terms' df and (n_docs, sum_len);
``vectorstore._MODEL_MEMO`` holds each ANN store's frozen model tables.
A memoized serve must answer exactly what a serve that reads every
table afresh answers: after each kind of mutation, for a pinned old
version, after the store is rebuilt at the same path, and under
concurrent serves.  Both memos stay within their caps.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from intellect_bi_spark.functions.memo import SessionMemo
from intellect_bi_spark.operators import retrieval as rt
from intellect_bi_spark.operators import vectorstore as vs
from intellect_bi_spark.operators import vstore
from intellect_bi_spark.operators.similarity import _emb


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _unmemoized_bm25(spark, path, v) -> list[tuple]:
    """The fixed query over version ``v``'s tables read afresh."""
    postings = vstore.read_segments(
        spark,
        f"{path}/postings",
        vstore.manifest_entries(spark, path, v),
        rt._BM25_POSTING_SCHEMA,
    )
    lexicon = spark.read.parquet(vstore.table_dir(spark, path, "lexicon", v))
    stats = spark.read.parquet(vstore.table_dir(spark, path, "stats", v)).select(
        (
            F.col("sum_len").cast("double") / F.col("n_docs").cast("double")
        ).alias("avgdl"),
        "n_docs",
    )
    return _rows(rt.topk_from_bm25_index(postings, lexicon, stats))


def _unmemoized_ann(spark, path, emb, q) -> list[tuple]:
    centroids = spark.read.parquet(f"{path}/centroids")
    codebook = spark.read.parquet(f"{path}/codebook")
    codes = vs._ann_pinned_codes(spark, path)
    return _rows(
        vs.topk_from_index(centroids, codebook, codes, emb, query_vec_id=q)
    )


@pytest.fixture(scope="module")
def chain(spark, sf_dir):
    """A BM25 store taken through build, upsert, delete and compact,
    with the memoized latest-version serve recorded after each publish:
    ``(path, {version: rows})``."""
    tmp = tempfile.mkdtemp(prefix="sgraft_servememo_")
    docs = rt._base_docs(spark, sf_dir)
    served: dict = {}

    def record() -> None:
        served[vstore.latest_version(spark, tmp)] = _rows(
            rt.serve_bm25_v2(spark, tmp)
        )

    rt._init_bm25_store(docs.filter(~rt._doc_batch_pred()), tmp)
    record()
    rt.upsert_bm25_index(spark, tmp, docs.filter(rt._doc_batch_pred()))
    record()
    rt.delete_from_bm25_index(
        spark, tmp, docs.filter(F.col("doc_id") % 10 == rt.DOC_DELETE_RES)
    )
    record()
    rt.compact_bm25_buckets(spark, tmp, range(rt.N_TB))
    record()
    yield tmp, served
    shutil.rmtree(tmp, ignore_errors=True)


def test_serve_after_each_mutation_equals_unmemoized(spark, chain):
    path, served = chain
    assert sorted(served) == [1, 2, 3, 4]
    for v, rows in served.items():
        assert rows == _unmemoized_bm25(spark, path, v), v
    # the chain really moved the corpus statistics between versions
    n_docs = [rt._version_state(spark, path, v).n_docs for v in (1, 2, 3)]
    assert n_docs[0] < n_docs[1] and n_docs[2] < n_docs[1]


def test_pinned_serve_keeps_its_version_after_later_publishes(spark, chain):
    path, served = chain
    for v in (1, 2, 3):
        assert _rows(rt.serve_bm25_v2_at(spark, path, v)) == served[v]


def test_version_memo_stays_within_its_cap(spark, chain, monkeypatch):
    path, served = chain
    memo = SessionMemo(cap=2)
    monkeypatch.setattr(rt, "_VERSION_MEMO", memo)
    for v in (1, 2, 3, 4, 1):
        assert _rows(rt.serve_bm25_v2_at(spark, path, v)) == served[v]
        assert len(memo) <= 2
    assert len(vs._MODEL_MEMO) <= vs._MODEL_MEMO._cap


def test_rebuild_at_same_path_is_never_served_stale(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sgraft_servememo_rebuild_")
    docs = rt._base_docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    bm25, ann = f"{tmp}/bm25", f"{tmp}/ann"
    try:
        rt._init_bm25_store(docs, bm25)
        vs.build_index_frozen_full(spark, sf_dir, ann)
        first = _rows(rt.serve_bm25_v2(spark, bm25))
        _rows(vs.topk_from_index(*vs.read_index_versioned(spark, ann), emb))
        model_before = vs._model_identity(spark, ann)
        shutil.rmtree(bm25)
        shutil.rmtree(ann)
        # same path, same version number, different corpus
        rt._init_bm25_store(docs.filter(F.col("doc_id") % 2 == 0), bm25)
        vs.build_index_frozen(spark, sf_dir, ann)
        again = _rows(rt.serve_bm25_v2(spark, bm25))
        assert again == _unmemoized_bm25(spark, bm25, 1)
        assert again != first
        assert vs._model_identity(spark, ann) != model_before
        assert _rows(
            vs.topk_from_index(*vs.read_index_versioned(spark, ann), emb)
        ) == _unmemoized_ann(spark, ann, emb, vs.QUERY_VEC_ID)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_concurrent_serves_agree(spark, sf_dir):
    """Eight threads (more than the test cores) serve stores none of
    them has read before, so they race to fill both memos, with a short
    interpreter switch interval to interleave them; every answer equals
    the un-memoized one."""
    tmp = tempfile.mkdtemp(prefix="sgraft_servememo_threads_")
    emb = _emb(spark, sf_dir)
    bm25, ann = f"{tmp}/bm25", f"{tmp}/ann"
    switch = sys.getswitchinterval()
    try:
        rt._init_bm25_store(rt._base_docs(spark, sf_dir), bm25)
        vs.build_index_frozen_full(spark, sf_dir, ann)

        def serve(q):
            return (
                _rows(rt.serve_bm25_v2(spark, bm25)),
                _rows(
                    vs.topk_from_index(
                        *vs.read_index_versioned(spark, ann), emb,
                        query_vec_id=q,
                    )
                ),
            )

        qs = (3, 11) * 4
        sys.setswitchinterval(1e-5)
        with ThreadPoolExecutor(max_workers=len(qs)) as pool:
            futures = [pool.submit(serve, q) for q in qs]
            got = [f.result(timeout=600) for f in futures]
        sys.setswitchinterval(switch)
        want_bm25 = _unmemoized_bm25(spark, bm25, 1)
        want_ann = {q: _unmemoized_ann(spark, ann, emb, q) for q in set(qs)}
        for q, (lexical, dense) in zip(qs, got):
            assert lexical == want_bm25
            assert dense == want_ann[q]
    finally:
        sys.setswitchinterval(switch)
        shutil.rmtree(tmp, ignore_errors=True)
