"""Spark job-count guards for the interactive serve paths.

On a small store an interactive request's latency is mostly the fixed
cost of each Spark job it launches, not executor work, so the job count
of a serve is its latency budget.  Each guard tags one call with a job
group and counts that group's jobs through
``statusTracker().getJobIdsForGroup``:

- a BM25-v2 serve of a version already read: the postings scan's own
  jobs only (schema inference, lexicon/stats reads and broadcasts of
  the corpus statistics would each add one);
- an ANN serve (``read_index_versioned`` + ``topk_from_index``) once
  the store's model is memoized: query vector, pruned ADC scan, the
  candidates' broadcast and the rerank;
- forecast seeds: one top-k collect, for every algorithm (the
  ma7_baseline mean is evaluated over the collected values without a
  job).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from intellect_bi_spark.operators import forecast as fc
from intellect_bi_spark.operators import retrieval as rt
from intellect_bi_spark.operators import vectorstore as vs
from intellect_bi_spark.operators.similarity import _emb


def _jobs(spark, fn) -> int:
    """Jobs ``fn`` launches, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"serve-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def stores(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sgraft_servejobs_")
    rt.build_bm25_index_v2(spark, sf_dir, f"{tmp}/bm25")
    vs.build_index_frozen_full(spark, sf_dir, f"{tmp}/ann")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_warm_bm25_v2_serve_launches_at_most_two_jobs(spark, stores):
    path = f"{stores}/bm25"
    want = rt.serve_bm25_v2(spark, path).collect()  # reads the version
    got: list = []
    n = _jobs(spark, lambda: got.extend(rt.serve_bm25_v2(spark, path).collect()))
    assert got == want and len(got) == rt.TOP_K
    assert n <= 2, n


def test_warm_ann_serve_launches_at_most_five_jobs(spark, sf_dir, stores):
    emb = _emb(spark, sf_dir)
    path = f"{stores}/ann"

    def serve():
        return vs.topk_from_index(
            *vs.read_index_versioned(spark, path), emb, query_vec_id=3
        ).collect()

    want = serve()  # memoizes the store's model
    got: list = []
    n = _jobs(spark, lambda: got.extend(serve()))
    assert got == want and len(got) == vs.TOP_K
    assert n <= 5, n


@pytest.mark.parametrize("algo", ["seasonal7", "drift", "ma7_baseline"])
def test_forecast_seed_jobs(spark, sf_dir, algo):
    # the first call materializes the cached sales view
    fc.forecast_payload(spark, sf_dir, h=9, algo=algo, window=10)
    n = _jobs(
        spark,
        lambda: fc.forecast_payload(spark, sf_dir, h=9, algo=algo, window=10),
    )
    assert n <= 2, n
