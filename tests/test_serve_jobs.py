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
  job);
- a BM25 batch serve of a version already read: the fold's and the
  window's shuffles and the result — no job ships the query table or
  samples a range sort;
- a BM25 delete's bucket discovery: one aggregate over the deleted
  docs' tokens;
- a compare question (YoY by quarter, last two quarters, QoQ) on the
  cached ``sales`` view: one scan of the view, its aggregate's jobs and
  at most one more (the YoY lag's shuffle) — no self-join, no
  subquery over the view, no pinned frame;
- the view dictionary (dimension values and latest quarters): one
  aggregate.

A read of more than 32 pinned directories lists them in a Spark job;
its guard bounds that job's tasks by the cores, not the directories.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

from intellect_bi_spark.catalog import load_tables
from intellect_bi_spark.operators import forecast as fc
from intellect_bi_spark.operators import retrieval as rt
from intellect_bi_spark.operators import sketches as sk
from intellect_bi_spark.operators import vectorstore as vs
from intellect_bi_spark.operators import vstore
from intellect_bi_spark.operators.similarity import _emb
from intellect_bi_spark.plans import intent


def _job_ids(spark, fn) -> list[int]:
    """Ids of the jobs ``fn`` launches, found through a fresh job
    group."""
    sc = spark.sparkContext
    group = f"serve-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _jobs(spark, fn) -> int:
    """Jobs ``fn`` launches."""
    return len(_job_ids(spark, fn))


@pytest.fixture(scope="module")
def stores(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="sgraft_servejobs_")
    rt.build_bm25_index_v2(spark, sf_dir, f"{tmp}/bm25")
    rt._init_bm25_store(rt._base_docs(spark, sf_dir), f"{tmp}/bm25_full")
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


def test_warm_bm25_batch_serve_launches_at_most_three_jobs(
    spark, duck, stores
):
    path = f"{stores}/bm25_full"
    rt.serve_bm25_batch_from_store(spark, path).collect()  # reads the version
    got: list = []
    n = _jobs(
        spark,
        lambda: got.extend(rt.serve_bm25_batch_from_store(spark, path).collect()),
    )
    want = duck.execute(rt._bm25_batch_oracle()).fetchall()
    assert [tuple(r) for r in got] == want and want  # rows AND order
    assert n <= 3, n


def test_sketch_serve_lists_many_dirs_one_task_per_core(spark, sf_dir):
    """Two segments over the fixture's 30 days pin 60 day dirs — past
    the 32-path threshold, so the serve lists them in a job."""
    ev = load_tables(spark, sf_dir)["events"].filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_sketchjobs_")
    try:
        sk._init_sketch_store(ev.filter(F.col("user_id") % 2 == 0), tmp)
        sk.upsert_sketch_rollup_store(ev.filter(F.col("user_id") % 2 == 1), tmp)
        pins = vstore.manifest_entries(spark, tmp, vstore.latest_version(spark, tmp))
        assert len(pins) > 32, len(pins)
        jobs = _job_ids(
            spark, lambda: sk.serve_sketch_rollup_from_store(spark, tmp).collect()
        )
        tracker = spark.sparkContext.statusTracker()
        tasks = [
            tracker.getStageInfo(s).numTasks
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None
        ]
        assert tasks
        assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_delete_discovery_launches_at_most_three_jobs(spark, sf_dir):
    """The buckets and stats equal the postings-derived ones the delete
    used before; delete ≡ rebuild-without-the-docs is
    test_vectorstore.test_bm25_delete_equals_rebuild_without_docs."""
    docs = rt._base_docs(spark, sf_dir)
    dels = docs.filter(F.col("doc_id") % rt.DOC_UPSERT_MOD == rt.DOC_DELETE_RES)
    toks = rt._toks_of(dels)
    facts: list = []
    n = _jobs(spark, lambda: facts.append(rt._bm25_delete_facts(toks)))
    assert n <= 3, n
    buckets, n_del, len_del = facts[0]
    want_buckets = sorted(
        r["tb"] for r in rt._postings_of(toks).select("tb").distinct().collect()
    )
    want_stats = rt._stats2_of(toks).first()
    assert buckets == want_buckets and buckets
    assert (n_del, len_del) == (want_stats["n_docs"], want_stats["sum_len"])


def test_view_dictionary_is_one_aggregate_and_matches_distincts(spark, sf_dir):
    """The dictionary equals the per-dimension DISTINCT it replaces, and
    the quarter set equals the view's two latest quarters."""
    intent.sales(spark, sf_dir).count()  # materializes the cached view
    view = intent.sales(spark, sf_dir).select("*")  # a fresh frame object
    facts: list = []
    assert _jobs(spark, lambda: facts.append(intent.view_dictionary(view))) <= 2
    assert intent.view_dictionary(view) is facts[0]  # memoized on the view
    for d in ("region", "product", "gender"):
        rows = view.select(d).where(F.col(d).isNotNull()).distinct().collect()
        want = sorted({str(r[0]).strip() for r in rows}, key=str.lower)
        assert facts[0].dims[d] == want
    qtr = F.date_trunc("quarter", F.col("date")).cast("date")
    want_q = [
        r[0]
        for r in view.select(qtr.alias("q")).distinct()
        .orderBy(F.desc("q")).limit(2).collect()
    ]
    assert list(facts[0].last2_quarters) == want_q
    assert intent.distinct_values(spark, sf_dir) == facts[0].dims


COMPARE_QUESTIONS = [
    ("Compare year-over-year sales performance by quarter.", "yoy_by_quarter", 3),
    (
        "Show average satisfaction for the two most recent quarters by region",
        "last2_quarters",
        2,
    ),
    ("How did sales change compared to last quarter?", "qoq_delta", 2),
    ("quarterly revenue in South compared to last quarter", "qoq_delta", 2),
]


@pytest.mark.parametrize("question,template,max_jobs", COMPARE_QUESTIONS)
def test_compare_question_scans_the_view_once(
    spark, sf_dir, question, template, max_jobs
):
    def ask():
        df, name = intent.answer_question(spark, sf_dir, question)
        assert name == template
        return df

    want = ask().collect()  # materializes the view and its dictionary
    df = ask()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 1, plan
    got: list = []
    n = _jobs(spark, lambda: got.extend(ask().collect()))
    assert got == want and got
    assert n <= max_jobs, n
