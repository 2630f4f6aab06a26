"""Keyword retrieval + fuzzy entity matching — 100 TB extensions.

Two search-engine-shaped operators a training-data platform runs beside
the vector path (similarity.py):

- **BM25 top-k keyword search** over ``documents`` — the lexical
  retrieval baseline every hybrid-search stack pairs with ANN.  The
  whole computation is the inverted-index algebra stated relationally:
  tokenize once, aggregate (doc, term) postings with map-side combine,
  broadcast the |Q|-row term-statistics table and the 1-row corpus
  statistics, score map-side.  No shuffle ever carries more than the
  postings for the query terms; nothing is quadratic in the corpus.
- **Blocked fuzzy name matching** over ``part`` — entity resolution on
  the DISTINCT-name dictionary (the 100 TB move: dedupe to the
  dictionary first — frequencies travel as weights — then run edit
  distance only inside candidate blocks + an exact-recall length band,
  never all-pairs over rows).  Candidate volume is quadratic in the
  PER-BLOCK dictionary, not the corpus: row counts only enter through
  the ``freq`` weights, and the fixture dictionary is vocabulary-
  bounded (64 names at every SF).  On an open-vocabulary dictionary the
  block key must carry more selectivity (q-gram prefix filtering — the
  same join shape, more keys); the ``pair_binding`` accumulator (< P
  per matched pair) would overflow BIGINT only past ~9·10^9 matched
  pairs, far beyond any dictionary this blocking admits.

No reference counterpart (the reference's text path is Chroma vector
retrieval only, reference api/main.py:1416-1417); charter extensions.

Parity discipline: tokenization is the identical regex split + empty
filter in both engines; tf/df/dl/N are exact integers; avgdl and every
scoring step is the IDENTICAL literal arithmetic text in both dialects,
so each per-term score differs only by the engines' ``ln`` libm (≤ a few
ulps, rel ~1e-16).  Per-document scores fold in strict term order
(sorted-struct fold vs ``list(s ORDER BY term)`` reduce), and the final
score is quantized to 2^-10 — a boundary straddle needs the ~1e-16
relative ulp gap to cross a 1e-3 quantum edge (~1e-13 per value), which
is the same accepted-risk class as the sketch bounds.  Levenshtein is
exact integer edit distance in both engines; the match summary is all
integer arithmetic.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.memo import SessionMemo
from ..functions.text import P, md5_mod_hash_duck, md5_mod_hash_sql
from .vstore import (
    RETAIN_VERSIONS,
    VersionConflict,
    commit_next,
    latest_version,
    manifest_entries,
    new_seg_id,
    read_segments,
    run_staged,
    run_upsert_stream,
    seg_buckets,
    stage_path,
    table_dir,
    vacuum_versioned_store,
    version_meta,
    write_segment,
)

TOKEN_SPLIT = "[^a-z0-9]+"
QUERY_TERMS = ("dup", "vector", "window")  # df spread: rare → common
K1_LIT = "1.2"  # identical literal text in both engines — never computed
B_LIT = "0.75"
K1P1_LIT = "2.2"  # k1 + 1 pre-stated as a literal
ONE_MINUS_B_LIT = "0.25"
TOP_K = 15
SCORE_QUANT = 1 << 10
LEV_MAX = 3


def _terms_in() -> str:
    return ", ".join(f"'{t}'" for t in QUERY_TERMS)


def _bm25_term_score(tf: str, df: str, dl: str, n_docs: str) -> str:
    """One query-term's BM25 contribution — IDENTICAL SQL text in Spark
    and DuckDB (Lucene's non-negative idf: ln((N - df + .5)/(df + .5)
    + 1)).  The only engine-varying op is ``ln`` (see module docstring);
    everything else is deterministic IEEE on identical operands."""
    idf = (
        f"ln(((CAST({n_docs} AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5)"
        f" / (CAST({df} AS DOUBLE) + 0.5)) + 1.0)"
    )
    return (
        f"({idf} * ((CAST({tf} AS DOUBLE) * {K1P1_LIT})"
        f" / (CAST({tf} AS DOUBLE) + {K1_LIT} * ({ONE_MINUS_B_LIT}"
        f" + {B_LIT} * (CAST({dl} AS DOUBLE) / avgdl)))))"
    )


def _bm25_scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hit_terms, score_q): the full per-document BM25 scoring
    relation (every doc hitting ≥1 query term) — shared by the top-k
    query and the RRF fusion."""
    # spread the single-file scan before tokenizing (pipeline._docs_spread
    # rationale; the per-token work otherwise runs on 1-2 tasks)
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    toks = docs.select(
        "doc_id",
        F.expr(
            f"filter(split(lower(text), '{TOKEN_SPLIT}'), t -> t <> '')"
        ).alias("toks"),
    )
    stats = toks.agg(
        (
            F.sum(F.size("toks")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    base = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(
            F.expr(f"filter(toks, t -> t IN ({_terms_in()}))")
        ).alias("term"),
    )
    tf = base.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.expr(_bm25_term_score("tf", "df", "dl", "n_docs")).alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.array_sort(F.collect_list(F.struct("term", "s"))).alias("ts"),
    )
    return per_doc.select(
        "doc_id",
        "n_hit_terms",
        F.expr(
            "CAST(FLOOR(aggregate(ts, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + x.s) * {SCORE_QUANT}.0 + 0.5)"
            " AS BIGINT)"
        ).alias("score_q"),
    )


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents for the fixed query by BM25 (k1=1.2, b=0.75),
    ranked on the 2^-10-quantized score with doc_id tie-break."""
    return (
        _bm25_scored_docs(spark, sf_dir)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(TOP_K)
    )


def fuzzy_name_match_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-level fuzzy match: DISTINCT part names blocked on the
    last token, Levenshtein ≤ 3 inside blocks, frequency-weighted merge
    impact.  One summary row: candidate pairs, matches, distance mass,
    impact (Σ freq_a·freq_b over matches), and an md5 binding over the
    matched name pairs so a single wrong pair flips the hash."""
    names = (
        load_tables(spark, sf_dir)["part"]
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "block", F.element_at(F.split("p_name", " "), -1)
        )
    )
    a, b = names.alias("a"), names.alias("b")
    # the length band is a NECESSARY condition for lev ≤ LEV_MAX (each
    # edit changes length by at most 1), so it prunes candidates with
    # EXACT recall — the standard cheap pre-filter before edit distance
    cands = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.p_name") < F.col("b.p_name"))
        & (
            F.abs(F.length("a.p_name") - F.length("b.p_name"))
            <= F.lit(LEV_MAX)
        ),
    ).select(
        F.col("a.p_name").alias("na"),
        F.col("b.p_name").alias("nb"),
        F.col("a.freq").alias("fa"),
        F.col("b.freq").alias("fb"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("lev"),
    )
    is_match = (F.col("lev") <= LEV_MAX).cast("long")
    pair_bind = F.expr(md5_mod_hash_sql("CONCAT(na, '|', nb)"))
    return cands.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(is_match).alias("n_matches"),
        F.sum(F.col("lev") * is_match).alias("sum_lev"),
        F.sum(F.col("fa") * F.col("fb") * is_match).alias("impact"),
        F.sum(pair_bind * is_match).alias("pair_binding"),
    )


RRF_K = "60.0"  # the standard RRF constant, identical literal both engines
RRF_DEPTH = 50  # per-ranker candidate depth entering the fusion
RRF_TOP = 10
RRF_QUANT = 1 << 20
COS_QUANT = 1 << 20


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009 — public method): fuse the BM25 lexical ranking with
    the embedding-cosine ranking (query vector = vec_id 0, the
    similarity.py query), score = Σ 1/(60 + rank) over the rankers that
    returned the document in their top-``RRF_DEPTH``.  Columns: id,
    r_bm25, r_cos, rrf_q (2^-20-quantized).  The fixture's embeddings
    are row-aligned with documents (doc_id ≡ vec_id); at scale the
    embedding table carries the document key explicitly.

    Scale shape: each side is its own top-DEPTH TakeOrderedAndProject
    (per-partition heads, no global sort); the rank row_number then runs
    on DEPTH rows — driver-size — and the fusion is a DEPTH-row full
    outer join.  Ranks are assigned on QUANTIZED scores with id
    tie-breaks, so both engines rank identically; the RRF sum is two
    exact IEEE divisions added in fixed textual order."""
    from pyspark.sql import Window

    from .similarity import QUERY_VEC_ID, _dot, _emb, _norm

    bm_top = (
        _bm25_scored_docs(spark, sf_dir)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(RRF_DEPTH)
    )
    w_bm = Window.orderBy(F.desc("score_q"), "doc_id")
    bm_ranked = bm_top.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(w_bm).alias("r_bm25"),
    )
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    cos_scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cosv",
            _dot("embedding", "q_emb")
            / (_norm("embedding") * _norm("q_emb")),
        )
        .select(
            "vec_id",
            F.expr(
                f"CAST(FLOOR(cosv * {COS_QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("cos_q"),
        )
    )
    cos_top = cos_scored.orderBy(F.desc("cos_q"), "vec_id").limit(
        RRF_DEPTH
    )
    w_cos = Window.orderBy(F.desc("cos_q"), "vec_id")
    cos_ranked = cos_top.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(w_cos).alias("r_cos"),
    )
    fused = bm_ranked.join(cos_ranked, "id", "full_outer").select(
        "id",
        "r_bm25",
        "r_cos",
        F.expr(
            f"CAST(FLOOR((CASE WHEN r_bm25 IS NOT NULL THEN"
            f" 1.0 / ({RRF_K} + CAST(r_bm25 AS DOUBLE)) ELSE 0.0 END"
            f" + CASE WHEN r_cos IS NOT NULL THEN"
            f" 1.0 / ({RRF_K} + CAST(r_cos AS DOUBLE)) ELSE 0.0 END)"
            f" * {RRF_QUANT}.0 + 0.5) AS BIGINT)"
        ).alias("rrf_q"),
    )
    return fused.orderBy(F.desc("rrf_q"), "id").limit(RRF_TOP)


NDCG_K = 10


def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation at corpus scale: NDCG@10 of the BM25
    ranking against graded relevance labels derived independently of the
    score (rel(doc) = how many DISTINCT query terms the document
    contains, 0–3).  One row: n_judged (docs with rel > 0), dcg_q,
    idcg_q, ndcg_q (all 2^-20-quantized).

    DCG folds (2^rel − 1)/log2(rank + 1) in strict rank order over the
    top-10 of the ranking; IDCG folds the same gains over the
    ideal (relevance-sorted) top-10.  Rankings order on the QUANTIZED
    BM25 score with doc_id tie-break and the ideal ranking on
    (rel DESC, doc_id), so both engines rank identically; ``log2`` is
    the only engine-varying op (ulp-class, quantized away — the module's
    standard accepted-risk class).  The evaluation is top-k only: both
    rank lists are TakeOrderedAndProject heads, never a global sort.
    One-shot pin lifecycle (VERDICT r10 #5): the scoring-relation pin is
    consumed exactly once per invocation, so the final action runs here
    and the pin is released immediately."""
    from ..functions.windows import release_after_action

    out, pins = _ndcg_composed(spark, sf_dir)
    return release_after_action(out, *pins)


def _ndcg_composed(spark, sf_dir):
    """The lazy composed plan + its one-shot pin (plan tests target
    this seam)."""
    from pyspark.sql import Window

    from ..functions.windows import register_cache

    # persist the scoring relation (one narrow row per doc hitting ≥1
    # query term): BOTH rank lists below (actual top-10, ideal top-10)
    # read it, and without the pin the corpus-scale tokenize+score
    # pipeline executes twice (r9 review; the pagerank-adjacency-pin
    # class). Registered so repeated invocations in a long-lived session
    # don't accumulate unreleasable cache entries (ADVICE r9) —
    # reset_caches()/the cap evict old pins.
    scored = register_cache(
        _bm25_scored_docs(spark, sf_dir)
        .select("doc_id", "n_hit_terms", "score_q")
    )
    # rel = distinct query terms present = n_hit_terms (tf relation is
    # per distinct term, so the count IS the distinct-term hit count)
    top = scored.orderBy(F.desc("score_q"), "doc_id").limit(NDCG_K)
    w_rank = Window.orderBy(F.desc("score_q"), "doc_id")
    gains = top.select(
        F.row_number().over(w_rank).alias("rk"),
        F.col("n_hit_terms").alias("rel"),
    )
    dcg = gains.agg(
        F.expr(
            "CAST(FLOOR(aggregate(array_sort(collect_list(struct(rk,"
            " CAST((POW(2.0, CAST(rel AS DOUBLE)) - 1.0)"
            " / log2(CAST(rk AS DOUBLE) + 1.0) AS DOUBLE) AS g))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.g)"
            f" * {RRF_QUANT}.0 + 0.5) AS BIGINT)"
        ).alias("dcg_q")
    )
    ideal = scored.orderBy(F.desc("n_hit_terms"), "doc_id").limit(NDCG_K)
    w_ideal = Window.orderBy(F.desc("n_hit_terms"), "doc_id")
    igains = ideal.select(
        F.row_number().over(w_ideal).alias("rk"),
        F.col("n_hit_terms").alias("rel"),
    )
    idcg = igains.agg(
        F.expr(
            "CAST(FLOOR(aggregate(array_sort(collect_list(struct(rk,"
            " CAST((POW(2.0, CAST(rel AS DOUBLE)) - 1.0)"
            " / log2(CAST(rk AS DOUBLE) + 1.0) AS DOUBLE) AS g))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.g)"
            f" * {RRF_QUANT}.0 + 0.5) AS BIGINT)"
        ).alias("idcg_q")
    )
    judged = scored.agg(F.count(F.lit(1)).alias("n_judged"))
    return (
        judged.crossJoin(dcg)
        .crossJoin(idcg)
        .select(
            "n_judged",
            "dcg_q",
            "idcg_q",
            F.expr(
                "CAST(FLOOR(CAST(dcg_q AS DOUBLE)"
                " / CAST(idcg_q AS DOUBLE)"
                f" * {RRF_QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("ndcg_q"),
        )
    ), (scored,)


# --- persisted lexical serving: the BM25 inverted-index store (r10) ----------


_BM25_LEXICON_SCHEMA = "term string, df bigint"


def _bm25_fold(
    hit: DataFrame,
    df_of: dict,
    n_docs: int,
    avgdl: float,
    keys: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keys, n_hit_terms, score_q): THE BM25 fold every scoring path
    shares — per posting, the :func:`_bm25_term_score` text; per key,
    the strict term-ordered sum quantized to 2^-10.  The corpus
    statistics enter as literals: ``df_of`` (term → df) as a CASE on
    the term, ``n_docs`` and ``avgdl``.  A broadcast of even a 1-row
    relation costs a Spark job, so the literals are what keep a warm
    serve at the scan's own jobs.  Postings of a term without a df are
    dropped — the inner-join semantics of the lexicon join this
    replaces.  Every double is the same arithmetic on the same exact
    operands as the join form, so scores are bit-identical."""
    terms = sorted(df_of)
    df_col = (
        F.expr(
            "CASE term "
            + " ".join(f"WHEN '{t}' THEN {int(df_of[t])}" for t in terms)
            + " END"
        )
        if terms
        else F.lit(None).cast("bigint")
    )
    scored = (
        hit.filter(F.col("term").isin(*terms))
        .select(
            *keys,
            "term",
            "tf",
            "dl",
            df_col.alias("df"),
            F.lit(n_docs).alias("n_docs"),
            F.lit(avgdl).alias("avgdl"),
        )
        .select(
            *keys,
            "term",
            F.expr(_bm25_term_score("tf", "df", "dl", "n_docs")).alias("s"),
        )
    )
    per = scored.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.array_sort(F.collect_list(F.struct("term", "s"))).alias("ts"),
    )
    return per.select(
        *keys,
        "n_hit_terms",
        F.expr(
            "CAST(FLOOR(aggregate(ts, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + x.s) * {SCORE_QUANT}.0 + 0.5)"
            " AS BIGINT)"
        ).alias("score_q"),
    )


def _bm25_topk(
    hit: DataFrame, df_of: dict, n_docs: int, avgdl: float
) -> DataFrame:
    """The fixed query's TOP_K over ``hit`` postings (score desc,
    doc_id tie-break)."""
    return (
        _bm25_fold(hit, df_of, n_docs, avgdl)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(TOP_K)
    )


def topk_from_bm25_index(
    postings: DataFrame, lexicon: DataFrame, stats: DataFrame
) -> DataFrame:
    """Serve the fixed query FROM the given tables: collect the
    ≤|query terms| lexicon rows and the 1-row (avgdl, n_docs) stats to
    the driver, term-filter the postings scan (pushed to parquet as an
    IN filter) and rebuild the identical term-ordered per-document fold
    (:func:`_bm25_fold`) — every double is the same arithmetic on the
    same exact integers, so the output must equal
    :func:`bm25_topk_docs` bit for bit.  The unit tests use it as the
    un-memoized reference the store serves are compared against."""
    df_of = {
        r["term"]: r["df"]
        for r in lexicon.filter(F.col("term").isin(*QUERY_TERMS))
        .select("term", "df")
        .collect()
    }
    st = stats.select("n_docs", "avgdl").first()
    return _bm25_topk(
        postings.filter(F.col("term").isin(*QUERY_TERMS)),
        df_of,
        st["n_docs"],
        st["avgdl"],
    )


def bm25_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the inverted index over the full corpus as v1 of the
    versioned store (postings segment, lexicon, stats, manifest),
    persist it to parquet, and answer the fixed query FROM THE STORE
    (eager localCheckpoint of the TOP_K rows, then delete the temp
    store).  The oracle is the direct full recompute — serve-from-store
    must equal direct scoring exactly, certifying the store's
    write/read roundtrip."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_index_")
    try:
        _init_bm25_store(_base_docs(spark, sf_dir), tmp)
        out = serve_bm25_v2(spark, tmp).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- incremental index maintenance (r12, VERDICT r11 #2) --------------------
#
# The lexical twin of vectorstore.upsert_index: at 100 TB the inverted
# index never full-rebuilds for an ingest batch — new docs' postings
# land as a fresh immutable SEGMENT (corpus-scale, batch-proportional
# cost), while the vocabulary-bounded lexicon (term → df), the 1-row
# corpus stats AND the file MANIFEST merge copy-on-write into a new
# VERSION (r14, VERDICT r13 #3: the manifest pins the version's exact
# (segment, bucket) file set, so snapshot isolation covers the
# postings too — readers of v=N are never disturbed by upserts,
# deletes or compactions; at production scale per-bucket posting
# compaction runs beside this — the compaction_plan operator's job).
# Reference analogue: the reference ingests incrementally (Chroma
# upsert, api/ingest_docs.py:97-102) but its retrieval index had no
# incremental path here either.
#
# upsert ≡ rebuild holds EXACTLY because every merged quantity is an
# integer: postings are per (term, doc) — a doc lives entirely in one
# side of the split, so union IS the full posting set; df merges by
# addition; stats store (n_docs, sum_len) as BIGINTs so the serve-time
# avgdl = sum_len/n_docs is the IDENTICAL division the direct scoring
# pass performs.  (A stored avgdl could not be merged exactly, so the
# layout stores the numerator/denominator.)

N_TB = 16  # term-hash buckets: crc32(term) % 16 partitions the postings
DOC_UPSERT_MOD = 10
DOC_UPSERT_RES = 7  # batch = doc_id % 10 == 7 (~10% of the corpus)


def _doc_batch_pred():
    return F.col("doc_id") % DOC_UPSERT_MOD == DOC_UPSERT_RES


def _term_bucket(col):
    """A term's bucket — a Column over a term column or a lambda
    variable (the delete's bucket discovery maps it over token
    arrays)."""
    return (F.crc32(F.encode(col, "UTF-8")) % N_TB).cast("int")


def _toks_of(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.expr(
            f"filter(split(lower(text), '{TOKEN_SPLIT}'), t -> t <> '')"
        ).alias("toks"),
    )


def _postings_of(toks: DataFrame) -> DataFrame:
    return (
        toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tb", _term_bucket(F.col("term")))
    )


def _stats2_of(toks: DataFrame) -> DataFrame:
    """(n_docs, sum_len) — exact BIGINTs, mergeable by addition (unlike
    the derived avgdl double)."""
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_len"),
    )


def _base_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )


_BM25_POSTING_SCHEMA = "term string, doc_id bigint, dl int, tf bigint, tb int"
_BM25_STATS_SCHEMA = "n_docs bigint, sum_len bigint"


def _init_bm25_store(
    docs: DataFrame, path: str, bid: int | None = None
) -> None:
    """First write of an upsertable store from a document frame: one
    bucket-partitioned posting SEGMENT, v=1 lexicon (derived from the
    STORED segment, the drift-proofing discipline), v=1 stats, and the
    v=1 manifest pinning exactly that segment's buckets — all staged
    attempt-unique, committed by the first publish
    (:func:`vstore.commit_next`; a store that already has a published
    version raises :class:`VersionConflict`).

    Optimization (r15, guide §2.6 + §5): the tokenized frame is pinned
    for the leg — the segment write and the stats write both consume it
    and previously each re-ran the corpus scan + tokenize; the writes
    are independent staged artifacts and run concurrently
    (:func:`run_staged`).  r16 refinement: the lexicon derive (which
    must follow the segment write — drift-proofing derives df from the
    STORED files) is CHAINED inside the segment thunk, so it overlaps
    the stats write instead of serializing after the whole stage
    (guide §2.6 — the r15 form ran seg ∥ stats, then lexicon alone)."""
    from pyspark import StorageLevel

    spark = docs.sparkSession
    toks = _toks_of(docs).persist(StorageLevel.MEMORY_AND_DISK)
    root = f"{path}/postings"

    def stage(base: int, v: int, att: str):
        if base:
            raise VersionConflict(f"{path} already published v={base}")
        seg = new_seg_id()
        buckets: list = []

        def _stage_seg_then_lexicon() -> None:
            write_segment(
                _postings_of(toks).repartition(N_TB, "tb"), root, seg
            )
            buckets.extend(seg_buckets(spark, root, seg))
            stored = read_segments(
                spark, root, [(seg, b) for b in buckets],
                _BM25_POSTING_SCHEMA,
            )
            stored.groupBy("term").agg(
                F.count(F.lit(1)).alias("df")
            ).write.mode("overwrite").parquet(
                stage_path(path, "lexicon", v, att)
            )

        run_staged(
            _stage_seg_then_lexicon,
            lambda: _stats2_of(toks).write.mode("overwrite").parquet(
                stage_path(path, "stats", v, att)
            ),
        )
        return [(seg, b) for b in buckets], None

    try:
        commit_next(spark, path, stage, bid)
    finally:
        toks.unpersist()


def build_bm25_index_v2(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Initial build of the UPSERTABLE store on the base corpus (the
    upsert batch held out)."""
    _init_bm25_store(
        _base_docs(spark, sf_dir).filter(~_doc_batch_pred()), path
    )


def upsert_bm25_index(
    spark: SparkSession,
    path: str,
    batch_docs: DataFrame,
    bid: int | None = None,
) -> None:
    """Merge a new document batch into the stored index: write the
    batch's postings as one NEW immutable segment (pre-existing posting
    files are never touched — tests prove the file-level claim), then
    write the NEXT VERSION of the lexicon (old df + batch df,
    full-outer integer merge), stats (component-wise BIGINT add) and
    manifest (old pin list + the new segment's buckets), and finally
    PUBLISH v+1.  Readers resolve only published versions and read only
    manifest-pinned files, so a crash anywhere before the publish
    leaves EVERY reader of the live version fully undisturbed — and a
    retried attempt (stream redelivery, a crashed writer) re-applies
    exactly-once: it pins a fresh segment and stages fresh
    attempt-unique version dirs; the crashed attempt's segment is in
    no manifest.  On :class:`VersionConflict` (another writer published
    v+1 first) the merge retries against the new latest with a FRESH
    attempt id — the batch segment is version-independent and written
    once, and the losing attempt's staged dirs are unreferenced debris
    vacuum sweeps, never a hazard to the winner's published data
    (ADVICE r14 #2 closed: writers can no longer name each other's
    paths).
    The batch frame fully determines the merge — the store is not
    corpus-bound (ADVICE r12: the earlier unused ``sf_dir`` parameter
    invited exactly that misreading).

    Returns the new segment's bucket list (r15): the CRUD chain's
    post-upsert compaction targets exactly these buckets, and deriving
    them from the upsert's own ``seg_buckets`` read-back saves the
    caller a full re-tokenize of the batch.

    Optimization (r15, guide §2.6 + §5): the leg's three staged writes
    (posting segment, lexicon v+1, stats v+1) are physically
    independent attempt-unique artifacts gated by one publish, so they
    run as concurrent jobs; the batch's tokenized/posting frames are
    pinned for the leg — previously the segment write, the df
    aggregate and the stats aggregate EACH re-ran the batch scan +
    tokenize + posting shuffle (three passes per mutation).  A retry
    after :class:`VersionConflict` re-stages only the version tables
    (the segment is version-independent and written once)."""
    from pyspark import StorageLevel

    toks = _toks_of(batch_docs).persist(StorageLevel.MEMORY_AND_DISK)
    bp = _postings_of(toks).persist(StorageLevel.MEMORY_AND_DISK)
    root = f"{path}/postings"
    seg = new_seg_id()
    batch_df = bp.groupBy("term").agg(F.count(F.lit(1)).alias("bdf"))
    bs = _stats2_of(toks)
    seg_staged = False

    def stage(v: int, nxt: int, att: str):
        nonlocal seg_staged

        def _stage_seg() -> None:
            write_segment(bp.repartition(N_TB, "tb"), root, seg)

        def _stage_lexicon() -> None:
            old_lex = spark.read.schema(_BM25_LEXICON_SCHEMA).parquet(
                table_dir(spark, path, "lexicon", v)
            )
            (
                old_lex.join(batch_df, "term", "full_outer")
                .select(
                    "term",
                    (
                        F.coalesce("df", F.lit(0))
                        + F.coalesce("bdf", F.lit(0))
                    ).alias("df"),
                )
                .write.mode("overwrite")
                .parquet(stage_path(path, "lexicon", nxt, att))
            )

        def _stage_stats() -> None:
            old_stats = spark.read.schema(_BM25_STATS_SCHEMA).parquet(
                table_dir(spark, path, "stats", v)
            )
            (
                old_stats.select(
                    F.col("n_docs").alias("n0"),
                    F.col("sum_len").alias("s0"),
                )
                .crossJoin(
                    F.broadcast(
                        bs.select(
                            F.col("n_docs").alias("n1"),
                            F.col("sum_len").alias("s1"),
                        )
                    )
                )
                .select(
                    (F.col("n0") + F.col("n1")).alias("n_docs"),
                    (F.col("s0") + F.col("s1")).alias("sum_len"),
                )
                .write.mode("overwrite")
                .parquet(stage_path(path, "stats", nxt, att))
            )

        thunks = [_stage_lexicon, _stage_stats]
        if not seg_staged:
            thunks.append(_stage_seg)
        run_staged(*thunks)
        seg_staged = True
        buckets = seg_buckets(spark, root, seg)
        return manifest_entries(spark, path, v) + [
            (seg, b) for b in buckets
        ], buckets

    try:
        return commit_next(spark, path, stage, bid)
    finally:
        bp.unpersist()
        toks.unpersist()


def _serve_terms() -> list[str]:
    """Every term a store serve scores: the fixed query's and the
    batch queries'."""
    return sorted(set(QUERY_TERMS) | {t for _, ts in BM25_BATCH for t in ts})


class _VersionState(NamedTuple):
    """What a serve needs of one published BM25 store version besides
    its postings: the manifest pins, the serve terms' df, and the
    exact (n_docs, sum_len)."""

    entries: list
    df_of: dict
    n_docs: int
    sum_len: int

    @property
    def avgdl(self) -> float:
        # the division the direct pass performs, CAST(sum_len AS
        # DOUBLE) / CAST(n_docs AS DOUBLE), in IEEE doubles
        return float(self.sum_len) / float(self.n_docs) if self.n_docs else 0.0


# A published version never changes after its publish, so its state is
# memoized under (store, version, winning attempt): a store rebuilt at
# the same path publishes v=1 under a fresh attempt id and misses.  The
# latest-version lookup itself is never memoized — every serve lists
# the published markers, so it always sees the newest publish.
_VERSION_MEMO = SessionMemo(cap=32)


def _version_state(spark: SparkSession, path: str, v: int) -> _VersionState:
    """Version ``v``'s :class:`_VersionState` — memoized; a miss costs
    ONE Spark job (the lexicon's serve-term rows and the stats row,
    read with their known schemas, collected as one union)."""
    att = version_meta(spark, path, v)["att"]
    key = f"{path}#v={v}-{att}"
    state = _VERSION_MEMO.get(spark, key)
    if state is not None:
        return state
    lex = (
        spark.read.schema(_BM25_LEXICON_SCHEMA)
        .parquet(stage_path(path, "lexicon", v, att))
        .filter(F.col("term").isin(*_serve_terms()))
        .select("term", "df", F.lit(None).cast("bigint").alias("sum_len"))
    )
    stats = (
        spark.read.schema(_BM25_STATS_SCHEMA)
        .parquet(stage_path(path, "stats", v, att))
        .select(F.lit(None).cast("string").alias("term"), "n_docs", "sum_len")
    )
    rows = lex.unionAll(stats).collect()
    # the union is positional: the stats row carries n_docs under "df"
    st = next(r for r in rows if r["term"] is None)
    state = _VersionState(
        entries=manifest_entries(spark, path, v),
        df_of={r["term"]: r["df"] for r in rows if r["term"] is not None},
        n_docs=st["df"],
        sum_len=st["sum_len"],
    )
    return _VERSION_MEMO.put(spark, key, state)


def _pinned_postings(
    spark: SparkSession, path: str, state: _VersionState, terms
) -> DataFrame:
    """The version's postings for ``terms``: only the manifest-pinned
    (seg, tb) directories of the terms' buckets are listed (manifest-
    level pruning), and the scan still carries the tb partition filter
    and the pushed term IN-filter."""
    import zlib

    buckets = sorted({zlib.crc32(t.encode("utf-8")) % N_TB for t in terms})
    entries = [e for e in state.entries if e[1] in set(buckets)]
    return (
        read_segments(
            spark, f"{path}/postings", entries, _BM25_POSTING_SCHEMA
        )
        .filter(F.col("tb").isin(buckets))
        .filter(F.col("term").isin(*terms))
    )


def serve_bm25_v2_at(
    spark: SparkSession, path: str, v: int
) -> DataFrame:
    """Answer the fixed query from a PINNED store version: the postings
    read touches only the manifest-pinned (seg, tb) directories whose
    bucket matches a query term (manifest-level directory pruning — the
    lexical analogue of the IVF cell filter), still carries the tb
    partition filter and the pushed term IN-filter, and avgdl derives
    from version ``v``'s exact (n_docs, sum_len).  Because every file
    the read touches is pinned by ``v``'s manifest and segments are
    immutable, a reader of ``v`` is FULLY isolated from concurrent
    upserts, deletes and compactions (VERDICT r13 #3 — the unit proves
    a mid-delete reader of v sees the complete pre-delete store).

    The version's manifest pins, df and (n_docs, sum_len) come from
    the version memo (:func:`_version_state`) and enter the fold as
    literals, and every read passes its known schema, so a serve of a
    version already read launches only the scan's own two jobs."""
    state = _version_state(spark, path, v)
    return _bm25_topk(
        _pinned_postings(spark, path, state, QUERY_TERMS),
        state.df_of,
        state.n_docs,
        state.avgdl,
    )


def serve_bm25_v2(spark: SparkSession, path: str) -> DataFrame:
    """Serve from the store's LATEST published version."""
    return serve_bm25_v2_at(spark, path, latest_version(spark, path))


def bm25_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical index maintenance, end to end: build the
    versioned store on the base corpus (batch held out), upsert the
    batch (posting append + lexicon/stats version merge), and answer
    the fixed query from the upserted store.  The oracle is the DIRECT
    full-corpus scoring plus the batch count — a green row proves
    upsert-then-serve ≡ full-rebuild-then-serve (every merged quantity
    is an exact integer, so the equivalence is bit-exact)."""
    import shutil
    import tempfile

    batch = _base_docs(spark, sf_dir).filter(_doc_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_upsert_")
    try:
        build_bm25_index_v2(spark, sf_dir, tmp)
        upsert_bm25_index(spark, tmp, batch)
        n_up = batch.agg(F.count(F.lit(1)).alias("n_upserted"))
        out = (
            serve_bm25_v2(spark, tmp)
            .crossJoin(F.broadcast(n_up))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bm25_stream_upsert(bdf: DataFrame, store: str, bid: int) -> None:
    """The BM25 store's stream upsert (:func:`vstore.stream_sink`)."""
    upsert_bm25_index(bdf.sparkSession, store, bdf, bid=bid)


def bm25_stream_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion into the upsertable lexical store: stage the
    corpus as N_FEED_FILES parquet files, run a REAL availableNow file
    stream over them (`maxFilesPerTrigger=1` → one micro-batch per
    file), and let ``foreachBatch`` drive the store — batch 0
    initializes it, every later batch runs the SAME versioned upsert
    the batch path certifies (posting append + lexicon/stats merge).
    After the stream drains, the fixed query is served from the final
    version and must equal the DIRECT full-corpus scoring — proving the
    upsert chain COMPOSES: N successive merges from an empty store
    reconstruct the exact global index state (associativity of every
    merged integer), driven by the real streaming engine rather than a
    hand-rolled loop.  This is how a 100 TB deployment actually feeds
    its retrieval index: a continuous ingest stream upserting
    per-micro-batch, never a rebuild.  Output: the top-k rows plus
    n_docs_indexed read from the FINAL stats version (binds the chain's
    accounting into the checked result); the 4-micro-batch version
    chain itself is locked by tests/test_vectorstore.py."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_stream_")
    try:
        run_upsert_stream(
            spark, _base_docs(spark, sf_dir), tmp, _init_bm25_store,
            _bm25_stream_upsert,
        )
        store = f"{tmp}/store"
        v = latest_version(spark, store)
        nd = (
            spark.read.schema(_BM25_STATS_SCHEMA)
            .parquet(table_dir(spark, store, "stats", v))
            .select(F.col("n_docs").alias("n_docs_indexed"))
        )
        out = (
            serve_bm25_v2(spark, store)
            .crossJoin(F.broadcast(nd))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- version retention / vacuum (r13, VERDICT r12 #2) ------------------------
#
# The shared retention sweep is vstore.vacuum_versioned_store.
# Reference analogue: Chroma persistence is a single mutable collection
# (reference api/main.py:152-157) — it never accumulates snapshots;
# our snapshot-isolation upgrade needs this op to not regress storage.

DOC_UPSERT_RES2 = 3  # second ingest batch for the vacuum chain (~10%,
# disjoint from the DOC_UPSERT_RES batch)


def vacuum_bm25_store(
    spark: SparkSession, path: str, keep_last: int = RETAIN_VERSIONS
) -> int:
    """Retention vacuum for the BM25 store: keep the newest
    ``keep_last`` published versions of lexicon/stats/manifests, sweep
    dangling unpublished versions, and GC unreferenced posting
    segments (see :func:`vacuum_versioned_store` for the contract and
    the single-writer assumption)."""
    return vacuum_versioned_store(
        spark, path, ("lexicon", "stats", "manifests"), ("postings",),
        keep_last,
    )


def bm25_store_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version retention, end to end: build the versioned store on the
    base corpus, run TWO successive upserts (→ a 3-version chain, the
    snapshot-isolation state a few ingest cycles leave behind), VACUUM
    to the latest version only, and serve the fixed query from the
    survivor.  Output binds n_docs_indexed (read from the SURVIVING
    stats version — proving the vacuum kept the right one) and
    n_versions_purged into the checked rows.

    The oracle is the direct full-corpus scoring — a green row proves
    serve-from-latest is UNCHANGED by the vacuum; the file-level claims
    (old v=N directories gone, the live version's files byte-untouched,
    postings untouched) are locked by tests/test_vectorstore.py."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_UPSERT_RES2)
    base = docs.filter(
        (F.col("doc_id") % DOC_UPSERT_MOD != DOC_UPSERT_RES)
        & (F.col("doc_id") % DOC_UPSERT_MOD != DOC_UPSERT_RES2)
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_vacuum_")
    try:
        _init_bm25_store(base, tmp)
        upsert_bm25_index(spark, tmp, b1)
        upsert_bm25_index(spark, tmp, b2)
        purged = vacuum_bm25_store(spark, tmp, keep_last=RETAIN_VERSIONS)
        v = latest_version(spark, tmp)
        nd = (
            spark.read.schema(_BM25_STATS_SCHEMA)
            .parquet(table_dir(spark, tmp, "stats", v))
            .select(F.col("n_docs").alias("n_docs_indexed"))
        )
        out = (
            serve_bm25_v2(spark, tmp)
            .crossJoin(F.broadcast(nd))
            .withColumn(
                "n_versions_purged", F.lit(purged).cast("bigint")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- deletion through the index (r13, VERDICT r12 #3) ------------------------
#
# The lexical twin of vectorstore.delete_from_index: GDPR-class erasure
# must reach the derived store.  The delete mirrors the upsert exactly,
# with every merged integer decremented instead of added: the affected
# term buckets' SURVIVING postings land in a new segment and the v+1
# manifest un-pins every prior segment of those buckets (old files
# untouched — snapshot isolation for in-flight readers; the deleted
# bytes become unreachable at publish and are swept by vacuum's
# segment GC), df decrements into a new lexicon version (terms
# reaching df=0 are dropped), and stats decrement component-wise.  The
# decrements are derived by re-tokenizing the deleted docs with the
# SAME functions the ingest used (deterministic tokenization → exactly
# what was indexed), so delete ≡ rebuild-without-the-docs holds
# bit-exactly, including a changed avgdl and idf for every survivor.

DOC_DELETE_RES = 3  # erase set: doc_id % 10 == 3 (~10% of the corpus)


def _bm25_delete_facts(toks: DataFrame) -> tuple[list[int], int, int]:
    """(affected buckets, n_docs, sum_len) of the tokenized docs being
    deleted, from ONE aggregate: :func:`_stats2_of`'s two BIGINTs and
    the OR of each doc's bucket bitmask — bit b is set iff one of its
    tokens falls in bucket b under :func:`_term_bucket`, so the set
    bits are exactly the distinct ``tb`` of the docs' postings.  The
    mask is O(1) aggregate state however many docs are deleted."""
    mask = F.aggregate(
        F.transform("toks", _term_bucket),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc.bitwiseOR(
            F.call_function("shiftleft", F.lit(1).cast("bigint"), b)
        ),
    )
    r = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_len"),
        F.bit_or(mask).alias("mask"),
    ).first()
    bits = r["mask"] or 0
    return (
        [b for b in range(N_TB) if bits >> b & 1],
        r["n_docs"],
        r["sum_len"] or 0,
    )


def delete_from_bm25_index(
    spark: SparkSession, path: str, del_docs: DataFrame
) -> list[int]:
    """Erase ``del_docs`` (a (doc_id, text) frame — the erasure request
    carries the docs being purged, fetched from the base table before
    the base rows themselves are erased) from the stored index.
    Writes the next lexicon/stats version, writes the affected
    buckets' SURVIVING postings as a new segment, and publishes a v+1
    manifest that pins the new segment INSTEAD of every prior pin of
    the affected buckets — old segments are never touched, so a
    concurrent reader of v sees the FULL pre-delete store (true
    snapshot isolation, VERDICT r13 #3; the pre-manifest layout
    rewrote shared bucket files in place and could not honestly claim
    this).  The deleted postings become physically unreachable at the
    v+1 publish and their bytes are reclaimed by vacuum's segment GC —
    the erasure SLA is "unreachable at commit, swept at retention",
    the Iceberg/Delta erasure contract.  Returns the affected bucket
    list (≤ N_TB ints).  Cost is proportional to the affected buckets'
    postings + the vocabulary-bounded lexicon merge — never a corpus
    rescan.

    Optimization (r15, guide §2.6 + §5): the deleted docs' tokenized
    frame is pinned for the leg, and the three independent staged
    writes (surviving-postings segment, lexicon v+1, stats v+1) run as
    concurrent jobs gated by the one publish.  The affected buckets and
    the deleted (n_docs, sum_len) come from ONE aggregate over the
    tokens (:func:`_bm25_delete_facts`), and the stats leg subtracts
    them as literals — no postings shuffle before the staged writes,
    and no broadcast of a 1-row relation."""
    from pyspark import StorageLevel

    toks = _toks_of(del_docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        buckets, n_del, len_del = _bm25_delete_facts(toks)
        ddf = _postings_of(toks).groupBy("term").agg(
            F.count(F.lit(1)).alias("ddf")
        )
        del_ids = del_docs.select("doc_id")
        root = f"{path}/postings"
        hit = set(buckets)

        def stage(v: int, nxt: int, att: str):
            def _stage_lexicon() -> None:
                old_lex = spark.read.schema(_BM25_LEXICON_SCHEMA).parquet(
                    table_dir(spark, path, "lexicon", v)
                )
                (
                    old_lex.join(ddf, "term", "left")
                    .select(
                        "term",
                        (
                            F.col("df") - F.coalesce("ddf", F.lit(0))
                        ).alias("df"),
                    )
                    .filter(F.col("df") > 0)
                    .write.mode("overwrite")
                    .parquet(stage_path(path, "lexicon", nxt, att))
                )

            def _stage_stats() -> None:
                (
                    spark.read.schema(_BM25_STATS_SCHEMA)
                    .parquet(table_dir(spark, path, "stats", v))
                    .select(
                        (F.col("n_docs") - F.lit(n_del)).alias("n_docs"),
                        (F.col("sum_len") - F.lit(len_del)).alias("sum_len"),
                    )
                    .write.mode("overwrite")
                    .parquet(stage_path(path, "stats", nxt, att))
                )

            entries = manifest_entries(spark, path, v)
            survivors: list = []

            def _stage_survivors() -> None:
                kept = read_segments(
                    spark, root, [e for e in entries if e[1] in hit],
                    _BM25_POSTING_SCHEMA,
                ).join(del_ids, "doc_id", "left_anti")
                seg = new_seg_id()
                write_segment(kept.repartition(len(buckets), "tb"), root, seg)
                survivors.extend((seg, b) for b in seg_buckets(spark, root, seg))

            run_staged(
                _stage_lexicon,
                _stage_stats,
                *([_stage_survivors] if buckets else []),
            )
            return [e for e in entries if e[1] not in hit] + survivors, buckets

        return commit_next(spark, path, stage)
    finally:
        toks.unpersist()


def bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion through the lexical store, end to end: build the
    versioned store over the FULL corpus, erase the delete set
    (affected-bucket rewrite + decremented lexicon/stats version), and
    serve the fixed query from the post-delete store.  Output binds
    n_deleted into the checked rows.

    The oracle restates the rebuild: direct scoring over the surviving
    documents only — every decremented integer (df, n_docs, sum_len)
    must land exactly where a from-scratch index of the survivors
    would, including the changed avgdl/idf, so a green row proves the
    erasure verifiably reached the derived store bit-for-bit."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    dels = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_DELETE_RES)
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_delete_")
    try:
        _init_bm25_store(docs, tmp)
        delete_from_bm25_index(spark, tmp, dels)
        n_del = dels.agg(F.count(F.lit(1)).alias("n_deleted"))
        out = (
            serve_bm25_v2(spark, tmp)
            .crossJoin(F.broadcast(n_del))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES = {
    "bm25_topk_docs": bm25_topk_docs,
    "bm25_index_store": bm25_index_store,
    "bm25_index_upsert": bm25_index_upsert,
    "bm25_stream_upsert_store": bm25_stream_upsert_store,
    "bm25_store_vacuum": bm25_store_vacuum,
    "bm25_index_delete": bm25_index_delete,
    "hybrid_search_rrf": hybrid_search_rrf,
    "bm25_ndcg_eval": bm25_ndcg_eval,
    "fuzzy_name_match_summary": fuzzy_name_match_summary,
}

_PAIR_BIND_DUCK = md5_mod_hash_duck("na || '|' || nb")

_TOKS_DUCK = (
    "SELECT doc_id,"
    f" list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),"
    " t -> t <> '') AS toks FROM documents"
)

ORACLES = {
    "bm25_topk_docs": (
        f"WITH tok AS ({_TOKS_DUCK}),"
        " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
        " COUNT(*) AS n_docs FROM tok),"
        " base AS (SELECT doc_id, len(toks) AS dl,"
        f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
        " FROM tok),"
        " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
        " GROUP BY doc_id, dl, term),"
        " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " scored AS (SELECT doc_id, term,"
        f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
        " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
        " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
        " FROM scored GROUP BY doc_id)"
        " SELECT doc_id, n_hit_terms,"
        f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q"
        " FROM per ORDER BY score_q DESC, doc_id LIMIT"
        f" {TOP_K}"
    ),
    "fuzzy_name_match_summary": (
        "WITH names AS (SELECT p_name, COUNT(*) AS freq,"
        " split_part(p_name, ' ', -1) AS block FROM part GROUP BY p_name),"
        " cand AS (SELECT a.p_name AS na, b.p_name AS nb,"
        " a.freq AS fa, b.freq AS fb, levenshtein(a.p_name, b.p_name)"
        " AS lev FROM names a JOIN names b"
        " ON a.block = b.block AND a.p_name < b.p_name"
        f" AND abs(length(a.p_name) - length(b.p_name)) <= {LEV_MAX})"
        " SELECT COUNT(*) AS n_candidates,"
        f" CAST(SUM(CASE WHEN lev <= {LEV_MAX} THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_matches,"
        f" CAST(SUM(CASE WHEN lev <= {LEV_MAX} THEN lev ELSE 0 END)"
        " AS BIGINT) AS sum_lev,"
        f" CAST(SUM(CASE WHEN lev <= {LEV_MAX} THEN fa * fb ELSE 0 END)"
        " AS BIGINT) AS impact,"
        f" CAST(SUM(CASE WHEN lev <= {LEV_MAX} THEN"
        f" {_PAIR_BIND_DUCK}"
        " ELSE 0 END) AS BIGINT) AS pair_binding"
        " FROM cand"
    ),
}

# stored-index semantics: serving from the persisted postings/lexicon/
# stats must equal the direct one-pass recompute — the oracle IS the
# direct scoring SQL (the ann_index_store discipline)
ORACLES["bm25_index_store"] = ORACLES["bm25_topk_docs"]

# upsert semantics: base-build + batch-merge + serve must equal the
# direct full-corpus scoring (the rebuild) — every merged quantity is
# an exact integer, so this is the upsert ≡ rebuild proof; n_upserted
# binds the batch into the checked result
ORACLES["bm25_index_upsert"] = (
    f"WITH tok AS ({_TOKS_DUCK}),"
    " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
    " COUNT(*) AS n_docs FROM tok),"
    " base AS (SELECT doc_id, len(toks) AS dl,"
    f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
    " FROM tok),"
    " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
    " GROUP BY doc_id, dl, term),"
    " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
    " scored AS (SELECT doc_id, term,"
    f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
    " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
    " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
    " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
    " FROM scored GROUP BY doc_id),"
    " up AS (SELECT COUNT(*) AS n_upserted FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} = {DOC_UPSERT_RES})"
    " SELECT doc_id, n_hit_terms,"
    f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q,"
    " up.n_upserted"
    " FROM per CROSS JOIN up"
    f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
)

# streaming-upsert semantics: N micro-batch merges from an empty store
# must reconstruct the exact global index — the oracle is the direct
# full-corpus scoring with the corpus count bound in
ORACLES["bm25_stream_upsert_store"] = (
    f"WITH tok AS ({_TOKS_DUCK}),"
    " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
    " COUNT(*) AS n_docs FROM tok),"
    " base AS (SELECT doc_id, len(toks) AS dl,"
    f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
    " FROM tok),"
    " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
    " GROUP BY doc_id, dl, term),"
    " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
    " scored AS (SELECT doc_id, term,"
    f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
    " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
    " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
    " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
    " FROM scored GROUP BY doc_id),"
    " nd AS (SELECT COUNT(*) AS n_docs_indexed FROM documents)"
    " SELECT doc_id, n_hit_terms,"
    f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q,"
    " nd.n_docs_indexed"
    " FROM per CROSS JOIN nd"
    f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
)

# vacuum semantics: serve-from-the-surviving-version must equal the
# direct full-corpus scoring (the vacuum changed STORAGE, not state);
# n_docs_indexed read from the surviving stats version must equal the
# corpus count (the vacuum kept the RIGHT version), and the purge
# count restates the retention policy: the chain writes 1 build + 2
# upsert versions per versioned table (lexicon, stats, manifests),
# keep_last=1 leaves one each ⇒ 3 * (3 - 1) directories removed; all
# three posting segments are pinned by the surviving manifest, so the
# segment GC removes none.
ORACLES["bm25_store_vacuum"] = (
    f"WITH tok AS ({_TOKS_DUCK}),"
    " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
    " COUNT(*) AS n_docs FROM tok),"
    " base AS (SELECT doc_id, len(toks) AS dl,"
    f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
    " FROM tok),"
    " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
    " GROUP BY doc_id, dl, term),"
    " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
    " scored AS (SELECT doc_id, term,"
    f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
    " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
    " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
    " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
    " FROM scored GROUP BY doc_id),"
    " nd AS (SELECT COUNT(*) AS n_docs_indexed FROM documents)"
    " SELECT doc_id, n_hit_terms,"
    f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q,"
    " nd.n_docs_indexed,"
    f" CAST(3 * (3 - {RETAIN_VERSIONS}) AS BIGINT) AS n_versions_purged"
    " FROM per CROSS JOIN nd"
    f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
)

# delete semantics: the rebuild-without-the-docs — direct scoring over
# the SURVIVING documents only, so every decremented quantity (df,
# n_docs, sum_len → avgdl, idf) must land exactly where a from-scratch
# index of the survivors would
_TOKS_SURVIVORS_DUCK = _TOKS_DUCK + (
    f" WHERE doc_id % {DOC_UPSERT_MOD} <> {DOC_DELETE_RES}"
)

ORACLES["bm25_index_delete"] = (
    f"WITH tok AS ({_TOKS_SURVIVORS_DUCK}),"
    " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
    " COUNT(*) AS n_docs FROM tok),"
    " base AS (SELECT doc_id, len(toks) AS dl,"
    f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
    " FROM tok),"
    " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
    " GROUP BY doc_id, dl, term),"
    " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
    " scored AS (SELECT doc_id, term,"
    f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
    " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
    " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
    " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
    " FROM scored GROUP BY doc_id),"
    " up AS (SELECT COUNT(*) AS n_deleted FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} = {DOC_DELETE_RES})"
    " SELECT doc_id, n_hit_terms,"
    f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q,"
    " up.n_deleted"
    " FROM per CROSS JOIN up"
    f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
)


def _rrf_oracle() -> str:
    from .similarity import QUERY_VEC_ID, _dot_duck, _norm_duck

    cos = (
        f"({_dot_duck('embedding', 'q_emb')}"
        f" / ({_norm_duck('embedding')} * {_norm_duck('q_emb')}))"
    )
    return (
        f"WITH tok AS ({_TOKS_DUCK}),"
        " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
        " COUNT(*) AS n_docs FROM tok),"
        " base AS (SELECT doc_id, len(toks) AS dl,"
        f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
        " FROM tok),"
        " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
        " GROUP BY doc_id, dl, term),"
        " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " scored AS (SELECT doc_id, term,"
        f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
        " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
        " per AS (SELECT doc_id,"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
        " FROM scored GROUP BY doc_id),"
        " bmq AS (SELECT doc_id,"
        f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT)"
        " AS score_q FROM per),"
        " bmr AS (SELECT doc_id AS id, ROW_NUMBER() OVER"
        " (ORDER BY score_q DESC, doc_id) AS r_bm25 FROM bmq"
        f" ORDER BY score_q DESC, doc_id LIMIT {RRF_DEPTH}),"
        " qv AS (SELECT embedding AS q_emb FROM embeddings"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        " cs AS (SELECT vec_id,"
        f" CAST(FLOOR({cos} * {COS_QUANT}.0 + 0.5) AS BIGINT) AS cos_q"
        " FROM embeddings CROSS JOIN qv"
        f" WHERE vec_id <> {QUERY_VEC_ID}),"
        " csr AS (SELECT vec_id AS id, ROW_NUMBER() OVER"
        " (ORDER BY cos_q DESC, vec_id) AS r_cos FROM cs"
        f" ORDER BY cos_q DESC, vec_id LIMIT {RRF_DEPTH}),"
        " fused AS (SELECT COALESCE(b.id, c.id) AS id,"
        " b.r_bm25 AS r_bm25, c.r_cos AS r_cos,"
        " CAST(FLOOR((CASE WHEN b.r_bm25 IS NOT NULL THEN"
        f" 1.0 / ({RRF_K} + CAST(b.r_bm25 AS DOUBLE)) ELSE 0.0 END"
        " + CASE WHEN c.r_cos IS NOT NULL THEN"
        f" 1.0 / ({RRF_K} + CAST(c.r_cos AS DOUBLE)) ELSE 0.0 END)"
        f" * {RRF_QUANT}.0 + 0.5) AS BIGINT) AS rrf_q"
        " FROM bmr b FULL OUTER JOIN csr c ON b.id = c.id)"
        " SELECT id, r_bm25, r_cos, rrf_q FROM fused"
        f" ORDER BY rrf_q DESC, id LIMIT {RRF_TOP}"
    )


ORACLES["hybrid_search_rrf"] = _rrf_oracle()

def _ndcg_oracle() -> str:
    gain = (
        "CAST((POW(2.0, CAST(rel AS DOUBLE)) - 1.0)"
        " / log2(CAST(rk AS DOUBLE) + 1.0) AS DOUBLE)"
    )
    fold = (
        "CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list(g ORDER BY rk)), (acc, v) -> acc + v)"
        f" * {RRF_QUANT}.0 + 0.5) AS BIGINT)"
    )
    return (
        f"WITH tok AS ({_TOKS_DUCK}),"
        " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
        " COUNT(*) AS n_docs FROM tok),"
        " base AS (SELECT doc_id, len(toks) AS dl,"
        f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
        " FROM tok),"
        " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
        " GROUP BY doc_id, dl, term),"
        " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " scored AS (SELECT doc_id, term,"
        f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
        " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
        " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
        " FROM scored GROUP BY doc_id),"
        " bmq AS (SELECT doc_id, n_hit_terms AS rel,"
        f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT)"
        " AS score_q FROM per),"
        " topr AS (SELECT rel, ROW_NUMBER() OVER"
        " (ORDER BY score_q DESC, doc_id) AS rk FROM bmq"
        f" ORDER BY score_q DESC, doc_id LIMIT {NDCG_K}),"
        f" dcg AS (SELECT {fold} AS dcg_q FROM"
        f" (SELECT rk, {gain} AS g FROM topr)),"
        " topi AS (SELECT rel, ROW_NUMBER() OVER"
        " (ORDER BY rel DESC, doc_id) AS rk FROM bmq"
        f" ORDER BY rel DESC, doc_id LIMIT {NDCG_K}),"
        f" idcg AS (SELECT {fold} AS idcg_q FROM"
        f" (SELECT rk, {gain} AS g FROM topi)),"
        " judged AS (SELECT COUNT(*) AS n_judged FROM bmq)"
        " SELECT n_judged, dcg_q, idcg_q,"
        " CAST(FLOOR(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE)"
        f" * {RRF_QUANT}.0 + 0.5) AS BIGINT) AS ndcg_q"
        " FROM judged CROSS JOIN dcg CROSS JOIN idcg"
    )


ORACLES["bm25_ndcg_eval"] = _ndcg_oracle()


# --- positional phrase search (r13) ------------------------------------------
#
# The retrieval capability the bag-of-words BM25 tier cannot express:
# "these words, adjacent, in this order".  The index gains POSITIONS —
# (doc_id, dl, pos, term) rows — and a phrase match becomes a chain of
# pure EQUI-joins: anchor word w0 at p0, word w_i must sit at p0 + i,
# so each subsequent branch joins on the composite key (doc_id, p0)
# after shifting its positions by -i.  No inequality join, no window,
# no per-doc Python: at 100 TB each branch is a pushed
# term-equality scan of the positional postings (term-bucket partition
# pruning + predicate pushdown when served from the store), and the
# join keys are exactly the candidate occurrences — never a corpus
# product.  Reference analogue: the reference's retrieval surface is
# embedding-only (api/main.py query path); phrase/proximity search is
# the lexical capability a production corpus engine adds beside it.

PHRASE = ("filter", "merge", "data")  # fixture phrase, df spread
PHRASE_K = 10


def _pos_postings_of(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, pos, term, tb): the positional posting relation —
    same deterministic tokenization as the BM25 tier, plus the 0-based
    token position and the term-hash bucket."""
    return (
        _toks_of(docs)
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.posexplode("toks").alias("pos", "term"),
        )
        .withColumn("tb", _term_bucket(F.col("term")))
    )


def _phrase_topk(pp: DataFrame) -> DataFrame:
    """Adjacency-chain phrase match over a positional posting relation:
    per-doc phrase frequency + first occurrence, deterministic top-k."""
    w = list(PHRASE)
    occ = pp.filter(F.col("term") == w[0]).select(
        "doc_id", "dl", F.col("pos").alias("p0")
    )
    for i, term in enumerate(w[1:], start=1):
        nxt = pp.filter(F.col("term") == term).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        occ = occ.join(nxt, ["doc_id", "p0"])
    return (
        occ.groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("phrase_tf"),
            F.min("p0").alias("first_pos"),
        )
        .orderBy(F.desc("phrase_tf"), "doc_id")
        .limit(PHRASE_K)
    )


def phrase_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct phrase search: positional postings from one corpus
    tokenization pass, adjacency equi-join chain, top-k docs by phrase
    frequency (doc_id tie-break)."""
    return _phrase_topk(_pos_postings_of(_base_docs(spark, sf_dir)))


_POS_POSTING_SCHEMA = "doc_id bigint, dl int, pos int, term string, tb int"
_POS_ROOT = "postings_pos"


def _init_pos_store(
    docs: DataFrame, path: str, bid: int | None = None
) -> None:
    """First write of the VERSIONED positional store: one bucket-
    partitioned segment + the v=1 manifest pinning it (the positional
    index carries no lexicon/stats — phrase/NEAR scoring is pure
    per-document counting, so the manifest is the only versioned
    metadata)."""
    spark = docs.sparkSession
    root = f"{path}/{_POS_ROOT}"

    def stage(base: int, v: int, att: str):
        if base:
            raise VersionConflict(f"{path} already published v={base}")
        seg = new_seg_id()
        write_segment(
            _pos_postings_of(docs).repartition(N_TB, "tb"), root, seg
        )
        return [(seg, b) for b in seg_buckets(spark, root, seg)], None

    commit_next(spark, path, stage, bid)


def build_phrase_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the positional postings, term-hash-bucket partitioned,
    manifest-pinned and published — the one corpus pass; every later
    phrase/NEAR query reads only its words' pinned buckets."""
    _init_pos_store(_base_docs(spark, sf_dir), path)


def upsert_phrase_index(
    spark: SparkSession, path: str, batch_docs: DataFrame,
    bid: int | None = None,
) -> None:
    """Merge an ingest batch into the positional store: the batch's
    positional postings land as one new immutable segment, and the v+1
    manifest pins the old entries plus the new segment's buckets —
    the same copy-on-write discipline as the BM25 upsert (VERDICT r13
    #5), with the same conditional-publish retry.  ``bid`` rides the
    publish marker for the streaming sink's exactly-once ledger
    (r15)."""
    root = f"{path}/{_POS_ROOT}"
    seg = new_seg_id()
    write_segment(
        _pos_postings_of(batch_docs).repartition(N_TB, "tb"), root, seg
    )
    buckets = seg_buckets(spark, root, seg)
    commit_next(
        spark,
        path,
        lambda v, nxt, att: (
            manifest_entries(spark, path, v) + [(seg, b) for b in buckets],
            None,
        ),
        bid,
    )


def delete_from_phrase_index(
    spark: SparkSession, path: str, del_docs: DataFrame
) -> list[int]:
    """Erase ``del_docs`` from the positional store: the affected term
    buckets (every bucket any deleted doc's terms hash into) get their
    SURVIVING positional postings rewritten into a new segment; the
    v+1 manifest un-pins every prior segment of those buckets.  Old
    files untouched — a reader of v keeps the full pre-delete index;
    the erased positions become unreachable at publish and vacuum's
    segment GC reclaims the bytes.  Returns the affected bucket list
    (≤ N_TB ints)."""
    dp = _pos_postings_of(del_docs)
    buckets = sorted(
        r["tb"] for r in dp.select("tb").distinct().collect()
    )
    del_ids = del_docs.select("doc_id")
    root = f"{path}/{_POS_ROOT}"
    hit = set(buckets)

    def stage(v: int, nxt: int, att: str):
        entries = manifest_entries(spark, path, v)
        survivors = []
        if buckets:
            kept = read_segments(
                spark, root, [e for e in entries if e[1] in hit],
                _POS_POSTING_SCHEMA,
            ).join(del_ids, "doc_id", "left_anti")
            seg = new_seg_id()
            write_segment(kept.repartition(len(buckets), "tb"), root, seg)
            survivors = [(seg, b) for b in seg_buckets(spark, root, seg)]
        return [e for e in entries if e[1] not in hit] + survivors, buckets

    return commit_next(spark, path, stage)


def vacuum_phrase_store(
    spark: SparkSession, path: str, keep_last: int = RETAIN_VERSIONS
) -> int:
    """Retention vacuum for the positional store (manifests + segment
    GC; no lexicon/stats tables)."""
    return vacuum_versioned_store(
        spark, path, ("manifests",), (_POS_ROOT,), keep_last
    )


def _pos_store_postings(
    spark: SparkSession, path: str, terms, v: int | None = None
) -> DataFrame:
    """The pinned positional-posting scan for a term set: resolve the
    (or a pinned) version, select only manifest entries whose bucket
    can hold one of ``terms``, read exactly those directories (with
    the tb partition filter kept on the scan for the plan audit)."""
    import zlib

    if v is None:
        v = latest_version(spark, path)
    buckets = sorted(
        {zlib.crc32(t.encode("utf-8")) % N_TB for t in terms}
    )
    entries = [
        e for e in manifest_entries(spark, path, v) if e[1] in set(buckets)
    ]
    return read_segments(
        spark, f"{path}/{_POS_ROOT}", entries, _POS_POSTING_SCHEMA
    ).filter(F.col("tb").isin(buckets))


def serve_phrase_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """Answer the fixed phrase query from the stored positional index:
    manifest-level directory pruning to the phrase words' buckets, and
    each adjacency branch pushes its term equality into the parquet
    scan — the phrase never re-tokenizes the corpus."""
    return _phrase_topk(_pos_store_postings(spark, path, PHRASE, v))


def phrase_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape: build the positional index on parquet,
    serve the fixed phrase query FROM THE STORE (bucket-pruned, term
    filters pushed), teardown.  The oracle restates the phrase match
    from the raw text — a green row proves the positional store
    roundtrip and the adjacency chain byte-exactly."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_phrase_store_")
    try:
        build_phrase_index(spark, sf_dir, tmp)
        out = serve_phrase_from_store(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["phrase_search_topk"] = phrase_search_topk
QUERIES["phrase_index_store"] = phrase_index_store


def _phrase_oracle() -> str:
    w = list(PHRASE)
    branches = ", ".join(
        f"w{i} AS (SELECT doc_id, pos - {i} AS p0 FROM p"
        f" WHERE term = '{t}')"
        for i, t in enumerate(w[1:], start=1)
    )
    joins = " ".join(
        f"JOIN w{i} USING (doc_id, p0)" for i in range(1, len(w))
    )
    return (
        "WITH tok AS (SELECT doc_id, list_filter("
        "string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '') AS toks FROM documents),"
        " p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) - 1 AS pos FROM tok),"
        f" a AS (SELECT doc_id, dl, pos AS p0 FROM p"
        f" WHERE term = '{w[0]}'),"
        f" {branches},"
        f" occ AS (SELECT a.doc_id, a.dl, a.p0 FROM a {joins}),"
        " g AS (SELECT doc_id, dl, COUNT(*) AS phrase_tf,"
        " MIN(p0) AS first_pos FROM occ GROUP BY doc_id, dl)"
        " SELECT doc_id, CAST(dl AS INT) AS dl, phrase_tf,"
        " CAST(first_pos AS INT) AS first_pos FROM g"
        f" ORDER BY phrase_tf DESC, doc_id LIMIT {PHRASE_K}"
    )


ORACLES["phrase_search_topk"] = _phrase_oracle()
ORACLES["phrase_index_store"] = _phrase_oracle()


# --- post-upsert postings compaction (r13) -----------------------------------
#
# The lexical twin of vectorstore.compact_index_cells: every append-mode
# upsert leaves one more small file in each affected term bucket, and at
# 100 TB with continuous ingest the bucket file count grows without
# bound (the small-files problem compaction_plan budgets).  Compaction
# rewrites ONLY the affected buckets, coalescing each back to one file
# via dynamic partition overwrite; untouched buckets are never read or
# rewritten.


def compact_bm25_buckets(spark: SparkSession, path: str, buckets) -> None:
    """Coalesce the given term buckets' postings to one file each — as
    a new SNAPSHOT: the coalesced rows land in a fresh segment, the
    lexicon/stats carry forward content-identical into v+1 (the
    compaction changes storage, not state), and the v+1 manifest pins
    the new segment instead of every prior pin of the compacted
    buckets.  Readers of v keep their exact pre-compaction file set
    (no in-place rewrite, no lineage hazard — the old localCheckpoint
    is obsolete because the write target is a NEW directory); the
    small-file debris becomes unreferenced and vacuum's segment GC
    reclaims it."""
    buckets = sorted(int(b) for b in buckets)
    if not buckets:
        return
    root = f"{path}/postings"
    hit = set(buckets)

    def stage(v: int, nxt: int, att: str):
        entries = manifest_entries(spark, path, v)
        affected = [e for e in entries if e[1] in hit]
        if not affected:
            return None, None  # nothing pinned in those buckets
        rows = read_segments(spark, root, affected, _BM25_POSTING_SCHEMA)
        seg = new_seg_id()

        # the three staged writes are physically independent artifacts
        # (coalesced segment from v's pinned files; lexicon and stats
        # carried forward content-identical) gated by the one publish,
        # so they run as concurrent jobs (optimization r16, guide §2.6
        # — the r15 form ran them sequentially, leaving the cluster
        # idle through each job's tail)
        def _stage_seg() -> None:
            write_segment(rows.repartition(len(buckets), "tb"), root, seg)

        def _carry(table: str, schema: str):
            return lambda: spark.read.schema(schema).parquet(
                table_dir(spark, path, table, v)
            ).write.mode("overwrite").parquet(stage_path(path, table, nxt, att))

        run_staged(
            _stage_seg,
            _carry("lexicon", _BM25_LEXICON_SCHEMA),
            _carry("stats", _BM25_STATS_SCHEMA),
        )
        survivors = seg_buckets(spark, root, seg)
        return [e for e in entries if e[1] not in hit] + [
            (seg, b) for b in survivors
        ], None

    commit_next(spark, path, stage)


def bm25_postings_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical maintenance cycle: build the versioned store on the
    base corpus, upsert the ingest batch (its term buckets gain a
    second pinned segment), COMPACT exactly those buckets — the
    coalesced rows land in a fresh segment pinned by a new snapshot —
    and serve the fixed query from the compacted store.  The oracle is
    the identical direct full-corpus restatement the upsert row uses —
    a green row proves the compaction is a pure physical rewrite
    (served ranking unchanged); the file-level claims (one pinned file
    per compacted bucket, untouched buckets' pins and files unchanged,
    posting rows preserved) are locked by tests/test_vectorstore.py."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_compact_")
    try:
        build_bm25_index_v2(spark, sf_dir, tmp)
        batch = _base_docs(spark, sf_dir).filter(_doc_batch_pred())
        upsert_bm25_index(spark, tmp, batch)
        bp = _postings_of(_toks_of(batch))
        # bounded driver-side scalar list (≤ N_TB ints — the
        # model-boundary collect class)
        buckets = [
            r["tb"] for r in bp.select("tb").distinct().collect()
        ]
        compact_bm25_buckets(spark, tmp, buckets)
        nu = batch.agg(F.count(F.lit(1)).alias("n_upserted"))
        out = (
            serve_bm25_v2(spark, tmp)
            .crossJoin(F.broadcast(nu))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["bm25_postings_compact"] = bm25_postings_compact
ORACLES["bm25_postings_compact"] = ORACLES["bm25_index_upsert"]


# --- proximity (NEAR) search (r13) -------------------------------------------
#
# The unordered companion to phrase search: "these words within W
# positions of each other, either order".  The naive formulation is an
# inequality join (|pa - pb| <= W) — a range join that degenerates to
# per-doc products.  The scale-safe plan is the BANDED equi-join the
# LSH tiers use: bucket positions by W, explode the left side to its
# bucket and both neighbors, equi-join on (doc_id, bucket), THEN apply
# the exact |pa - pb| <= W filter.  |pa - pb| <= W implies the bucket
# ids differ by at most 1, so the 3-bucket explosion loses nothing,
# and each qualifying pair is emitted exactly once (the right side's
# bucket id is a single value).  No inequality join, no window, no
# cartesian — the plan audit's rules hold by construction.

NEAR_TERMS = ("spark", "window")
NEAR_W = 3  # within 3 token positions, either order


def _near_topk(pp: DataFrame) -> DataFrame:
    """Banded proximity match over a positional posting relation:
    per-doc near-pair count + tightest gap, deterministic top-k."""
    t0, t1 = NEAR_TERMS
    a = pp.filter(F.col("term") == t0).select(
        "doc_id", "dl", F.col("pos").alias("pa")
    )
    # F.floor makes the banding sign-safe and explicit (ADVICE r13: a
    # bare cast truncates toward zero, which only coincides with floor
    # for the non-negative positions used here)
    b = pp.filter(F.col("term") == t1).select(
        "doc_id",
        F.col("pos").alias("pb"),
        F.floor(F.col("pos") / NEAR_W).cast("long").alias("bk"),
    )
    a_banded = a.select(
        "doc_id",
        "dl",
        "pa",
        F.explode(
            F.array(
                F.floor(F.col("pa") / NEAR_W).cast("long") - 1,
                F.floor(F.col("pa") / NEAR_W).cast("long"),
                F.floor(F.col("pa") / NEAR_W).cast("long") + 1,
            )
        ).alias("bk"),
    )
    pairs = a_banded.join(b, ["doc_id", "bk"]).filter(
        F.abs(F.col("pa") - F.col("pb")) <= NEAR_W
    )
    return (
        pairs.groupBy("doc_id", "dl")
        .agg(
            F.count(F.lit(1)).alias("near_tf"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).alias("min_gap"),
        )
        .orderBy(F.desc("near_tf"), "doc_id")
        .limit(PHRASE_K)
    )


def near_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct proximity search over the corpus: positional postings
    from one tokenization pass, banded equi-join, exact-gap refine,
    top-k docs by qualifying-pair count (doc_id tie-break)."""
    return _near_topk(_pos_postings_of(_base_docs(spark, sf_dir)))


QUERIES["near_search_topk"] = near_search_topk


def _near_oracle() -> str:
    t0, t1 = NEAR_TERMS
    return (
        "WITH tok AS (SELECT doc_id, list_filter("
        "string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '') AS toks FROM documents),"
        " p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) - 1 AS pos FROM tok),"
        f" a AS (SELECT doc_id, dl, pos AS pa FROM p"
        f" WHERE term = '{t0}'),"
        f" b AS (SELECT doc_id, pos AS pb FROM p WHERE term = '{t1}'),"
        " pairs AS (SELECT a.doc_id, a.dl, ABS(pa - pb) AS gap"
        f" FROM a JOIN b USING (doc_id) WHERE ABS(pa - pb) <= {NEAR_W}),"
        " g AS (SELECT doc_id, dl, COUNT(*) AS near_tf,"
        " MIN(gap) AS min_gap FROM pairs GROUP BY doc_id, dl)"
        " SELECT doc_id, CAST(dl AS INT) AS dl, near_tf,"
        " CAST(min_gap AS INT) AS min_gap FROM g"
        f" ORDER BY near_tf DESC, doc_id LIMIT {PHRASE_K}"
    )


ORACLES["near_search_topk"] = _near_oracle()


# --- interleaved CRUD chain certification (r13) ------------------------------
#
# Each lifecycle leg is individually certified (build / upsert / delete
# / compact / vacuum / stream-ingest), but a production store never
# runs one leg in isolation — it runs YEARS of interleavings.  This row
# drives one representative interleaving END TO END from an empty
# store — init(base) → upsert(b1) → delete(d) → upsert(b2) →
# compact(b2's buckets) → vacuum(keep latest) — and requires the final
# serve to equal direct scoring over the NET corpus (base ∪ b1 ∪ b2)
# − d.  A green row proves the merge/decrement/rewrite algebra
# COMPOSES: version numbers chain (v1..v5 — compaction snapshots too
# under the r14 manifest pinning), the deletion survives the later
# upsert, the compaction and vacuum change nothing, and the
# stats/lexicon land exactly where a from-scratch index of the net
# corpus would put them.

DOC_CRUD_DEL_RES = 5  # chain erase set: doc_id % 10 == 5 (~10%),
# disjoint from both ingest batches (7 and 3)


def bm25_crud_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full interleaved lifecycle on the lexical store; output
    binds the final published version (a closed-form constant of the
    chain: init 1 + upsert 2 + delete 3 + upsert 4 + compact 5 — the
    manifest-pinned compaction publishes a snapshot of its own since
    r14) and the surviving doc count read from the FINAL stats
    version."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_UPSERT_RES)
    b2 = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_UPSERT_RES2)
    dels = docs.filter(
        F.col("doc_id") % DOC_UPSERT_MOD == DOC_CRUD_DEL_RES
    )
    base = docs.join(
        b1.unionByName(b2).select("doc_id"), "doc_id", "left_anti"
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_crud_")
    try:
        _init_bm25_store(base, tmp)
        upsert_bm25_index(spark, tmp, b1)
        delete_from_bm25_index(spark, tmp, dels)
        # the compaction targets are exactly the b2 segment's buckets,
        # which the upsert already read back from the stored files —
        # re-deriving them via a second tokenize pass was pure rework
        # (optimization r15, guide §1.2 "don't compute things twice")
        buckets = sorted(upsert_bm25_index(spark, tmp, b2))
        compact_bm25_buckets(spark, tmp, buckets)
        # the retention vacuum (driver-side metadata deletes whose
        # result the chain does not bind) runs CONCURRENTLY with the
        # serve of the latest version (optimization r16, guide §2.6):
        # vacuum retains exactly the version the serve reads — its
        # manifest, lexicon/stats dirs and every pinned segment — so
        # a reader of the latest is undisturbed by construction (the
        # single-writer assumption concerns writers' staged dirs, and
        # the chain's writers are all done).  The thread is joined
        # before teardown.
        from concurrent.futures import ThreadPoolExecutor

        v = latest_version(spark, tmp)
        with ThreadPoolExecutor(max_workers=1) as _pool:
            _vac = _pool.submit(vacuum_bm25_store, spark, tmp, keep_last=1)
            nd = spark.read.schema(_BM25_STATS_SCHEMA).parquet(
                table_dir(spark, tmp, "stats", v)
            ).select(F.col("n_docs").alias("n_docs_indexed"))
            out = (
                serve_bm25_v2_at(spark, tmp, v)
                .crossJoin(F.broadcast(nd))
                .withColumn("final_version", F.lit(v).cast("bigint"))
                .localCheckpoint(eager=True)
            )
            _vac.result()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["bm25_crud_chain"] = bm25_crud_chain

# the oracle scores the NET corpus directly: every doc except the
# erased residue class (both ingest batches are back in), with the
# version constant restated literally from the chain's length
ORACLES["bm25_crud_chain"] = (
    f"WITH tok AS (SELECT doc_id,"
    " list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '') AS toks FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} != {DOC_CRUD_DEL_RES}),"
    " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
    " COUNT(*) AS n_docs FROM tok),"
    " base AS (SELECT doc_id, len(toks) AS dl,"
    f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
    " FROM tok),"
    " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
    " GROUP BY doc_id, dl, term),"
    " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
    " scored AS (SELECT doc_id, term,"
    f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
    " FROM tf JOIN dfs USING (term) CROSS JOIN st),"
    " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
    " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
    " FROM scored GROUP BY doc_id),"
    " nd AS (SELECT COUNT(*) AS n_docs_indexed FROM tok)"
    " SELECT doc_id, n_hit_terms,"
    f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q,"
    " nd.n_docs_indexed, CAST(5 AS BIGINT) AS final_version"
    " FROM per CROSS JOIN nd"
    f" ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
)


def serve_near_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """Answer the fixed NEAR query from the stored positional index —
    the same manifest-pruned, term-pushed scan as the phrase serve
    feeding the banded proximity join (one positional store serves
    BOTH ordered-phrase and unordered-proximity queries)."""
    return _near_topk(_pos_store_postings(spark, path, NEAR_TERMS, v))


def near_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search served from the persisted positional index:
    build once, serve the fixed NEAR query with directory pruning and
    pushed term predicates, teardown.  Same oracle as the direct row —
    the store roundtrip and the banded join are both proven."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_near_store_")
    try:
        build_phrase_index(spark, sf_dir, tmp)
        out = serve_near_from_store(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["near_index_store"] = near_index_store
ORACLES["near_index_store"] = _near_oracle()


# --- positional-store CRUD + batch serving (r14) ------------------------------
#
# VERDICT r13 #5/#6: the positional (phrase/NEAR) store gains the same
# lifecycle legs as the other three stores — upsert and delete with the
# affected-term-bucket discipline (here under the manifest pinning, so
# both are pure copy-on-write) — and a BATCH serving path: production
# retrieval answers a queries RELATION, not one compile-time constant,
# so the batch join amortizes one pinned postings scan across every
# phrase (the ann_topk_batch shape, lexical edition).

PHRASE_BATCH = (
    (1, ("table", "hash")),
    (2, ("slow", "query")),
    (3, ("merge", "group", "table")),
    (4, PHRASE),
)
PHRASE_BATCH_K = 5


def _pos_probes_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """Both fixed probes (ordered phrase + unordered NEAR) served from
    one positional store, unified to (probe, doc_id, dl, tf, aux) —
    aux is first_pos for the phrase, min_gap for NEAR — so one checked
    relation certifies both serving paths over a mutated store.
    ``v`` pins a store version (both probes read the same snapshot);
    None resolves the latest per probe."""
    ph = serve_phrase_from_store(spark, path, v).select(
        F.lit("phrase").alias("probe"),
        "doc_id",
        "dl",
        F.col("phrase_tf").alias("tf"),
        F.col("first_pos").cast("int").alias("aux"),
    )
    nr = serve_near_from_store(spark, path, v).select(
        F.lit("near").alias("probe"),
        "doc_id",
        "dl",
        F.col("near_tf").alias("tf"),
        F.col("min_gap").cast("int").alias("aux"),
    )
    return ph.unionByName(nr).orderBy("probe", F.desc("tf"), "doc_id")


def phrase_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance for the positional store: build on the
    base corpus (ingest batch held out), upsert the batch (new pinned
    segment + manifest merge), and serve BOTH probes from the upserted
    store.  The oracle restates phrase and NEAR directly from the FULL
    corpus text — upsert-then-serve ≡ rebuild, for both probe shapes,
    with n_upserted bound in."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    batch = docs.filter(_doc_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_phrase_upsert_")
    try:
        _init_pos_store(docs.filter(~_doc_batch_pred()), tmp)
        upsert_phrase_index(spark, tmp, batch)
        n_up = batch.agg(F.count(F.lit(1)).alias("n_upserted"))
        out = (
            _pos_probes_from_store(spark, tmp)
            .crossJoin(F.broadcast(n_up))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def phrase_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure through the positional store: build over the FULL
    corpus, delete the erase set (survivor rewrite of affected buckets
    into a new pinned segment), and serve BOTH probes from the
    post-delete store.  The oracle restates phrase and NEAR from the
    SURVIVING documents' raw text — delete-then-serve ≡
    rebuild-without-the-docs, with n_deleted bound in."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    dels = docs.filter(F.col("doc_id") % DOC_UPSERT_MOD == DOC_DELETE_RES)
    tmp = tempfile.mkdtemp(prefix="sgraft_phrase_delete_")
    try:
        _init_pos_store(docs, tmp)
        delete_from_phrase_index(spark, tmp, dels)
        n_del = dels.agg(F.count(F.lit(1)).alias("n_deleted"))
        out = (
            _pos_probes_from_store(spark, tmp)
            .crossJoin(F.broadcast(n_del))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def serve_phrase_batch_from_store(
    spark: SparkSession, path: str
) -> DataFrame:
    """Top-k per phrase for a BATCH of phrases in ONE pinned postings
    scan: the query relation (qid, widx, term) broadcasts onto the
    postings, every hit is normalized to its candidate anchor
    p0 = pos − widx, and a (qid, doc, p0) group is a full occurrence
    exactly when all widx offsets are present (COUNT(DISTINCT widx) =
    phrase length — correct even for phrases with repeated words).
    Per-query ranking is a window PARTITIONED by qid: k per query, no
    global sort, no per-query loop, no re-scan (the plan unit asserts
    one postings FileScan)."""
    from pyspark.sql import Window

    all_terms = sorted({t for _, ws in PHRASE_BATCH for t in ws})
    pp = _pos_store_postings(spark, path, all_terms)
    q = spark.createDataFrame(
        [
            (qid, i, t)
            for qid, ws in PHRASE_BATCH
            for i, t in enumerate(ws)
        ],
        "qid int, widx int, term string",
    )
    qlen = spark.createDataFrame(
        [(qid, len(ws)) for qid, ws in PHRASE_BATCH], "qid int, qlen int"
    )
    hits = pp.join(F.broadcast(q), "term").select(
        "qid",
        "doc_id",
        "dl",
        "widx",
        (F.col("pos") - F.col("widx")).alias("p0"),
    )
    occ = hits.groupBy("qid", "doc_id", "dl", "p0").agg(
        F.countDistinct("widx").alias("nw")
    )
    full = occ.join(F.broadcast(qlen), "qid").filter(
        F.col("nw") == F.col("qlen")
    )
    g = full.groupBy("qid", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("phrase_tf"),
        F.min("p0").alias("first_pos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("phrase_tf"), "doc_id")
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PHRASE_BATCH_K)
        .select(
            "qid",
            "doc_id",
            "dl",
            "phrase_tf",
            F.col("first_pos").cast("int").alias("first_pos"),
            "rank",
        )
        .orderBy("qid", "rank")
    )


def phrase_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched phrase retrieval from the persisted positional store:
    build once, answer all PHRASE_BATCH queries in one pass, teardown.
    The oracle restates per-query top-k for every phrase from the raw
    text in one relation."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_phrase_batch_")
    try:
        _init_pos_store(_base_docs(spark, sf_dir), tmp)
        out = serve_phrase_batch_from_store(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["phrase_index_upsert"] = phrase_index_upsert
QUERIES["phrase_index_delete"] = phrase_index_delete
QUERIES["phrase_search_batch"] = phrase_search_batch


def _pos_probes_oracle(doc_where: str, tele_sql: str, tele_col: str) -> str:
    """Phrase + NEAR restated from raw text over a filtered document
    set, unified to the (probe, doc_id, dl, tf, aux) relation with one
    telemetry column bound in."""
    w = list(PHRASE)
    t0, t1 = NEAR_TERMS
    branches = ", ".join(
        f"w{i} AS (SELECT doc_id, pos - {i} AS p0 FROM p"
        f" WHERE term = '{t}')"
        for i, t in enumerate(w[1:], start=1)
    )
    joins = " ".join(
        f"JOIN w{i} USING (doc_id, p0)" for i in range(1, len(w))
    )
    return (
        "WITH tok AS (SELECT doc_id, list_filter("
        "string_split_regex(lower(text), '[^a-z0-9]+'),"
        f" t -> t <> '') AS toks FROM documents{doc_where}),"
        " p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) - 1 AS pos FROM tok),"
        f" a AS (SELECT doc_id, dl, pos AS p0 FROM p"
        f" WHERE term = '{w[0]}'),"
        f" {branches},"
        f" occ AS (SELECT a.doc_id, a.dl, a.p0 FROM a {joins}),"
        " gph AS (SELECT doc_id, dl, COUNT(*) AS tf, MIN(p0) AS aux"
        " FROM occ GROUP BY doc_id, dl),"
        " phtop AS (SELECT 'phrase' AS probe, doc_id,"
        " CAST(dl AS INT) AS dl, tf, CAST(aux AS INT) AS aux FROM gph"
        f" ORDER BY tf DESC, doc_id LIMIT {PHRASE_K}),"
        f" na AS (SELECT doc_id, dl, pos AS pa FROM p"
        f" WHERE term = '{t0}'),"
        f" nb AS (SELECT doc_id, pos AS pb FROM p WHERE term = '{t1}'),"
        " prs AS (SELECT na.doc_id, na.dl, ABS(pa - pb) AS gap"
        f" FROM na JOIN nb USING (doc_id)"
        f" WHERE ABS(pa - pb) <= {NEAR_W}),"
        " gnr AS (SELECT doc_id, dl, COUNT(*) AS tf, MIN(gap) AS aux"
        " FROM prs GROUP BY doc_id, dl),"
        " nrtop AS (SELECT 'near' AS probe, doc_id,"
        " CAST(dl AS INT) AS dl, tf, CAST(aux AS INT) AS aux FROM gnr"
        f" ORDER BY tf DESC, doc_id LIMIT {PHRASE_K}),"
        " u AS (SELECT * FROM phtop UNION ALL SELECT * FROM nrtop),"
        f" tele AS ({tele_sql})"
        f" SELECT probe, doc_id, dl, tf, aux, tele.{tele_col}"
        " FROM u CROSS JOIN tele ORDER BY probe, tf DESC, doc_id"
    )


ORACLES["phrase_index_upsert"] = _pos_probes_oracle(
    "",
    f"SELECT COUNT(*) AS n_upserted FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} = {DOC_UPSERT_RES}",
    "n_upserted",
)
ORACLES["phrase_index_delete"] = _pos_probes_oracle(
    f" WHERE doc_id % {DOC_UPSERT_MOD} != {DOC_DELETE_RES}",
    f"SELECT COUNT(*) AS n_deleted FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} = {DOC_DELETE_RES}",
    "n_deleted",
)


def _phrase_batch_oracle() -> str:
    vals = ", ".join(
        f"({qid}, {i}, '{t}')"
        for qid, ws in PHRASE_BATCH
        for i, t in enumerate(ws)
    )
    return (
        "WITH tok AS (SELECT doc_id, list_filter("
        "string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '') AS toks FROM documents),"
        " p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) - 1 AS pos FROM tok),"
        f" q(qid, widx, term) AS (VALUES {vals}),"
        " ql AS (SELECT qid, COUNT(*) AS qlen FROM q GROUP BY qid),"
        " hits AS (SELECT q.qid, p.doc_id, p.dl, q.widx,"
        " p.pos - q.widx AS p0 FROM p JOIN q USING (term)),"
        " occ AS (SELECT qid, doc_id, dl, p0,"
        " COUNT(DISTINCT widx) AS nw FROM hits"
        " GROUP BY qid, doc_id, dl, p0),"
        " fo AS (SELECT occ.* FROM occ JOIN ql USING (qid)"
        " WHERE nw = qlen),"
        " g AS (SELECT qid, doc_id, dl, COUNT(*) AS phrase_tf,"
        " MIN(p0) AS first_pos FROM fo GROUP BY qid, doc_id, dl),"
        " r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY phrase_tf DESC, doc_id) AS rnk FROM g)"
        " SELECT qid, doc_id, CAST(dl AS INT) AS dl, phrase_tf,"
        " CAST(first_pos AS INT) AS first_pos, CAST(rnk AS INT) AS rank"
        f" FROM r WHERE rnk <= {PHRASE_BATCH_K} ORDER BY qid, rank"
    )


ORACLES["phrase_search_batch"] = _phrase_batch_oracle()


# --- streaming positional-store ingestion + CRUD chain (r15) ------------------
#
# The positional store was the one persisted index without a streaming
# ingest leg or an interleaved lifecycle certification (ann/bm25/sketch
# all have both).  Same construction as the BM25 chain: availableNow
# file stream, one micro-batch per staged file, foreachBatch driving
# the certified versioned upsert, batch ids riding the publish markers
# for end-to-end exactly-once redelivery.


def _pos_stream_upsert(bdf: DataFrame, store: str, bid: int) -> None:
    """The positional store's stream upsert (:func:`vstore.stream_sink`)."""
    upsert_phrase_index(bdf.sparkSession, store, bdf, bid=bid)


def phrase_stream_upsert_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING ingestion into the positional store: stage the corpus
    as N_FEED_FILES parquet files, run a real availableNow stream (one
    micro-batch per file), let ``foreachBatch`` drive the store (init
    then versioned upserts), and serve BOTH probes (ordered phrase +
    unordered NEAR) from the stream-composed store.  The oracle
    restates both probes from the FULL corpus raw text — proving the
    N-batch upsert chain composes to the exact single-pass index for
    the positional semantics too (manifest-entry union is the only
    cross-batch state; position arithmetic is per-document) — with
    n_docs_indexed (distinct documents in the PINNED postings) binding
    the chain's accounting into the checked rows."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_pos_stream_")
    try:
        run_upsert_stream(
            spark, _base_docs(spark, sf_dir), tmp, _init_pos_store,
            _pos_stream_upsert,
        )
        store = f"{tmp}/store"
        v = latest_version(spark, store)
        pinned = read_segments(
            spark,
            f"{store}/{_POS_ROOT}",
            manifest_entries(spark, store, v),
            _POS_POSTING_SCHEMA,
        )
        nd = pinned.agg(
            F.countDistinct("doc_id").alias("n_docs_indexed")
        )
        out = (
            _pos_probes_from_store(spark, store)
            .crossJoin(F.broadcast(nd))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def phrase_crud_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved lifecycle on the positional store — init (v1)
    without the ingest batch → upsert it (v2) → erase the delete set
    (v3, survivor rewrite of affected buckets) → vacuum to the latest
    version — then serve BOTH probes from the survivor.  The oracle
    restates phrase and NEAR from the SURVIVING documents' raw text
    (the batch is back in, the erase set is out), with n_survivors
    bound in — one green row proves the three mutation classes and the
    retention sweep compose for the positional semantics."""
    import shutil
    import tempfile

    docs = _base_docs(spark, sf_dir)
    b1 = docs.filter(_doc_batch_pred())
    dels = docs.filter(
        F.col("doc_id") % DOC_UPSERT_MOD == DOC_CRUD_DEL_RES
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_pos_crud_")
    try:
        _init_pos_store(docs.filter(~_doc_batch_pred()), tmp)
        upsert_phrase_index(spark, tmp, b1)
        delete_from_phrase_index(spark, tmp, dels)
        # retention vacuum (result unused) runs concurrently with the
        # serve of the latest version (optimization r16, guide §2.6):
        # vacuum retains exactly the version served, so the reader is
        # undisturbed by construction; joined before teardown.
        from concurrent.futures import ThreadPoolExecutor

        v = latest_version(spark, tmp)
        with ThreadPoolExecutor(max_workers=1) as _pool:
            _vac = _pool.submit(
                vacuum_phrase_store, spark, tmp, keep_last=1
            )
            n_surv = docs.join(
                dels.select("doc_id"), "doc_id", "left_anti"
            ).agg(F.count(F.lit(1)).alias("n_survivors"))
            out = (
                _pos_probes_from_store(spark, tmp, v)
                .crossJoin(F.broadcast(n_surv))
                .localCheckpoint(eager=True)
            )
            _vac.result()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["phrase_stream_upsert_store"] = phrase_stream_upsert_store
QUERIES["phrase_crud_chain"] = phrase_crud_chain

ORACLES["phrase_stream_upsert_store"] = _pos_probes_oracle(
    "",
    "SELECT COUNT(DISTINCT doc_id) AS n_docs_indexed FROM p",
    "n_docs_indexed",
)
ORACLES["phrase_crud_chain"] = _pos_probes_oracle(
    f" WHERE doc_id % {DOC_UPSERT_MOD} != {DOC_CRUD_DEL_RES}",
    f"SELECT COUNT(*) AS n_survivors FROM documents"
    f" WHERE doc_id % {DOC_UPSERT_MOD} != {DOC_CRUD_DEL_RES}",
    "n_survivors",
)


# --- batched NEAR + BM25 serving (r15, VERDICT r14 #6) ------------------------
#
# The remaining two retrieval modes gain the query-RELATION serving
# shape `serve_phrase_batch_from_store` proved: production retrieval
# answers a batch of queries against one pinned store scan, never a
# per-query loop.  NEAR is the interesting one — a proximity probe is
# inherently a two-sided join, which naively costs one postings scan
# per side.  The batched form keeps ONE scan by turning the banded
# equi-join into a grouped pair-count: both sides of every query land
# in one (qid, side, pos) relation off a single scan, side A explodes
# to its 3 candidate W-bands, side B keeps its own band, and a
# groupBy (qid, doc, band) collects the two position lists whose
# within-band pair count / min gap are computed by array folds —
# bounded work per group (positions of one term in one W-band of one
# doc), no self-join, no cartesian.  Each qualifying pair is counted
# exactly once: pb's band is unique, and |pa−pb| <= W guarantees pa's
# 3-band explosion covers it.

NEAR_BATCH = (
    (1, NEAR_TERMS),
    (2, ("table", "hash")),
    (3, ("slow", "query")),
)
NEAR_BATCH_K = 5


def serve_near_batch_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """Top-k per NEAR query for a BATCH of term pairs in ONE pinned
    positional-postings scan (the plan unit asserts the single
    FileScan): query relation broadcast onto the scan, banded grouped
    pair-count per (qid, doc, W-band), per-query window top-k."""
    from pyspark.sql import Window

    all_terms = sorted({t for _, pr in NEAR_BATCH for t in pr})
    pp = _pos_store_postings(spark, path, all_terms, v=v)
    q = spark.createDataFrame(
        [
            (qid, side, t)
            for qid, (ta, tb) in NEAR_BATCH
            for side, t in ((0, ta), (1, tb))
        ],
        "qid int, side int, term string",
    )
    hits = pp.join(F.broadcast(q), "term").select(
        "qid", "side", "doc_id", "dl", "pos"
    )
    bk = F.floor(F.col("pos") / NEAR_W).cast("long")
    banded = hits.select(
        "qid",
        "side",
        "doc_id",
        "dl",
        "pos",
        F.explode(
            F.when(
                F.col("side") == 0, F.array(bk - 1, bk, bk + 1)
            ).otherwise(F.array(bk))
        ).alias("bk"),
    )
    g = banded.groupBy("qid", "doc_id", "dl", "bk").agg(
        # collect_list skips nulls: each side's positions in this band
        F.collect_list(
            F.when(F.col("side") == 0, F.col("pos"))
        ).alias("al"),
        F.collect_list(
            F.when(F.col("side") == 1, F.col("pos"))
        ).alias("bl"),
    )
    pairs = g.select(
        "qid",
        "doc_id",
        "dl",
        F.expr(
            "aggregate(al, 0L, (acc, x) -> acc +"
            f" size(filter(bl, y -> abs(x - y) <= {NEAR_W})))"
        ).alias("np"),
        F.expr(
            "array_min(flatten(transform(al, x ->"
            f" transform(filter(bl, y -> abs(x - y) <= {NEAR_W}),"
            " y -> abs(x - y)))))"
        ).alias("mg"),
    ).filter(F.col("np") > 0)
    per_doc = pairs.groupBy("qid", "doc_id", "dl").agg(
        F.sum("np").alias("near_tf"), F.min("mg").alias("min_gap")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("near_tf"), "doc_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEAR_BATCH_K)
        .select(
            "qid",
            "doc_id",
            "dl",
            "near_tf",
            F.col("min_gap").cast("int").alias("min_gap"),
            "rank",
        )
        .orderBy("qid", "rank")
    )


def near_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched proximity retrieval from the persisted positional
    store: build once, answer all NEAR_BATCH pairs in one pass,
    teardown.  The oracle restates per-query top-k for every pair
    from the raw text in one relation."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_near_batch_")
    try:
        _init_pos_store(_base_docs(spark, sf_dir), tmp)
        out = serve_near_batch_from_store(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _near_batch_oracle() -> str:
    vals_a = ", ".join(f"({qid}, '{ta}')" for qid, (ta, _) in NEAR_BATCH)
    vals_b = ", ".join(f"({qid}, '{tb}')" for qid, (_, tb) in NEAR_BATCH)
    return (
        "WITH tok AS (SELECT doc_id, list_filter("
        "string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '') AS toks FROM documents),"
        " p AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term,"
        " generate_subscripts(toks, 1) - 1 AS pos FROM tok),"
        f" qa(qid, term) AS (VALUES {vals_a}),"
        f" qb(qid, term) AS (VALUES {vals_b}),"
        " a AS (SELECT qa.qid, p.doc_id, p.dl, p.pos AS pa"
        " FROM p JOIN qa USING (term)),"
        " b AS (SELECT qb.qid, p.doc_id, p.pos AS pb"
        " FROM p JOIN qb USING (term)),"
        " prs AS (SELECT a.qid, a.doc_id, a.dl, ABS(pa - pb) AS gap"
        " FROM a JOIN b USING (qid, doc_id)"
        f" WHERE ABS(pa - pb) <= {NEAR_W}),"
        " g AS (SELECT qid, doc_id, dl, COUNT(*) AS near_tf,"
        " MIN(gap) AS min_gap FROM prs GROUP BY qid, doc_id, dl),"
        " r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY near_tf DESC, doc_id) AS rnk FROM g)"
        " SELECT qid, doc_id, CAST(dl AS INT) AS dl, near_tf,"
        " CAST(min_gap AS INT) AS min_gap, CAST(rnk AS INT) AS rank"
        f" FROM r WHERE rnk <= {NEAR_BATCH_K} ORDER BY qid, rank"
    )


QUERIES["near_search_batch"] = near_search_batch
ORACLES["near_search_batch"] = _near_batch_oracle()


# BM25 batch: one manifest-pinned postings scan scores every query in
# the relation — the per-(qid, doc) fold is the same term-ordered
# deterministic sum the fixed-query serve uses, so the batch path
# inherits its bit-exactness.

BM25_BATCH = (
    (1, QUERY_TERMS),
    (2, ("table", "hash")),
    (3, ("slow", "query", "merge")),
)
BM25_BATCH_K = 5


def serve_bm25_batch_from_store(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """Top-k per query for a BATCH of BM25 term-set queries in ONE
    pinned postings scan: manifest-level directory pruning to the
    union of the batch's term buckets, the pushed term IN-filter on
    the scan, the pinned version's df and corpus stats as literals
    (:func:`_version_state`), per-(qid, doc) term-ordered fold, per-
    query window top-k.

    The batch is literal too: each posting takes the qids of the
    queries holding its term by exploding a CASE on the term — the
    same rows a join with the (qid, term) table yields, without the
    job that ships that table.  At most BM25_BATCH_K rows per query
    survive the window, so the final order is a sort inside one
    partition rather than a range sort, whose bounds sampling is a
    job of its own."""
    from pyspark.sql import Window

    if v is None:
        v = latest_version(spark, path)
    all_terms = sorted({t for _, ts in BM25_BATCH for t in ts})
    state = _version_state(spark, path, v)
    qids_of = F.expr(
        "CASE term "
        + " ".join(
            f"WHEN '{t}' THEN array("
            + ", ".join(str(qid) for qid, ts in BM25_BATCH if t in ts)
            + ")"
            for t in all_terms
        )
        + " END"
    )
    per = _bm25_fold(
        _pinned_postings(spark, path, state, all_terms).withColumn(
            "qid", F.explode(qids_of)
        ),
        state.df_of,
        state.n_docs,
        state.avgdl,
        keys=("qid", "doc_id"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), "doc_id")
    return (
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_BATCH_K)
        .coalesce(1)
        .sortWithinPartitions("qid", "rank")
    )


def bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched lexical retrieval from the manifest-pinned store: build
    once over the full corpus, answer all BM25_BATCH queries in one
    pinned scan, teardown.  The oracle restates per-query top-k for
    every term set from the raw text in one relation."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_batch_")
    try:
        _init_bm25_store(_base_docs(spark, sf_dir), tmp)
        out = serve_bm25_batch_from_store(spark, tmp).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bm25_batch_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_BATCH for t in ts
    )
    all_in = ", ".join(
        f"'{t}'" for t in sorted({t for _, ts in BM25_BATCH for t in ts})
    )
    return (
        f"WITH tok AS ({_TOKS_DUCK}),"
        " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
        " COUNT(*) AS n_docs FROM tok),"
        f" q(qid, term) AS (VALUES {vals}),"
        " base AS (SELECT doc_id, len(toks) AS dl,"
        f" unnest(list_filter(toks, t -> t IN ({all_in}))) AS term"
        " FROM tok),"
        " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
        " GROUP BY doc_id, dl, term),"
        " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " scored AS (SELECT q.qid, tf.doc_id, tf.term,"
        f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
        " FROM tf JOIN q USING (term) JOIN dfs USING (term)"
        " CROSS JOIN st),"
        " per AS (SELECT qid, doc_id, COUNT(*) AS n_hit_terms,"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
        " FROM scored GROUP BY qid, doc_id),"
        " r AS (SELECT qid, doc_id, n_hit_terms,"
        f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT)"
        " AS score_q FROM per),"
        " rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid"
        " ORDER BY score_q DESC, doc_id) AS rnk FROM r)"
        " SELECT qid, doc_id, n_hit_terms, score_q,"
        f" CAST(rnk AS INT) AS rank FROM rr WHERE rnk <= {BM25_BATCH_K}"
        " ORDER BY qid, rank"
    )


QUERIES["bm25_topk_batch"] = bm25_topk_batch
ORACLES["bm25_topk_batch"] = _bm25_batch_oracle()


# --- metadata-filtered lexical retrieval (r15 stretch, VERDICT r14 #7) -------
#
# The lexical twin of similarity.ann_filtered_topk: "top-k matching
# docs WHERE lang = 'en'".  The discipline is identical — the metadata
# predicate lands on the scan (PushedFilters carries the equality)
# BEFORE the score fold, so only qualifying documents' postings enter
# the ranking; the collection statistics (lexicon df, avgdl, n_docs)
# stay GLOBAL, which is how production filtered retrieval scores (the
# filter narrows candidates, not the model).  At 100 TB the filter
# column doubles as a partition key and the semi-join's build side is
# the filtered doc-id set of the probed terms' buckets only.

FILTER_LANG = "en"


def serve_bm25_filtered_from_store(
    spark: SparkSession, path: str, docs_meta: DataFrame
) -> DataFrame:
    """Answer the fixed query from the pinned store over only the
    documents matching the metadata predicate: pinned bucket-pruned
    postings scan + pushed term IN-filter, semi-join against the
    lang-filtered doc ids (the lang equality is pushed into the
    documents scan), THEN the global-stats score fold."""
    state = _version_state(spark, path, latest_version(spark, path))
    keep_ids = docs_meta.filter(F.col("lang") == FILTER_LANG).select(
        "doc_id"
    )
    return _bm25_topk(
        _pinned_postings(spark, path, state, QUERY_TERMS).join(
            keep_ids, "doc_id", "left_semi"
        ),
        state.df_of,
        state.n_docs,
        state.avgdl,
    )


def bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered retrieval from the manifest-pinned lexical
    store, end to end: build over the full corpus, serve the fixed
    query over lang='en' documents only (global collection stats),
    teardown.  The oracle restates direct scoring WITH the filter —
    same global df/avgdl, candidates restricted to the predicate —
    from the raw text."""
    import shutil
    import tempfile

    docs_meta = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang"
    )
    tmp = tempfile.mkdtemp(prefix="sgraft_bm25_filtered_")
    try:
        _init_bm25_store(_base_docs(spark, sf_dir), tmp)
        out = serve_bm25_filtered_from_store(
            spark, tmp, docs_meta
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bm25_filtered_oracle() -> str:
    return (
        f"WITH tok AS ({_TOKS_DUCK}),"
        " st AS (SELECT CAST(SUM(len(toks)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) AS avgdl,"
        " COUNT(*) AS n_docs FROM tok),"
        " base AS (SELECT doc_id, len(toks) AS dl,"
        f" unnest(list_filter(toks, t -> t IN ({_terms_in()}))) AS term"
        " FROM tok),"
        " tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM base"
        " GROUP BY doc_id, dl, term),"
        " dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),"
        " scored AS (SELECT doc_id, term,"
        f" {_bm25_term_score('tf', 'df', 'dl', 'n_docs')} AS s"
        " FROM tf JOIN dfs USING (term) CROSS JOIN st"
        " WHERE doc_id IN (SELECT doc_id FROM documents"
        f" WHERE lang = '{FILTER_LANG}')),"
        " per AS (SELECT doc_id, COUNT(*) AS n_hit_terms,"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(s ORDER BY term)), (acc, v) -> acc + v) AS score"
        " FROM scored GROUP BY doc_id)"
        " SELECT doc_id, n_hit_terms,"
        f" CAST(FLOOR(score * {SCORE_QUANT}.0 + 0.5) AS BIGINT) AS score_q"
        f" FROM per ORDER BY score_q DESC, doc_id LIMIT {TOP_K}"
    )


QUERIES["bm25_filtered_topk"] = bm25_filtered_topk
ORACLES["bm25_filtered_topk"] = _bm25_filtered_oracle()
