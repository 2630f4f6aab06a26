"""Persisted ANN index serving (IVF + PQ on parquet) — 100 TB extension.

The production shape of the vector family (VERDICT r8 item 3): every
prior ANN query (similarity.ann_topk_ivf, clustering.ann_topk_pq) builds
its index structures in-query; a serving deployment builds them ONCE,
writes them to storage, and answers every query from the STORED index.
Reference analogue: the reference's retrieval path queries a persistent
Chroma collection (reference api/main.py:1416-1417 top-k over an
on-disk vector store) — persistence is exactly the part the in-query
operators had not certified.  Mirrors the proven store discipline of
sketches.sketch_rollup_store (write → read back → answer from stored
bytes → temp-dir teardown after an eager localCheckpoint).

What gets stored (the three tables a real IVF-PQ index serves from):

- ``centroids``  (cell, c_emb)       — the coarse quantizer, N_CELLS rows
- ``codebook``   (m, cid, carr)      — the PQ sub-codebooks, M_SUB·KS rows
- ``codes``      (cell | vec_id, m, cid) — 16-bit PQ codes,
  **directory-partitioned by the IVF cell**, so a probe reads only its
  cells' files: partition pruning IS the IVF inverted list on parquet.

Query path, all from the store: collect the tiny model tables and the
query vector to the driver, which ranks the centroids and keeps the
N_PROBE nearest cells, and tabulates the query's ADC distance to every
(subspace, sub-centroid) pair (fixed-point BIGINT) → scan ONLY those
cells' partitions of the code table, looking each code's distance up in
that table → keep the CAND_K best candidates → exact full-precision
cosine rerank (a broadcast join of the candidates) against the base
embeddings table → top-k.  This is the textbook IVFADC serving pipeline
(Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search"): one partition-pruned scan and one broadcast join — no
all-pairs product.  The model tables of a store are frozen, so
:func:`read_index_versioned` memoizes them per store as local relations
and a warm serve reads nothing but the query vector, the probed codes
and the reranked vectors.  The driver-side probe and ADC table run the
same left-fold double arithmetic as the Spark expressions they replace,
so every distance is bit-identical.

Scale notes: at 100 TB the codes table is ~2 bytes/vector payload, the
centroid/codebook tables are KBs (always driver-sized), and the rerank
touches only CAND_K full vectors fetched by an equi-join on vec_id.
The expensive stage — one corpus scan to assign cells and codes — runs
once at build time, not per query.

Parity: the DuckDB oracle never sees the store (roundtrip-identity
discipline, sketches.sketch_rollup_store / roundtrip.py); it restates
build + probe + ADC + rerank from the base tables.  Every ranking
stage is deterministic: ADC distances are exact BIGINTs with vec_id
tie-breaks; the rerank cosine is the strict d-order fold both engines
evaluate bit-identically (similarity._dot/_dot_duck).
tests/test_vectorstore.py proves stored ≡ in-memory ranking and that
the pruned-partition read returns exactly the probed cells' codes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.memo import SessionMemo
from .clustering import M_SUB, QUANT, SUBDIM, _pq_codes, _subspace_rows
from .similarity import (
    N_BATCH_QUERIES,
    N_CELLS,
    N_PROBE,
    QUERY_VEC_ID,
    TOP_K,
    _dot,
    _emb,
    _norm,
    ivf_assignments,
)

CAND_K = 40  # ADC candidates entering the exact rerank (4× the final k)

# the stored model tables' schemas (flat and versioned stores alike)
_ANN_CENTROIDS_SCHEMA = "cell int, c_emb array<float>"
_ANN_CODEBOOK_SCHEMA = "m bigint, cid bigint, carr array<double>"
# the flat store's code table keeps _pq_codes' bigint m (the versioned
# segments narrow it to int, _ANN_CODES_SCHEMA)
_ANN_FLAT_CODES_SCHEMA = "vec_id bigint, m bigint, cid bigint, cell int"


def _centroids(emb: DataFrame) -> DataFrame:
    """The IVF coarse quantizer (similarity.py:421 deterministic seed:
    centroids are the embeddings of vec_id 1..N_CELLS)."""
    return emb.filter(F.col("vec_id").between(1, N_CELLS)).select(
        (F.col("vec_id") - 1).cast("int").alias("cell"),
        F.col("embedding").alias("c_emb"),
    )


def build_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """One corpus scan → the three stored index tables under ``path``.

    The code table is written ``partitionBy("cell")`` — on parquet the
    IVF inverted list IS the partition layout, so a probe's
    ``cell IN (...)`` filter prunes to the probed directories before
    any byte is read.

    Staged-rename commit (r16, ADVICE r15): this is the one UNVERSIONED
    build path — unlike the manifest-pinned stores there is no publish
    gate, so under committer v2 a mid-job failure writing straight into
    ``{path}/centroids`` etc. could leave a partially-written table a
    later reader consumes silently.  The three tables therefore stage
    into a build-unique temp dir and are RENAMED into place only after
    all three jobs complete: a failed build leaves only ``_build-*``
    debris (never a readable partial table).  On HDFS and local disks
    the rename is a cheap driver-side metadata op; on S3A it is a
    non-atomic copy of the table's data, so there the window in which
    a reader can see a partial table is as long as that copy.  A
    rename that fails partway keeps the stage — its remaining tables
    are then the build's only copy.
    Rebuilding over an existing store keeps a delete-then-rename
    window per table — still strictly smaller than v2's task-level
    partial-write exposure, and no current caller rebuilds in place
    (all build into fresh temp dirs)."""
    emb = _emb(spark, sf_dir)
    codes, cb = _pq_codes(spark, sf_dir)
    from .retrieval import _fs_of, _new_att, _run_staged

    stage = f"{path}/_build-{_new_att()}"
    # the three stored tables are independent files; write them as
    # concurrent jobs (optimization r15, guide §2.6)
    _run_staged(
        lambda: _centroids(emb)
        .write.mode("overwrite")
        .parquet(f"{stage}/centroids"),
        lambda: cb.write.mode("overwrite").parquet(f"{stage}/codebook"),
        lambda: (
            codes.join(ivf_assignments(spark, sf_dir), "vec_id")
            # co-locate each cell's codes before the partitioned write:
            # one output file per cell per job instead of cells ×
            # shuffle-partitions tiny files — the compaction-friendly
            # layout a real index build writes (and measurably most of
            # this query's cost at fixture scale was the
            # many-small-files write)
            .repartition(N_CELLS, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{stage}/codes")
        ),
    )
    fs, _ = _fs_of(spark, path)
    for table in ("centroids", "codebook", "codes"):
        _, dst = _fs_of(spark, f"{path}/{table}")
        if fs.exists(dst):
            fs.delete(dst, True)
        _, src = _fs_of(spark, f"{stage}/{table}")
        if not fs.rename(src, dst):
            raise IOError(f"rename {src} -> {dst} failed")
    # the stage goes only after EVERY rename succeeded: after a failed
    # rename its not-yet-renamed tables are the only good copy
    _, sp = _fs_of(spark, stage)
    if fs.exists(sp):
        fs.delete(sp, True)
    # the PQ training artifacts are the session-lifetime memoized model
    # (clustering._pq_model) shared by every PQ consumer — the serving
    # path's query-subvector derivation reuses them via CacheManager
    # subplan substitution; clustering.reset_caches() owns the release


def _fold_dot(a, b) -> float:
    """:func:`similarity._dot` on the driver: the same left fold of
    the same double products, so the same double."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _probe(centroids: list, q: list) -> list[int]:
    """The N_PROBE cells nearest ``q`` by cosine, ties → lower cell:
    the ``orderBy(desc(q_cos), cell).limit(N_PROBE)`` of the Spark
    form, on the collected centroid rows."""
    q_norm = math.sqrt(_fold_dot(q, q))
    cos = [
        (
            -(_fold_dot(r["c_emb"], q)
              / (math.sqrt(_fold_dot(r["c_emb"], r["c_emb"])) * q_norm)),
            r["cell"],
        )
        for r in centroids
    ]
    return [cell for _, cell in sorted(cos)[:N_PROBE]]


def _adc_table(codebook: list, q: list) -> dict:
    """(m, cid) → the query's fixed-point ADC distance to that
    sub-centroid, ``FLOOR(Σ(q_m − c)² · QUANT + 0.5)`` folded left in
    doubles exactly as the Spark expression does.  Subspace ``m`` of
    ``q`` is elements ``m·SUBDIM+1 .. (m+1)·SUBDIM`` (the
    clustering._subspace_rows slicing)."""
    out = {}
    for r in codebook:
        m = int(r["m"])
        sub = [float(x) for x in q[m * SUBDIM:(m + 1) * SUBDIM]]
        acc = 0.0
        for x, y in zip(sub, r["carr"]):
            acc = acc + (x - y) * (x - y)
        out[(m, int(r["cid"]))] = math.floor(acc * float(QUANT) + 0.5)
    return out


def topk_from_index(
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """IVFADC serving over (possibly stored) index frames: probe →
    pruned ADC scan → CAND_K candidates → exact-cosine rerank → top-k.

    The model frames (N_CELLS centroids, M_SUB·KS codebook rows) and
    the query vector are collected to the driver, which picks the
    probe cells and tabulates the query's ADC distances (:func:`_probe`,
    :func:`_adc_table`).  One ``cell IN (...)`` scan of the codes then
    sums each candidate's table lookups, and the CAND_K best are
    reranked by exact cosine in a broadcast join.  A model frame that
    is a local relation (:func:`read_index_versioned`) collects
    without a Spark job.

    Takes the index as DataFrames so tests can prove stored ≡ in-memory
    (pass the pre-write frames vs the read-back frames)."""
    q_rows = emb.filter(F.col("vec_id") == query_vec_id).select(
        "embedding"
    ).collect()
    # an unknown query id probes no cell and so answers no rows
    q = list(q_rows[0]["embedding"]) if q_rows else []
    probe = _probe(centroids.collect(), q) if q else []
    adc = _adc_table(codebook.collect(), q)
    stride = max((cid for _, cid in adc), default=0) + 1
    # the table and the query vector are each ONE expression text: a
    # Column per literal is a Py4J round trip apiece (2·|codebook| + dim)
    lut = F.expr(
        "map("
        + ", ".join(
            f"{m * stride + cid}L, {dq}L" for (m, cid), dq in sorted(adc.items())
        )
        + ")"
    )
    # partition-pruned ADC scan: only probed cells' code files are read
    dists = (
        codes.filter(F.col("cell").isin(probe))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.try_element_at(
                lut, F.col("m").cast("bigint") * stride + F.col("cid")
            ).alias("dq"),
        )
        .groupBy("vec_id")
        .agg(F.sum("dq").alias("dist_q"))
    )
    cand = dists.orderBy("dist_q", "vec_id").limit(CAND_K)
    q_emb = F.expr(
        f"CAST({_sql_literal([float(x) for x in q])} AS array<double>)"
    )
    # exact full-precision rerank: only CAND_K base vectors are fetched
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .select("vec_id", "label", "embedding", q_emb.alias("q_emb"))
        .select(
            "vec_id",
            "label",
            (
                _dot("embedding", "q_emb")
                / (_norm("embedding") * _norm("q_emb"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


def topk_batch_from_index(
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
) -> DataFrame:
    """The amortization shape the store exists for: ONE stored index
    answers a BATCH of queries (vec_id < N_BATCH_QUERIES, the
    similarity.ann_topk_batch convention; candidates are the rest of
    the corpus).  Per query: probe its N_PROBE nearest cells, ADC-scan
    only those cells' stored codes, keep CAND_K, exact-cosine rerank to
    TOP_K.  All per-query stages are windows partitioned by q_id —
    per-key state, no global sort; the query-side frames (batch
    subvectors, probe pairs) stay broadcast-size by construction."""
    from pyspark.sql import Window

    from .clustering import _subspace_rows

    qs = emb.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("q_cos"), "cell")
    probe = (
        centroids.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "cell",
            (
                _dot("c_emb", "q_emb") / (_norm("c_emb") * _norm("q_emb"))
            ).alias("q_cos"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= N_PROBE)
        .select("q_id", "cell")
    )
    q_sub = _subspace_rows(
        emb.filter(F.col("vec_id") < N_BATCH_QUERIES)
    ).select(
        F.col("vec_id").alias("q_id"), "m", F.col("sub").alias("qsub")
    )
    adc = (
        codes.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") >= N_BATCH_QUERIES)
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
    cand_w = Window.partitionBy("q_id").orderBy("dist_q", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(cand_w))
        .filter(F.col("rn") <= CAND_K)
        .select("q_id", "vec_id")
    )
    rerank_w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), "vec_id"
    )
    return (
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
        )
        .withColumn("rk", F.row_number().over(rerank_w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "label", "cosine")
        .orderBy("q_id", F.desc("cosine"), "vec_id")
    )


def read_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three tables :func:`build_index` writes, read with their
    known schemas (inferring each would cost a Spark job)."""
    return (
        spark.read.schema(_ANN_CENTROIDS_SCHEMA).parquet(f"{path}/centroids"),
        spark.read.schema(_ANN_CODEBOOK_SCHEMA).parquet(f"{path}/codebook"),
        spark.read.schema(_ANN_FLAT_CODES_SCHEMA).parquet(f"{path}/codes"),
    )


def ann_index_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the IVF-PQ index, persist it to parquet, and answer the
    fixed top-k query FROM THE STORED index (exact-cosine reranked) —
    certifying that the index tables survive the write/read cycle and
    that the cell-partitioned layout serves a pruned probe.  The final
    frame is eagerly localCheckpointed (TOP_K rows) so the temp store
    can be deleted before returning (sketches.sketch_rollup_store
    lifecycle)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_ann_index_")
    try:
        build_index(spark, sf_dir, tmp)
        centroids, codebook, codes = read_index(spark, tmp)
        out = topk_from_index(
            centroids, codebook, codes, _emb(spark, sf_dir)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ann_index_store_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist ONCE, then answer the 10-query batch from the
    stored tables — the serve-many amortization the persisted index
    exists for (the store cost in :func:`ann_index_store` amortizes
    over every query in this batch)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_ann_index_")
    try:
        build_index(spark, sf_dir, tmp)
        centroids, codebook, codes = read_index(spark, tmp)
        out = topk_batch_from_index(
            centroids, codebook, codes, _emb(spark, sf_dir)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- incremental index maintenance (r12, VERDICT r11 #2) --------------------
#
# At 100 TB you never full-rebuild an index for a new ingest batch: the
# model (coarse centroids + PQ codebooks) is a FROZEN build-time
# artifact, and an upsert (a) assigns the new vectors to cells with the
# STORED centroids, (b) encodes them with the STORED codebooks, and
# (c) appends their codes into ONLY the affected cell partitions —
# the copy-on-write shape sources/sinks.upsert_embeddings proved for
# raw embeddings, applied to the index itself.  Reference analogue:
# the reference's ingest is incremental (Chroma upsert,
# api/ingest_docs.py:97-102, etl/index_docs.py:101-108) while its index
# never full-rebuilds per batch — this closes the same gap for the
# serving store (VERDICT r11 "What's missing" #2).
#
# For upsert ≡ full-rebuild to hold EXACTLY (the oracle's claim), the
# model must be invariant to the batch — which is precisely how
# production PQ training works: codebooks are trained on a bounded
# reservoir sample, not the full corpus (Jégou et al. 2011 train on a
# learning set; FAISS trains on a capped sample).  The upsertable
# store therefore trains its codebook on the fixed reservoir
# vec_id < TRAIN_CAP (⊃ the vec_id < KS seed), and the upsert batch is
# drawn strictly outside it, so a full rebuild — retraining included —
# produces the identical model, and the DuckDB oracle can restate the
# whole upserted store as one rebuild from the base tables.

TRAIN_CAP = 64  # codebook training reservoir: vec_id < 64 (bounded,
# batch-invariant — the production sample-training discipline)
UPSERT_MOD = 10
UPSERT_RES = 7  # batch = vec_id % 10 == 7 AND vec_id >= TRAIN_CAP:
# ~10% of the corpus, disjoint from the centroid rows (1..N_CELLS),
# the PQ seed/reservoir (< TRAIN_CAP) and the query ids


def _upsert_batch_pred():
    return (F.col("vec_id") % UPSERT_MOD == UPSERT_RES) & (
        F.col("vec_id") >= TRAIN_CAP
    )


def _assign_cells(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest stored centroid by cosine (argmax, ties →
    lower cell — the similarity.ivf_assignments discipline, taking the
    centroid RELATION so the upsert path assigns against the STORE)."""
    from pyspark.sql import Window

    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cell",
        (
            _dot("embedding", "c_emb") / (_norm("embedding") * _norm("c_emb"))
        ).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), "cell")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def _reservoir_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen PQ model: codebook trained ONLY on the vec_id <
    TRAIN_CAP reservoir (seed = vec_id < KS as always) — batch-invariant
    by construction."""
    from .clustering import _pq_codebook

    res = _emb(spark, sf_dir).filter(F.col("vec_id") < TRAIN_CAP)
    return _pq_codebook(_subspace_rows(res))


def _encode_codes(vecs: DataFrame, cb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(cell | vec_id, m, cid) for ``vecs`` under the FROZEN model:
    stored-centroid cell assignment + stored-codebook PQ encoding."""
    from .clustering import _pq_assign

    codes = _pq_assign(_subspace_rows(vecs), cb).select(
        "vec_id", "m", F.col("a.cid").alias("cid")
    )
    return codes.join(_assign_cells(vecs, centroids), "vec_id")


# The upsertable ("frozen-model") store is MANIFEST-PINNED (r15,
# VERDICT r14 #2 — the r14 upgrade covered BM25 + positional only;
# this closes the ANN twin): code rows live in immutable segments
# ``codes/seg={seg}/cell=N``, each published version's manifest pins
# its exact (segment, cell) file set, and every mutation (upsert,
# delete, compact, stream batch) is pure copy-on-write — a reader
# pinned at version v is fully isolated from concurrent mutations
# (previously delete/compact rewrote cell partitions in place via
# dynamic partition overwrite and a mid-delete reader saw mixed
# cells).  The machinery is retrieval.py's (segments, attempt-staged
# manifests, conditional publish, vacuum GC) with the partition axis
# ``cell`` instead of the term bucket.

_ANN_CODES_SCHEMA = "vec_id bigint, m int, cid bigint, cell int"
_ANN_CODES_ROOT = "codes"


def _ann_write_codes_segment(
    spark: SparkSession, codes_df: DataFrame, path: str
) -> tuple[str, list[int]]:
    """Write one immutable code segment and return (seg, cells) — the
    cells read back from the stored files (the manifest pins what is
    on disk)."""
    from .retrieval import _new_seg_id, _seg_buckets, _write_segment

    root = f"{path}/{_ANN_CODES_ROOT}"
    seg = _new_seg_id()
    _write_segment(
        codes_df.select(
            "vec_id",
            F.col("m").cast("int").alias("m"),
            F.col("cid").cast("bigint").alias("cid"),
            F.col("cell").cast("int").alias("cell"),
        ).repartition(N_CELLS, "cell"),
        root,
        seg,
        pcol="cell",
    )
    return seg, _seg_buckets(spark, root, seg, pcol="cell")


def _ann_pinned_codes(
    spark: SparkSession, path: str, v: int | None = None
) -> DataFrame:
    """The code relation of a PINNED store version: read exactly the
    manifest's (segment, cell) directories — cell stays a partition
    column, so the probe's ``cell IN (...)`` filter still prunes
    directories before any byte is read."""
    from .retrieval import _latest_version, _manifest_entries, _read_segments

    if v is None:
        v = _latest_version(spark, path)
    return _read_segments(
        spark,
        f"{path}/{_ANN_CODES_ROOT}",
        _manifest_entries(spark, path, v),
        _ANN_CODES_SCHEMA,
        pcol="cell",
    )


def _sql_literal(v) -> str:
    if isinstance(v, list):
        return "array(" + ", ".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, float):
        # repr round-trips every double exactly; the D suffix keeps it
        # a DOUBLE literal (a bare 0.5 parses as DECIMAL)
        return f"{v!r}D"
    return str(int(v))


def _local_frame(df: DataFrame) -> DataFrame:
    """``df``'s rows as a ``VALUES`` relation of the same schema.
    Collecting a local relation runs no Spark job (a createDataFrame
    frame, built on an RDD, costs one per action), so a memoized model
    frame is free to collect on every serve."""
    spark = df.sparkSession
    rows = df.collect()
    fields = df.schema.fields
    values = ", ".join(
        "(" + ", ".join(_sql_literal(x) for x in r) + ")" for r in rows
    )
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    proj = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(fields)
    )
    return spark.sql(f"SELECT {proj} FROM VALUES {values} AS t({cols})")


def _model_identity(spark: SparkSession, path: str) -> str:
    """The model tables' file names: every write of them names its part
    files after that write job's fresh UUID, so a store rebuilt at the
    same path (after an rmtree, or overwritten in place) never matches
    the identity of the model it replaced.  (The v=1 publish marker
    would not do: vacuum deletes it once v=1 leaves the retention
    window.)  Pure metadata — one listing per table, no Spark job."""
    from .retrieval import _fs_of

    names = []
    for table in ("centroids", "codebook"):
        fs, hp = _fs_of(spark, f"{path}/{table}")
        names += [
            f"{table}/{st.getPath().getName()}" for st in fs.listStatus(hp)
        ]
    return ",".join(sorted(names))


# The frozen model tables of each store, as local relations — bounded,
# lock-guarded, keyed per session by (store path, model identity).
_MODEL_MEMO = SessionMemo()


def _frozen_model(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(centroids, codebook) of the store at ``path``, memoized: the
    model is a build-time artifact no mutation touches.  A miss reads
    both tables with their known schemas (two small jobs)."""
    key = f"{path}#{_model_identity(spark, path)}"
    model = _MODEL_MEMO.get(spark, key)
    if model is None:
        model = _MODEL_MEMO.put(
            spark,
            key,
            (
                _local_frame(
                    spark.read.schema(_ANN_CENTROIDS_SCHEMA).parquet(
                        f"{path}/centroids"
                    )
                ),
                _local_frame(
                    spark.read.schema(_ANN_CODEBOOK_SCHEMA).parquet(
                        f"{path}/codebook"
                    )
                ),
            ),
        )
    return model


def read_index_versioned(
    spark: SparkSession, path: str, v: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, pinned codes) of the manifest-pinned
    store — the versioned twin of :func:`read_index` (the simple
    build-once store keeps its flat layout; it has no mutations to
    isolate).  The frozen model comes from the store's model memo as
    job-free local relations (:func:`_frozen_model`); the codes read
    passes its known schema, so building the three frames launches no
    Spark job once the model is memoized."""
    centroids, codebook = _frozen_model(spark, path)
    return centroids, codebook, _ann_pinned_codes(spark, path, v)


def _init_ann_versioned(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    vecs: DataFrame,
    bid: int | None = None,
) -> None:
    """First write of the manifest-pinned store: frozen model tables
    (unversioned — the model is a build-time artifact mutations never
    touch), one code segment over ``vecs``, and the published v=1
    manifest pinning exactly that segment's cells.

    Optimization (r15, guide §2.6): the three writes (centroids,
    codebook, code segment) are physically independent files gated by
    the one v=1 publish — the code segment encodes against the
    IN-MEMORY model frames, not the parquet copies — so they run as
    concurrent jobs instead of leaving the cluster idle through each
    write's tail."""
    from .retrieval import (
        _new_att,
        _publish_version,
        _run_staged,
        _write_manifest,
    )

    cents = _centroids(_emb(spark, sf_dir))
    cb = _reservoir_codebook(spark, sf_dir)
    seg_cells: dict = {}

    def _stage_codes() -> None:
        seg_cells["sc"] = _ann_write_codes_segment(
            spark, _encode_codes(vecs, cb, cents), path
        )

    _run_staged(
        lambda: cents.write.mode("overwrite").parquet(f"{path}/centroids"),
        lambda: cb.write.mode("overwrite").parquet(f"{path}/codebook"),
        _stage_codes,
    )
    seg, cells = seg_cells["sc"]
    att = _new_att()
    _write_manifest(spark, path, 1, [(seg, c) for c in cells], att)
    _publish_version(spark, path, 1, att, bid)


def build_index_frozen(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Initial build of the upsertable store: BASE corpus only (the
    upsert batch is held out), reservoir-trained codebook, manifest-
    pinned cell-partitioned code segment."""
    emb = _emb(spark, sf_dir)
    _init_ann_versioned(
        spark, sf_dir, path, emb.filter(~_upsert_batch_pred())
    )


def upsert_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    batch: DataFrame,
    bid: int | None = None,
) -> None:
    """Merge a new embeddings batch into the stored index: assign with
    the STORED centroids, encode with the STORED codebook, land the
    new codes as one immutable segment, and publish a v+1 manifest
    pinning the old entries plus the new segment's cells — no
    pre-existing file is touched (tests prove the file-level claim),
    so every reader of v is undisturbed.  At 100 TB this is the whole
    point: the merge cost is proportional to the BATCH plus fixed
    metadata, never to the corpus.  On :class:`VersionConflict` the
    manifest merge retries against the new latest (the batch segment
    is version-independent and written once)."""
    from .retrieval import (
        PUBLISH_RETRIES,
        VersionConflict,
        _latest_version,
        _manifest_entries,
        _new_att,
        _publish_version,
        _write_manifest,
    )

    centroids, cb = _frozen_model(spark, path)
    seg, cells = _ann_write_codes_segment(
        spark, _encode_codes(batch, cb, centroids), path
    )
    last: VersionConflict | None = None
    for _ in range(PUBLISH_RETRIES):
        v = _latest_version(spark, path)
        att = _new_att()
        entries = _manifest_entries(spark, path, v) + [
            (seg, c) for c in cells
        ]
        _write_manifest(spark, path, v + 1, entries, att)
        try:
            _publish_version(spark, path, v + 1, att, bid)
            return
        except VersionConflict as e:
            last = e
    raise last if last is not None else RuntimeError("unreachable")


def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, end to end: build the store on
    the base corpus (batch held out), UPSERT the batch (stored-model
    assignment + encoding, affected-cell append), then answer the fixed
    top-k query from the upserted store.  Output: the TOP_K serve rows
    plus the upsert telemetry (n_upserted, n_cells_touched) so the
    incrementality is bound into the checked result.

    The oracle restates the FULL REBUILD — reservoir-trained model,
    every vector (base + batch) encoded, probe → ADC → rerank — so a
    green row proves upsert-then-serve ≡ full-rebuild-then-serve
    exactly (the model is batch-invariant by the reservoir discipline,
    so the rebuild's retraining yields the identical codebook)."""
    import shutil
    import tempfile

    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_ann_upsert_")
    try:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        centroids, codebook, codes = read_index_versioned(spark, tmp)
        touched = (
            _assign_cells(batch, centroids)
            .agg(
                F.count(F.lit(1)).alias("n_upserted"),
                F.countDistinct("cell").alias("n_cells_touched"),
            )
        )
        out = (
            topk_from_index(centroids, codebook, codes, emb)
            .crossJoin(F.broadcast(touched))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def compact_index_cells(spark: SparkSession, path: str, cells) -> None:
    """Post-upsert maintenance: every upsert pins one more segment into
    each affected cell; compaction coalesces the given cells' pinned
    rows into ONE fresh segment (one file per cell) and publishes a
    snapshot whose manifest pins the new segment instead of every
    prior pin of those cells.  Readers of v keep their exact
    pre-compaction file set — no in-place rewrite, no lineage hazard
    (the old localCheckpoint is obsolete: the write target is a NEW
    directory, never in the read plan) — and the small-file debris
    becomes unreferenced for vacuum's segment GC.  At 100 TB this runs
    per-cell-batch on a schedule, exactly the job the generic
    ``compaction_plan`` operator budgets."""
    from .retrieval import (
        PUBLISH_RETRIES,
        VersionConflict,
        _latest_version,
        _manifest_entries,
        _new_att,
        _new_seg_id,
        _publish_version,
        _read_segments,
        _seg_buckets,
        _write_manifest,
        _write_segment,
    )

    cells = sorted(int(c) for c in cells)
    if not cells:
        return
    root = f"{path}/{_ANN_CODES_ROOT}"
    hit = set(cells)
    last: VersionConflict | None = None
    for _ in range(PUBLISH_RETRIES):
        v = _latest_version(spark, path)
        entries = _manifest_entries(spark, path, v)
        affected = [e for e in entries if e[1] in hit]
        if not affected:
            return  # nothing pinned in those cells — no new snapshot
        rows = _read_segments(
            spark, root, affected, _ANN_CODES_SCHEMA, pcol="cell"
        )
        seg = _new_seg_id()
        att = _new_att()
        _write_segment(
            rows.repartition(len(cells), "cell"), root, seg, pcol="cell"
        )
        survivors = _seg_buckets(spark, root, seg, pcol="cell")
        new_entries = [e for e in entries if e[1] not in hit] + [
            (seg, c) for c in survivors
        ]
        _write_manifest(spark, path, v + 1, new_entries, att)
        try:
            _publish_version(spark, path, v + 1, att)
            return
        except VersionConflict as e:
            last = e
    raise last if last is not None else RuntimeError("unreachable")


def ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintenance cycle: build the frozen-model store, upsert
    the ingest batch (affected cells gain an appended file), COMPACT
    exactly the affected cells back to one file each, and serve the
    fixed top-k from the compacted store.  The oracle is the identical
    full-rebuild restatement the upsert row uses — a green row proves
    compaction is a pure physical rewrite (served results unchanged);
    the file-level claims (one file per compacted cell, unaffected
    cells byte-untouched) are locked by tests/test_vectorstore.py."""
    import shutil
    import tempfile

    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    tmp = tempfile.mkdtemp(prefix="sgraft_ann_compact_")
    try:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        touched_rows = _assign_cells(batch, centroids)
        # bounded driver-side scalar list (≤ N_CELLS ints — the
        # sinks.upsert_embeddings model-boundary collect class)
        affected = [
            r["cell"]
            for r in touched_rows.select("cell").distinct().collect()
        ]
        compact_index_cells(spark, tmp, affected)
        ncc = touched_rows.agg(
            F.countDistinct("cell").alias("n_cells_compacted")
        )
        _, codebook, codes = read_index_versioned(spark, tmp)
        out = (
            topk_from_index(centroids, codebook, codes, emb)
            .crossJoin(F.broadcast(ncc))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- deletion through the index (r13, VERDICT r12 #3) -----------------------
#
# The remaining CRUD leg after r12's upserts: a governed 100 TB corpus
# must be able to ERASE documents from the derived stores, not just the
# base parquet (GDPR erasure reaches the index, the
# quality.erasure_impact_plan shape).  The delete is tombstone-free and
# affected-cells-only: find the cells holding any deleted vector (a
# semi-join against the stored codes — never a corpus scan), rewrite
# ONLY those cell partitions without the deleted rows (dynamic
# partition overwrite, the compaction discipline), and drop outright
# any cell left empty.  The frozen model stays — production erasure
# removes DATA immediately; the model retrains on its own schedule
# (here the delete set is disjoint from the training reservoir, so a
# rebuild-without-the-docs retrains to the IDENTICAL model and the
# oracle's delete ≡ rebuild claim is exact).

DELETE_MOD = 10
DELETE_RES = 3  # erase set: vec_id % 10 == 3 AND vec_id >= TRAIN_CAP —
# ~10% of the corpus, disjoint from the query (0), the centroid rows
# (1..N_CELLS) and the codebook training reservoir (< TRAIN_CAP)


def _delete_pred():
    return (F.col("vec_id") % DELETE_MOD == DELETE_RES) & (
        F.col("vec_id") >= TRAIN_CAP
    )


def build_index_frozen_full(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """The upsertable-store layout (reservoir-trained frozen model,
    manifest-pinned codes) built over the FULL corpus in one pass —
    the starting state for the deletion query (build + upsert
    composition is certified by ``ann_index_upsert``; the delete row
    should time the delete)."""
    _init_ann_versioned(spark, sf_dir, path, _emb(spark, sf_dir))


def delete_from_index(
    spark: SparkSession, path: str, delete_ids: DataFrame
) -> list[int]:
    """Erase ``delete_ids`` (a (vec_id) frame) from the stored codes:
    locate the affected cells by semi-join against the PINNED code
    relation, land those cells' SURVIVING rows in one fresh segment,
    and publish a v+1 manifest that pins the new segment instead of
    every prior pin of the affected cells — old segments are never
    touched, so a concurrent reader of v sees the FULL pre-delete
    store (true snapshot isolation; the pre-r15 layout rewrote cell
    partitions in place via dynamic partition overwrite and a
    mid-delete reader saw mixed cells — VERDICT r14 #2).  A cell left
    empty simply has no files in the new segment and its old pins are
    dropped — emptiness needs no explicit directory delete anymore.
    The erased codes become unreachable at publish; vacuum's segment
    GC reclaims the bytes.  Returns the affected cell list (bounded
    ≤ N_CELLS — the model-boundary collect class).  Merge cost is
    proportional to the affected cells' code rows + fixed metadata,
    never to the corpus."""
    from .retrieval import (
        PUBLISH_RETRIES,
        VersionConflict,
        _latest_version,
        _manifest_entries,
        _new_att,
        _new_seg_id,
        _publish_version,
        _read_segments,
        _seg_buckets,
        _write_manifest,
        _write_segment,
    )

    root = f"{path}/{_ANN_CODES_ROOT}"
    last: VersionConflict | None = None
    for _ in range(PUBLISH_RETRIES):
        v = _latest_version(spark, path)
        codes = _ann_pinned_codes(spark, path, v)
        affected = sorted(
            r["cell"]
            for r in codes.join(delete_ids, "vec_id", "left_semi")
            .select("cell")
            .distinct()
            .collect()
        )
        if not affected:
            return []
        hit = set(affected)
        entries = _manifest_entries(spark, path, v)
        kept = _read_segments(
            spark,
            root,
            [e for e in entries if e[1] in hit],
            _ANN_CODES_SCHEMA,
            pcol="cell",
        ).join(delete_ids, "vec_id", "left_anti")
        seg = _new_seg_id()
        att = _new_att()
        _write_segment(
            kept.repartition(len(affected), "cell"), root, seg, pcol="cell"
        )
        survivors = _seg_buckets(spark, root, seg, pcol="cell")
        new_entries = [e for e in entries if e[1] not in hit] + [
            (seg, c) for c in survivors
        ]
        _write_manifest(spark, path, v + 1, new_entries, att)
        try:
            _publish_version(spark, path, v + 1, att)
            return affected
        except VersionConflict as e:
            last = e
    raise last if last is not None else RuntimeError("unreachable")


def ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion through the index store, end to end: build the frozen-
    model store over the full corpus, ERASE the delete set (affected-
    cell rewrite), and serve the fixed top-k from the post-delete
    store.  Output binds the erasure accounting (n_deleted,
    n_cells_rewritten) into the checked rows.

    The oracle restates a REBUILD WITHOUT THE DELETED DOCS — reservoir
    model (delete set is reservoir-disjoint, so retraining reproduces
    it), every surviving vector encoded, probe → ADC → rerank — so a
    green row proves delete-then-serve ≡ rebuild-without-docs exactly:
    the erasure verifiably REACHED the derived store."""
    import shutil
    import tempfile

    emb = _emb(spark, sf_dir)
    dels = emb.filter(_delete_pred()).select("vec_id")
    tmp = tempfile.mkdtemp(prefix="sgraft_ann_delete_")
    try:
        build_index_frozen_full(spark, sf_dir, tmp)
        affected = delete_from_index(spark, tmp, dels)
        tele = dels.agg(
            F.count(F.lit(1)).alias("n_deleted"),
            F.lit(len(affected)).cast("bigint").alias("n_cells_rewritten"),
        )
        centroids, codebook, codes = read_index_versioned(spark, tmp)
        out = (
            topk_from_index(centroids, codebook, codes, emb)
            .crossJoin(F.broadcast(tele))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --- streaming index ingestion (r13, VERDICT r12 #4) -------------------------
#
# The ANN twin of retrieval.bm25_stream_upsert_store: a REAL
# availableNow file stream over the staged corpus drives the certified
# cell-partition upsert per micro-batch, composing the full index from
# an EMPTY store.  The frozen-model discipline is held ACROSS batches:
# the model (centroids + reservoir codebook) is written once by the
# first batch — from the fixed training reservoir, which is a build-
# time artifact independent of batch arrival order — and every batch
# (including the first) only appends codes.


def _ann_stream_sink(
    sf_dir: str, store: str, bdf: DataFrame, bid: int
) -> None:
    """foreachBatch body for the ANN ingest stream: the first applied
    batch initializes the manifest-pinned store (frozen model + v=1
    segment), every later batch runs the certified versioned upsert.
    Redelivery is exactly-once end to end (the
    retrieval._bm25_stream_sink contract, ADVICE r14 #1): the batch id
    rides in the publish marker, so the authoritative skip-check —
    "does any PUBLISHED version carry this bid" — is atomic with the
    version commit; the ``_batches/bid=N`` marker is only a fast
    path.  A crash midway through a batch (before its publish) leaves
    unpinned segment + staged-dir debris for vacuum and the retry
    re-applies against the same latest version."""
    from .retrieval import _fs_of, _published_bids, _published_versions, _store_dir_exists

    sess = bdf.sparkSession
    marker = f"{store}/_batches/bid={bid}"
    if _store_dir_exists(sess, marker):
        return
    if not bdf.isEmpty():
        published = _published_versions(sess, store)
        if published and bid in _published_bids(sess, store):
            pass  # redelivered: a published version carries this bid
        elif not published:
            _init_ann_versioned(sess, sf_dir, store, bdf, bid=bid)
        else:
            upsert_index(sess, sf_dir, store, bdf, bid=bid)
    fs, hp = _fs_of(sess, marker)
    fs.mkdirs(hp)


def _run_ann_upsert_stream(
    spark: SparkSession, sf_dir: str, root: str
) -> None:
    """Stage the corpus feed, run the availableNow ingest stream into
    ``root/store``, and block until it drains (extracted so the
    composition unit can inspect the store the registry query
    deletes)."""
    from .retrieval import N_FEED_FILES

    store = f"{root}/store"
    emb = _emb(spark, sf_dir)
    emb.repartition(N_FEED_FILES).write.parquet(f"{root}/feed")

    def sink(bdf: DataFrame, bid: int) -> None:
        _ann_stream_sink(sf_dir, store, bdf, bid)

    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/feed")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
        if q.isActive:
            raise TimeoutError("ann upsert stream did not drain in 300 s")
    finally:
        if q.isActive:
            try:
                q.stop()
            except Exception:
                pass


def ann_stream_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion into the ANN index store: stage the corpus
    as N_FEED_FILES parquet files, run a real availableNow stream
    (`maxFilesPerTrigger=1` → one micro-batch per file), and let
    ``foreachBatch`` compose the index from an EMPTY store — the first
    batch writes the frozen model, every batch appends its codes into
    affected cells only.  After the stream drains, the fixed top-k is
    served from the composed store and must equal the full-rebuild
    restatement — proving the N-batch cell-append chain COMPOSES under
    the frozen-model discipline (the model never depends on batch
    order).  Output binds n_vecs_indexed (distinct vectors in the
    stored codes) into the checked rows; the per-batch marker chain is
    locked by tests/test_vectorstore.py."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sgraft_ann_stream_")
    try:
        _run_ann_upsert_stream(spark, sf_dir, tmp)
        store = f"{tmp}/store"
        centroids, codebook, codes = read_index_versioned(spark, store)
        nv = codes.select("vec_id").distinct().agg(
            F.count(F.lit(1)).alias("n_vecs_indexed")
        )
        out = (
            topk_from_index(centroids, codebook, codes, _emb(spark, sf_dir))
            .crossJoin(F.broadcast(nv))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def vacuum_ann_store(
    spark: SparkSession, path: str, keep_last: int = 1
) -> int:
    """Retention vacuum for the manifest-pinned ANN store: keep the
    newest ``keep_last`` published versions' manifests, sweep dangling
    unpublished / losing-attempt staged dirs, and garbage-collect
    every code segment no retained manifest pins — the crash-recovery
    + storage-reclaim sweep a 100 TB store runs on a schedule (same
    contract and single-writer assumption as
    retrieval.vacuum_bm25_store; this replaces the r13 junk-file
    sweep, whose in-place layout no longer exists)."""
    from .retrieval import _vacuum_versioned_store

    return _vacuum_versioned_store(
        spark, path, ("manifests",), (_ANN_CODES_ROOT,), keep_last
    )


QUERIES = {
    "ann_index_store": ann_index_store,
    "ann_index_store_batch": ann_index_store_batch,
    "ann_index_upsert": ann_index_upsert,
    "ann_index_compact": ann_index_compact,
    "ann_index_delete": ann_index_delete,
    "ann_stream_upsert_store": ann_stream_upsert_store,
}


def _oracle() -> str:
    """Build + probe + ADC + rerank restated from the base tables (the
    oracle never sees the store).  Reuses the locked clustering PQ CTEs
    and the similarity IVF forms verbatim."""
    from .clustering import _PQ_CTES
    from .similarity import _dot_duck, _norm_duck

    return (
        f"WITH {_PQ_CTES},"
        # IVF: assignment + probe (similarity.py ann_topk_ivf oracle form)
        f" cents AS (SELECT CAST(vec_id - 1 AS INT) AS cell,"
        f" embedding AS c_emb FROM embeddings"
        f" WHERE vec_id BETWEEN 1 AND {N_CELLS}),"
        f" iscored AS (SELECT e.vec_id, c.cell,"
        f" {_dot_duck('e.embedding', 'c.c_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('c.c_emb')}) AS c_cos"
        f" FROM embeddings e CROSS JOIN cents c),"
        f" assign AS (SELECT vec_id, cell FROM"
        f" (SELECT vec_id, cell, ROW_NUMBER() OVER"
        f" (PARTITION BY vec_id ORDER BY c_cos DESC, cell) AS rn"
        f" FROM iscored) WHERE rn = 1),"
        f" qv AS (SELECT embedding AS q_emb FROM embeddings"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        f" probe AS (SELECT cell FROM cents, qv"
        f" ORDER BY {_dot_duck('c_emb', 'q_emb')} /"
        f" ({_norm_duck('c_emb')} * {_norm_duck('q_emb')}) DESC, cell"
        f" LIMIT {N_PROBE}),"
        # ADC over probed cells (clustering.py ann_topk_pq oracle form)
        f" qs AS (SELECT m, sub AS qsub FROM sub"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        " adc AS (SELECT c.vec_id,"
        " CAST(SUM(CAST(FLOOR(list_reduce(list_prepend("
        " CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {SUBDIM} + 1),"
        " i -> (qs.qsub[i] - cb.carr[i]) * (qs.qsub[i] - cb.carr[i]))),"
        f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT))"
        " AS BIGINT) AS dist_q"
        " FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
        " JOIN qs ON qs.m = c.m"
        " JOIN assign a ON a.vec_id = c.vec_id"
        " WHERE a.cell IN (SELECT cell FROM probe)"
        f" AND c.vec_id != {QUERY_VEC_ID}"
        " GROUP BY c.vec_id),"
        f" cand AS (SELECT vec_id FROM adc"
        f" ORDER BY dist_q, vec_id LIMIT {CAND_K})"
        # exact rerank (similarity.py ann_topk_ivf oracle form)
        f" SELECT e.vec_id, e.label,"
        f" {_dot_duck('e.embedding', 'q_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('q_emb')}) AS cosine"
        f" FROM embeddings e JOIN cand USING (vec_id), qv"
        f" ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}"
    )


def _batch_oracle() -> str:
    """The batch run restated from the base tables: per-query probe →
    probed-cell ADC → CAND_K → exact rerank, every per-query stage a
    ROW_NUMBER window (the same tie-breaks as the Spark windows)."""
    from .clustering import _PQ_CTES
    from .similarity import _dot_duck, _norm_duck

    return (
        f"WITH {_PQ_CTES},"
        f" cents AS (SELECT CAST(vec_id - 1 AS INT) AS cell,"
        f" embedding AS c_emb FROM embeddings"
        f" WHERE vec_id BETWEEN 1 AND {N_CELLS}),"
        f" iscored AS (SELECT e.vec_id, c.cell,"
        f" {_dot_duck('e.embedding', 'c.c_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('c.c_emb')}) AS c_cos"
        f" FROM embeddings e CROSS JOIN cents c),"
        f" assign AS (SELECT vec_id, cell FROM"
        f" (SELECT vec_id, cell, ROW_NUMBER() OVER"
        f" (PARTITION BY vec_id ORDER BY c_cos DESC, cell) AS rn"
        f" FROM iscored) WHERE rn = 1),"
        f" qb AS (SELECT vec_id AS q_id, embedding AS q_emb"
        f" FROM embeddings WHERE vec_id < {N_BATCH_QUERIES}),"
        f" probe AS (SELECT q_id, cell FROM"
        f" (SELECT q.q_id, c.cell, ROW_NUMBER() OVER"
        f" (PARTITION BY q.q_id ORDER BY"
        f" {_dot_duck('c.c_emb', 'q.q_emb')} /"
        f" ({_norm_duck('c.c_emb')} * {_norm_duck('q.q_emb')}) DESC,"
        f" c.cell) AS rn FROM cents c CROSS JOIN qb q)"
        f" WHERE rn <= {N_PROBE}),"
        f" qs AS (SELECT vec_id AS q_id, m, sub AS qsub FROM sub"
        f" WHERE vec_id < {N_BATCH_QUERIES}),"
        " adc AS (SELECT p.q_id, c.vec_id,"
        " CAST(SUM(CAST(FLOOR(list_reduce(list_prepend("
        " CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {SUBDIM} + 1),"
        " i -> (qs.qsub[i] - cb.carr[i]) * (qs.qsub[i] - cb.carr[i]))),"
        f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT))"
        " AS BIGINT) AS dist_q"
        " FROM codes c JOIN assign a ON a.vec_id = c.vec_id"
        " JOIN probe p ON p.cell = a.cell"
        " JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
        " JOIN qs ON qs.q_id = p.q_id AND qs.m = c.m"
        f" WHERE c.vec_id >= {N_BATCH_QUERIES}"
        " GROUP BY p.q_id, c.vec_id),"
        f" cand AS (SELECT q_id, vec_id FROM"
        f" (SELECT q_id, vec_id, ROW_NUMBER() OVER"
        f" (PARTITION BY q_id ORDER BY dist_q, vec_id) AS rn FROM adc)"
        f" WHERE rn <= {CAND_K}),"
        " rr AS (SELECT cand.q_id, e.vec_id, e.label,"
        f" {_dot_duck('e.embedding', 'q.q_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('q.q_emb')})"
        " AS cosine FROM cand JOIN embeddings e USING (vec_id)"
        " JOIN qb q ON q.q_id = cand.q_id)"
        " SELECT q_id, vec_id, label, cosine FROM"
        " (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id"
        " ORDER BY cosine DESC, vec_id) AS rk FROM rr)"
        f" WHERE rk <= {TOP_K} ORDER BY q_id, cosine DESC, vec_id"
    )


def _upsert_oracle() -> str:
    """The FULL-REBUILD restatement of the upserted store: reservoir-
    trained codebook (batch-invariant, so retraining reproduces the
    frozen model), every vector encoded, probe → ADC → rerank, plus the
    upsert telemetry — proving upsert-then-serve ≡ rebuild-then-serve."""
    from .clustering import _PQ_CTES
    from .similarity import _dot_duck, _norm_duck

    d1_full = "FROM sub s JOIN seed c ON c.m = s.m),"
    if _PQ_CTES.count(d1_full) != 1:  # locked-text surgery guard
        raise AssertionError("PQ CTE shape changed; update _upsert_oracle")
    pq_reservoir = _PQ_CTES.replace(
        d1_full,
        f"FROM sub s JOIN seed c ON c.m = s.m"
        f" WHERE s.vec_id < {TRAIN_CAP}),",
    )
    batch_pred = (
        f"vec_id % {UPSERT_MOD} = {UPSERT_RES} AND vec_id >= {TRAIN_CAP}"
    )
    return (
        f"WITH {pq_reservoir},"
        f" cents AS (SELECT CAST(vec_id - 1 AS INT) AS cell,"
        f" embedding AS c_emb FROM embeddings"
        f" WHERE vec_id BETWEEN 1 AND {N_CELLS}),"
        f" iscored AS (SELECT e.vec_id, c.cell,"
        f" {_dot_duck('e.embedding', 'c.c_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('c.c_emb')}) AS c_cos"
        f" FROM embeddings e CROSS JOIN cents c),"
        f" assign AS (SELECT vec_id, cell FROM"
        f" (SELECT vec_id, cell, ROW_NUMBER() OVER"
        f" (PARTITION BY vec_id ORDER BY c_cos DESC, cell) AS rn"
        f" FROM iscored) WHERE rn = 1),"
        f" up AS (SELECT COUNT(*) AS n_upserted,"
        f" COUNT(DISTINCT cell) AS n_cells_touched FROM assign"
        f" WHERE {batch_pred}),"
        f" qv AS (SELECT embedding AS q_emb FROM embeddings"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        f" probe AS (SELECT cell FROM cents, qv"
        f" ORDER BY {_dot_duck('c_emb', 'q_emb')} /"
        f" ({_norm_duck('c_emb')} * {_norm_duck('q_emb')}) DESC, cell"
        f" LIMIT {N_PROBE}),"
        f" qs AS (SELECT m, sub AS qsub FROM sub"
        f" WHERE vec_id = {QUERY_VEC_ID}),"
        " adc AS (SELECT c.vec_id,"
        " CAST(SUM(CAST(FLOOR(list_reduce(list_prepend("
        " CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {SUBDIM} + 1),"
        " i -> (qs.qsub[i] - cb.carr[i]) * (qs.qsub[i] - cb.carr[i]))),"
        f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT))"
        " AS BIGINT) AS dist_q"
        " FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
        " JOIN qs ON qs.m = c.m"
        " JOIN assign a ON a.vec_id = c.vec_id"
        " WHERE a.cell IN (SELECT cell FROM probe)"
        f" AND c.vec_id != {QUERY_VEC_ID}"
        " GROUP BY c.vec_id),"
        f" cand AS (SELECT vec_id FROM adc"
        f" ORDER BY dist_q, vec_id LIMIT {CAND_K})"
        f" SELECT e.vec_id, e.label,"
        f" {_dot_duck('e.embedding', 'q_emb')} /"
        f" ({_norm_duck('e.embedding')} * {_norm_duck('q_emb')}) AS cosine,"
        f" up.n_upserted, up.n_cells_touched"
        f" FROM embeddings e JOIN cand USING (vec_id), qv, up"
        f" ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}"
    )


def _compact_oracle() -> str:
    """Compaction is a pure physical rewrite, so its oracle IS the
    upsert oracle with only the telemetry column swapped — proving the
    served results are unchanged by the rewrite."""
    o = _upsert_oracle()
    old_sel = " up.n_upserted, up.n_cells_touched"
    if o.count(old_sel) != 1:  # text-surgery guard
        raise AssertionError("upsert oracle shape changed; update compact")
    return o.replace(old_sel, " up.n_cells_touched AS n_cells_compacted")


def _delete_oracle() -> str:
    """The REBUILD-WITHOUT-THE-DOCS restatement: same frozen reservoir
    model (the delete set is reservoir-disjoint, so retraining
    reproduces it), ADC over the surviving vectors only, plus the
    erasure accounting — proving delete-then-serve ≡
    rebuild-without-docs."""
    o = _upsert_oracle()
    batch_pred = (
        f"vec_id % {UPSERT_MOD} = {UPSERT_RES} AND vec_id >= {TRAIN_CAP}"
    )
    del_pred = (
        f"vec_id % {DELETE_MOD} = {DELETE_RES} AND vec_id >= {TRAIN_CAP}"
    )
    up_cte = (
        f"up AS (SELECT COUNT(*) AS n_upserted,"
        f" COUNT(DISTINCT cell) AS n_cells_touched FROM assign"
        f" WHERE {batch_pred}),"
    )
    if o.count(up_cte) != 1:  # locked-text surgery guard
        raise AssertionError("upsert oracle shape changed; update delete")
    o = o.replace(
        up_cte,
        f"up AS (SELECT COUNT(*) AS n_deleted,"
        f" COUNT(DISTINCT cell) AS n_cells_rewritten FROM assign"
        f" WHERE {del_pred}),",
    )
    adc_anchor = f" AND c.vec_id != {QUERY_VEC_ID}"
    if o.count(adc_anchor) != 1:
        raise AssertionError("ADC filter shape changed; update delete")
    o = o.replace(
        adc_anchor,
        adc_anchor
        + f" AND NOT (c.vec_id % {DELETE_MOD} = {DELETE_RES}"
        + f" AND c.vec_id >= {TRAIN_CAP})",
    )
    old_sel = " up.n_upserted, up.n_cells_touched"
    if o.count(old_sel) != 1:
        raise AssertionError("telemetry select shape changed; update delete")
    return o.replace(old_sel, " up.n_deleted, up.n_cells_rewritten")


def _stream_oracle() -> str:
    """The full-rebuild restatement of the stream-composed store: the
    staged feed is the whole corpus, so the rebuild is the reservoir-
    model encode of EVERY vector — the upsert oracle's serving text
    with the telemetry swapped to the corpus count."""
    o = _upsert_oracle()
    batch_pred = (
        f"vec_id % {UPSERT_MOD} = {UPSERT_RES} AND vec_id >= {TRAIN_CAP}"
    )
    up_cte = (
        f"up AS (SELECT COUNT(*) AS n_upserted,"
        f" COUNT(DISTINCT cell) AS n_cells_touched FROM assign"
        f" WHERE {batch_pred}),"
    )
    if o.count(up_cte) != 1:  # locked-text surgery guard
        raise AssertionError("upsert oracle shape changed; update stream")
    o = o.replace(
        up_cte,
        "up AS (SELECT COUNT(*) AS n_vecs_indexed FROM embeddings),",
    )
    old_sel = " up.n_upserted, up.n_cells_touched"
    if o.count(old_sel) != 1:
        raise AssertionError("telemetry select shape changed; update stream")
    return o.replace(old_sel, " up.n_vecs_indexed")


ORACLES = {
    "ann_index_store": _oracle(),
    "ann_index_store_batch": _batch_oracle(),
    "ann_index_upsert": _upsert_oracle(),
    "ann_index_compact": _compact_oracle(),
    "ann_index_delete": _delete_oracle(),
    "ann_stream_upsert_store": _stream_oracle(),
}


# --- interleaved CRUD chain certification (r13) ------------------------------
#
# The ANN twin of retrieval.bm25_crud_chain: one representative
# production interleaving driven end to end — build the frozen-model
# store on the base corpus (ingest batch held out), upsert the batch,
# ERASE the delete set, compact the upsert-affected cells — and the
# final serve must equal the rebuild-without-the-deleted-docs
# restatement.  The net relation is exactly ann_index_delete's
# ((corpus − batch) + batch − dels = corpus − dels, with the frozen
# model invariant across every leg), so the oracle is the SAME
# delete oracle — a green row proves the append/rewrite/coalesce
# algebra COMPOSES, not just that each leg works from a fresh store.


def ann_crud_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = _emb(spark, sf_dir)
    batch = emb.filter(_upsert_batch_pred())
    dels = emb.filter(_delete_pred()).select("vec_id")
    tmp = tempfile.mkdtemp(prefix="sgraft_ann_crud_")
    try:
        build_index_frozen(spark, sf_dir, tmp)
        upsert_index(spark, sf_dir, tmp, batch)
        affected_del = delete_from_index(spark, tmp, dels)
        centroids = spark.read.parquet(f"{tmp}/centroids")
        batch_cells = [
            r["cell"]
            for r in _assign_cells(batch, centroids)
            .select("cell")
            .distinct()
            .collect()
        ]
        compact_index_cells(spark, tmp, batch_cells)
        from .retrieval import _latest_version

        # retention vacuum (result unused) runs concurrently with the
        # serve of the latest version (optimization r16, guide §2.6):
        # vacuum retains exactly the version served — manifest, model
        # tables and every pinned segment — so the reader is
        # undisturbed by construction; joined before teardown.
        from concurrent.futures import ThreadPoolExecutor

        v = _latest_version(spark, tmp)
        with ThreadPoolExecutor(max_workers=1) as _pool:
            _vac = _pool.submit(vacuum_ann_store, spark, tmp, keep_last=1)
            tele = dels.agg(
                F.count(F.lit(1)).alias("n_deleted"),
                F.lit(len(affected_del)).cast("bigint").alias(
                    "n_cells_rewritten"
                ),
            )
            centroids2, codebook, codes = read_index_versioned(
                spark, tmp, v
            )
            out = (
                topk_from_index(centroids2, codebook, codes, emb)
                .crossJoin(F.broadcast(tele))
                .withColumn("final_version", F.lit(v).cast("bigint"))
                .localCheckpoint(eager=True)
            )
            _vac.result()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES["ann_crud_chain"] = ann_crud_chain
# the chain's content equals delete-from-full (upsert batch and delete
# set are disjoint), so the delete oracle restates it; the r15 manifest
# upgrade adds the version accounting: init=1, upsert=2, delete=3,
# compact snapshot=4, vacuum(keep_last=1) retains it → final_version 4.
ORACLES["ann_crud_chain"] = (
    "SELECT t.*, CAST(4 AS BIGINT) AS final_version FROM ("
    + _delete_oracle()
    + ") t"
)
