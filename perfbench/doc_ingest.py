"""``doc_ingest``: ingest one pre-generated file set per op.

An op runs the engine's ingest flow on one directory of .txt/.md/.pdf
files: ``sources.docs.ingest_documents`` (binaryFile → extract →
normalize → chunk 800/120), materialized; then
``sources.embedder.embed_chunks`` over those chunks, materialized; then a
cosine top-k of a seeded query over the fresh chunk vectors.  The file
sets are generated at setup; ops visit them in a seeded order.
"""

from __future__ import annotations

import math
import os

import numpy as np

from .common import CheckFailed, Op, warm_up
from .datagen import VOCAB
from .docfiles import make_file_sets
from .spans import python_udf_ms

N_SETS = 12
TOP_K = 5
EMBED_SAMPLES = 3  # chunks per op whose vectors are recomputed and compared
# the engine's mapInPandas functions, as they appear in a perf profile
PY_FUNCS = {"_extract_pages": "extract", "local_embed_texts": "embed"}


def schedule(seed: int, n_ops: int) -> list[Op]:
    rng = np.random.default_rng([seed, 0x1D6])
    ops: list[Op] = []
    while len(ops) < n_ops:
        for s in rng.permutation(N_SETS):
            words = rng.choice(VOCAB, int(rng.integers(2, 6))).tolist()
            ops.append(Op("ingest", "other", (int(s), " ".join(words))))
    return ops[:n_ops]


def _cosine_sql(q: list[float]) -> str:
    """Cosine of ``embedding`` with the literal query vector, as a
    left-to-right fold in double precision."""
    lit = "array(" + ", ".join(f"{float(x)!r}D" for x in q) + ")"
    dot = (
        f"aggregate(zip_with(embedding, {lit}, (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    norm = (
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    qnorm = math.sqrt(_fold([float(x) * float(x) for x in q]))
    return f"{dot} / ({norm} * {qnorm!r}D)"


def _fold(values) -> float:
    acc = 0.0
    for v in values:
        acc += v
    return acc


class DocIngest:
    name = "doc_ingest"
    block = 1
    block_seconds = 1.3  # nominal op time of one op on a 4-core machine, in seconds

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = schedule(ctx.seed, 5000)
        self.chars = 0  # extracted characters of the ops that completed

    def setup(self) -> None:
        """Write the file sets, then ingest one extra set: the first
        ingest starts the Python workers."""
        out = os.path.join(self.ctx.work_dir, "files")
        self.sets = make_file_sets(self.ctx.data_dir, out, self.ctx.seed, N_SETS + 1)
        self.ctx.facts["chars_per_op"] = sum(s.chars for s in self.sets[:N_SETS]) / N_SETS
        warm_up(self, [Op("ingest", "other", (N_SETS, "spark window"))])
        self.chars = 0

    def run(self, op: Op):
        from pyspark.sql import functions as F

        from intellect_bi_spark.sources import docs, embedder

        spark, t = self.ctx.spark, self.ctx.tracer
        fs = self.sets[op.args[0]]
        with t.span("sources.docs.extract"):
            chunks = docs.ingest_documents(spark, fs.path).cache()
            n = chunks.count()
            if t.enabled:
                self._note_python(t, "sources.docs.extract_py_ms")
                t.note("sources.docs.chunks", n)
        with t.span("sources.embedder.embed"):
            emb = embedder.embed_chunks(chunks).cache()
            emb.count()
            if t.enabled:
                self._note_python(t, "sources.embedder.embed_py_ms")
                # computed: chunk text in, float32 vectors out
                t.note("sources.embedder.arrow_bytes", fs.chunk_chars() + n * 4 * embedder.EMBED_DIM)
        q = embedder.local_embed_texts([op.args[1]])[0].tolist()
        with t.span("read.topk"):
            top = (
                emb.select("chunk_id", F.expr(_cosine_sql(q)).alias("cosine"))
                .orderBy(F.desc("cosine"), "chunk_id")
                .limit(TOP_K)
                .collect()
            )
        return chunks, emb, q, top

    def _note_python(self, t, key: str) -> None:
        py = python_udf_ms(self.ctx.spark, PY_FUNCS)
        if py:  # else the per-layer value falls back to stage run time
            t.note(key, sum(py.values()))

    def check(self, op: Op, out) -> None:
        from intellect_bi_spark.sources.embedder import local_embed_texts

        chunks, emb, q, top = out
        try:
            fs = self.sets[op.args[0]]
            rows = chunks.select("chunk_id", "path", "page", "chunk").collect()
            got: dict = {}
            for r in rows:
                key = (os.path.basename(r["path"]), r["page"])
                got[key] = got.get(key, 0) + 1
            want = fs.expected_chunks()
            if got != want:
                raise CheckFailed(f"chunk counts {got} != expected {want}")
            vecs = {r["chunk_id"]: r["embedding"] for r in emb.collect()}
            rng = np.random.default_rng([self.ctx.seed, len(rows)])
            for i in rng.choice(len(rows), min(EMBED_SAMPLES, len(rows)), replace=False):
                r = rows[int(i)]
                ref = local_embed_texts([r["chunk"]])[0]
                if not np.array_equal(np.asarray(vecs[r["chunk_id"]], np.float32), ref):
                    raise CheckFailed(f"embedding of {r['chunk_id']} differs")
            qn = math.sqrt(_fold([x * x for x in q]))
            scored = sorted(
                (
                    -_fold(float(e) * y for e, y in zip(v, q))
                    / (math.sqrt(_fold(float(e) * float(e) for e in v)) * qn),
                    cid,
                )
                for cid, v in vecs.items()
            )
            if [c for _s, c in scored[:TOP_K]] != [r["chunk_id"] for r in top]:
                raise CheckFailed("top-k over fresh chunks differs from recomputation")
            self.chars += fs.chars
        finally:
            chunks.unpersist()
            emb.unpersist()

    def finish(self, traced: bool) -> list[str]:
        return []

    def layer_facts(self) -> dict:
        return {}
