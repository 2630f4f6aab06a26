"""``store_churn``: a seeded read/write sequence against the versioned
BM25, ANN and sketch stores.

At setup each store is built from its base corpus minus a held-out pool
(the engine's own held-out residue class: ``doc_id % 10 == 7``,
``vec_id % 10 == 7 and vec_id >= 64``; for the sketch store,
``user_id % 10 == 7``).  The pool splits into three batches by residue
mod 30 (7, 17, 27).  The warm-up upserts one batch into each store and
reads each kind once.

The op sequence repeats one block of eight writes: upsert a batch that is
not live into the BM25, ANN and sketch store in turn, delete one of the
two live batches from each in turn (so every store keeps one or two
batches live and its state stays bounded), then compact all three
stores, then vacuum all three.  Each write is followed by two reads of
the latest versions; every four reads cover the four read kinds (BM25
serve, BM25 batch serve, ANN top-k, sketch rollup serve) once.  The
block ends with one document ingest: a new file set goes through the
engine's ingest flow (:mod:`.doc_ingest`), the Python-worker path the
store ops never start.  The seed picks the batches, the read order, the
ANN query vectors, the file set and its query.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from . import doc_ingest
from .checks import rowset_hash
from .common import CheckFailed, Op, dir_bytes, dir_files, parallel, warm_up

STORES = ("bm25", "ann", "sketch")
BATCHES = (7, 17, 27)  # residues mod 30 of the held-out pool
READS = ("serve_bm25", "serve_bm25_batch", "serve_ann", "serve_sketch")
LAYER = {
    "bm25": "operators.retrieval",
    "ann": "operators.vectorstore",
    "sketch": "operators.sketches",
}
TRAIN_CAP = 64  # vectorstore's codebook reservoir: never held out
N_VECS = 600
BLOCK = 25  # ops per block: 8 writes, each followed by 2 reads; 1 ingest


def first_batches(seed: int) -> dict[str, int]:
    """The batch the warm-up upserts into each store."""
    rng = np.random.default_rng([seed, 0xB0])
    return {s: int(rng.choice(BATCHES)) for s in STORES}


def schedule(seed: int, n_ops: int) -> list[Op]:
    rng = np.random.default_rng([seed, 0xC4A2])
    live = {s: [b] for s, b in first_batches(seed).items()}
    ingests = iter(doc_ingest.schedule(seed, n_ops))
    ops: list[Op] = []
    reads: list[str] = []
    while len(ops) < n_ops:
        writes = []
        for s in STORES:
            b = int(rng.choice([b for b in BATCHES if b not in live[s]]))
            live[s].append(b)
            writes.append(Op("upsert", "write", (s, b)))
        for s in STORES:
            b = int(rng.choice(live[s]))
            live[s].remove(b)
            writes.append(Op("delete", "write", (s, b)))
        writes += [Op("compact", "write"), Op("vacuum", "write")]
        for w in writes:
            ops.append(w)
            for _ in range(2):
                if not reads:
                    reads = [READS[i] for i in rng.permutation(len(READS))]
                kind = reads.pop()
                args = (int(rng.integers(0, N_VECS)),) if kind == "serve_ann" else ()
                ops.append(Op(kind, "read", args))
        ops.append(next(ingests))
    return ops[:n_ops]


class StoreChurn:
    name = "store_churn"
    block = BLOCK
    block_seconds = 28.0  # nominal op time of one block on a 4-core machine, in seconds

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = schedule(ctx.seed, 5000)
        self.live = {s: set() for s in STORES}
        self.paths = {s: os.path.join(ctx.work_dir, "stores", s) for s in STORES}
        self.written = 0  # bytes of new files the traced writes created
        self.input_bytes = 0  # in-memory Arrow bytes of the batches they upserted
        self.ingest = doc_ingest.DocIngest(ctx)

    @property
    def chars(self) -> int:
        return self.ingest.chars

    # -- corpus bookkeeping ------------------------------------------------
    def _load_frames(self):
        from pyspark.sql import functions as F

        from intellect_bi_spark import catalog

        tables = catalog.load_tables(self.ctx.spark, self.ctx.data_dir)
        self.frames = {
            "bm25": tables["documents"].select("doc_id", "text"),
            "ann": tables["embeddings"],
            "sketch": tables["events"].filter(
                F.col("user_id").isNotNull() & F.col("ts").isNotNull()
            ),
        }
        self.emb = tables["embeddings"]
        self.key = {"bm25": "doc_id", "ann": "vec_id", "sketch": "user_id"}
        d = self.ctx.data_dir
        self.arrow = {
            "bm25": pq.read_table(os.path.join(d, "documents.parquet"), columns=["doc_id", "text"]),
            "ann": pq.read_table(os.path.join(d, "embeddings.parquet")),
            "sketch": pq.read_table(os.path.join(d, "events.parquet")),
        }
        self.ids = {s: np.asarray(self.arrow[s].column(self.key[s])) for s in STORES}

    def _in_pool(self, store: str, ids: np.ndarray, mod: int = 10, res=(7,)) -> np.ndarray:
        m = np.isin(ids % mod, res)
        return m & (ids >= TRAIN_CAP) if store == "ann" else m

    def _pred(self, store: str, mod: int, res):
        from pyspark.sql import functions as F

        p = (F.col(self.key[store]) % mod).isin(list(res))
        return p & (F.col("vec_id") >= TRAIN_CAP) if store == "ann" else p

    def _batch(self, store: str, b: int):
        return self.frames[store].filter(self._pred(store, 30, (b,)))

    def _logical(self, store: str):
        """The store's logical corpus: base plus the live batches."""
        live = tuple(self.live[store]) or (-1,)
        return self.frames[store].filter(
            ~self._pred(store, 10, (7,)) | self._pred(store, 30, live)
        )

    def _live_mask(self, store: str) -> np.ndarray:
        ids = self.ids[store]
        return ~self._in_pool(store, ids) | self._in_pool(store, ids, 30, tuple(self.live[store]))

    # -- setup -------------------------------------------------------------
    def setup(self) -> None:
        from intellect_bi_spark.operators import retrieval, sketches, vectorstore

        spark, d = self.ctx.spark, self.ctx.data_dir
        self._load_frames()
        p = self.paths
        parallel(
            lambda: retrieval.build_bm25_index_v2(spark, d, p["bm25"]),
            lambda: vectorstore.build_index_frozen(spark, d, p["ann"]),
            # the sketch module has no public held-out builder
            lambda: sketches._init_sketch_store(self._logical("sketch"), p["sketch"]),
            # file sets, and the ingest warm-up that starts the Python workers
            self.ingest.setup,
        )
        self.calls = {
            ("upsert", "bm25"): lambda b: retrieval.upsert_bm25_index(
                spark, p["bm25"], self._batch("bm25", b)),
            ("upsert", "ann"): lambda b: vectorstore.upsert_index(
                spark, d, p["ann"], self._batch("ann", b)),
            ("upsert", "sketch"): lambda b: sketches.upsert_sketch_rollup_store(
                self._batch("sketch", b), p["sketch"]),
            ("delete", "bm25"): lambda b: retrieval.delete_from_bm25_index(
                spark, p["bm25"], self._batch("bm25", b)),
            ("delete", "ann"): lambda b: vectorstore.delete_from_index(
                spark, p["ann"], self._batch("ann", b).select("vec_id")),
            # the sketch rollup cannot subtract: the delete re-derives the
            # affected days from the logical events, batch still included
            ("delete", "sketch"): lambda b: sketches.delete_users_from_sketch_store(
                spark, p["sketch"], self._logical("sketch"), self._pred("sketch", 30, (b,))),
            ("compact", "bm25"): lambda: retrieval.compact_bm25_buckets(
                spark, p["bm25"], range(retrieval.N_TB)),
            ("compact", "ann"): lambda: vectorstore.compact_index_cells(
                spark, p["ann"], range(vectorstore.N_CELLS)),
            ("compact", "sketch"): lambda: sketches.compact_sketch_store(spark, p["sketch"]),
            ("vacuum", "bm25"): lambda: retrieval.vacuum_bm25_store(spark, p["bm25"], keep_last=1),
            ("vacuum", "ann"): lambda: vectorstore.vacuum_ann_store(spark, p["ann"], keep_last=1),
            ("vacuum", "sketch"): lambda: sketches.vacuum_sketch_store(
                spark, p["sketch"], keep_last=1),
        }
        self._warm_up()

    def _warm_up(self) -> None:
        """Upsert the first batch into each store, then read each kind
        once; the stores are independent, so each step runs in parallel."""
        first = first_batches(self.ctx.seed)
        parallel(*[lambda s=s: warm_up(self, [Op("upsert", "write", (s, first[s]))]) for s in STORES])
        parallel(*[
            lambda k=k: warm_up(self, [Op(k, "read", (1,) if k == "serve_ann" else ())])
            for k in READS
        ])

    # -- ops ---------------------------------------------------------------
    def run(self, op: Op):
        if op.kind == "ingest":
            return self.ingest.run(op)
        if op.cls == "write":
            return self._write(op)
        return getattr(self, f"_{op.kind}")(*op.args)

    def _write(self, op: Op):
        t = self.ctx.tracer
        root = os.path.join(self.ctx.work_dir, "stores")
        before = dir_files(root) if t.enabled else None
        if op.kind in ("upsert", "delete"):
            store, b = op.args
            with t.span(f"{LAYER[store]}.{op.kind}"):
                self.calls[op.kind, store](b)
            (self.live[store].add if op.kind == "upsert" else self.live[store].discard)(b)
        else:  # a maintenance pass over every store
            for store in STORES:
                with t.span(f"{LAYER[store]}.{op.kind}"):
                    self.calls[op.kind, store]()
        if before is not None:
            after = dir_files(root)
            self.written += sum(s for p, s in after.items() if p not in before)
            if op.kind == "upsert":
                store, b = op.args
                mask = self._in_pool(store, self.ids[store], 30, (b,))
                self.input_bytes += self.arrow[store].filter(mask).nbytes
        return None

    def _serve(self, span: str, make_df):
        dfs: list = []
        with self.ctx.tracer.span(span, dfs):
            df = make_df()
            dfs.append(df)
            return df.columns, df.collect()

    def _serve_bm25(self, path=None):
        from intellect_bi_spark.operators import retrieval

        return self._serve("operators.retrieval.serve", lambda: retrieval.serve_bm25_v2(
            self.ctx.spark, path or self.paths["bm25"]))

    def _serve_bm25_batch(self, path=None):
        from intellect_bi_spark.operators import retrieval

        return self._serve("operators.retrieval.serve", lambda: retrieval.serve_bm25_batch_from_store(
            self.ctx.spark, path or self.paths["bm25"]))

    def _serve_ann(self, vec_id, path=None):
        from intellect_bi_spark.operators import vectorstore

        return self._serve("operators.vectorstore.serve", lambda: vectorstore.topk_from_index(
            *vectorstore.read_index_versioned(self.ctx.spark, path or self.paths["ann"]),
            self.emb, query_vec_id=vec_id))

    def _serve_sketch(self, path=None):
        from intellect_bi_spark.operators import sketches

        return self._serve("operators.sketches.serve", lambda: sketches.serve_sketch_rollup_from_store(
            self.ctx.spark, path or self.paths["sketch"]))

    # -- checks (untimed) --------------------------------------------------
    def check(self, op: Op, out) -> None:
        """No doc, vector or user deleted in a published version may show
        in a later serve: served ids must be live, and the sketch serve's
        exact event counts must be those of the live events."""
        if op.kind == "ingest":
            self.ingest.check(op, out)
            return
        if op.cls == "write":
            return
        _cols, rows = out
        if op.kind == "serve_sketch":
            types = np.asarray(self.arrow["sketch"].column("event_type"))[self._live_mask("sketch")]
            kinds, counts = np.unique(types, return_counts=True)
            want = dict(zip(kinds.tolist(), counts.tolist()))
            got = {r["event_type"]: r["n_events"] for r in rows}
            if got != want:
                raise CheckFailed(f"sketch serve counts {got} != live events {want}")
            return
        store, key = ("ann", "vec_id") if op.kind == "serve_ann" else ("bm25", "doc_id")
        live = set(self.ids[store][self._live_mask(store)].tolist())
        dead = {r[key] for r in rows} - live
        if dead:
            raise CheckFailed(f"{op.kind} served deleted ids {sorted(dead)[:5]}")

    def finish(self, traced: bool) -> list[str]:
        """Each store must serve what a fresh build of its final logical
        corpus serves.  Also measures space amplification and, in a
        traced run, live files and the debris a vacuum reclaims."""
        from intellect_bi_spark.operators import retrieval, sketches, vectorstore

        spark = self.ctx.spark
        fresh = {s: os.path.join(self.ctx.work_dir, "fresh", s) for s in STORES}
        parallel(
            lambda: retrieval._init_bm25_store(self._logical("bm25"), fresh["bm25"]),
            lambda: vectorstore._init_ann_versioned(
                spark, self.ctx.data_dir, fresh["ann"], self._logical("ann")
            ),
            lambda: sketches._init_sketch_store(self._logical("sketch"), fresh["sketch"]),
        )
        serves = [
            ("bm25", self._serve_bm25),
            ("bm25", self._serve_bm25_batch),
            ("sketch", self._serve_sketch),
            ("ann", lambda path: self._serve_ann(123, path)),
        ]

        def same(store, serve) -> bool:
            return rowset_hash(*serve(path=self.paths[store])) == rowset_hash(
                *serve(path=fresh[store])
            )

        failures = [
            f"{store} store serve differs from a fresh build"
            for (store, _), ok in zip(serves, parallel(*[lambda s=s: same(*s) for s in serves]))
            if not ok
        ]
        used = sum(dir_bytes(self.paths[s]) for s in STORES)
        self.ctx.facts["store_space_amp"] = used / sum(dir_bytes(fresh[s]) for s in STORES)
        if traced:
            self.ctx.facts["store.live_files"] = sum(len(dir_files(self.paths[s])) for s in STORES)
            for s in STORES:
                self.calls["vacuum", s]()
            self.ctx.facts["store.debris_bytes"] = used - sum(
                dir_bytes(self.paths[s]) for s in STORES
            )
        return failures

    def layer_facts(self) -> dict:
        return {
            "store.bytes_written_per_input_byte": (
                self.written / self.input_bytes if self.input_bytes else 0.0
            ),
        }
