#!/usr/bin/env python
"""Probe: phase decomposition of one stream-upsert chain (feed staging +
stream with per-batch addBatch / serve) — run for bm25, ann, sketch, or
phrase.

Usage: python tools/probe_chain_phases.py [bm25|ann|sketch|phrase] [reps]
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intellect_bi_spark.session import get_spark  # noqa: E402


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "bm25"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe_chain_phases")
    from pyspark.sql import functions as F

    from intellect_bi_spark.catalog import load_tables
    from intellect_bi_spark.operators import retrieval, sketches, vectorstore
    from intellect_bi_spark.operators.vstore import run_upsert_stream

    # (feed frame, init, upsert, serve of the drained store)
    if which == "bm25":
        feed_df = lambda: retrieval._base_docs(spark, sf_dir)  # noqa: E731
        init, upsert = retrieval._init_bm25_store, retrieval._bm25_stream_upsert

        def serve(store):
            retrieval.serve_bm25_v2(spark, store).collect()
    elif which == "phrase":
        feed_df = lambda: retrieval._base_docs(spark, sf_dir)  # noqa: E731
        init, upsert = retrieval._init_pos_store, retrieval._pos_stream_upsert

        def serve(store):
            retrieval._pos_probes_from_store(spark, store).collect()
    elif which == "sketch":
        def feed_df():
            return load_tables(spark, sf_dir)["events"].filter(
                F.col("user_id").isNotNull() & F.col("ts").isNotNull()
            )
        init, upsert = (
            sketches._init_sketch_store, sketches.upsert_sketch_rollup_store
        )

        def serve(store):
            sketches.serve_sketch_rollup_from_store(spark, store).collect()
    elif which == "ann":
        feed_df = lambda: vectorstore._emb(spark, sf_dir)  # noqa: E731
        init, upsert = vectorstore._ann_stream_callbacks(sf_dir)

        def serve(store):
            vectorstore.topk_from_index(
                *vectorstore.read_index_versioned(spark, store),
                vectorstore._emb(spark, sf_dir),
            ).collect()
    else:
        raise SystemExit(f"unsupported: {which}")

    phases_all = []
    for rep in range(reps):
        tmp = tempfile.mkdtemp(prefix=f"sgraft_probe_{which}_")
        try:
            ph = {}
            t0 = time.perf_counter()
            progress = run_upsert_stream(spark, feed_df(), tmp, init, upsert)
            ph["stage_and_stream"] = round(time.perf_counter() - t0, 3)
            ph["addBatch"] = [
                json.loads(p.json).get("durationMs", {}).get("addBatch")
                for p in progress
            ]
            t0 = time.perf_counter()
            serve(f"{tmp}/store")
            ph["serve"] = round(time.perf_counter() - t0, 3)
            spark.streams.resetTerminated()
            phases_all.append(ph)
            print(f"rep {rep}: {ph}", flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    for k in ("stage_and_stream", "serve"):
        print(k, "median",
              round(statistics.median(p[k] for p in phases_all), 3))


if __name__ == "__main__":
    main()
