#!/usr/bin/env python
"""Probe: where does the availableNow stream-chain FIXED overhead go?

Runs a trivial-sink availableNow file stream shaped exactly like the four
store ingest chains (N_FEED_FILES staged parquet files, maxFilesPerTrigger=1,
foreachBatch) and prints the engine's own per-batch duration breakdown
(StreamingQueryProgress.durationMs: addBatch / getBatch / latestOffset /
queryPlanning / walCommit / commitOffsets / triggerExecution), plus wall
time medians over REPS runs.  Variants toggle candidate knobs so the A/B is
same-session.

Usage: python tools/probe_stream_overhead.py [reps]
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


def run_once(spark, feed_dir, schema, variant_opts, sink_mode="isempty"):
    root = tempfile.mkdtemp(prefix="sgraft_probe_stream_")
    try:
        seen = []

        def sink(bdf, bid):
            if sink_mode == "isempty":
                if not bdf.isEmpty():
                    seen.append(bid)
            else:
                seen.append(bid)

        t0 = time.perf_counter()
        reader = spark.readStream.schema(schema)
        for k, v in variant_opts.items():
            reader = reader.option(k, v)
        q = (
            reader.parquet(feed_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        wall = time.perf_counter() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        return wall, len(seen), prog
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe_stream_overhead")
    from intellect_bi_spark.operators.retrieval import _base_docs
    from intellect_bi_spark.operators.vstore import N_FEED_FILES

    docs = _base_docs(spark, sf_dir)
    feed = tempfile.mkdtemp(prefix="sgraft_probe_feed_")
    docs.repartition(N_FEED_FILES).write.mode("overwrite").parquet(feed)
    schema = docs.schema

    variants = {
        "base_mft1": {"maxFilesPerTrigger": 1},
        "base_mft1_nojob": {"maxFilesPerTrigger": 1},  # sink without isEmpty
    }
    try:
        # warmup
        run_once(spark, feed, schema, {"maxFilesPerTrigger": 1})
        for name, opts in variants.items():
            walls = []
            last_prog = None
            mode = "nojob" if name.endswith("nojob") else "isempty"
            for _ in range(reps):
                w, nb, prog = run_once(spark, feed, schema, opts, mode)
                walls.append(w)
                last_prog = prog
            print(f"== {name}: median wall {statistics.median(walls):.3f}s "
                  f"(all: {[round(w,3) for w in walls]})")
            if last_prog:
                keys = sorted({k for p in last_prog for k in p.get("durationMs", {})})
                for p in last_prog:
                    d = p.get("durationMs", {})
                    print("   batch", p.get("batchId"),
                          {k: d.get(k) for k in keys},
                          "rows:", p.get("numInputRows"))
    finally:
        shutil.rmtree(feed, ignore_errors=True)


if __name__ == "__main__":
    main()
