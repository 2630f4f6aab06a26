"""SparkSession factory for the intellect-bi Spark engine.

The reference keeps one lazy global DuckDB connection per process
(reference api/main.py:160,190 ``_ensure_duckdb``); the Spark analogue is a
singleton SparkSession with scale-oriented defaults:

- AQE on (runtime coalesce, skew-join splitting, dynamic broadcast) so the
  same declarative plans survive a 1000-executor / 100 TB deployment.
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster AQE coalesces from a high initial number, so we set the initial
  partition count rather than hand-tuning per query.
- Session timezone pinned to UTC so timestamp→date casts agree with the
  DuckDB oracle (naive timestamps).
- Arrow enabled for the Pandas-UDF slow path (forecasting, embedding).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Driver heap must be fixed BEFORE the py4j gateway launches the JVM —
# a `spark.driver.memory` builder conf is silently ignored in pyspark
# local mode (the launcher has already picked -Xmx by the time the conf
# is read; measured Runtime.maxMemory() == 1g despite the conf).  The
# 1g default GC-thrashed the sf1 pair-heavy Arrow reranks
# (semantic_decontam 9 s → 17-27 s run-to-run, intermittent heap OOM).
# 16g of the 128 GiB harness box is conservative; production sizes
# executors separately.  No-op when a JVM already exists (e.g. the
# driver's own session) or the caller exported PYSPARK_SUBMIT_ARGS.
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", f"--driver-memory {_DRIVER_MEM} pyspark-shell"
)


def get_spark(app_name: str = "intellect_bi_spark") -> SparkSession:
    """Return the singleton SparkSession, creating it with engine defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # grouped_exact's overflow contract ("a pathological stage-1 BIGINT
        # partial throws, never wraps", functions/numeric.py) relies on ANSI
        # arithmetic. Spark 4 defaults it on, but a caller-built session may
        # not — pin it so the contract is independent of who built the session
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_CPUS)
        # a read of more than 32 paths (parallelPartitionDiscovery.
        # threshold) — a manifest pinning 60-90 sketch day_part dirs,
        # a many-segment BM25 read — lists them in a Spark job whose
        # task count is min(paths, this parallelism); the default 10000
        # means one task per directory, ~300 ms of task launch per
        # serve on 4 cores.  One task per core lists the same paths
        # in parallel at a fraction of the launch cost, and keeps the
        # listing off the driver (which raising the threshold would
        # not: serial driver listing is wrong for S3 at scale)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            DEFAULT_CPUS,
        )
        .config("spark.ui.enabled", "false")
        # 16g of the 128 GiB harness box: at sf1 the pair-heavy Arrow
        # reranks (semantic_decontam candidates grow quadratically in
        # make_sf1's perturbed replicas — true near-dups) GC-thrash an
        # 8g heap (measured 9 s → 17-27 s, intermittent heap OOM);
        # production sizes executors separately anyway
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # FileOutputCommitter v2 (optimization r15, guide §6): v1 pays a
        # second sequential rename pass at JOB commit — measured 0.45-1.5 s
        # per bucket-partitioned segment write at sf0.1 vs a consistent
        # ~0.44 s under v2, and every store-mutation leg writes 1-3 such
        # directories.  v2's trade (a failed job can leave task output in
        # the destination) is exactly the crash-debris contract the
        # versioned stores already operate under: all mutation writes land
        # in attempt-unique staged dirs that only a successful publish
        # makes visible, and vacuum sweeps unpublished debris (the one
        # unversioned build path, vectorstore.build_index, stages to a
        # temp dir and renames into place since r16, closing the gap).
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        # FAIR scheduler (optimization r16, guide §2.6 full form): the
        # store-mutation legs submit 2-3 independent staged writes as
        # concurrent jobs (retrieval._run_staged), each tagged with its
        # own scheduler pool.  Under the default FIFO mode a big segment
        # write can head-of-line block the small lexicon/stats writes on
        # a busy cluster; FAIR gives each staged job an equal share.
        # Sequential queries are unaffected (one pool, one job at a
        # time).  Static conf — applies to sessions this factory builds;
        # an externally-built FIFO session still runs the same code
        # (the pool tag is a no-op under FIFO).
        .config("spark.scheduler.mode", "FAIR")
        # Arrow batch size, BYTE-bounded (optimization r16, guide §4.2):
        # the multimodal codecs ship multi-KB binary payload cells
        # through two pipelined Python stages; a byte cap bounds worker
        # memory per batch and lets the stages overlap at batch
        # granularity, while narrow text/numeric Arrow paths (whose
        # batches sit far under the cap) keep the 10k-record batches.
        # Interleaved same-session A/B at sf0.1: ADPCM −10%, MJPEG −3%,
        # text rows unchanged; at 100 TB payload cells are MBs and the
        # byte bound is what prevents worker OOM (the guide's
        # "lower it for large binary cells" case).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", "4m"),
        )
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver hands us its own SparkSession; these confs are all
    runtime-mutable so correctness-critical settings (timezone) and
    performance settings (AQE) apply regardless of who built the session.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # one listing task per core for reads of many pinned dirs; see
        # the builder comment
        (
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            DEFAULT_CPUS,
        ),
        # byte-bounded Arrow batches for the binary-payload codecs; see
        # the builder comment (runtime-mutable SQL conf, so external
        # sessions get it too)
        (
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", "4m"),
        ),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    try:
        # runtime-mutable through the JavaSparkContext; see the builder
        # comment in get_spark for the v2 rationale + safety argument
        spark.sparkContext._jsc.hadoopConfiguration().set(
            "mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    except Exception:  # pragma: no cover - exotic deployments
        pass
    return spark
