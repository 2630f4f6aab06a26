"""Benchmark entry point.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 20 --trace 0

Runs one workload (``ask``, ``store_churn`` or ``doc_ingest``) of the
engine in this checkout, in one process on ``local[<cores>]``, and
prints a readable report followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones.

Everything the run writes (generated tables, stores, file sets, Spark
scratch and warehouse) lives under a temporary directory inside the
checkout, removed at exit.  A traced run also leaves its spans in
``.perfbench_out/``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ask", "store_churn", "doc_ingest")


def _driver_mem_mb() -> int:
    """JVM heap: a sixth of the machine, at most 2 GiB (the engine's 16g
    default does not fit small machines; the generated tables need far
    less)."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return min(2048, total_kb // 1024 // 6)


def pin_environment(tmp: str, cores: int) -> None:
    """Engine and Spark settings for the run, through existing env vars
    and confs, before anything imports pyspark."""
    mem = f"{_driver_mem_mb()}m"
    scratch = {k: os.path.join(tmp, k) for k in ("spark-local", "spark-warehouse", "tmp")}
    for p in scratch.values():
        os.makedirs(p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": scratch["spark-local"],
        "spark.sql.warehouse.dir": scratch["spark-warehouse"],
        # the heap is committed and touched up front, so the peak RSS a
        # run reports does not depend on when the collector grew the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch['tmp']} -Xms{mem} -XX:+AlwaysPreTouch"
        ),
    }
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": mem,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [f"--driver-memory {mem}"]
                + [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
                + ["pyspark-shell"]
            ),
            "SPARK_LOCAL_DIRS": scratch["spark-local"],
            # mapInPandas workers import the engine from this checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": scratch["tmp"],
            "PERFBENCH_ROOT": ROOT,
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(tmp)


def stop_spark() -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "intellect_bi_spark", "__init__.py")):
        print(f"perfbench: no engine package intellect_bi_spark/ in {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    cwd = os.getcwd()
    try:
        pin_environment(tmp, cores)
        sys.path.insert(0, ROOT)
        from perfbench import harness

        try:
            result, lines = harness.run(
                args.workload, args.seed, args.seconds, bool(args.trace), tmp, T_START, cores
            )
        finally:
            stop_spark()
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
