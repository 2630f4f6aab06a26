"""Set up a workload, drive its closed loop, check outputs, summarise.

One client thread sends an op, waits for the reply, checks it outside
the timed region, and sends the next: a closed loop with one client.
The loop runs whole blocks of the workload's op sequence, as many as
fill ``--seconds`` at the workload's nominal block time.

With ``--trace 1`` the same amount of work is split in two: first
untraced, then with spans on.  The per-layer numbers come from the
traced half; the difference between the two halves' median op latency
is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

from . import spans as spans_mod
from .common import CheckFailed, Context
from .datagen import make_tables
from .stats import INF, latency_block, median_or_zero, percentile, reported

# The end-to-end metrics every workload reports with --trace 0; the
# names and units BENCHMARK.json declares.  Latency percentiles are
# printed beside them but not declared: over the few dozen ops a run can
# afford, they move by more than any bound a gate could use.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics reported with --trace 1, all of them on every
# workload (0 where the workload does not reach the layer).
LAYER_SPANS = (
    "plans.router.route",
    "plans.intent.compile",
    "plans.sanitizer.gate",
    "operators.forecast.call",
    "operators.retrieval.serve",
    "operators.retrieval.upsert",
    "operators.retrieval.delete",
    "operators.retrieval.compact",
    "operators.retrieval.vacuum",
    "operators.vectorstore.serve",
    "operators.vectorstore.upsert",
    "operators.vectorstore.delete",
    "operators.vectorstore.compact",
    "operators.vectorstore.vacuum",
    "operators.sketches.serve",
    "operators.sketches.upsert",
    "operators.sketches.delete",
    "operators.sketches.compact",
    "operators.sketches.vacuum",
)
SPARK_SUMS = (
    "spark.analysis_ms",
    "spark.optimization_ms",
    "spark.planning_ms",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.shuffle_bytes",
)
PER_LAYER = (
    {f"{s}_ms": "ms" for s in LAYER_SPANS}
    | {
        "plans.sanitizer.rejected": "count",
        "catalog.view_build_s": "s",
        "catalog.cached_scan_frac": "ratio",
        "operators.forecast.jobs": "count",
        "store.bytes_written_per_input_byte": "ratio",
        "store.live_files": "count",
        "store.debris_bytes": "bytes",
        "sources.docs.extract_ms": "ms",
        "sources.docs.chunks": "count",
        "sources.embedder.embed_ms": "ms",
        "sources.embedder.arrow_bytes": "bytes",
        "spark.launch_ms": "ms",
        "trace.overhead_frac": "ratio",
    }
    | {m: ("count" if m.split(".")[1] in ("jobs", "stages", "tasks") else
          "bytes" if m.endswith("bytes") else "ms") for m in SPARK_SUMS}
)


@dataclass
class Sample:
    kind: str
    cls: str
    ms: float
    ok: bool
    error: str = ""
    bad_output: bool = False


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its java and python
    descendants (the JVM, the PySpark daemon and its workers): the
    highest VmHWM seen per process, summed over every process seen.
    Pages a forked worker shares with the daemon count in both, so this
    is an upper bound.  Short-lived helper processes (shell commands the
    JVM forks) are left out: right after a fork they report the JVM's
    own high-water mark."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.hwm_kb: dict[int, int] = {}
        self._halt = threading.Event()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for task in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{task}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
        return out

    def sample(self) -> None:
        for p in self._tree(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if not fh.read().startswith(("java", "python")):
                        continue
                with open(f"/proc/{p}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), kb)
                            break
            except OSError:
                pass

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return sum(self.hwm_kb.values()) / 1024.0


def _workload(name: str):
    if name == "ask":
        from .ask import Ask

        return Ask
    if name == "store_churn":
        from .store_churn import StoreChurn

        return StoreChurn
    if name == "doc_ingest":
        from .doc_ingest import DocIngest

        return DocIngest
    raise SystemExit(f"unknown workload {name!r}")


def _attempt(wl, op) -> tuple[float, object, str]:
    t0 = time.perf_counter()
    try:
        out = wl.run(op)
    except Exception as e:  # noqa: BLE001 - a failed op is data
        return time.perf_counter() - t0, None, f"{type(e).__name__}: {e}"
    return time.perf_counter() - t0, out, ""


def n_blocks(wl, seconds: float) -> int:
    """Whole blocks that fill about ``seconds`` of op time, at the
    workload's nominal block time."""
    return max(1, round(seconds / wl.block_seconds))


def measure(wl, start: int, blocks: int, tracer) -> tuple[list[Sample], float, int]:
    """Closed loop over ``blocks`` whole blocks of ``wl.ops``, starting
    at op ``start``.  A fixed amount of work, rather than a deadline,
    gives every run of a workload the same ops however fast the machine
    is that minute.  Returns the samples, the timed seconds and the
    index of the next op."""
    samples: list[Sample] = []
    timed = 0.0
    for i in range(start + 1, start + blocks * wl.block + 1):
        op = wl.ops[(i - 1) % len(wl.ops)]
        with tracer.op(i, op.kind):
            dt, out, err = _attempt(wl, op)
        timed += dt
        bad = False
        if not err:
            try:
                wl.check(op, out)
            except CheckFailed as e:
                err, bad = f"CheckFailed: {e}", True
            except Exception as e:  # noqa: BLE001 - checker crashed: output unverified
                err, bad = f"check crashed: {type(e).__name__}: {e}", True
        samples.append(Sample(op.kind, op.cls, dt * 1000.0, not err, err[:300], bad))
    return samples, timed, start + blocks * wl.block


def _lat(samples: list[Sample], cls: str | None = None) -> list[float]:
    return [
        s.ms if s.ok else INF for s in samples if cls is None or s.cls == cls
    ]


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str,
        t_start: float, cores: int) -> tuple[dict, list[str]]:
    rss = RssSampler()
    rss.start()
    from intellect_bi_spark.session import get_spark

    spark = get_spark("perfbench")
    phases = {"session": time.perf_counter() - t_start}
    ctx = Context(spark, os.path.join(tmp, "data"), os.path.join(tmp, "work"),
                  seed, spans_mod.make_tracer(spark, False, cores), cores)
    make_tables(ctx.data_dir, seed)
    wl = _workload(workload)(ctx)
    wl.setup()  # builds, and untimed warm-up ops
    setup_s = time.perf_counter() - t_start
    phases["build and warm-up"] = setup_s - phases["session"]

    # a traced run splits the work: half untraced, half traced
    blocks = n_blocks(wl, seconds / 2 if trace else seconds)
    samples, timed, nxt = measure(wl, 0, blocks, ctx.tracer)
    chars = getattr(wl, "chars", 0)  # characters the untraced ingest ops took in
    traced = []
    if trace:
        ctx.tracer = tracer = spans_mod.make_tracer(spark, True, cores)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        traced, _, _ = measure(wl, nxt, blocks, tracer)
    t_end = time.perf_counter()
    ctx.tracer = spans_mod.make_tracer(spark, False, cores)
    end_failures = wl.finish(trace)
    phases["end checks"] = time.perf_counter() - t_end
    peak_rss = rss.stop()

    everything = samples + traced
    failed = sum(not s.ok for s in everything)
    bad = [s for s in everything if s.bad_output]
    ok_n = sum(s.ok for s in samples)
    lat = latency_block(_lat(samples))
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": ok_n / timed if timed else 0.0,
        "peak_rss_mb": peak_rss,
        "op_p50_ms": lat["p50"],
        "op_p90_ms": lat["p90"],
    }
    extra = {
        "read": latency_block(_lat(samples, "read")),
        "write": latency_block(_lat(samples, "write")),
        "failed_frac": sum(not s.ok for s in samples) / len(samples) if samples else 0.0,
    }
    ingest_s = sum(s.ms for s in samples if s.kind == "ingest" and s.ok) / 1000.0
    if ingest_s:
        extra["ingest_chars_per_s"] = chars / ingest_s
    if "store_space_amp" in ctx.facts:
        extra["store_space_amp"] = ctx.facts["store_space_amp"]
    result = {
        "correct": not bad and not end_failures,
        "attempted": len(everything),
        "failed": failed,
    }
    lines = _report(workload, seed, seconds, cores, e2e, lat, extra, samples,
                    ctx.facts, ctx.facts.get("warm_errors", []), everything, end_failures)
    lines.append("  wall time: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    if trace:
        layers, shares = per_layer(tracer, wl, ctx.facts, traced, samples)
        result["metrics"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        lines += _trace_report(layers, shares)
        _write_spans(tracer, workload, seed)
    else:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return result, lines


def per_layer(tracer, wl, facts, traced: list[Sample], untraced: list[Sample]):
    """Per-layer medians per op from the traced half, and the share of
    traced op time spent in each span name's self time."""
    by_op: dict[int, list] = {}
    roots = {}
    for sp in tracer.spans:
        if sp.parent is None:
            roots[sp.op] = sp
        else:
            by_op.setdefault(sp.op, []).append(sp)
    per_op: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_op.setdefault(name, []).append(value)

    total = 0.0
    self_time: dict[str, float] = {}
    for op_id, root in roots.items():
        kids = by_op.get(op_id, [])
        total += root.ms
        self_time["op (benchmark side)"] = (
            self_time.get("op (benchmark side)", 0.0) + spans_mod.self_ms(root, kids)
        )
        sums: dict[str, float] = {}
        launch = 0.0
        for sp in kids:
            sums[sp.name] = sums.get(sp.name, 0.0) + sp.ms
            self_time[sp.name] = self_time.get(sp.name, 0.0) + spans_mod.self_ms(
                sp, [c for c in kids if c.parent == sp.sid]
            )
            for k, v in sp.metrics.items():
                if isinstance(v, (int, float)):
                    sums[k] = sums.get(k, 0) + v
            if sp.metrics.get("spark.jobs"):
                launch += max(0.0, sp.ms - sp.metrics["critical_ms"])
        for name in LAYER_SPANS:
            if name in sums:
                add(f"{name}_ms", sums[name])
        if "operators.forecast.call" in sums:
            add("operators.forecast.jobs", next(
                sp.metrics.get("spark.jobs", 0) for sp in kids
                if sp.name == "operators.forecast.call"))
        for m in SPARK_SUMS:
            add(m, sums.get(m, 0))
        add("spark.launch_ms", launch)
        for k in ("sources.docs.chunks", "sources.docs.extract_py_ms",
                  "sources.embedder.embed_py_ms", "sources.embedder.arrow_bytes"):
            if k in sums:
                add(k, sums[k])
        for name, key in (("sources.docs.extract", "sources.docs.extract_stage_ms"),
                          ("sources.embedder.embed", "sources.embedder.embed_stage_ms")):
            for sp in kids:
                if sp.name == name:
                    add(key, sp.metrics.get("spark.executor_run_ms", 0.0))
    out = {k: 0.0 for k in PER_LAYER}
    for k, vals in per_op.items():
        if k in out:
            out[k] = median_or_zero(vals)
    # Python time per mapInPandas function from the perf profile; the
    # stage executor run time where the profile has nothing
    for layer, py, stage in (
        ("sources.docs.extract_ms", "sources.docs.extract_py_ms", "sources.docs.extract_stage_ms"),
        ("sources.embedder.embed_ms", "sources.embedder.embed_py_ms", "sources.embedder.embed_stage_ms"),
    ):
        vals = per_op.get(py) or per_op.get(stage)
        out[layer] = median_or_zero(vals or [])
    out["plans.sanitizer.rejected"] = sum(
        sp.metrics.get("plans.sanitizer.rejected", 0) for sp in tracer.spans
    )
    for k, v in wl.layer_facts().items():
        out[k] = v
    for k in ("catalog.view_build_s", "store.live_files", "store.debris_bytes"):
        if k in facts:
            out[k] = facts[k]
    base = latency_block(_lat(untraced))["p50"]
    with_trace = latency_block(_lat(traced))["p50"]
    out["trace.overhead_frac"] = with_trace / base - 1.0 if base else 0.0
    out["trace.untraced_op_p50_ms"] = base
    out["trace.traced_op_p50_ms"] = with_trace
    shares = sorted(
        ((v / total if total else 0.0, k) for k, v in self_time.items()), reverse=True
    )
    return out, shares


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def _report(workload, seed, seconds, cores, e2e, lat, extra, samples, facts,
            warm_errors, everything, end_failures) -> list[str]:
    def tail(b: dict) -> str:
        t = f"p{b['tail']:g}" if b["tail"] else "none"
        return (f"n={b['n']}, {b['beyond_p90']} beyond p90,"
                f" highest percentile with >=10 beyond: {t}")

    lines = [f"perfbench {workload} seed={seed} seconds={seconds:g} cores={cores}"]
    units = dict(END_TO_END, op_p50_ms="ms", op_p90_ms="ms")
    for k, v in e2e.items():
        note = ""
        if k == "ops_per_s":
            note = f"  (closed loop, 1 client; {sum(s.ok for s in samples)} completed)"
        elif k in ("op_p50_ms", "op_p90_ms"):
            note = f"  ({tail(lat)})"
        lines.append(f"  {k:<22}{_fmt(v):>14} {units[k]}{note}")
    for fam in ("read", "write"):
        b = extra[fam]
        if b["n"]:
            for p in ("p50", "p90"):
                lines.append(f"  {fam}_{p}_ms{'':<12}{_fmt(b[p]):>14} ms  ({tail(b)})")
    if "ingest_chars_per_s" in extra:
        lines.append(f"  {'ingest_chars_per_s':<22}{_fmt(extra['ingest_chars_per_s']):>14} 1/s"
                     f"  (at {facts['chars_per_op']:.0f} chars per op)")
    if "store_space_amp" in extra:
        lines.append(f"  {'store_space_amp':<22}{_fmt(extra['store_space_amp']):>14} ratio")
    lines.append(f"  {'failed_frac':<22}{_fmt(extra['failed_frac']):>14} ratio"
                 f"  ({sum(not s.ok for s in samples)}/{len(samples)})")
    kinds: dict[str, list[float]] = {}
    for smp in samples:
        kinds.setdefault(smp.kind, []).append(smp.ms if smp.ok else INF)
    lines.append("  latency by op kind (n, median ms): " + ", ".join(
        f"{k} {len(v)} {_fmt(reported(percentile(v, 50)))}" for k, v in sorted(kinds.items())))
    if "unsafe_reduced_to_select" in facts:
        lines.append(f"  unsafe SQL strings reduced to their SELECT by the gate:"
                     f" {facts['unsafe_reduced_to_select']}")
    bad = [s for s in everything if s.bad_output]
    lines.append(f"  checks: {'pass' if not bad and not end_failures else 'FAIL'}"
                 f" ({len(bad)} wrong outputs, {len(end_failures)} end-of-run failures)")
    errors: dict[str, int] = {}
    for s in everything:
        if s.error:
            errors[f"{s.kind}: {s.error}"] = errors.get(f"{s.kind}: {s.error}", 0) + 1
    for e, n in sorted(errors.items()):
        lines.append(f"  failed x{n}: {e}")
    lines += [f"  end-of-run check failed: {e}" for e in end_failures]
    lines += [f"  warm-up op failed: {e}" for e in warm_errors]
    return lines


def _trace_report(layers: dict, shares) -> list[str]:
    lines = ["  per-layer (traced half; median per op unless a count or ratio):"]
    for k, u in PER_LAYER.items():
        lines.append(f"    {k:<40}{_fmt(layers[k]):>14} {u}")
    lines.append(f"    tracing overhead: traced op_p50 {_fmt(layers['trace.traced_op_p50_ms'])} ms"
                 f" vs untraced {_fmt(layers['trace.untraced_op_p50_ms'])} ms")
    lines.append("  share of traced op time by span self time:")
    for frac, name in shares:
        lines.append(f"    {frac:7.1%}  {name}")
    return lines


def _write_spans(tracer, workload: str, seed: int) -> None:
    """Write the run's spans as JSON lines under ``.perfbench_out/``."""
    out = os.path.join(os.environ["PERFBENCH_ROOT"], ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"spans-{workload}-{seed}.jsonl"), "w") as fh:
        for sp in tracer.spans:
            rec = {"id": sp.sid, "op": sp.op, "name": sp.name, "parent": sp.parent,
                   "start": sp.start, "end": sp.end,
                   "metrics": sp.metrics}
            fh.write(json.dumps(rec) + "\n")

