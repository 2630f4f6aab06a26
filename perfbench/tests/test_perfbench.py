"""Unit checks of the benchmark's own machinery (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import ask, doc_ingest, store_churn  # noqa: E402
from perfbench.datagen import make_tables  # noqa: E402
from perfbench.docfiles import make_file_sets, n_chunks  # noqa: E402
from perfbench.spans import Span, covered, self_ms  # noqa: E402
from perfbench.stats import INF, beyond, percentile, tail_percentile  # noqa: E402

SCHEDULES = (ask.schedule, store_churn.schedule, doc_ingest.schedule)


@pytest.mark.parametrize("schedule", SCHEDULES)
def test_same_seed_same_sequence_other_seed_other_sequence(schedule):
    assert schedule(11, 300) == schedule(11, 300)
    assert schedule(11, 300) != schedule(12, 300)


@pytest.mark.parametrize("schedule", SCHEDULES)
def test_op_mix_does_not_depend_on_the_seed(schedule):
    kinds = lambda seed: [(op.kind, op.cls) for op in schedule(seed, 120)]  # noqa: E731
    if schedule is store_churn.schedule:
        # writes sit at fixed slots; the seed orders the reads
        kinds = lambda seed: [  # noqa: E731
            op.kind if op.cls == "write" else "read" for op in schedule(seed, 120)
        ]
    assert kinds(1) == kinds(2) == kinds(3)


def test_ask_mix_shares():
    ops = ask.schedule(5, 200)
    share = lambda k: sum(op.kind == k for op in ops) / len(ops)  # noqa: E731
    assert (share("data"), share("sql"), share("forecast"), share("docs")) == (
        0.65, 0.10, 0.10, 0.15
    )
    unsafe = [op for op in ops if op.kind == "sql" and op.args[1] is None]
    assert 0 < len(unsafe) < sum(op.kind == "sql" for op in ops)


def test_store_churn_keeps_state_bounded():
    live = {s: {b} for s, b in store_churn.first_batches(3).items()}
    for op in store_churn.schedule(3, 600):
        if op.kind == "upsert":
            assert op.args[1] not in live[op.args[0]]
            live[op.args[0]].add(op.args[1])
        elif op.kind == "delete":
            live[op.args[0]].remove(op.args[1])
        assert all(1 <= len(v) <= 2 for v in live.values())


def _tree_digest(path: str) -> str:
    h = hashlib.sha1()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), path).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_tables_and_file_sets_are_seeded(tmp_path):
    digests = {}
    for run, seed in (("a", 4), ("b", 4), ("c", 5)):
        data = tmp_path / run / "data"
        make_tables(str(data), seed)
        sets = make_file_sets(str(data), str(tmp_path / run / "files"), seed, 3)
        digests[run] = (
            _tree_digest(str(data)),
            _tree_digest(str(tmp_path / run / "files")),
            json.dumps([s.pages for s in sets], sort_keys=True),
        )
    assert digests["a"] == digests["b"]
    assert all(x != y for x, y in zip(digests["a"], digests["c"]))


def test_pdf_text_is_what_the_engine_extracts(tmp_path):
    from intellect_bi_spark.sources.pdftext import extract_pdf_pages

    make_tables(str(tmp_path / "data"), 1)
    for fs in make_file_sets(str(tmp_path / "data"), str(tmp_path / "files"), 1, 4):
        for name, pages in fs.pages.items():
            if name.endswith(".pdf"):
                with open(os.path.join(fs.path, name), "rb") as fh:
                    got = extract_pdf_pages(fh.read())
                assert [" ".join(t.split()) for _, t in got] == pages


def test_chunk_arithmetic():
    # slide = 800 - 120 = 680; the engine keeps a trailing short chunk
    assert [n_chunks(n) for n in (0, 1, 680, 681, 917, 1360, 1361)] == [1, 1, 1, 2, 2, 2, 3]


def test_percentile_nearest_rank_and_failures():
    v = [float(i) for i in range(1, 11)]
    assert percentile(v, 50) == 5.0
    assert percentile(v, 90) == 9.0
    assert percentile(v + [INF], 50) == 6.0
    assert percentile([INF] * 6 + v[:4], 50) == INF


def test_tail_percentile_needs_ten_samples_beyond():
    assert beyond(100, 90) == 10
    assert tail_percentile(100) == 90.0
    assert tail_percentile(99) == 75.0  # p90 would leave only 9 beyond
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) is None
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_self_time_subtracts_the_union_of_children():
    root = Span(1, "op", 1, None, 0.0, 10.0)
    kids = [
        Span(2, "a", 1, 1, 1.0, 4.0),
        Span(3, "b", 1, 1, 3.0, 5.0),  # overlaps a: covered once
        Span(4, "c", 1, 1, 9.0, 12.0),  # runs past the root: clipped
    ]
    assert covered([(k.start, k.end) for k in kids], 0.0, 10.0) == 5.0
    assert self_ms(root, kids) == pytest.approx(5000.0)
    assert self_ms(root, []) == pytest.approx(10_000.0)


def test_benchmark_json_matches_what_the_runs_report():
    from perfbench.harness import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= {"ask", "store_churn", "doc_ingest"}
