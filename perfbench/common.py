"""Pieces every workload shares: the op record, the run context and
store-directory accounting."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Op:
    kind: str  # what the op does, e.g. "data", "sql", "upsert"
    cls: str  # "read", "write" or "other": which latency family it joins
    args: tuple = ()


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: object
    cores: int
    # per-run facts a workload reports beside the timed ops
    facts: dict = field(default_factory=dict)


class CheckFailed(Exception):
    """An op completed but its output is wrong."""


def warm_up(wl, ops: list[Op]) -> None:
    """Run and check untimed ops; record failures in the run's facts."""
    for op in ops:
        try:
            wl.check(op, wl.run(op))
        except Exception as e:  # noqa: BLE001 - reported, not fatal
            wl.ctx.facts.setdefault("warm_errors", []).append(
                f"{op.kind}: {type(e).__name__}: {e}"[:200]
            )


def dir_files(path: str) -> dict[str, int]:
    """Every regular file under ``path`` with its size in bytes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed while listing
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def parallel(*thunks) -> list:
    """Run independent set-up steps as concurrent driver threads."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]
