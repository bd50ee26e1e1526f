"""The interface every workload implements, and the operation record."""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

from perfbench.harness import median


@dataclass
class Op:
    """One timed operation: a pass step or a statement.

    ``cls`` is ``read``, ``write`` or ``maint``; ``rows`` is the rows the
    operation processed (input rows for a batch step, rows matched for a
    statement)."""

    cls: str
    kind: str
    wall_s: float
    ok: bool
    rows: int = 0
    error: str | None = None


class CheckFailed(AssertionError):
    """An output check found a wrong result."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Workload:
    """A seeded workload. ``load`` runs once per setup round in the new
    session; ``run_pass`` runs one pass and returns its operations, each
    already checked; ``final_check`` checks state left at run end."""

    name = ""
    tables: tuple[str, ...] = ()
    #: set-up rounds per run; ``setup_s`` is their median
    setup_rounds = 5

    def __init__(self, data: Path, work: Path, seed: int):
        self.data = data
        self.work = work
        self.seed = seed
        self.passes = 0

    def load(self, spark, first: bool) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Finish session start-up before timing: one small job."""
        spark.range(1000).count()

    def run_pass(self, spark, tracer) -> list[Op]:
        raise NotImplementedError

    def settle(self, spark) -> list[Op]:
        """Untimed, checked operations between set-up and the steady
        window, so that the window starts warm."""
        return []

    def final_check(self, spark) -> None:
        """Raise :class:`CheckFailed` on wrong final state."""

    def input_rows(self) -> int:
        raise NotImplementedError

    def space_amp(self, spark) -> float:
        raise NotImplementedError

    def rows_per_s(self, ops: list[Op]) -> float:
        """Input rows ÷ median write-pass wall."""
        walls = [o.wall_s for o in ops if o.cls == "write"]
        return self.input_rows() / median(walls) if walls else 0.0

    def probes(self, spark, tracer) -> dict:
        """Traced-run only: extra per-layer measurements."""
        return {}

    def layer_metrics(self, stats: list[dict], ops: list[Op]) -> dict:
        """Traced-run only: per-layer metrics derived from span stats."""
        return {}


def timed(cls: str, kind: str, fn, rows: int = 0) -> tuple[Op, object]:
    """Run ``fn`` and time it; a raised exception makes a failed op."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # the op fails; the run goes on and counts it
        return Op(cls, kind, time.perf_counter() - t0, False, rows, f"{type(e).__name__}: {e}"), None
    return Op(cls, kind, time.perf_counter() - t0, True, rows), out
