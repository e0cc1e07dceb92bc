"""Workload base class and the result comparator shared by the workloads."""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import random
import time
from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    """One timed unit: a pipeline from its first public call through its action.

    ``oracle`` checks the result against an independent computation; it runs
    on the first (warm-up) execution of each kind. Later executions must
    equal the verified result (``stable``) and pass ``invariant`` if given."""

    kind: str
    rows: int
    fn: Callable[[], Any]
    oracle: Callable[[Any], None] | None = None
    canon: Callable[[Any], Any] | None = None
    invariant: Callable[[Any], None] | None = None
    stable: bool = True
    observe: Callable[[], None] | None = None


class Workload:
    """Set-up, warm-up and timed section of one workload.

    ``register`` registers the inputs on a fresh session; ``build`` then
    builds what the ops probe (indexes). ``round_ops`` lists one round: each
    op kind once, with parameters fixed by the seed."""

    name = ""
    round_s = 3.0  # about one round's wall on 4 cores
    # latency_tail_s percentile: at --seconds 10 on 4 cores every workload
    # times at least 27 ops, so at least 10 samples lie beyond it
    tail_pct = 60.0

    def __init__(self, P, spark, inp, work_dir: str, seed: int):
        self.P, self.spark, self.inp, self.dir, self.seed = P, spark, inp, work_dir, seed
        self.rng = random.Random(seed)
        self.runner = None
        self.extra_checks = 0  # checks counted in ``attempted`` besides ops
        self.setup_extra_s = 0.0  # set-up work done inside ``timed`` (streaming)
        self.expected: dict = {}

    def register(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        pass

    def round_ops(self) -> list[Op]:
        raise NotImplementedError

    def _check(self, op: Op, result) -> None:
        if op.invariant is not None:
            op.invariant(result)
        canon = op.canon(result) if op.canon else result
        if op.kind not in self.expected:
            if op.oracle is not None:
                op.oracle(result)
            self.expected[op.kind] = canon
        elif op.stable:
            same_rows(canon, self.expected[op.kind], f"{op.kind} vs its verified run")

    def _run(self, op: Op, timed: bool):
        return self.runner.run_op(op.kind, op.rows, op.fn, lambda r: self._check(op, r),
                                  timed=timed, observe=op.observe)

    def warmup(self) -> None:
        for op in self.round_ops():
            self._run(op, timed=False)

    def timed(self, seconds: float, deadline: float) -> None:
        """Whole rounds, each in a seeded order: a fixed number, at least two,
        so every run measures the same mix, about ``seconds`` of ops on 4
        cores (cut short at ``deadline``)."""
        ops = self.round_ops()
        for _ in range(max(2, math.ceil(seconds / self.round_s))):
            order = list(ops)
            self.rng.shuffle(order)
            for op in order:
                if time.perf_counter() >= deadline:
                    return
                self._run(op, timed=True)

    def final_checks(self) -> None:
        pass


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (1, f"{v:.6g}") if isinstance(v, float) else (0, repr(v)) for v in row
    )


def table(cols, rows) -> tuple:
    """Canonical (sorted column names, sorted rows) form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return tuple(cols[i] for i in order), sorted(out, key=_sort_key)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want, what: str) -> None:
    """Order-insensitive equality of two ``table`` results (floats to 1e-6)."""
    if isinstance(got, tuple) and len(got) == 2 and isinstance(got[1], list):
        if tuple(got[0]) != tuple(want[0]):
            raise AssertionError(f"{what}: columns {got[0]} != {want[0]}")
        got, want = got[1], want[1]
    if len(got) != len(want):
        raise AssertionError(f"{what}: {len(got)} rows != {len(want)}")
    for g, w in zip(got, want):
        if not _close(g, w):
            raise AssertionError(f"{what}: row {g} != {w}")
