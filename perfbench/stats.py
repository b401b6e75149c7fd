"""Counters and summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics
import traceback


class Outcome:
    """Operations attempted and failed in one run, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.append(what)

    def check(self, passed: bool, what: str) -> None:
        if passed:
            self.ok()
        else:
            self.fail(what)

    def error(self, what: str, exc: BaseException) -> None:
        self.fail(f"{what}: {type(exc).__name__}: {exc}".splitlines()[0][:300])
        traceback.print_exception(exc)


class Timings:
    """Wall seconds of a workload's operations, by kind, and of its
    batches (a raw→gold pass with its dashboard sessions, or one pass
    over the query list)."""

    def __init__(self):
        self.ops: dict[str, list[float]] = {}
        self.batches: list[float] = []

    def op(self, kind: str, seconds: float) -> None:
        self.ops.setdefault(kind, []).append(seconds)

    def kind_medians(self) -> dict[str, float]:
        return {k: statistics.median(xs) for k, xs in self.ops.items()}

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "batch_s": (statistics.median(self.batches), "s"),
            "op_geomean_ms": (geomean(list(self.kind_medians().values())) * 1e3, "ms"),
        }

    def samples(self) -> dict[str, int]:
        return {"batches": len(self.batches),
                "operations": sum(map(len, self.ops.values()))}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
