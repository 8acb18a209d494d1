"""What every workload receives and returns."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

from tracing import Tracer


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str          # scratch directory inside the checkout
    t_start: float     # perf_counter() before the Spark session started
    small: bool = False    # self-test sizes
    corrupt: bool = False  # self-test: falsify one output before checking

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds


@dataclass
class Result:
    """Operations attempted and failed. An operation fails when the
    engine refuses or errors (a non-200 response, a query exception) or
    when its output differs from the reference (``wrong``). Any failure
    makes the run incorrect."""

    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, problem: str | None) -> None:
        """Count one operation whose output was checked; ``problem``
        marks the output wrong."""
        self.check_all(1, [problem] if problem else [])

    def check_all(self, n: int, problems: list[str]) -> None:
        """Count ``n`` output-checked operations, one wrong per problem."""
        self.attempted += n
        self.failed += len(problems)
        self.wrong += len(problems)
        self._note(problems)

    def error(self, problem: str | None) -> None:
        """Count one operation; ``problem`` marks it refused or errored."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self._note([f"error: {problem}"])

    def _note(self, problems: list[str]) -> None:
        self.problems += problems[:max(0, 20 - len(self.problems))]


def pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) \
        else 0.0
