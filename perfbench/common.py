"""What every workload shares: its run context, result shape and the
statistics it reports."""

from __future__ import annotations

import math
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from spans import Tracer


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: Path                       # scratch directory inside the checkout
    tiny: bool = False               # test scale: small inputs, one set-up

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)

    def error(self, what: str) -> None:
        """Count a failed operation and keep its traceback on stderr."""
        self.failed += 1
        print(f"perfbench: {what} failed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def p90(xs) -> float:
    return float(np.percentile(xs, 90)) if len(xs) else 0.0


def mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def geomean(xs) -> float:
    return math.exp(mean([math.log(x) for x in xs])) if len(xs) else 0.0


def span_stats(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def durations_ms(spans: list[dict], name: str) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in span_stats(spans, name)]
