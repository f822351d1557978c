"""Output checks, run outside the timed region.

* Determinism: every fit of a run must reproduce the first fit's
  (stdSelection, redundancySelection, relevance rounded to 1e-9).
* Recall: the share of planted informative features in the applied
  selection must meet the workload's floor.
* Oracle (once per run, where the workload asks for it): the fit's
  relevance must equal the min-max-normalized numpy RELIEF oracle of
  ``tests/oracle_relief.py`` to 1e-9.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

ORACLE_ATOL = 1e-9


def selection_key(model) -> str:
    """Hash of the fit's selections and relevance rounded to 1e-9."""
    rel = model.getOrDefault(model.relevanceWeights) or model.getOrDefault(
        model.relevanceActiveValues
    )
    payload = {
        "std": [int(i) for i in model.getOrDefault(model.stdSelection)],
        "red": [int(i) for i in model.getOrDefault(model.redundancySelection)],
        "rel": [round(float(x), 9) for x in rel],
    }
    return hashlib.sha256(json.dumps(payload).encode()).hexdigest()


def recall(selected: list[int], planted: list[int]) -> float:
    return len(set(selected) & set(planted)) / len(planted)


def oracle_weights(X: np.ndarray, y: np.ndarray, num_neighbors: int) -> np.ndarray:
    """The numpy RELIEF oracle's relevance, min-max normalized like the fit's."""
    from tests.oracle_relief import relief_relevance_oracle

    w = relief_relevance_oracle(X, y, num_neighbors=num_neighbors)
    mn, mx = w.min(), w.max()
    return (w - mn) / (mx - mn) if mx > mn else np.zeros_like(w)


def oracle_error(model, expected: np.ndarray) -> float:
    """Largest absolute gap between the fit's relevance and the oracle's."""
    got = np.asarray(model.getOrDefault(model.relevanceWeights), dtype=np.float64)
    if got.shape != expected.shape:
        return float("inf")
    return float(np.max(np.abs(got - expected)))


class FitChecker:
    """Counts fits and failures; a fit fails when it raised or when any
    check on its output fails."""

    def __init__(self, planted: list[int], recall_floor: float) -> None:
        self.planted = planted
        self.recall_floor = recall_floor
        self.first_key: str | None = None
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.problems: list[str] = []

    def fail(self, why: str) -> None:
        """Count a fit that raised."""
        self.attempted += 1
        self.flag(why)

    def flag(self, why: str) -> None:
        """Fail an already counted fit on a check made outside ``check``."""
        self.failed += 1
        self.problems.append(why)

    def check(self, model) -> bool:
        """Check one fit's output; returns whether it passed."""
        self.attempted += 1
        problems = []
        key = selection_key(model)
        if self.first_key is None:
            self.first_key = key
        elif key != self.first_key:
            problems.append("selection/relevance hash differs from the first fit")
        r = recall(model.selected_indices(), self.planted)
        self.recalls.append(r)
        if r < self.recall_floor:
            problems.append(f"selection_recall {r:.3f} below floor {self.recall_floor}")
        if problems:
            self.flag("; ".join(problems))
        return not problems
