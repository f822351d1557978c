#!/usr/bin/env python3
"""Self-test of the fit benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. The determinism check trips on a perturbed selection or relevance,
   and ignores differences below the 1e-9 rounding (no Spark needed).
2. A tiny-size timed and traced pass of every workload emits every
   metric BENCHMARK.json names, each with its declared unit, and
   passes its own output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402


class _StubModel:
    """The slice of ReliefFSelectorModel the checks read."""

    stdSelection, redundancySelection = "std", "red"
    relevanceWeights, relevanceActiveValues = "rel", "rel_active"

    def __init__(self, std, red, rel) -> None:
        self.values = {"std": std, "red": red, "rel": rel, "rel_active": []}

    def getOrDefault(self, param):
        return self.values[param]

    def selected_indices(self):
        return sorted(self.values["std"])


def check_determinism_trips() -> None:
    base = _StubModel([0, 1, 2], [0, 2, 1], [1.0, 0.5, 0.25, 0.0])
    same = _StubModel([0, 1, 2], [0, 2, 1], [1.0, 0.5 + 1e-12, 0.25, 0.0])
    cases = {
        "selection": _StubModel([0, 1, 3], [0, 2, 1], [1.0, 0.5, 0.25, 0.0]),
        "redundancy order": _StubModel([0, 1, 2], [0, 1, 2], [1.0, 0.5, 0.25, 0.0]),
        "relevance": _StubModel([0, 1, 2], [0, 2, 1], [1.0, 0.5 + 1e-6, 0.25, 0.0]),
    }
    for what, perturbed in cases.items():
        c = checks.FitChecker(planted=[0, 1], recall_floor=1.0)
        assert c.check(base) and c.check(same), "identical fits must pass"
        assert not c.check(perturbed), f"perturbed {what} passed the determinism check"
        assert (c.attempted, c.failed) == (3, 1), (c.attempted, c.failed)
    c = checks.FitChecker(planted=[0, 7], recall_floor=1.0)
    assert not c.check(base), "a fit missing a planted feature passed the recall floor"
    print("determinism and recall checks trip on perturbed output: ok")


def run_tiny(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def check_metrics(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_tiny(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {got} != {want}"
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            print(f"{w['name']} trace={trace}: {len(got)} metrics with units, checks pass: ok")


def main() -> int:
    check_determinism_trips()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import layers

    declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert declared == [(n, u) for n, u, _, _ in layers.PER_LAYER], (
        "BENCHMARK.json per_layer differs from layers.PER_LAYER"
    )
    check_metrics(spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
