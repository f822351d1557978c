"""Seeded input generators for the fit benchmark.

Every workload's input is a pure function of ``(spec, seed)``: numpy
draws the rows, and Spark only ever sees the finished frames. Each
generator also returns the planted feature indices, which the output
checks turn into ``selection_recall``.

Dense inputs carry three kinds of columns, at seeded positions:

* informative: the class shifts the mean, so RELIEF ranks them first;
* redundant: an informative column plus independent noise, so they
  rank next and give the redundancy stage real collisions;
* noise: standard normal, unrelated to the label.

Sparse inputs carry ~``nnz`` Zipf-distributed active features per row
over a huge declared width, plus planted features whose activity
depends on the label.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: planted informative columns, and noisy copies of them, per dense input
INFORMATIVE, REDUNDANT = 4, 4
#: class means of an informative column are this many standard deviations apart
CLASS_SHIFT = 1.5
#: standard deviation of the noise added to a redundant copy
COPY_NOISE = 0.6
#: Zipf exponent of the active-feature ranks of a sparse row
ZIPF_A = 1.3
#: chance a planted sparse feature is active in a class-1 / class-0 row
P_PLANTED_ON, P_PLANTED_OFF = 0.8, 0.05


@dataclass(frozen=True)
class DenseData:
    X: np.ndarray            # (rows, cols) float64, column-standardized
    y: np.ndarray            # (rows,) float64 class codes
    informative: list[int]   # planted label-linked columns
    redundant: list[int]     # noisy copies of the informative columns


@dataclass(frozen=True)
class SparseData:
    indices: list[np.ndarray]  # per row: ascending active feature ids
    values: list[np.ndarray]   # per row: the matching nonzero values
    y: np.ndarray
    width: int                 # declared vector size
    informative: list[int]


def dense(seed: int, rows: int, cols: int, classes: int) -> DenseData:
    rng = np.random.default_rng(seed)
    y = rng.integers(0, classes, size=rows)
    X = rng.standard_normal((rows, cols))
    cols_perm = rng.permutation(cols)
    inf_cols = sorted(int(c) for c in cols_perm[:INFORMATIVE])
    red_cols = [int(c) for c in cols_perm[INFORMATIVE : INFORMATIVE + REDUNDANT]]
    # one seeded class-mean pattern per informative column; classes sit
    # CLASS_SHIFT standard deviations apart so every planted column
    # carries signal whatever the class count
    for c in inf_cols:
        means = rng.permutation(classes) * CLASS_SHIFT
        X[:, c] += means[y]
    for i, c in enumerate(red_cols):
        src = inf_cols[i % len(inf_cols)]
        X[:, c] = X[:, src] + COPY_NOISE * rng.standard_normal(rows)
    X = (X - X.mean(axis=0)) / X.std(axis=0)
    return DenseData(X, y.astype(np.float64), inf_cols, sorted(red_cols))


def sparse(
    seed: int, rows: int, width: int, nnz: int, vocab: int, informative: int
) -> SparseData:
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 2, size=rows)
    # Zipf ranks map to seeded feature ids spread over the declared width
    ids = rng.choice(width, size=vocab + informative, replace=False)
    vocab_ids, planted = ids[:vocab], sorted(int(f) for f in ids[vocab:])
    indices, values = [], []
    for i in range(rows):
        ranks = rng.zipf(ZIPF_A, size=nnz)
        active = set(int(vocab_ids[r - 1]) for r in ranks if r <= vocab)
        p = P_PLANTED_ON if y[i] == 1 else P_PLANTED_OFF
        active.update(f for f in planted if rng.random() < p)
        idx = np.array(sorted(active), dtype=np.int64)
        indices.append(idx)
        values.append(np.round(rng.uniform(0.5, 1.5, size=len(idx)), 3))
    return SparseData(indices, values, y.astype(np.float64), width, planted)
