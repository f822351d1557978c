"""Workload definitions: the generated input, the selector parameters,
and the timed call of each benchmark workload.

A workload is a pure function of its seed. ``size='tiny'`` shrinks the
row count for the self-test; every other setting stays the same.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import gen

#: share of the planted informative features a correct fit must select
RECALL_FLOOR = 1.0
#: sparse input measured by the traced run's relief_sparse spans
#: (60 Zipf draws give ~30 distinct active features per row)
SPARSE_TRACE = dict(rows=600, width=1 << 20, nnz=60, vocab=2000, informative=4)
SPARSE_TRACE_TINY = dict(SPARSE_TRACE, rows=120)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    rows: int
    #: rows for the self-test, which pins its seed: at this size some
    #: seeds miss the recall floor
    tiny_rows: int
    cols: int
    classes: int
    #: untimed fits before the timed loop; the first compiles the
    #: session's code, a second one absorbs what is left of the warm-up
    warm_fits: int
    params: dict = field(default_factory=dict)
    #: quantile bins applied inside the timed call (None = continuous input)
    bins: int | None = None
    #: compare relevance against the numpy RELIEF oracle once per run
    oracle: bool = False
    #: the traced run also decomposes the sparse route on SPARSE_TRACE
    sparse_pass: bool = False

    def make(self, seed: int, size: str = "full") -> gen.DenseData:
        rows = self.tiny_rows if size == "tiny" else self.rows
        return gen.dense(seed, rows, self.cols, self.classes)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="dense_knn",
            why=(
                "continuous single-batch fit where exact kNN is the largest "
                "span, so kNN pruning and kernel work show up here"
            ),
            rows=5000,
            tiny_rows=300,
            cols=64,
            classes=2,
            warm_fits=2,
            params=dict(
                numNeighbors=1,
                estimationRatio=1.0,
                batchSize=1.0,
                redundancyRemoval=False,
                knnStrategy="numpy",
            ),
            oracle=True,
        ),
        Workload(
            name="dense_batched",
            why=(
                "discretized, sampled, hash-batched fit with redundancy, where "
                "the per-batch action chain, joint COO, MI and greedy do the work"
            ),
            rows=2000,
            tiny_rows=300,
            cols=32,
            classes=3,
            warm_fits=1,
            params=dict(
                numNeighbors=5,
                discreteData=True,
                estimationRatio=0.5,
                samplingMode="hash",
                batchSize=0.5,
                batching="hash",
                redundancyRemoval=True,
                knnStrategy="numpy-gemm",
            ),
            bins=8,
            sparse_pass=True,
        ),
    )
}


def load(spark, data: gen.DenseData):
    """Hand the generated rows to Spark as ``(id, features, label)`` and
    pin them in the cache; the count materializes it."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": range(len(data.y)), "features": list(data.X), "label": data.y}
    )
    df = spark.createDataFrame(
        pdf, "id long, features array<double>, label double"
    ).cache()
    df.count()
    return df


def selector(w: Workload):
    from spark_relieffc_fselection_spark.ml.estimator import ReliefFSelector

    return ReliefFSelector(inputCol="features", labelCol="label", **w.params)


def discretize(w: Workload, df):
    """The workload's pre-fit step: quantile binning, or the raw frame."""
    if w.bins is None:
        return df
    from spark_relieffc_fselection_spark.ml.discretizer import quantile_discretize

    binned, _ = quantile_discretize(df, num_bins=w.bins)
    return binned


def fit(w: Workload, df):
    """The timed call: discretize (when the workload bins) plus fit."""
    return selector(w).fit(discretize(w, df))


def transform(model, df) -> None:
    """``model.transform`` written to a sink that discards the rows."""
    model.transform(df).write.format("noop").mode("overwrite").save()
