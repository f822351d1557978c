"""Layer decomposition of the traced run, and the per-layer metric table.

The decomposition calls each layer's public function directly, in the
order the fit chains them, with every input cached and materialized
first, so each span is that layer's self time. Span names are
``<module>.<call>``; metric names add ``_s`` for wall time or
``.<measure>`` for a counter.
"""

from __future__ import annotations

import numpy as np

import gen
import workloads

NUM_TOP = 10  # ReliefFSelector's numTopFeatures default
LOWER_DISTANCE_THRESHOLD = 0.8  # ReliefFSelector's default
LOWER_FEATURE_THRESHOLD = 3.0  # ReliefFSelector's default

_SPAN_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_RELIEF_SPANS = (
    "relief.pair_table",
    "relief.feature_bin_stats",
    "relief.joint_counts_from_pairs",
    "relief.mi_redundancy",
    "relief.greedy_select",
)
_SPARSE_SPANS = (
    "relief_sparse.sparse_knn_join",
    "relief_sparse.sparse_pair_feature_table",
)


def _table() -> list[tuple[str, str, str | None, str | None]]:
    """(metric, unit, span, measure): measure None = the span's wall
    time, "@name" = a count the decomposition returns."""
    rows = [("session.get_spark_s", "s", None, "@get_spark_s")]
    for span in ("estimator.fit", "estimator.transform"):
        rows.append((f"{span}_s", "s", span, None))
        rows += [(f"{span}.{m}", u, span, m) for m, u in _SPAN_COUNTERS]
    rows.append(("estimator.fit.driver_residual_s", "s", "estimator.fit", "@residual"))
    rows += [
        ("discretizer.quantile_discretize_s", "s", "discretizer.quantile_discretize", None),
        ("discretizer.quantile_discretize.jobs", "count", "discretizer.quantile_discretize", "jobs"),
        ("knn.knn_join_s", "s", "knn.knn_join", None),
        ("knn.knn_join.jobs", "count", "knn.knn_join", "jobs"),
        ("knn.knn_join.executor_run_s", "s", "knn.knn_join", "executor_run_s"),
        ("knn.distance_cells", "cells", None, "@distance_cells"),
    ]
    for span in _RELIEF_SPANS:
        rows += [
            (f"{span}_s", "s", span, None),
            (f"{span}.jobs", "count", span, "jobs"),
            (f"{span}.shuffle_write_bytes", "bytes", span, "shuffle_write_bytes"),
        ]
    rows += [
        ("relief.n_pairs", "count", None, "@n_pairs"),
        ("relief.exploded_rows", "count", None, "@exploded_rows"),
    ]
    for span in _SPARSE_SPANS:
        rows += [(f"{span}_s", "s", span, None), (f"{span}.jobs", "count", span, "jobs")]
    rows += [
        ("relief_sparse.index_join_rows", "count", None, "@index_join_rows"),
        ("relief_sparse.kept_pairs", "count", None, "@kept_pairs"),
        ("relief_sparse.useful_ratio", "ratio", None, "@useful_ratio"),
        ("relief_sparse.sparse_knn_join.grid_route", "flag", None, "@grid_route"),
        ("host.peak_rss_mb", "MB", None, "@peak_rss_mb"),
        ("host.canary_s", "s", None, "@canary_s"),
        ("host.canary_drift", "ratio", None, "@canary_drift"),
        ("trace.overhead_s", "s", None, "@overhead_s"),
    ]
    return rows


PER_LAYER = _table()


#: fit-level spans repeat once per traced fit: they report the last one.
#: Every other span repeats once per batch and reports the sum.
_PER_FIT = ("estimator.fit", "estimator.transform", "discretizer.quantile_discretize")


def _collect_spans(spans, groups):
    """Span name -> (wall s, {measure: value}) under the rule above."""
    out: dict[str, tuple[float, dict[str, float]]] = {}
    for s in spans:
        wall = s["end"] - s["start"]
        g = groups.get(s["group"], {})
        if s["name"] in _PER_FIT or s["name"] not in out:
            out[s["name"]] = (wall, dict(g))
        else:
            w0, g0 = out[s["name"]]
            out[s["name"]] = (w0 + wall, {m: g0.get(m, 0.0) + g.get(m, 0.0) for m in {*g0, *g}})
    return out


def per_layer_metrics(spans, groups, counts, cores, *, get_spark_s, canary, overhead_s):
    """Every per-layer metric as name -> (value, unit). A span the run
    never entered reports 0."""
    by_name = _collect_spans(spans, groups)
    extra = dict(
        counts,
        get_spark_s=get_spark_s,
        canary_s=(canary[0] + canary[1]) / 2.0,
        canary_drift=canary[1] / canary[0],
        overhead_s=overhead_s,
    )
    if "estimator.fit" in by_name:
        wall, g = by_name["estimator.fit"]
        extra["residual"] = wall - g.get("executor_run_s", 0.0) / cores
    out = {}
    for name, unit, span, measure in PER_LAYER:
        wall, g = by_name.get(span, (0.0, {})) if span else (0.0, {})
        if measure is None:
            v = wall
        elif measure.startswith("@"):
            v = extra.get(measure[1:], 0.0)
        else:
            v = g.get(measure, 0.0)
        out[name] = (float(v), unit)
    return out


def decompose_dense(spark, tracer, w, df, data) -> dict[str, float]:
    """Replay ``fit_relief``'s batch loop one layer call at a time.

    The rows, ids, sample, batches and pair-table partition count are
    the fit's own: ids come from ``monotonically_increasing_id`` over the
    cached frame the estimator receives, the sample and batches from the
    same ``hash_uniform`` and ``pmod`` predicates, and the partition
    count from the same volume formula. Per batch: ``knn_join`` ->
    ``pair_table`` -> ``feature_bin_stats(explode_pairs(...))`` and, when
    the fit removes redundancy, ``joint_counts_from_pairs`` over the
    previous batch's top features; the relevance collapse is the
    engine's own ``_collapse_bins_local``. Then ``mi_redundancy`` over
    the summed joints and ``greedy_select``. Returns the counters plus
    the replayed selections, so the caller can check that the replay
    reproduces the fit.
    """
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from spark_relieffc_fselection_spark.operators.knn import knn_join
    from spark_relieffc_fselection_spark.operators.relief import (
        _collapse_bins_local,
        explode_pairs,
        feature_bin_stats,
        greedy_select,
        joint_counts_from_pairs,
        mi_redundancy,
        pair_table,
        std_ranking,
    )
    from spark_relieffc_fselection_spark.operators.sampling import hash_uniform

    p = w.params
    ratio = p.get("estimationRatio", 1.0)
    continuous = not p.get("discreteData", False)
    redundancy = p.get("redundancyRemoval", False)
    prepared = workloads.discretize(w, df).select(
        F.monotonically_increasing_id().alias("id"),
        F.col("features").cast("array<double>").alias("features"),
        F.col("label").cast("double").alias("label"),
    ).cache()
    cached = [prepared]
    try:
        label_rows = prepared.groupBy("label").count().collect()
        n_elems = sum(r["count"] for r in label_rows)
        priors = {float(r["label"]): r["count"] / n_elems for r in label_rows}
        n_feat = data.X.shape[1]
        k = p["numNeighbors"] * len(priors)
        lower_feat = max(NUM_TOP, round(LOWER_FEATURE_THRESHOLD * NUM_TOP))
        sample = prepared
        if ratio < 1.0:
            sample = prepared.filter(hash_uniform(F.col("id")) < ratio)
        sampled_size = sample.count()
        n_batches = max(1, int(1.0 / p.get("batchSize", 1.0)))
        batch_rows = max(1, sampled_size // n_batches)
        batches = [sample] if n_batches == 1 else [
            sample.filter(F.pmod(F.col("id"), F.lit(n_batches)) == i)
            for i in range(n_batches)
        ]
        sample_parts = sample.rdd.getNumPartitions()
        top_mult = min(lower_feat, n_feat) if redundancy else 0
        pair_vol = batch_rows * k * n_feat * (1 + top_mult)
        pair_parts = max(1, min(spark.sparkContext.defaultParallelism, -(-pair_vol // 262144)))

        top: list[int] = []
        weights, marginals, joints = [], [], []
        total_pairs = 0
        distance_cells = 0.0
        for batch in batches:
            batch = batch.cache()
            rows_b = batch.count()
            cached.append(batch)
            distance_cells += float(rows_b) * rows_b * n_feat
            with tracer.span("knn.knn_join"):
                neigh = knn_join(
                    batch, batch, k, strategy=p["knnStrategy"],
                    num_instances=batch_rows, num_queries=batch_rows,
                    scan_partitions=sample_parts,
                ).cache()
                neigh.count()
            cached.append(neigh)
            with tracer.span("relief.pair_table"):
                pairs = (
                    pair_table(batch, neigh)
                    .repartition(pair_parts, "query_id", "neighbor_id")
                    .cache()
                )
                n_pairs = pairs.count()
            cached.append(pairs)
            total_pairs += n_pairs
            with tracer.span("relief.feature_bin_stats"):
                bins = feature_bin_stats(
                    explode_pairs(pairs), continuous, LOWER_DISTANCE_THRESHOLD
                ).collect()
            pair_counts = {
                (r["n_label"], r["same_class"]): r["count"]
                for r in pairs.groupBy("n_label", "same_class").count().collect()
            }
            rel_b, marg_b = _collapse_bins_local(
                (
                    (b["feature_idx"], b["n_label"], b["same_class"], b["bin_sum"], b["vote_sum"])
                    for b in bins
                ),
                pair_counts,
                priors,
            )
            weights.append(rel_b)
            if redundancy:
                with tracer.span("relief.joint_counts_from_pairs"):
                    j_b = joint_counts_from_pairs(
                        pairs, top, continuous, LOWER_DISTANCE_THRESHOLD, n_feat
                    ).cache()
                    j_b.count()
                cached.append(j_b)
                joints.append(j_b)
                marginals.append(marg_b)
            top = [f for f, _ in sorted(rel_b.items(), key=lambda kv: (-kv[1], kv[0]))[:lower_feat]] or top

        relevance = np.zeros(n_feat)
        for rel_b in weights:
            for f, v in rel_b.items():
                relevance[f] += v
        mn, mx = float(relevance.min()), float(relevance.max())
        relevance = (relevance - mn) / (mx - mn) if mx > mn else np.zeros(n_feat)
        std_sel = std_ranking(relevance, NUM_TOP)
        red_sel = list(std_sel)
        if redundancy:
            joint_all = reduce(DataFrame.unionByName, joints).groupBy("f1", "f2").agg(
                F.sum("joint").alias("joint")
            ).cache()
            joint_all.count()
            cached.append(joint_all)
            marg_sum: dict[int, float] = {}
            for marg_b in marginals:
                for f, v in marg_b.items():
                    marg_sum[f] = marg_sum.get(f, 0.0) + v
            marg_all = spark.createDataFrame(
                [(int(f), float(v)) for f, v in sorted(marg_sum.items())],
                "feature_idx long, marginal double",
            )
            joint_total = total_pairs * (1.0 - ratio / n_batches)
            with tracer.span("relief.mi_redundancy"):
                red = mi_redundancy(
                    joint_all, marg_all, float(total_pairs), joint_total
                ).collect()
            red_coo = {(int(r["f1"]), int(r["f2"])): float(r["redundancy"]) for r in red}
            with tracer.span("relief.greedy_select"):
                red_sel = greedy_select(relevance, red_coo, NUM_TOP)
        return {
            "distance_cells": distance_cells,
            "n_pairs": float(total_pairs),
            "exploded_rows": float(total_pairs) * n_feat,
            "std_selection": [int(f) for f in std_sel],
            "redundancy_selection": [int(f) for f in red_sel],
        }
    finally:
        for c in cached:
            c.unpersist()


def decompose_sparse(spark, tracer, seed: int, size: str) -> dict[str, float]:
    """sparse_knn_join -> sparse_pair_feature_table on a seeded sparse
    input of declared width 2^20 (long form, as the estimator's sparse
    route builds it)."""
    import pandas as pd
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        sparse_knn_join,
        sparse_pair_feature_table,
    )

    spec = workloads.SPARSE_TRACE_TINY if size == "tiny" else workloads.SPARSE_TRACE
    sd = gen.sparse(seed, **spec)
    lengths = [len(ix) for ix in sd.indices]
    long_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": np.repeat(np.arange(len(sd.y)), lengths),
                "feature_idx": np.concatenate(sd.indices).astype(np.int32),
                "value": np.concatenate(sd.values),
            }
        ),
        "id long, feature_idx int, value double",
    ).cache()
    labels = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(sd.y)), "label": sd.y}),
        "id long, label double",
    ).cache()
    long_df.count()
    n = labels.count()
    k = 5 * 2  # numNeighbors x classes

    route: dict = {}
    with tracer.span("relief_sparse.sparse_knn_join"):
        neigh = sparse_knn_join(
            long_df, labels, labels.select("id"), k,
            num_corpus=n, resolution_out=route,
        ).cache()
        kept = neigh.count()
    with tracer.span("relief_sparse.sparse_pair_feature_table"):
        lp = sparse_pair_feature_table(long_df, labels, neigh).cache()
        lp.count()
    for c in (lp, neigh, labels, long_df):
        c.unpersist()
    df_f = np.bincount(np.concatenate(sd.indices))
    index_join_rows = float(np.sum(df_f.astype(np.float64) ** 2))
    return {
        "index_join_rows": index_join_rows,
        "kept_pairs": float(kept),
        "useful_ratio": kept / index_join_rows if index_join_rows else 0.0,
        "grid_route": 1.0 if route.get("route") == "grid" else 0.0,
    }

