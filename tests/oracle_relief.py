"""Single-node numpy RELIEF-F oracle mirroring the engine's semantics.

Independent implementation used only to verify the distributed
DataFrame dataflow on small fixtures (SURVEY §5 test strategy item 1).
Semantics match spark_relieffc_fselection_spark.operators.relief:
within-batch kNN, self excluded, ties by id, class-bin collapse with
priors, deterministic collision threshold, symmetric joint updates.

:func:`relevance_weights`, :func:`marginal_counts`,
:func:`_pair_bin_counts` and :func:`sparse_single_pass_reference` are
the exceptions: Spark dataflows, kept as the references the engine's
driver-side bin collapse, its marginal sums, its sparse pair counts and
its sparse single-pass fit are pinned to.
"""

from __future__ import annotations

import numpy as np


def knn_oracle(X: np.ndarray, k: int, exclude_self: bool = True) -> list[list[int]]:
    """Indices of the k nearest rows for each row, ties by index."""
    n = len(X)
    out = []
    for i in range(n):
        d = np.sqrt(((X - X[i]) ** 2).sum(axis=1))
        order = np.lexsort((np.arange(n), d))
        ids = [j for j in order if not (exclude_self and j == i)][:k]
        out.append(ids)
    return out


def sparse_knn_oracle(
    long_rows: list[tuple[int, int, float]],
    label_ids: list[int],
    query_ids: list[int],
    k: int,
    exclude_self: bool = True,
) -> list[tuple[int, int, float, int]]:
    """Brute-force sparse kNN in Spark's arithmetic: every product cast
    to DECIMAL(38,18) as ``Decimal(repr(p)).quantize(1E-18,
    ROUND_HALF_UP)`` (the cast ``_collapse_bins_local`` replays), exact
    decimal sums back to double, then ``sqrt(max((q_sq + n_sq) -
    2.0 * dot, 0.0))`` for EVERY (query, corpus row) pair, top k by
    (distance, id). The corpus is ``label_ids``; long rows of other ids
    and queries outside it take no part. Returns (query_id,
    neighbor_id, distance, rank) rows in (query_id, rank) order."""
    import math
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    vec: dict[int, dict[int, float]] = {}
    for i, f, v in long_rows:
        vec.setdefault(i, {})[f] = v
    corpus = sorted(set(label_ids))
    out = []
    with localcontext() as ctx:
        ctx.prec = 80  # exact: no sum here rounds before the double cast

        def dot(a: dict, b: dict) -> float:
            q18 = Decimal("1E-18")
            terms = (
                Decimal(repr(a[f] * b[f])).quantize(q18, ROUND_HALF_UP)
                for f in a.keys() & b.keys()
            )
            return float(sum(terms, Decimal(0)))

        sq = {i: dot(vec.get(i, {}), vec.get(i, {})) for i in corpus}
        for q in sorted(set(query_ids) & set(corpus)):
            cands = sorted(
                (math.sqrt(max((sq[q] + sq[n]) - 2.0 * dot(vec.get(q, {}), vec.get(n, {})), 0.0)), n)
                for n in corpus
                if not (exclude_self and n == q)
            )
            out += [(q, n, dist, r + 1) for r, (dist, n) in enumerate(cands[:k])]
    return out


def diffcube_scan_oracle(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    blocks,
    k: int,
    exclude_self: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The exact numpy kNN scan as it was before BLAS pruning: the full
    (q - n)^2 diff cube in chunks of 4e6 // (Q * d) scan rows, merged into a running top-k by (squared distance, neighbor_id)
    after each chunk. Same signature and output, squared distances, as
    operators.knn.knn_scan."""
    nq = len(q_ids)
    best_d = np.full((nq, k), np.inf)
    best_i = np.full((nq, k), -1, dtype=np.int64)
    if nq:
        d = q_mat.shape[1] if q_mat.ndim == 2 else 1
        chunk = max(1, 4_000_000 // max(nq * d, 1))
        for n_ids_all, n_mat_all in blocks:
            for s in range(0, len(n_ids_all), chunk):
                n_ids = n_ids_all[s : s + chunk]
                n_mat = n_mat_all[s : s + chunk]
                diff = q_mat[:, None, :] - n_mat[None, :, :]
                d2 = np.einsum("qbd,qbd->qb", diff, diff)
                if exclude_self:
                    d2[q_ids[:, None] == n_ids[None, :]] = np.inf
                merged_d = np.concatenate([best_d, d2], axis=1)
                merged_i = np.concatenate(
                    [best_i, np.broadcast_to(n_ids, (nq, len(n_ids)))], axis=1
                )
                order = np.lexsort((merged_i, merged_d), axis=1)
                sel = order[:, :k]
                rows = np.arange(nq)[:, None]
                best_d = merged_d[rows, sel]
                best_i = merged_i[rows, sel]
    qi, slot = np.nonzero(np.isfinite(best_d))
    return q_ids[qi], best_i[qi, slot], best_d[qi, slot]


def relief_relevance_oracle(
    X: np.ndarray,
    y: np.ndarray,
    num_neighbors: int = 10,
) -> np.ndarray:
    n, n_feat = X.shape
    labels, counts = np.unique(y, return_counts=True)
    priors = {l: c / n for l, c in zip(labels, counts)}
    k = num_neighbors * len(labels)
    neigh = knn_oracle(X, k)

    # bin sums / counts keyed by (n_label, same_class)
    bin_sum: dict[tuple[float, bool], np.ndarray] = {}
    bin_cnt: dict[tuple[float, bool], int] = {}
    for qi in range(n):
        for ni in neigh[qi]:
            key = (float(y[ni]), bool(y[ni] == y[qi]))
            if key not in bin_sum:
                bin_sum[key] = np.zeros(n_feat)
                bin_cnt[key] = 0
            bin_sum[key] += np.abs(X[qi] - X[ni])
            bin_cnt[key] += 1

    w = np.zeros(n_feat)
    for (lbl, same), s in bin_sum.items():
        sign = -1.0 if same else 1.0
        w += sign * priors[lbl] * s / bin_cnt[(lbl, same)]
    return w


def relevance_weights(long_pairs, priors: dict[float, float], pair_counts=None):
    """The Spark-side bin collapse, ``(feature_idx, relevance)`` per
    aggregateWeightsByFeat (ReliefFRSelector.scala:605-629): bins where
    the neighbor shares the query's class subtract, others add, each
    weighted by the neighbor class's prior and divided by the bin's pair
    count. The engine collapses on the driver
    (``relief._collapse_bins_local``); this is the reference it must
    match bit for bit.

    The divisor is the number of (query, neighbor) PAIRS in the bin.
    Without ``pair_counts`` it is counted from the distinct pairs of
    ``long_pairs``, which is right only for dense long tables: sparse
    callers pass counts from the neighbor table, because a fully
    inactive pair has no rows. (Spark imports stay inside the function:
    the benchmark kit imports this module for its numpy oracle.)
    """
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.relief import DEC

    spark = long_pairs.sparkSession
    prior_df = F.broadcast(
        spark.createDataFrame(
            [(float(k), float(v)) for k, v in priors.items()],
            "n_label double, prior double",
        )
    )
    if pair_counts is None:
        pair_counts = (
            long_pairs.select("query_id", "neighbor_id", "n_label", "same_class")
            .distinct()
            .groupBy("n_label", "same_class")
            .agg(F.count("*").alias("bin_cnt"))
        )
    bin_sums = long_pairs.groupBy("feature_idx", "n_label", "same_class").agg(
        F.sum(F.col("fdist").cast(DEC)).alias("bin_sum"),
    )
    return _collapse_bins(bin_sums, prior_df, pair_counts)


def marginal_counts(collisions):
    """Per-feature marginal collision mass (SURVEY A5) of a
    ``collision_table`` frame: the Spark aggregate the engine's
    ``vote_sum`` partials must sum to."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.relief import DEC

    return collisions.groupBy("feature_idx").agg(
        F.sum(F.col("vote").cast(DEC)).cast("double").alias("marginal")
    )


def _pair_bin_counts(neighbors, labels):
    """classCounter from the neighbor table, ``(n_label, same_class,
    bin_cnt)``: counts EVERY pair, even ones whose rows are fully absent
    from the sparse long table — the Spark form of the per-bin pair
    counts the sparse pair kernel emits.

    Invariant: both label joins are inner joins that must keep every
    neighbor row (query and neighbor ids are drawn from ``labels``), so
    ``sum(bin_cnt) == neighbors.count()``."""
    from pyspark.sql import functions as F

    return (
        neighbors.select("query_id", "neighbor_id")
        .join(
            labels.select(F.col("id").alias("query_id"), F.col("label").alias("q_label")),
            "query_id",
        )
        .join(
            labels.select(F.col("id").alias("neighbor_id"), F.col("label").alias("n_label")),
            "neighbor_id",
        )
        .withColumn("same_class", F.col("n_label") == F.col("q_label"))
        .groupBy("n_label", "same_class")
        .agg(F.count("*").alias("bin_cnt"))
    )


def _collapse_bins(bin_sums, prior_df, pair_counts):
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.relief import DEC

    return (
        bin_sums.join(pair_counts, ["n_label", "same_class"])
        .join(prior_df, "n_label")
        .withColumn(
            "contrib",
            F.when(F.col("same_class"), F.lit(-1.0)).otherwise(F.lit(1.0))
            * F.col("prior")
            * F.col("bin_sum").cast("double")
            / F.col("bin_cnt"),
        )
        .groupBy("feature_idx")
        .agg(F.sum(F.col("contrib").cast(DEC)).cast("double").alias("relevance"))
    )


def minmax_oracle(raw: dict[int, float], n_features: int) -> np.ndarray:
    """Dense min-max of raw relevance over a zero-initialized array:
    absent features carry raw 0.0; a degenerate range gives all 0.0."""
    arr = np.zeros(n_features)
    for f, v in raw.items():
        arr[f] = v
    if n_features == 0:
        return arr
    mn, mx = float(arr.min()), float(arr.max())
    return (arr - mn) / (mx - mn) if mx > mn else np.zeros(n_features)


def std_ranking_oracle(relevance: np.ndarray, num_top_features: int) -> list[int]:
    """Top-k of a dense relevance array by (-relevance, feature_idx)."""
    order = np.lexsort((np.arange(len(relevance)), -relevance))
    return [int(i) for i in order[: max(0, min(num_top_features, len(relevance)))]]


def greedy_oracle(
    relevance: np.ndarray,
    redundancy_coo: dict[tuple[int, int], float],
    num_top_features: int,
) -> list[int]:
    """The greedy selection over a dense relevance array, as a plain
    per-round numpy arg-max (selectFeatures, ReliefFRSelector.scala:
    685-732): per-feature update counters, pure relevance until a
    feature is first charged, ties to the lowest index. Returns [] for
    k <= 0 and for an empty array."""
    n_feat = len(relevance)
    k = min(num_top_features, n_feat)
    if k <= 0:
        return []
    red_acc = np.zeros(n_feat)
    upd_cnt = np.zeros(n_feat, dtype=np.int64)
    valid = np.ones(n_feat, dtype=bool)
    by_f1: dict[int, list[tuple[int, float]]] = {}
    for (f1, f2), v in redundancy_coo.items():
        by_f1.setdefault(f1, []).append((f2, v))
    first = int(np.lexsort((np.arange(n_feat), -relevance))[0])
    selected = [first]
    valid[first] = False
    while len(selected) < k:
        last = selected[-1]
        for f2, v in by_f1.get(last, ()):
            if valid[f2]:
                red_acc[f2] += v
                upd_cnt[f2] += 1
        score = np.where(
            upd_cnt > 0, relevance - red_acc / np.maximum(upd_cnt, 1), relevance
        )
        score = np.where(valid, score, -np.inf)
        best = int(np.argmax(score))
        if not np.isfinite(score[best]):
            break
        selected.append(best)
        valid[best] = False
    return selected


def collision_stats_oracle(
    X: np.ndarray,
    y: np.ndarray,
    num_neighbors: int,
    lower_distance_threshold: float,
    top_features: set[int] | None,
    continuous: bool = True,
):
    """(marginal, joint dict, total_pairs) matching the engine."""
    n, n_feat = X.shape
    k = num_neighbors * len(np.unique(y))
    neigh = knn_oracle(X, k)
    thr = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0
    marginal = np.zeros(n_feat)
    joint: dict[tuple[int, int], float] = {}
    total = 0
    for qi in range(n):
        for ni in neigh[qi]:
            total += 1
            fd = np.abs(X[qi] - X[ni])
            colliding = np.nonzero(fd <= thr)[0]
            votes = (1.0 - np.minimum(6.0, fd) / 6.0) if continuous else np.ones(n_feat)
            for f in colliding:
                marginal[f] += votes[f]
            for f1 in colliding:
                if top_features is not None and f1 not in top_features:
                    continue
                for f2 in colliding:
                    if f1 == f2:
                        continue
                    jv = (votes[f1] + votes[f2]) / 2.0 if continuous else votes[f1]
                    joint[(f1, f2)] = joint.get((f1, f2), 0.0) + jv
                    joint[(f2, f1)] = joint.get((f2, f1), 0.0) + jv
    return marginal, joint, total


def sparse_single_pass_reference(
    long_df,
    labels,
    n_features: int,
    *,
    num_top_features: int,
    num_neighbors: int,
    lower_distance_threshold: float = 0.8,
    redundancy_removal: bool = True,
    discrete_data: bool = False,
) -> dict:
    """The single-pass sparse fit as a plain chain of the Spark
    operators, one stage after another: :func:`relevance_weights` over
    the sparse pair table -> dense min-max + std ranking ->
    ``collision_table`` -> ``joint_counts`` (scoped to the std
    ranking) and ``marginal_counts`` -> ``mi_redundancy``
    with jointTotal = the pair count -> :func:`greedy_oracle`. Returns
    relevance (as a dense list), std_selection, redundancy_selection
    and redundancy_coo."""
    from spark_relieffc_fselection_spark.operators.relief import (
        collision_table,
        joint_counts,
        mi_redundancy,
    )
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        sparse_knn_join,
        sparse_pair_feature_table,
    )

    label_counts = labels.groupBy("label").count().collect()
    n = sum(int(r["count"]) for r in label_counts)
    priors = {float(r["label"]): r["count"] / n for r in label_counts}
    k = num_neighbors * len(priors)
    continuous = not discrete_data
    neigh = sparse_knn_join(long_df, labels, labels.select("id"), k, num_corpus=n).cache()
    n_pairs = neigh.count()
    lp = sparse_pair_feature_table(long_df, labels, neigh).cache()
    raw = {
        int(r["feature_idx"]): float(r["relevance"])
        for r in relevance_weights(
            lp, priors, pair_counts=_pair_bin_counts(neigh, labels)
        ).collect()
    }
    arr = minmax_oracle(raw, n_features)
    std_sel = std_ranking_oracle(arr, num_top_features)

    red_coo: dict[tuple[int, int], float] = {}
    red_sel = list(std_sel)
    if redundancy_removal:
        coll = collision_table(lp, continuous, lower_distance_threshold).cache()
        joint = joint_counts(coll, std_sel, continuous)
        if n_pairs:
            red_df = mi_redundancy(
                joint, marginal_counts(coll), float(n_pairs), float(n_pairs)
            )
            for r in red_df.collect():
                red_coo[(int(r["f1"]), int(r["f2"]))] = float(r["redundancy"])
        coll.unpersist()
        red_sel = greedy_oracle(arr, red_coo, num_top_features)
    lp.unpersist()
    neigh.unpersist()
    return {
        "relevance": arr.tolist(),
        "std_selection": std_sel,
        "redundancy_selection": red_sel,
        "redundancy_coo": red_coo,
    }
