"""Sparse-input RELIEF-F: long/COO representation end-to-end.

The reference's sparse path (ReliefFRSelector.scala:483-602) re-walks
(indices, values) arrays with two-pointer merges inside RDD closures —
and mis-keys feature ids doing it (SURVEY §8.1). Here sparsity is just
*absent rows* in a long table ``(id, feature_idx, value)``:

  * kNN: dist^2 = |a|^2 + |b|^2 - 2<a,b>, where the dot products come
    from an inverted-index join on feature_idx — cost scales with
    *shared nonzeros*, never with the nominal dimensionality. This is
    what makes "millions of features" (README.md:11, kddb 30M features)
    tractable: a dense scan is O(Q·N·d), this is O(Q·nnz).
  * pair expansion: full-outer join of the two sides' active features
    per (query, neighbor) pair — features inactive in BOTH sides are
    skipped (they contribute 0 distance; for collisions this matches
    the reference's sparse semantics of visiting active indices only).
  * everything downstream — relevance_weights, collision_table,
    marginal/joint counts, MI, greedy selection — is shared with the
    dense path unchanged: the long-form design makes the aggregation
    layer representation-agnostic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.relief import (
    DEC,
    _collapse_bins_local,
    feature_bin_stats,
    DENSE_RELEVANCE_MAX_FEATURES,
    ReliefFitResult,
    SparseRelevance,
    collision_table,
    greedy_select,
    greedy_select_coo,
    joint_counts,
    marginal_counts,
    mi_redundancy,
    normalize_relevance_coo,
    relevance_weights,
    std_ranking,
    std_ranking_coo,
)


def _finalize_relevance(
    w_rows, n_features: int, num_top_features: int
) -> tuple[np.ndarray | SparseRelevance, list[int]]:
    """Driver-side normalize + std-rank of collected raw weights.

    Below ``DENSE_RELEVANCE_MAX_FEATURES`` this is the classic dense
    ndarray path; above it the driver state stays COO — a dict keyed
    by ACTIVE feature (bounded by distinct nonzero features, never the
    declared width), so a kddb-width fit (30M features, README.md:11)
    does not allocate ~240 MB dense arrays for a frame that is sparse
    by construction (VERDICT r8 #7)."""
    present = {int(r["feature_idx"]): float(r["relevance"]) for r in w_rows}
    if n_features > DENSE_RELEVANCE_MAX_FEATURES:
        rel_map, default = normalize_relevance_coo(present, n_features)
        rel = SparseRelevance(rel_map, default, n_features)
        return rel, std_ranking_coo(rel_map, default, n_features, num_top_features)
    arr = np.zeros(n_features)
    for f, v in present.items():
        arr[f] = v
    mn, mx = float(arr.min()), float(arr.max())
    arr = (arr - mn) / (mx - mn) if mx > mn else np.zeros(n_features)
    return arr, std_ranking(arr, num_top_features)


def _greedy(
    relevance_n: "np.ndarray | SparseRelevance",
    red_coo: dict[tuple[int, int], float],
    num_top_features: int,
) -> list[int]:
    if isinstance(relevance_n, SparseRelevance):
        return greedy_select_coo(
            relevance_n.data, relevance_n.default, relevance_n.n,
            red_coo, num_top_features,
        )
    return greedy_select(relevance_n, red_coo, num_top_features)


def to_long_form(
    df: DataFrame,
    id_col: str = "id",
    features_col: str = "features",
    label_col: str = "label",
) -> tuple[DataFrame, DataFrame]:
    """(long, labels): explode a dense array column to nonzero rows.

    Convenience for tests/small data — real sparse corpora should
    arrive in long form already (the natural shape of a COO parquet).
    """
    long_df = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(features_col)).alias("feature_idx", "value"),
        )
        .filter(F.col("value") != 0.0)
    )
    labels = df.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("label")
    )
    return long_df, labels


def _coalesce_for_cache(
    df: DataFrame, est_rows: int, per_task: int = 65536
) -> DataFrame:
    """Narrow-coalesce a shuffle-produced frame to ~est_rows/per_task
    partitions before caching. Cache materialization pins the
    shuffle_partitions-wide layout (AQE cannot re-coalesce a cached
    plan), so at bench SFs every later scan of a tiny cached frame is
    a stage of near-empty tasks; deriving the count from a driver-held
    row estimate collapses that (guide §2.4: scale-adaptive, not
    constant-tuned). At production volumes the derived count exceeds
    the physical partition count and coalesce() is a no-op. No extra
    exchange; no value change (downstream sums are decimal/integer,
    ranks are computed upstream). Only used for caches whose later
    scans are NARROW map-side reads — an under-estimate then costs a
    few oversized cheap tasks, never a serialized wide stage."""
    n = max(1, -(-int(est_rows) // per_task))
    return df.coalesce(n)


def sparse_knn_join(
    long_df: DataFrame,
    labels: DataFrame,
    query_ids: DataFrame,
    k: int,
    exclude_self: bool = True,
    num_corpus: int | None = None,
    probe: bool | None = None,
    resolution_out: dict | None = None,
) -> DataFrame:
    """kNN via inverted-index dot products + the norm expansion —
    WITHOUT ever materializing the O(|queries| x |corpus|) grid.

    ``long_df``: (id, feature_idx, value); ``query_ids``: (id) subset.
    Returns (query_id, neighbor_id, distance, rank).

    Exact candidate set, two parts:

    * **Sharing pairs** — pairs with >= 1 common active feature get the
      exact distance sqrt(|q|^2 + |n|^2 - 2<q,n>) from the
      inverted-index join. Cost scales with shared nonzeros.
    * **No-overlap pairs** — <q,n> = 0, so within a query's no-overlap
      set the distance sqrt(|q|^2 + |n|^2) ranks by NEIGHBOR NORM
      ALONE. Hence only the globally smallest-norm rows can matter:
      take the bottom-M norm list (M adaptive), pair each query with
      the members it shares no feature with, and that covers every
      no-overlap pair that could reach the top k. M starts at
      2(k+1) and doubles until every query sees >= k+1 no-overlap
      members in the list (one cheap broadcast-sized check per round;
      the first M suffices unless the smallest-norm rows happen to
      overlap nearly every query). Any no-overlap row outside the
      list has norm >= those k+1 covered candidates, so it is
      dominated and can never enter the top k.

    At 100 TB this replaces the old norms-grid crossJoin (O(Q x N)
    narrow rows — the sparse path's one quadratic stage) with
    O(shared nonzeros) join work plus a driver-bounded probe list.

    ``resolution_out`` (VERDICT r9 #5): pass a dict and the operator
    records which no-overlap route it actually took —
    ``{'route': 'probe' | 'grid'}`` — the decision the adaptive loop
    makes at call time. Cost-only (both routes are exact), but the
    same audit argument as the dense tier's resolved_knn_strategy:
    a fit whose plan the heuristic chose should say which plan ran.
    """
    # id universe comes from `labels`, NOT the long table: an all-zero
    # row has no long-form rows at all but is still a real instance
    # (norm 0) for both the query and neighbor sides.
    # Decimal-accumulated norms/dots (the engine-wide posture, SCALE.md
    # "Global posture"): float sums are shuffle-order-sensitive, so a
    # double-summed distance could flip near-tied neighbor ranks
    # between runs — and between this engine and the SQL oracle.
    norms = (
        labels.select("id")
        .join(
            long_df.groupBy("id").agg(
                F.sum((F.col("value") * F.col("value")).cast(DEC))
                .cast("double")
                .alias("sq_norm")
            ),
            "id",
            "left",
        )
        .na.fill({"sq_norm": 0.0})
    )
    q_norms = norms.join(query_ids.select(F.col("id")), "id").select(
        F.col("id").alias("query_id"), F.col("sq_norm").alias("q_sq")
    )
    q_long = long_df.join(
        F.broadcast(query_ids.select(F.col("id").alias("query_id"))),
        long_df.id == F.col("query_id"),
    ).select("query_id", "feature_idx", F.col("value").alias("q_val"))

    # ---- no-overlap candidates: bottom-M norm probe, grid fallback ----
    # For a GENUINELY sparse corpus (nnz/row << nFeat — the kddb-style
    # regime this path exists for), the smallest-norm rows rarely share
    # features with a query, so a small probe list covers every
    # no-overlap candidate. For dense-ish data most bottom rows DO
    # overlap most queries and the probe would have to grow toward the
    # whole corpus — detect that cheaply and fall back to the
    # O(Q x |corpus|) norms grid (narrow rows, windowed immediately),
    # which is the better plan exactly when the data is dense.
    # The probe artifacts are DRIVER-BOUNDED (bottom list: M rows;
    # overlap pairs: <= |queries| x M): collect them and feed
    # LocalRelations back, so the final anti join broadcasts with no
    # shuffle.
    # `num_corpus` (when the caller already counted labels) saves a job
    spark = long_df.sparkSession
    n_corpus = num_corpus if num_corpus is not None else labels.count()
    need = k + 1 if exclude_self else k  # self may sit in the list
    m = min(2 * (k + 1), n_corpus)
    # ``probe``: None = adaptive (try the probe, fall back on
    # escalation); False = caller knows the data is dense-ish, go
    # straight to the grid; True = force the probe (escalate to the
    # full corpus if needed — never falls back).
    m_cap = n_corpus if probe else min(n_corpus, 8 * (k + 1))
    probe_ok = False
    while probe is not False:
        bottom_rows = (
            norms.orderBy(F.asc("sq_norm"), F.asc("id")).limit(m).collect()
        )
        bottom_ids = [int(r["id"]) for r in bottom_rows]
        # long rows of the listed ids: pushed-down isin filter, no join
        bottom_long = long_df.filter(F.col("id").isin(bottom_ids)).select(
            F.col("id").alias("neighbor_id"), "feature_idx"
        )
        # (query, listed-id) pairs that DO share a feature
        overlap_rows = (
            q_long.join(F.broadcast(bottom_long), "feature_idx")
            .select("query_id", "neighbor_id")
            .distinct()
            .collect()
        )
        if m >= n_corpus:
            probe_ok = True  # probe degenerated to the full corpus
            break
        per_q: dict = {}
        for r in overlap_rows:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        if m - max(per_q.values(), default=0) >= need:
            probe_ok = True
            break
        if m >= m_cap:
            break  # dense regime: grid fallback
        m = min(4 * m, m_cap)
    if resolution_out is not None:
        resolution_out["route"] = "probe" if probe_ok else "grid"
    # ---- sharing pairs: exact distance from the inverted index ----
    # queries are a bounded sample (the operator contract): broadcast
    # their long rows so the inverted-index join never shuffles the
    # corpus-side long table.
    dots = (
        long_df.select(F.col("id").alias("neighbor_id"), "feature_idx", F.col("value").alias("n_val"))
        .join(F.broadcast(q_long), "feature_idx")
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum((F.col("q_val") * F.col("n_val")).cast(DEC))
            .cast("double")
            .alias("dot")
        )
    )
    if probe_ok:
        bottom_df = spark.createDataFrame(
            [(int(r["id"]), float(r["sq_norm"])) for r in bottom_rows],
            "neighbor_id long, n_sq double",
        )
        overlap_df = spark.createDataFrame(
            [(int(r["query_id"]), int(r["neighbor_id"])) for r in overlap_rows],
            "query_id long, neighbor_id long",
        )
        no_overlap = (
            q_norms.crossJoin(F.broadcast(bottom_df))
            .join(F.broadcast(overlap_df), ["query_id", "neighbor_id"], "left_anti")
            .select(
                "query_id",
                "neighbor_id",
                F.sqrt(F.greatest(F.col("q_sq") + F.col("n_sq"), F.lit(0.0))).alias(
                    "distance"
                ),
            )
        )
        sharing = (
            dots.join(
                norms.select(
                    F.col("id").alias("neighbor_id"), F.col("sq_norm").alias("n_sq")
                ),
                "neighbor_id",
            )
            .join(F.broadcast(q_norms), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                F.sqrt(
                    F.greatest(
                        F.col("q_sq") + F.col("n_sq") - 2.0 * F.col("dot"), F.lit(0.0)
                    )
                ).alias("distance"),
            )
        )
        cand = sharing.unionByName(no_overlap)
    else:
        # Dense regime: the probe would approach the corpus size, so
        # take the classic narrow norms grid and correct the sharing
        # pairs' distances with a left join against `dots` — every pair
        # appears exactly once.
        grid = norms.select(
            F.col("id").alias("neighbor_id"), F.col("sq_norm").alias("n_sq")
        ).crossJoin(F.broadcast(q_norms))
        cand = (
            grid.join(dots, ["query_id", "neighbor_id"], "left")
            .na.fill({"dot": 0.0})
            .select(
                "query_id",
                "neighbor_id",
                F.sqrt(
                    F.greatest(
                        F.col("q_sq") + F.col("n_sq") - 2.0 * F.col("dot"), F.lit(0.0)
                    )
                ).alias("distance"),
            )
        )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def sparse_pair_feature_table(
    long_df: DataFrame, labels: DataFrame, neighbors: DataFrame
) -> DataFrame:
    """Long pair-feature table over the union of active features.

    Output schema matches the dense ``pair_feature_table`` —
    (query_id, neighbor_id, n_label, same_class, feature_idx, fdist) —
    so every downstream aggregation is shared verbatim.
    """
    # One exchange instead of three (r12, guide §2.3/§3): the old plan
    # full_outer-joined a query-side and a neighbor-side long table
    # (two exchanges + a sort-merge over the same bytes) and joined
    # `pairs` — an UNCACHED neigh-x-labels-x-labels subtree — three
    # times, re-running its label joins per reference. Tag the two
    # sides, union them, and take max() per (pair, feature): each side
    # contributes at most one non-null value per key (long form is
    # unique on (id, feature)), so max == the full_outer's coalesce
    # pick, bit-for-bit, and the union shuffles the identical rows
    # once with a hash aggregate instead of twice with sorts. Labels
    # attach once, at the end, to the bare pair keys.
    base = neighbors.select("query_id", "neighbor_id")
    null_d = F.lit(None).cast("double")
    qf = base.join(
        long_df.select(
            F.col("id").alias("query_id"), "feature_idx", F.col("value").alias("q_val")
        ),
        "query_id",
    ).select("query_id", "neighbor_id", "feature_idx", "q_val", null_d.alias("n_val"))
    nf = base.join(
        long_df.select(
            F.col("id").alias("neighbor_id"), "feature_idx", F.col("value").alias("n_val")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "feature_idx", null_d.alias("q_val"), "n_val")
    merged = (
        qf.unionByName(nf)
        .groupBy("query_id", "neighbor_id", "feature_idx")
        .agg(F.max("q_val").alias("q_val"), F.max("n_val").alias("n_val"))
        .select(
            "query_id",
            "neighbor_id",
            "feature_idx",
            F.abs(
                F.coalesce(F.col("q_val"), F.lit(0.0))
                - F.coalesce(F.col("n_val"), F.lit(0.0))
            ).alias("fdist"),
        )
    )
    pair_labels = (
        base.join(
            labels.select(F.col("id").alias("query_id"), F.col("label").alias("q_label")),
            "query_id",
        )
        .join(
            labels.select(
                F.col("id").alias("neighbor_id"), F.col("label").alias("n_label")
            ),
            "neighbor_id",
        )
        .withColumn("same_class", F.col("n_label") == F.col("q_label"))
        .select("query_id", "neighbor_id", "n_label", "same_class")
    )
    return merged.join(pair_labels, ["query_id", "neighbor_id"])


def _pair_bin_counts(neighbors: DataFrame, labels: DataFrame) -> DataFrame:
    """classCounter from the neighbor table: counts EVERY pair, even
    ones whose rows are fully absent from the sparse long table.

    Invariant: both label joins are inner joins that must keep every
    neighbor row (query and neighbor ids are drawn from ``labels``), so
    ``sum(bin_cnt) == neighbors.count()``. _fit_relief_sparse_batched
    recovers ``n_pairs`` from these counts instead of counting the
    neighbor table; a neighbor id outside ``labels`` would silently
    undercount it."""
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


def fit_relief_sparse(
    long_df: DataFrame,
    labels: DataFrame,
    n_features: int,
    *,
    num_top_features: int = 10,
    num_neighbors: int = 10,
    lower_distance_threshold: float = 0.8,
    redundancy_removal: bool = True,
    discrete_data: bool = False,
    top_features: list[int] | None = None,
    batch_size: float = 1.0,
    lower_feature_threshold: float = 3.0,
    estimation_ratio: float = 1.0,
    knn_probe: bool | None = None,
) -> ReliefFitResult:
    """Sparse fit; single-pass by default, hash-batched on request.

    ``batch_size=1.0`` (default) is the documented single-pass
    contract: one kNN + aggregation sweep, redundancy scoped to the
    final std ranking (or the caller's ``top_features``). No sampling:
    callers sample the long table upstream — at sparse scale, sampling
    is a filter on id. ``estimation_ratio`` is the DECLARATION of that
    upstream sampling (it filters nothing here): the batched loop's
    jointTotal discount is ratio-dependent in the reference
    (totalPairs * (1 - ratio * batchPerc), ReliefFRSelector.scala:642),
    so a sampled+batched sparse fit must be told the ratio or its MI
    redundancy deviates (ADVICE r8). Single-pass fits ignore it (their
    jointTotal is the undiscounted pair count, matching the dense
    single-batch path).

    ``knn_probe`` overrides sparse_knn_join's no-overlap probe on BOTH
    routes — the batched loop's nnz-density heuristic and the
    single-pass call (None = decide from density; False = straight to
    the norms grid; True = force the probe). The heuristic reads nominal density, which a caller can
    know to be misleading — e.g. narrow-active data strided across a
    huge declared width is nominally ultra-sparse but every pair
    shares every active feature, so the probe only burns driver
    rounds before falling back to the grid it should have started on.

    ``batch_size<1.0`` runs the reference's BATCH LOOP with topFeatures
    feedback (ReliefFRSelector.scala:273-283): the instance set splits
    into ceil(1/batch_size) deterministic hash batches (id % n — the
    same 'hash' batching mode the dense fit exposes, and the mode q72c
    proved oracle-able end-to-end); batch 0 contributes no joint stats,
    each later batch's joint-stat scope is the previous batch's raw-
    relevance top-N, weights union-reduce across batches, and the MI
    redundancy applies the jointTotal batch-share discount
    (ReliefFRSelector.scala:641, with estimationRatio=1.0 — this path
    never samples in-fit). Within-batch kNN scans the batch, not the
    full set — the same deliberate deviation the dense fit documents.
    ``top_features`` (when given) seeds batch 0's joint scope instead
    of the empty reference seed.

    Shares the entire aggregation layer with the dense path; cites
    ReliefFRSelector.scala:483-602 for the semantics it re-expresses
    (with corrected feature indexing, SURVEY §8.1).
    """
    # ONE profiling job: per-class counts give priors AND (summed)
    # the instance total — vs a count() + groupBy collect as two
    # separate scans of the label table (same values, one fewer
    # corpus-sized pass and one fewer driver action).
    label_counts = labels.groupBy("label").count().collect()
    n_elems = sum(int(r["count"]) for r in label_counts)
    priors = {
        float(r["label"]): r["count"] / n_elems for r in label_counts
    }
    k = num_neighbors * len(priors)
    n_batches = max(1, int(1.0 / batch_size))
    if n_batches > 1:
        return _fit_relief_sparse_batched(
            long_df,
            labels,
            n_features,
            n_batches=n_batches,
            n_elems=n_elems,
            priors=priors,
            k=k,
            num_top_features=num_top_features,
            lower_distance_threshold=lower_distance_threshold,
            redundancy_removal=redundancy_removal,
            discrete_data=discrete_data,
            seed_top_features=top_features,
            lower_feature_threshold=lower_feature_threshold,
            estimation_ratio=estimation_ratio,
            knn_probe=knn_probe,
        )
    knn_res: dict = {}
    neigh = _coalesce_for_cache(
        sparse_knn_join(
            long_df, labels, labels.select("id"), k, num_corpus=n_elems,
            probe=knn_probe, resolution_out=knn_res,
        ),
        n_elems * k,  # exact bound: <= k rows per query
    ).cache()
    # materialize NOW: both lp and pair_counts consume neigh, and a lazy
    # cache computes the kNN subplan once per consumer concurrently
    n_pairs = neigh.count()
    # lp rows = n_pairs x |active-feature union per pair| — the union
    # size is not driver-known, so x4 stands in; consumers are narrow
    # map-side scans, so a low estimate costs only oversized cheap
    # tasks (see _coalesce_for_cache)
    lp = _coalesce_for_cache(
        sparse_pair_feature_table(long_df, labels, neigh), n_pairs * 4
    ).cache()

    pair_counts = _pair_bin_counts(neigh, labels)
    w_rows = relevance_weights(lp, priors, pair_counts=pair_counts).collect()
    relevance_n, std_sel = _finalize_relevance(w_rows, n_features, num_top_features)

    red_coo: dict[tuple[int, int], float] = {}
    if redundancy_removal:
        coll = _coalesce_for_cache(
            collision_table(lp, not discrete_data, lower_distance_threshold),
            n_pairs * 4,  # collisions subset the lp rows; same rationale
        ).cache()
        tf = top_features if top_features is not None else std_sel
        # no num_features hint: sparse inputs can be millions-wide, so
        # keep the O(1)-memory self-join plan
        joint = joint_counts(coll, tf, not discrete_data)
        marg = marginal_counts(coll)
        if n_pairs:
            red_df = mi_redundancy(joint, marg, float(n_pairs), float(n_pairs))
            for r in red_df.collect():
                red_coo[(int(r["f1"]), int(r["f2"]))] = float(r["redundancy"])
    lp.unpersist()

    neigh.unpersist()
    if redundancy_removal:
        coll.unpersist()

    red_sel = (
        _greedy(relevance_n, red_coo, num_top_features)
        if redundancy_removal
        else list(std_sel)
    )
    return ReliefFitResult(
        relevance=relevance_n,
        std_selection=std_sel,
        redundancy_selection=red_sel,
        n_features=n_features,
        n_instances=n_elems,
        priors=priors,
        redundancy_coo=red_coo,
        resolved_knn_strategy=f"sparse-inverted/{knn_res['route']}",
    )


def _fit_relief_sparse_batched(
    long_df: DataFrame,
    labels: DataFrame,
    n_features: int,
    *,
    n_batches: int,
    n_elems: int,
    priors: dict[float, float],
    k: int,
    num_top_features: int,
    lower_distance_threshold: float,
    redundancy_removal: bool,
    discrete_data: bool,
    seed_top_features: list[int] | None,
    lower_feature_threshold: float,
    estimation_ratio: float = 1.0,
    knn_probe: bool | None = None,
) -> ReliefFitResult:
    """The hash-batched sparse loop — mirrors fit_relief's batch
    dataflow (operators/relief.py) on the long-form representation:
    per batch kNN -> pair feature table -> relevance/marginal/joint,
    topFeatures feedback between batches (ReliefFRSelector.scala:
    273-283), cross-batch union-reduce, jointTotal discount (:641)."""
    from functools import reduce

    lower_feat = max(
        num_top_features, round(lower_feature_threshold * num_top_features)
    )
    # One upfront density probe steers every batch's kNN plan: on
    # dense-ish input (nnz/cell > 0.25) the adaptive bottom-M probe
    # inside sparse_knn_join would burn 2 driver actions per escalation
    # round per batch before falling back to the norms grid anyway —
    # tell it to go straight there (probe=False) and skip the per-batch
    # exact corpus count the probe proof needs (the grid path never
    # consults it). For parquet-backed long tables this count is
    # metadata-only; for derived long forms it costs about one probe
    # round and saves up to six per batch.
    if knn_probe is None:
        nnz = long_df.count()
        dense_ish = nnz > 0.25 * n_elems * max(n_features, 1)
        probe_arg = False if dense_ish else None
    else:
        # caller knows better than nominal density (see fit_relief_sparse
        # docstring) — also saves the nnz count job
        dense_ish = not knn_probe
        probe_arg = knn_probe
    # batch 0 contributes no joint stats unless the caller seeds the
    # scope explicitly (the reference starts with an empty topFeatures)
    tf: list[int] = list(seed_top_features) if seed_top_features else []
    knn_res: dict = {"route": "grid"}  # overwritten by batch 0's call
    batch_weights: list[DataFrame] = []
    margs: list[DataFrame] = []
    joints: list[DataFrame] = []
    total_pairs = 0

    for b in range(n_batches):
        # pmod, NOT %: Spark's % follows the dividend's sign, so
        # negative ids would silently fall out of every batch.
        b_labels = labels.filter(
            F.pmod(F.col("id"), F.lit(n_batches)) == b
        ).cache()
        b_long = long_df.filter(
            F.pmod(F.col("id"), F.lit(n_batches)) == b
        ).cache()
        # exact per-batch count only where the probe's coverage proof
        # consumes it; the grid path takes a uniform-split estimate
        b_n = max(1, n_elems // n_batches) if dense_ish else b_labels.count()
        # record batch 0's route resolution (batches share the data
        # regime, so the first call's decision is the fit's decision;
        # forced modes resolve identically every batch by construction)
        neigh = _coalesce_for_cache(
            sparse_knn_join(
                b_long, b_labels, b_labels.select("id"), k,
                num_corpus=b_n, probe=probe_arg,
                resolution_out=knn_res if b == 0 else None,
            ),
            b_n * k,  # exact bound: <= k rows per query
        ).cache()
        # No separate materializing count() here (r13): the fused
        # probe action below is the first consumer of BOTH caches, and
        # RDD block-level loading locks make concurrent union legs
        # compute each cached partition once (the second consumer
        # blocks on the lock and reads the block). n_pairs is
        # recovered from the tag-1 leg — every pair has exactly one
        # (n_label, same_class) bin, so the bin counts sum to the pair
        # total — and the lp partition estimate uses the exact upper
        # bound b_n*k (layout-only). Interleaved same-session A/B
        # (plans/r13/fuse_ab.py): q158 med 17.06->14.83s, q161 med
        # 8.82->8.42s; the DENSE loop measured the opposite way and
        # keeps its count (relief.py).
        # x4 stands in for the per-pair active-feature union size —
        # narrow map-side consumers only (see _coalesce_for_cache)
        lp = _coalesce_for_cache(
            sparse_pair_feature_table(b_long, b_labels, neigh), b_n * k * 4
        ).cache()

        # ONE fused probe action per batch (r12 optimization — the
        # dense loop's tagged-union trick, see fit_relief): collect
        # the per-batch sufficient statistics — feature_bin_stats
        # over the sparse long pair table (tag 0: bin_sum AND the
        # collision vote mass, so marginal_counts' separate coll scan
        # disappears; decimal addition is associative, so summing the
        # per-bin vote_sum reproduces the per-feature marginal
        # exactly) plus the neighbor-table pair counts (tag 1) —
        # and, in redundancy mode, pull the joint COO cache through
        # as tag 2 so j_b is materialized before lp is unpersisted.
        # The relevance collapse, marginal collapse and batch top-N
        # then run on the driver (_collapse_bins_local, bit-exact).
        # lp is scanned by the tag-0 leg and (via collision_table
        # inside j_b) the tag-2 leg — the same two concurrent scans
        # the old fused m/j materializer issued.
        bins = feature_bin_stats(
            lp, not discrete_data, lower_distance_threshold
        )
        null_dec = F.lit(None).cast(DEC)
        probe_df = bins.select(
            F.lit(0).alias("tag"),
            F.col("feature_idx").cast("long").alias("f"),
            F.col("n_label").alias("lbl"),
            F.col("same_class").alias("sc"),
            F.col("bin_sum").alias("d1"),
            F.col("vote_sum").alias("d2"),
            F.lit(None).cast("long").alias("c1"),
        ).unionAll(
            _pair_bin_counts(neigh, b_labels).select(
                F.lit(1).alias("tag"),
                F.lit(None).cast("long").alias("f"),
                F.col("n_label").alias("lbl"),
                F.col("same_class").alias("sc"),
                null_dec.alias("d1"),
                null_dec.alias("d2"),
                F.col("bin_cnt").cast("long").alias("c1"),
            )
        )
        j_b = None
        if redundancy_removal:
            coll = collision_table(lp, not discrete_data, lower_distance_threshold)
            # no num_features hint: sparse inputs can be millions-wide,
            # keep the O(1)-memory self-join plan
            j_b = joint_counts(coll, tf, not discrete_data).cache()
            probe_df = probe_df.unionAll(
                j_b.select(
                    F.lit(2).alias("tag"),
                    F.col("f1").cast("long").alias("f"),
                    F.lit(None).cast("double").alias("lbl"),
                    F.lit(None).cast("boolean").alias("sc"),
                    null_dec.alias("d1"),
                    null_dec.alias("d2"),
                    F.lit(None).cast("long").alias("c1"),
                )
            )
        probe_rows = probe_df.collect()
        pc = {
            (r["lbl"], r["sc"]): int(r["c1"])
            for r in probe_rows
            if r["tag"] == 1
        }
        # == neigh.count(): _pair_bin_counts is row-preserving
        n_pairs = sum(pc.values())
        total_pairs += n_pairs
        rel_b, marg_b = _collapse_bins_local(
            (
                (r["f"], r["lbl"], r["sc"], r["d1"], r["d2"])
                for r in probe_rows
                if r["tag"] == 0
            ),
            pc,
            priors,
        )
        batch_weights.append(rel_b)
        if redundancy_removal:
            margs.append(marg_b)
            joints.append(j_b)

        # batch top-N steers the NEXT batch's joint-stat scope; raw
        # relevance ranks identically to min-max-normalized (monotone).
        # Sort key mirrors orderBy(desc(relevance), asc(feature_idx)).
        top_feat_b = [
            f
            for f, _ in sorted(
                rel_b.items(), key=lambda kv: (-kv[1], kv[0])
            )[:lower_feat]
        ]
        if top_feat_b:  # empty batches keep the previous scope (:279-283)
            tf = top_feat_b
        lp.unpersist()
        neigh.unpersist()
        b_long.unpersist()
        b_labels.unpersist()

    # Cross-batch sums on the driver over the per-batch float dicts,
    # added in batch order — bit-identical for the <=2-batch configs
    # every gate and test pins (two-operand IEEE adds commute).
    rel_sum: dict[int, float] = {}
    for rel_b in batch_weights:
        for f, v in rel_b.items():
            rel_sum[f] = rel_sum.get(f, 0.0) + v
    relevance_n, std_sel = _finalize_relevance(
        [{"feature_idx": f, "relevance": v} for f, v in rel_sum.items()],
        n_features,
        num_top_features,
    )

    red_coo: dict[tuple[int, int], float] = {}
    if redundancy_removal and joints and total_pairs:
        joint_all = reduce(DataFrame.unionByName, joints).groupBy("f1", "f2").agg(
            F.sum("joint").alias("joint")
        )
        marg_sum: dict[int, float] = {}
        for marg_b in margs:
            for f, v in marg_b.items():
                marg_sum[f] = marg_sum.get(f, 0.0) + v
        marg_all = long_df.sparkSession.createDataFrame(
            [(int(f), float(v)) for f, v in sorted(marg_sum.items())],
            "feature_idx long, marginal double",
        )
        # jointTotal omits batch 0's share (no joint stats there) —
        # computeRedudancy, ReliefFRSelector.scala:641-642. The
        # discount is estimationRatio-dependent: this path never
        # samples in-fit, but callers that sampled the long table
        # upstream declare the ratio so the discount replays the
        # reference's (1 - ratio * batchPerc) exactly (ADVICE r8).
        joint_total = total_pairs * (1.0 - estimation_ratio / n_batches)
        if joint_total > 0:
            red_df = mi_redundancy(
                joint_all, marg_all, float(total_pairs), joint_total
            )
            for r in red_df.collect():
                red_coo[(int(r["f1"]), int(r["f2"]))] = float(r["redundancy"])

    for cached in joints:
        cached.unpersist()

    red_sel = (
        _greedy(relevance_n, red_coo, num_top_features)
        if redundancy_removal
        else list(std_sel)
    )
    return ReliefFitResult(
        relevance=relevance_n,
        std_selection=std_sel,
        redundancy_selection=red_sel,
        n_features=n_features,
        n_instances=n_elems,
        priors=priors,
        redundancy_coo=red_coo,
        n_batches=n_batches,
        resolved_knn_strategy=f"sparse-inverted/{knn_res['route']}",
    )


def compress_long(
    long_df: DataFrame,
    selected: list[int],
    reindex: bool = True,
) -> DataFrame:
    """Sparse-side model transform: keep only the selected features of a
    long-form ``(id, feature_idx, value)`` table — the long-form
    equivalent of the model's vector slice (FeatureSelectionUtils.scala:
    38-73 / VectorSlicer). ``reindex=True`` renumbers kept features to
    0..len(selected)-1 in ascending original order (the dense
    transform's output convention); absent rows stay absent, so an
    instance with no selected-feature activity simply has no rows.

    One broadcast hash semi-join-shaped filter (isin on a literal list
    bounded by numTopFeatures) — no shuffle at any corpus size.
    """
    sel = sorted(int(f) for f in selected)
    out = long_df.filter(F.col("feature_idx").isin(sel))
    if not reindex:
        return out
    mapping = F.map_from_arrays(
        F.array(*[F.lit(f) for f in sel]),
        F.array(*[F.lit(i) for i in range(len(sel))]),
    )
    return out.withColumn(
        "feature_idx", F.element_at(mapping, F.col("feature_idx")).cast("int")
    )
