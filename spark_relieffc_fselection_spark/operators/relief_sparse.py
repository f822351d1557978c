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
  * pair expansion: union of the two sides' active features per
    (query, neighbor) pair — features inactive in BOTH sides are
    skipped (they contribute 0 distance; for collisions this matches
    the reference's sparse semantics of visiting active indices only).
    The output is the same long ``(pair, feature_idx, fdist)`` form the
    dense path's ``explode_pairs`` yields.
  * pair counts: the relevance collapse divides by the per-bin PAIR
    count, which the long table cannot give (a pair with no active
    feature has no rows), so it comes from the neighbor table
    (``_pair_bin_counts``).

Those three pieces are this module's neighbourhood source.
:func:`fit_relief_sparse` runs them through the same batch engine as
the dense fit (``relief._run_batches``: one stats probe for every
batch, top-N feedback replayed on the driver, one joint/MI action, one
finalize); only the joint COO differs in plan — the
O(1)-memory self-join ``joint_counts(collision_table(...))`` instead of
the dense per-pair combination arrays, because a sparse feature space
can be millions wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.relief import (
    DEC,
    ReliefFitResult,
    _hash_batch,
    _Neighbourhood,
    _plan_fit,
    _run_batches,
    collision_table,
    feature_bin_stats,
    joint_counts,
)


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

    Output schema matches the dense ``explode_pairs(pair_table(...))``
    — (query_id, neighbor_id, n_label, same_class, feature_idx, fdist)
    — so ``feature_bin_stats`` and ``collision_table`` apply verbatim.
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
    ``sum(bin_cnt) == neighbors.count()``. The engine's stats probe
    (``relief._probe_batches``) recovers ``n_pairs`` from these counts
    instead of counting the neighbor table; a neighbor id outside
    ``labels`` would silently undercount it."""
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
    batch_size: float = 1.0,
    lower_feature_threshold: float = 3.0,
    estimation_ratio: float = 1.0,
    knn_probe: bool | None = None,
) -> ReliefFitResult:
    """Sparse fit: the dense fit's batch engine (``relief._run_batches``)
    over the sparse neighbourhood source — per batch
    :func:`sparse_knn_join` -> :func:`sparse_pair_feature_table`, with
    :func:`_pair_bin_counts` as the pair counts, all batches' statistics
    in the engine's one stats probe.
    Semantics: ReliefFRSelector.scala:483-602, with corrected feature
    indexing (SURVEY §8.1).

    ``batch_size=1.0`` (default) is the documented single-pass
    contract: one kNN + aggregation sweep, redundancy scoped to the
    final std ranking, jointTotal the undiscounted pair count.
    No sampling: callers sample the long table upstream — at sparse
    scale, sampling is a filter on id.

    ``batch_size<1.0`` runs the reference's batch loop with topFeatures
    feedback (ReliefFRSelector.scala:273-283) over int(1/batch_size)
    deterministic hash batches — the dense fit's 'hash' batching, which
    q72c proved oracle-able. Within-batch kNN scans the batch, not the
    full set, the deviation the dense fit documents.
    ``estimation_ratio`` DECLARES the caller's upstream sampling (it
    filters nothing): the batched jointTotal discount depends on it
    (ReliefFRSelector.scala:642). Single-pass fits ignore it.

    ``knn_probe`` overrides sparse_knn_join's no-overlap probe (None =
    decide; False = straight to the norms grid; True = force the
    probe). The single pass hands it through unchanged; the batched
    loop otherwise decides from nominal nnz density once per fit. The
    heuristic reads nominal density, which a caller can know to be
    misleading — e.g. narrow-active data strided across a huge declared
    width is nominally ultra-sparse but every pair shares every active
    feature, so the probe only burns driver rounds before falling back
    to the grid it should have started on.
    """
    plan = _plan_fit(
        lambda: labels.groupBy("label").agg(F.count("*").alias("n")).collect(),
        num_top_features=num_top_features,
        num_neighbors=num_neighbors,
        lower_feature_threshold=lower_feature_threshold,
        fit_name="fit_relief_sparse",
    )
    n_elems, k = plan.n_instances, plan.k
    n_batches = max(1, int(1.0 / batch_size))
    continuous = not discrete_data
    probe_arg, dense_ish = knn_probe, not knn_probe
    if n_batches > 1 and knn_probe is None:
        # One upfront density probe steers every batch's kNN plan: on
        # dense-ish input (nnz/cell > 0.25) the adaptive bottom-M probe
        # inside sparse_knn_join would burn 2 driver actions per
        # escalation round per batch before falling back to the norms
        # grid anyway — tell it to go straight there (probe=False) and
        # skip the per-batch exact corpus count the probe proof needs
        # (the grid path never consults it). For parquet-backed long
        # tables this count is metadata-only; for derived long forms it
        # costs about one probe round and saves up to six per batch.
        dense_ish = long_df.count() > 0.25 * n_elems * max(n_features, 1)
        probe_arg = False if dense_ish else None

    def neighbourhood(b: int) -> _Neighbourhood:
        if n_batches == 1:
            b_long, b_labels, b_n, owned = long_df, labels, n_elems, ()
        else:
            in_batch = _hash_batch(b, n_batches)
            b_labels = labels.filter(in_batch).cache()
            b_long = long_df.filter(in_batch).cache()
            # exact per-batch count only where the probe's coverage
            # proof consumes it; the grid path takes a uniform-split
            # estimate
            b_n = max(1, n_elems // n_batches) if dense_ish else b_labels.count()
            owned = (b_long, b_labels)
        knn_res: dict = {}
        neigh = _coalesce_for_cache(
            sparse_knn_join(
                b_long, b_labels, b_labels.select("id"), k,
                num_corpus=b_n, probe=probe_arg, resolution_out=knn_res,
            ),
            b_n * k,  # exact bound: <= k rows per query
        ).cache()
        # No materializing count() here: the engine's one stats probe
        # is the first consumer of BOTH caches, and RDD block-level
        # loading locks make concurrent union legs compute each cached
        # partition once (the second consumer blocks on the lock and
        # reads the block), so a count would only add an action per
        # batch (OPTIMIZATION_r13.md §1: 7->5 actions per fit; its A/B
        # read neutral within noise). x4 stands in for the per-pair
        # active-feature union size — narrow map-side consumers only
        # (see _coalesce_for_cache).
        lp = _coalesce_for_cache(
            sparse_pair_feature_table(b_long, b_labels, neigh), b_n * k * 4
        ).cache()
        return _Neighbourhood(
            bins=feature_bin_stats(lp, continuous, lower_distance_threshold),
            pair_counts=_pair_bin_counts(neigh, b_labels),
            # self-join plan: sparse inputs can be millions-wide, keep
            # the O(1)-memory joint
            joint=lambda top: joint_counts(
                collision_table(lp, continuous, lower_distance_threshold),
                top,
                continuous,
            ),
            caches=(lp, neigh, *owned),
            route=f"sparse-inverted/{knn_res['route']}",
        )

    return _run_batches(
        range(n_batches),
        neighbourhood,
        plan=plan,
        n_features=n_features,
        num_top_features=num_top_features,
        redundancy_removal=redundancy_removal,
        estimation_ratio=estimation_ratio,
        final_scope=n_batches == 1,
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
