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

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import (
    _listed,
    _reject_duplicate_ids,
    _sparse_merge,
)
from spark_relieffc_fselection_spark.operators.relief import (
    DEC,
    ReliefFitResult,
    _hash_batch,
    _Neighbourhood,
    _plan_fit,
    _run_batches,
    _stats_rows,
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


#: the route every sparse fit records
SPARSE_ROUTE = "sparse-inverted"

#: rows per task of the sparse fit's cached frames: the kNN merge emits
#: at most k rows per query
_ROWS_PER_TASK = 65536


def sparse_knn_join(
    long_df: DataFrame,
    labels: DataFrame,
    query_ids: DataFrame,
    k: int,
    exclude_self: bool = True,
    num_corpus: int | None = None,
    resolution_out: dict | None = None,
) -> DataFrame:
    """Exact kNN via inverted-index dot products and the norm expansion,
    WITHOUT ever materializing the O(|queries| x |corpus|) grid.

    ``long_df``: (id, feature_idx, value); ``labels``: (id, ...), the
    corpus (an all-zero row has no long rows but is an instance of norm
    0; long rows of other ids are ignored); ``query_ids``: (id). Returns
    (query_id, neighbor_id, distance, rank), the k nearest by
    (distance, neighbor_id), rank 1..k.

    Spark computes the decimal-exact squared norms and, from the
    inverted-index join, the dot of every pair that shares an active
    feature. The driver fetches the corpus's ``(id, sq_norm)`` once as
    Arrow, rejecting null and repeated ids and ids with NaN or +-inf
    values (counted in the norms aggregation), and broadcasts it sorted by
    (sq_norm, id). The dot terms, plus one sentinel row per query (a
    query sharing no feature still appears), are partitioned by query
    and sorted, and one ``mapInArrow`` merge (:func:`_merge_queries`)
    answers each query from two candidate sets:

    * **sharing pairs**, scored ``sqrt(greatest((q_sq + n_sq) -
      2.0 * dot, 0))`` — the IEEE expression of the old norms grid;
    * **no-overlap rows**: dot is 0, so their distance
      ``sqrt(q_sq + n_sq)`` is monotone non-decreasing in ``n_sq``, and
      equal within a norm run (rows of equal ``sq_norm``, ids
      ascending). With cap = k + |sharing ∪ self|, the norm-order
      prefix of cap rows holds at least k of them, and every
      no-overlap row nearer than its last row lies inside it. A row
      past the prefix can only TIE that last row: it shares its norm,
      or ``q_sq + n_sq`` rounds to the same double for distinct norms.
      Each tied run adds its first cap rows past the prefix: a later
      row of the run has k no-overlap rows of its distance and lower id
      ahead of it. So ties go to the lowest ids, and a tied run adds at
      most cap candidates however much of the corpus it holds (binary
      rows, whose norm² is their nnz, fall into a few large runs).

    The top k by (distance, neighbor_id) is the dense kernels' merge
    (:func:`knn._sparse_merge`), so the result equals the full grid's
    window rank row for row, with no cross-partition rank merge.

    ``num_corpus`` sizes the merge at ``num_corpus x k`` output rows
    (default: the fetched corpus size); ``resolution_out['route']``
    records :data:`SPARSE_ROUTE`.
    """
    spark = long_df.sparkSession
    value = F.col("value")
    norms = (
        labels.select("id")
        .join(
            long_df.groupBy("id").agg(
                F.sum((value * value).cast(DEC)).cast("double").alias("sq_norm"),
                # NaN and +-inf cast to NULL and would drop out of every sum
                F.count(F.when(F.isnan(value) | (F.abs(value) == float("inf")), 1)).alias(
                    "n_bad"
                ),
            ),
            "id",
            "left",
        )
        .na.fill({"sq_norm": 0.0, "n_bad": 0})
        .toArrow()
    )
    ids_col = norms.column("id")
    if ids_col.null_count:
        raise ValueError(f"sparse_knn_join: {ids_col.null_count} null 'id' value(s) in labels")
    n_bad = norms.column("n_bad").to_numpy()
    if n_bad.any():
        bad_ids = np.sort(ids_col.to_numpy()[n_bad > 0])
        raise ValueError(
            f"sparse_knn_join: {int(n_bad.sum())} NaN or +-inf 'value' value(s) in the "
            f"long table, on id(s) {_listed(bad_ids)}"
        )
    corpus = _Corpus.of(
        ids_col.to_numpy().astype(np.int64, copy=False),
        norms.column("sq_norm").to_numpy().astype(np.float64, copy=False),
    )
    _reject_duplicate_ids(corpus.sorted_ids, "sparse_knn_join", "labels")
    bc = spark.sparkContext.broadcast(corpus)
    if resolution_out is not None:
        resolution_out["route"] = SPARSE_ROUTE

    # queries are a bounded sample (the operator contract): broadcast
    # their long rows so the inverted-index join never shuffles the
    # corpus-side long table
    q_ids = query_ids.select(F.col("id").alias("query_id"))
    q_long = long_df.join(F.broadcast(q_ids), long_df.id == F.col("query_id")).select(
        "query_id", "feature_idx", F.col("value").alias("q_val")
    )
    dots = (
        long_df.select(
            F.col("id").alias("neighbor_id"), "feature_idx", F.col("value").alias("n_val")
        )
        .join(F.broadcast(q_long), "feature_idx")
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum((F.col("q_val") * F.col("n_val")).cast(DEC)).cast("double").alias("dot"))
    )
    sentinels = q_ids.select(
        "query_id",
        F.lit(None).cast("long").alias("neighbor_id"),
        F.lit(None).cast("double").alias("dot"),
    )
    n_rows = (num_corpus if num_corpus is not None else len(corpus.ids)) * k
    parts = max(1, -(-n_rows // _ROWS_PER_TASK))

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        corpus, held = bc.value, []  # held: rows whose last query may continue
        if not len(corpus.ids):
            return
        for rb in batches:
            terms = _dot_terms(rb)
            if not len(terms[0]):
                continue
            held.append(terms)
            if held[0][0][0] != held[-1][0][-1]:  # a query is complete
                rows = _in_query_order(held)
                cut = int(np.searchsorted(rows[0], rows[0][-1]))
                yield _merge_queries([a[:cut] for a in rows], corpus, k, exclude_self)
                held = [tuple(a[cut:] for a in rows)]
        if held:
            yield _merge_queries(_in_query_order(held), corpus, k, exclude_self)

    return (
        dots.unionByName(sentinels)
        .repartition(parts, "query_id")
        .sortWithinPartitions("query_id")
        .mapInArrow(merge, "query_id long, neighbor_id long, distance double, rank int")
    )


class _Corpus(NamedTuple):
    """The broadcast corpus in (sq_norm, id) order, plus an id index."""

    ids: np.ndarray
    sq_norm: np.ndarray
    run_start: np.ndarray  # where each run of equal sq_norm starts, then len
    sorted_ids: np.ndarray  # the ids, ascending
    pos_of: np.ndarray  # the norm-order position of each sorted id

    @classmethod
    def of(cls, ids: np.ndarray, sq_norm: np.ndarray) -> _Corpus:
        order = np.lexsort((ids, sq_norm))
        by_id = np.argsort(ids, kind="stable")
        norm = sq_norm[order]
        run_start = np.r_[0, np.flatnonzero(norm[1:] != norm[:-1]) + 1, len(ids)]
        return cls(ids[order], norm, run_start, ids[by_id], np.argsort(order)[by_id])

    def locate(self, x: np.ndarray) -> np.ndarray:
        """Norm-order positions of the ids ``x``; -1 where absent."""
        i = np.minimum(np.searchsorted(self.sorted_ids, x), len(self.sorted_ids) - 1)
        return np.where(self.sorted_ids[i] == x, self.pos_of[i], -1)


def _distance(q_sq: np.ndarray, n_sq: np.ndarray, dot) -> np.ndarray:
    """Spark's ``sqrt(greatest((q_sq + n_sq) - 2.0 * dot, 0.0))``, in
    the same IEEE operation order."""
    return np.sqrt(np.maximum((q_sq + n_sq) - 2.0 * dot, 0.0))


def _dot_terms(rb: pa.RecordBatch) -> tuple[np.ndarray, ...]:
    """(query_id, neighbor_id, is_sentinel, dot) of one Arrow batch; a
    null dot (a decimal sum past DECIMAL(38,18)) counts as 0."""
    n = rb.column(1)
    return (
        rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        n.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        n.is_null().to_numpy(zero_copy_only=False),
        rb.column(2).fill_null(0.0).to_numpy(zero_copy_only=False),
    )


def _in_query_order(held: list[tuple[np.ndarray, ...]]) -> list[np.ndarray]:
    """The held dot terms as one set of columns, checked to be in query
    order: the merge answers each query from one contiguous run."""
    rows = [np.concatenate(cols) for cols in zip(*held)]
    if (np.diff(rows[0]) < 0).any():
        raise RuntimeError("sparse_knn_join: dot terms reached the merge out of query order")
    return rows


def _ranges(grp: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, ...]:
    """(group, value) for every value of the half-open ranges [lo, hi)."""
    n = np.maximum(hi - lo, 0)
    return np.repeat(grp, n), np.arange(n.sum()) - np.repeat(np.cumsum(n) - n - lo, n)


def _merge_queries(
    rows: list[np.ndarray], corpus: _Corpus, k: int, exclude_self: bool
) -> pa.RecordBatch:
    """The k nearest neighbours of every query in ``rows`` (every dot
    term of each query, sorted by query id), as a (query_id,
    neighbor_id, distance, rank) batch. See :func:`sparse_knn_join` for
    why the two candidate sets are exact."""
    q, n, sentinel, dot = rows
    n_corpus = len(corpus.ids)
    uq, grp = np.unique(q, return_inverse=True)
    q_pos = corpus.locate(uq)
    live = q_pos >= 0  # a query outside the corpus has no norm
    uq, q_pos = uq[live], q_pos[live]
    n_q = len(uq)
    q_sq = corpus.sq_norm[q_pos]
    # sharing pairs with both ends in the corpus
    keep = ~sentinel & live[grp]
    s_grp, s_pos = (np.cumsum(live) - 1)[grp[keep]], corpus.locate(n[keep])
    found = s_pos >= 0
    s_grp, s_pos = s_grp[found], s_pos[found]
    s_dist = _distance(q_sq[s_grp], corpus.sq_norm[s_pos], dot[keep][found])
    s_key = s_grp * n_corpus + s_pos
    self_key = np.arange(n_q) * n_corpus + q_pos
    # no-overlap rows: the norm-order prefix of cap = k + |sharing ∪
    # self| rows, then the first cap rows past it of each norm run tied
    # with its last row, found by binary search (distance is monotone
    # in the norm order)
    cap = k + np.bincount(s_grp, minlength=n_q) + ~np.isin(self_key, s_key)
    span = np.minimum(n_corpus, cap)
    last = _distance(q_sq, corpus.sq_norm[span - 1], 0.0)
    starts, n_runs = corpus.run_start, len(corpus.run_start) - 1
    first = np.searchsorted(starts, span - 1, side="right") - 1  # the last row's run
    end, hi = first + 1, np.full(n_q, n_runs)
    while (open_ := end < hi).any():
        mid = np.minimum((end + hi) // 2, n_runs - 1)
        near = open_ & (_distance(q_sq, corpus.sq_norm[starts[mid]], 0.0) <= last)
        end, hi = np.where(near, mid + 1, end), np.where(open_ & ~near, mid, hi)
    t_grp, t_run = _ranges(np.arange(n_q), first, end)
    p_grp, p_pos = _ranges(
        np.r_[np.arange(n_q), t_grp],
        np.r_[np.zeros(n_q, dtype=np.int64), np.maximum(starts[t_run], span[t_grp])],
        np.r_[span, np.minimum(starts[t_run + 1], starts[t_run] + cap[t_grp])],
    )
    skip = np.concatenate([s_key, self_key]) if exclude_self else s_key
    free = ~np.isin(p_grp * n_corpus + p_pos, skip)
    p_grp, p_pos = p_grp[free], p_pos[free]
    if exclude_self:
        other = s_pos != q_pos[s_grp]
        s_grp, s_pos, s_dist = s_grp[other], s_pos[other], s_dist[other]
    best_d, best_i = _sparse_merge(
        np.full((n_q, k), np.inf),
        np.full((n_q, k), -1, dtype=np.int64),
        np.concatenate([s_grp, p_grp]),
        corpus.ids[np.concatenate([s_pos, p_pos])],
        np.concatenate([s_dist, _distance(q_sq[p_grp], corpus.sq_norm[p_pos], 0.0)]),
        k,
    )
    qi, slot = np.nonzero(np.isfinite(best_d))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(uq[qi]),
            pa.array(best_i[qi, slot]),
            pa.array(best_d[qi, slot]),
            pa.array((slot + 1).astype(np.int32)),
        ],
        names=["query_id", "neighbor_id", "distance", "rank"],
    )


def sparse_pair_feature_table(
    long_df: DataFrame, labels: DataFrame, neighbors: DataFrame
) -> DataFrame:
    """Long pair-feature table over the union of active features.

    Output schema matches the dense ``explode_pairs(pair_table(...))``
    — (query_id, neighbor_id, n_label, same_class, feature_idx, fdist)
    — so ``feature_bin_stats`` and ``collision_table`` apply verbatim.
    """
    # One exchange: tag the query and neighbour sides, union them and
    # take max() per (pair, feature). Each side gives at most one
    # non-null value per key (long form is unique on (id, feature)), so
    # max is a full outer join's coalesce, bit for bit, at one hash
    # aggregate. Labels attach once, at the end, to the bare pair keys.
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

    Every batch's kNN is :func:`sparse_knn_join`, whose norms fetch
    names repeated ids and NaN or +-inf values before any statistics
    job runs.
    """
    plan = _plan_fit(
        lambda: labels.groupBy("label").agg(F.count("*").alias("n")).collect(),
        num_top_features=num_top_features,
        num_neighbors=num_neighbors,
        lower_feature_threshold=lower_feature_threshold,
        fit_name="fit_relief_sparse",
        label_col="label",
    )
    n_elems, k = plan.n_instances, plan.k
    n_batches = max(1, int(1.0 / batch_size))
    continuous = not discrete_data
    # partition-sizing estimate only: hash batches split evenly
    b_n = max(1, n_elems // n_batches)

    def neighbourhood(b: int, hold: Callable) -> _Neighbourhood:
        if n_batches == 1:
            b_long, b_labels = long_df, labels
        else:
            in_batch = _hash_batch(b, n_batches)
            b_labels = hold(labels.filter(in_batch).cache())
            b_long = hold(long_df.filter(in_batch).cache())
        neigh = hold(
            sparse_knn_join(b_long, b_labels, b_labels.select("id"), k, num_corpus=b_n).cache()
        )
        # No materializing count(): the engine's stats probe is the
        # first consumer of both caches, and block-level loading locks
        # compute each cached partition once.
        # A cache pins its plan's partition count (AQE cannot coalesce
        # it later), so size it from the rows: ~64k per task, x4 for
        # the per-pair active-feature union. Its consumers are narrow
        # map-side reads, where an under-estimate costs only a few
        # oversized cheap tasks; at scale the coalesce is a no-op.
        lp = hold(
            sparse_pair_feature_table(b_long, b_labels, neigh)
            .coalesce(max(1, -(-b_n * k * 4 // _ROWS_PER_TASK)))
            .cache()
        )
        return _Neighbourhood(
            stats=_stats_rows(
                feature_bin_stats(lp, continuous, lower_distance_threshold),
                _pair_bin_counts(neigh, b_labels),
            ),
            # self-join plan: sparse inputs can be millions-wide, keep
            # the O(1)-memory joint
            joint=lambda top: joint_counts(
                collision_table(lp, continuous, lower_distance_threshold),
                top,
                continuous,
            ),
            route=SPARSE_ROUTE,
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
