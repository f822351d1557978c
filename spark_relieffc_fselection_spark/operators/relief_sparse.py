"""Sparse-input RELIEF-F: long/COO input, the dense fit's pair kernel.

The reference's sparse path (ReliefFRSelector.scala:483-602) re-walks
(indices, values) arrays with two-pointer merges inside RDD closures —
and mis-keys feature ids doing it (SURVEY §8.1). Here sparsity is just
*absent rows* in a long table ``(id, feature_idx, value)``:

  * kNN (:func:`sparse_knn_join`): dist^2 = |a|^2 + |b|^2 - 2<a,b>,
    where the dot products come from an inverted-index join on
    feature_idx — cost scales with *shared nonzeros*, never with the
    nominal dimensionality. This is what makes "millions of features"
    (README.md:11, kddb 30M features) tractable: a dense scan is
    O(Q·N·d), this is O(Q·nnz).
  * statistics: the norms fetch also brings the batch's long rows to
    the driver as CSR (:class:`_SparseBatch`), checked and broadcast.
    The kNN's (query, neighbour) pairs go to the pair kernel's lookup
    task (:func:`knn.lookup_pairs`), whose reducer
    (:func:`_sparse_pair_stats`) walks each pair's union of active
    features — a slot inactive on BOTH sides contributes 0 distance and
    is skipped, as the reference visits active indices only — and
    emits the dense reducer's exact decimal partials and per-bin pair
    counts, in the reference's one partition pass.
  * joint: a COO kernel over the cached (query row, neighbour row)
    pairs (:func:`_sparse_kernel_joint`) — nothing per task is
    O(n_features), because a sparse feature space can be millions wide.

:func:`fit_relief_sparse` runs that neighbourhood
(:func:`_sparse_neighbourhood`) through the dense fit's batch engine
(``relief._run_batches``: one stats collect for every batch, top-N
feedback replayed on the driver, one joint/MI action, one finalize).
The Spark pair-table form (:func:`sparse_pair_feature_table` with
``relief.feature_bin_stats``, ``relief.collision_table`` and
``relief.joint_counts``) runs in no fit: it is the reference the kernel
is tested against.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import (
    _listed,
    _reject_duplicate_ids,
    _sparse_merge,
    lookup_pairs,
)
from spark_relieffc_fselection_spark.operators.relief import (
    _PAIR_STATS_SCHEMA,
    _STATS_BLOCK_VALUES,
    DEC,
    ReliefFitResult,
    _bin_codes,
    _collision_votes,
    _dec18_array,
    _dec18_group_sums,
    _hash_batch,
    _joint_of_parts,
    _Neighbourhood,
    _plan_fit,
    _run_batches,
    _stats_batch,
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

#: rows per task of the kNN merge, which emits at most k rows per query
_ROWS_PER_TASK = 65536

#: the sparse twin of the dense fit's ~2 GiB batch broadcast bound
#: (ReliefFRSelector.scala:225-228): a batch's CSR rides to every
#: executor, so a fit whose batch takes more bytes fails by name
SPARSE_BROADCAST_MAX_BYTES = 2**31 - 1

#: union slots per task of the sparse pair kernel's lookup
_SLOTS_PER_TASK = 1 << 18


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

    ``long_df``: (id, feature_idx, value); ``labels``: (id, label, ...),
    the corpus (an all-zero row has no long rows but is an instance of
    norm 0; long rows of other ids are ignored); ``query_ids``: (id). Returns
    (query_id, neighbor_id, distance, rank), the k nearest by
    (distance, neighbor_id), rank 1..k.

    Spark computes the decimal-exact squared norms and, from the
    inverted-index join, the dot of every pair that shares an active
    feature. The driver fetches the corpus's ``(id, label, sq_norm)``
    and long rows once as Arrow (:meth:`_SparseBatch.fetch`, which
    checks the long-row contract) and broadcasts ``(id, sq_norm)``
    sorted by (sq_norm, id). The dot terms, plus one sentinel row per query (a
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
    neighbors, _, _ = _sparse_knn(long_df, labels, query_ids, k, exclude_self, num_corpus)
    if resolution_out is not None:
        resolution_out["route"] = SPARSE_ROUTE
    return neighbors


def _sparse_knn(
    long_df: DataFrame,
    labels: DataFrame,
    query_ids: DataFrame,
    k: int,
    exclude_self: bool = True,
    num_corpus: int | None = None,
) -> tuple[DataFrame, Broadcast, _SparseBatch]:
    """:func:`sparse_knn_join`'s neighbour table, the broadcast corpus
    its merge reads (the caller releases it) and the fetched batch."""
    spark = long_df.sparkSession
    batch, sq_norm = _SparseBatch.fetch(long_df, labels)
    corpus = _Corpus.of(batch.ids, sq_norm)
    bc = spark.sparkContext.broadcast(corpus)

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

    neighbors = (
        dots.unionByName(sentinels)
        .repartition(parts, "query_id")
        .sortWithinPartitions("query_id")
        .mapInArrow(merge, "query_id long, neighbor_id long, distance double, rank int")
    )
    return neighbors, bc, batch


class _SparseBatch(NamedTuple):
    """A batch as the sparse pair kernel reads it: CSR rows in id order.
    Row ``r`` holds the entries ``indptr[r]:indptr[r + 1]`` of
    ``feature_idx`` (ascending) and ``values``."""

    ids: np.ndarray  # ascending
    labels: np.ndarray
    indptr: np.ndarray
    feature_idx: np.ndarray
    values: np.ndarray

    @classmethod
    def fetch(cls, long_df: DataFrame, labels: DataFrame) -> tuple[_SparseBatch, np.ndarray]:
        """The batch of the ``labels`` rows and their squared norms (in id
        order), in ONE Arrow action: per id, Spark's decimal-exact
        squared norm, a count of its NaN or +-inf values and its long
        rows. An id with no long rows is an all-zero row of norm 0; long
        rows of ids outside ``labels`` take no part. Null ids, repeated
        ids, NaN or +-inf values, null ``feature_idx`` or ``value`` and
        repeated ``(id, feature_idx)`` rows raise a ValueError naming
        them."""
        value = F.col("value")
        tbl = (
            labels.select("id", "label")
            .join(
                long_df.groupBy("id").agg(
                    F.sum((value * value).cast(DEC)).cast("double").alias("sq_norm"),
                    # NaN and +-inf cast to NULL and would drop out of every sum
                    F.count(F.when(F.isnan(value) | (F.abs(value) == float("inf")), 1)).alias(
                        "n_bad"
                    ),
                    # a struct keeps a row whose fields are null
                    F.collect_list(F.struct("feature_idx", "value")).alias("row"),
                ),
                "id",
                "left",
            )
            .na.fill({"sq_norm": 0.0, "n_bad": 0})
            .toArrow()
        )
        ids_col = tbl.column("id")
        if ids_col.null_count:
            raise ValueError(f"sparse_knn_join: {ids_col.null_count} null 'id' value(s) in labels")
        order = np.argsort(ids_col.to_numpy(), kind="stable")
        ids = ids_col.to_numpy().astype(np.int64, copy=False)[order]
        n_bad = tbl.column("n_bad").to_numpy()[order]
        if n_bad.any():
            raise ValueError(
                f"sparse_knn_join: {int(n_bad.sum())} NaN or +-inf 'value' value(s) in the "
                f"long table, on id(s) {_listed(ids[n_bad > 0])}"
            )
        _reject_duplicate_ids(ids, "sparse_knn_join", "labels")
        rows = tbl.column("row").combine_chunks()
        lengths = rows.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
        feat_col, value_col = rows.flatten().flatten()
        row_of = np.repeat(np.argsort(order), lengths)  # each entry's row in id order
        for name, col in (("feature_idx", feat_col), ("value", value_col)):
            if col.null_count:
                miss = np.unique(ids[row_of[col.is_null().to_numpy(zero_copy_only=False)]])
                raise ValueError(
                    f"sparse_knn_join: {col.null_count} null {name!r} value(s) in the long "
                    f"table, on id(s) {_listed(miss)}"
                )
        feat = feat_col.to_numpy().astype(np.int64, copy=False)
        entry = np.lexsort((feat, row_of))
        feat, row_of = feat[entry], row_of[entry]
        dup = np.flatnonzero((row_of[1:] == row_of[:-1]) & (feat[1:] == feat[:-1]))
        if len(dup):
            keys = sorted({(int(ids[row_of[i]]), int(feat[i])) for i in dup})
            raise ValueError(
                f"sparse_knn_join: {len(keys)} repeated (id, feature_idx) key(s) in the long "
                f"table: {_listed([f'({i}, {f})' for i, f in keys])}"
            )
        batch = cls(
            ids,
            tbl.column("label").to_numpy().astype(np.float64)[order],
            np.r_[0, np.cumsum(lengths[order])],
            feat,
            value_col.to_numpy().astype(np.float64, copy=False)[entry],
        )
        sq_norm = tbl.column("sq_norm").to_numpy().astype(np.float64, copy=False)[order]
        return batch, sq_norm


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


def _sparse_neighbourhood(
    long_df: DataFrame,
    labels: DataFrame,
    query_ids: DataFrame,
    k: int,
    hold: Callable,
    *,
    continuous: bool,
    threshold: float,
    keep_pairs: bool,
    n_features: int | None = None,
    num_corpus: int | None = None,
) -> _Neighbourhood:
    """The sparse fit's neighbourhood of one batch (the ``labels`` rows
    and their long rows): the exact kNN of ``query_ids``
    (:func:`_sparse_knn`), whose pairs the pair kernel's lookup reduces
    over the broadcast CSR batch (:func:`_sparse_pair_stats`), and the
    joint over the cached row pairs when ``keep_pairs``. The batch's
    fetch runs here, and with it every check of the long rows; a
    ``feature_idx`` outside ``[0, n_features)`` (below 0 without
    ``n_features``) and a batch past :data:`SPARSE_BROADCAST_MAX_BYTES`
    fail there too. Every cache and broadcast goes through ``hold``."""
    neighbors, corpus_bc, batch = _sparse_knn(long_df, labels, query_ids, k, num_corpus=num_corpus)
    hold(corpus_bc)
    feat, width = batch.feature_idx, np.inf if n_features is None else n_features
    bad = (feat < 0) | (feat >= width)
    if bad.any():
        row_of = np.repeat(np.arange(len(batch.ids)), np.diff(batch.indptr))
        raise ValueError(
            f"fit_relief_sparse: {int(bad.sum())} 'feature_idx' value(s) outside [0, {width}) "
            f"in the long table: {_listed(np.unique(feat[bad]))}, on id(s) "
            f"{_listed(np.unique(batch.ids[row_of[bad]]))}"
        )
    nbytes = sum(a.nbytes for a in batch)
    if nbytes > SPARSE_BROADCAST_MAX_BYTES:
        raise ValueError(
            f"fit_relief_sparse: a batch's sparse rows take {nbytes} bytes, past the "
            f"{SPARSE_BROADCAST_MAX_BYTES}-byte broadcast bound; use a smaller batch_size"
        )
    spark = long_df.sparkSession
    bc = spark.sparkContext.broadcast(batch)
    hold(bc)
    # size the lookup by union slots: ~k pairs per row, each the two
    # rows' active features
    slots = 2 * k * len(feat)
    slices = max(1, min(spark.sparkContext.defaultParallelism, -(-slots // _SLOTS_PER_TASK)))
    rows = lookup_pairs(
        neighbors, bc, _sparse_pair_stats(continuous, threshold, keep_pairs),
        _PAIR_STATS_SCHEMA, slices=slices,
    )
    if keep_pairs:
        # the stats collect fills the cache; the joint kernel then reads
        # only its (qi, ni) rows
        rows = rows.cache()
        hold(rows)
    pairs = rows.filter(F.col("qi").isNotNull()).select("qi", "ni")
    return _Neighbourhood(
        stats=rows.filter(F.col("qi").isNull()),
        joint=lambda top: _sparse_kernel_joint(pairs, bc, top, continuous, threshold),
        route=SPARSE_ROUTE,
    )


def _union_slots(
    qi: np.ndarray, ni: np.ndarray, batch: _SparseBatch
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(pair, feature_idx, fdist)`` of every slot active in either row
    of each pair ``(qi[p], ni[p])``, sorted by (pair, feature_idx):
    ``fdist = |q - n|`` with 0.0 for the inactive side, the IEEE
    expression of ``sparse_pair_feature_table``. A slot inactive in both
    rows has none; an explicit 0.0 entry is active."""
    ip = batch.indptr
    pq, eq = _ranges(np.arange(len(qi)), ip[qi], ip[qi + 1])
    pn, en = _ranges(np.arange(len(ni)), ip[ni], ip[ni + 1])
    p, e = np.r_[pq, pn], np.r_[eq, en]
    n_side = np.r_[np.zeros(len(pq), dtype=bool), np.ones(len(pn), dtype=bool)]
    f = batch.feature_idx[e]
    order = np.lexsort((f, p))
    p, f, e, n_side = p[order], f[order], e[order], n_side[order]
    new = _run_starts(p, f)
    slot = np.cumsum(new) - 1
    q_val, n_val = np.zeros(int(new.sum())), np.zeros(int(new.sum()))
    q_val[slot[~n_side]] = batch.values[e[~n_side]]
    n_val[slot[n_side]] = batch.values[e[n_side]]
    return p[new], f[new], np.abs(q_val - n_val)


def _pair_blocks(weight: np.ndarray, budget: int) -> Iterator[tuple[int, int]]:
    """``(lo, hi)`` runs of consecutive pairs whose ``weight`` sums to at
    most ``budget``, one pair at least."""
    cum = np.r_[0, np.cumsum(weight)]
    lo = 0
    while lo < len(weight):
        hi = max(lo + 1, int(np.searchsorted(cum, cum[lo] + budget, side="right")) - 1)
        yield lo, hi
        lo = hi


def _entries(rows: np.ndarray, batch: _SparseBatch) -> np.ndarray:
    """Active entries of each of ``rows``."""
    return batch.indptr[rows + 1] - batch.indptr[rows]


def _run_starts(*keys: np.ndarray) -> np.ndarray:
    """Whether each position of the sorted ``keys`` starts a run of
    equal key tuples."""
    start = np.zeros(len(keys[0]), dtype=bool)
    start[:1] = True
    for key in keys:
        start[1:] |= key[1:] != key[:-1]
    return start


def _sparse_pair_stats(
    continuous: bool, threshold: float, keep_pairs: bool
) -> Callable[[np.ndarray, np.ndarray, _SparseBatch], Iterator[pa.RecordBatch]]:
    """The sparse twin of ``relief._pair_stats``: the same
    ``_PAIR_STATS_SCHEMA`` rows over each pair's union of active slots
    (:func:`_union_slots`). Per (feature, n_label, same_class) key its
    pairs hit, the exact decimal partials of ``feature_bin_stats``'
    ``bin_sum`` and ``vote_sum`` and its collision count; per bin, its
    pair count, pairs with no active slot included; with ``keep_pairs``,
    every pair's (query row, neighbour row). Nothing is O(n_features)."""

    def reduce(qi: np.ndarray, ni: np.ndarray, batch: _SparseBatch) -> Iterator[pa.RecordBatch]:
        weight = _entries(qi, batch) + _entries(ni, batch)
        for lo, hi in _pair_blocks(weight, _STATS_BLOCK_VALUES):
            lbls, code = _bin_codes(batch.labels[qi[lo:hi]], batch.labels[ni[lo:hi]])
            p, f, fdist = _union_slots(qi[lo:hi], ni[lo:hi], batch)
            if len(p):
                c = code[p]
                order = np.lexsort((f, c))
                f, c, fdist = f[order], c[order], fdist[order]
                starts = np.flatnonzero(_run_starts(c, f))
                votes = _collision_votes(fdist, continuous, threshold)
                yield _stats_batch(
                    f=pa.array(f[starts].astype(np.int32)),
                    n_label=pa.array(lbls[c[starts] // 2]),
                    same_class=pa.array(c[starts] % 2 == 1),
                    bin_sum=_dec18_array(_dec18_group_sums(fdist, starts)),
                    vote_sum=_dec18_array(_dec18_group_sums(votes, starts)),
                    n=pa.array(np.add.reduceat((fdist <= threshold).astype(np.int64), starts)),
                )
            counts = np.bincount(code, minlength=2 * len(lbls))
            bins = np.flatnonzero(counts)
            yield _stats_batch(
                n_label=pa.array(lbls[bins // 2]),
                same_class=pa.array(bins % 2 == 1),
                n=pa.array(counts[bins]),
            )
        if keep_pairs and len(qi):
            yield _stats_batch(qi=pa.array(qi.astype(np.int32)), ni=pa.array(ni.astype(np.int32)))

    return reduce


def _sparse_kernel_joint(
    pairs: DataFrame,
    bc: Broadcast,
    top_features: list[int],
    continuous: bool,
    threshold: float,
) -> DataFrame:
    """``joint_counts(collision_table(...))`` over the cached ``(qi,
    ni)`` rows and the broadcast CSR batch ``bc``, as a COO kernel: in
    each pair, every colliding slot of a scope feature meets every other
    colliding slot, and the task emits one-orientation partials per
    (f1 in scope, f2) key it hits — combo counts on discrete data, exact
    decimal sums of ``(va + vb) / 2`` on continuous data — finished by
    ``relief._mirror_sum``. Per task, memory follows the pairs' slots
    and the scope, never the declared width."""
    if len(top_features) == 0:
        return pairs.sparkSession.createDataFrame([], "f1 int, f2 int, joint double")
    top = np.unique(np.asarray(top_features, dtype=np.int64))

    def kernel(parts: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batch = bc.value
        for part in parts:
            qi, ni = part.column(0).to_numpy(), part.column(1).to_numpy()
            weight = (_entries(qi, batch) + _entries(ni, batch)) * (1 + len(top))
            for lo, hi in _pair_blocks(weight, _STATS_BLOCK_VALUES):
                p, f, fdist = _union_slots(qi[lo:hi], ni[lo:hi], batch)
                hit = fdist <= threshold
                p, f, vote = p[hit], f[hit], _collision_votes(fdist[hit], continuous, threshold)
                # slots are sorted by pair: each scope slot meets the run
                # of its own pair's slots
                a = np.flatnonzero(np.isin(f, top))
                ai, bi = _ranges(a, np.searchsorted(p, p[a]), np.searchsorted(p, p[a], "right"))
                other = f[ai] != f[bi]
                ai, bi = ai[other], bi[other]
                if not len(ai):
                    continue
                order = np.lexsort((f[bi], f[ai]))
                ai, bi = ai[order], bi[order]
                starts = np.flatnonzero(_run_starts(f[ai], f[bi]))
                if continuous:
                    part_col = _dec18_array(
                        _dec18_group_sums((vote[ai] + vote[bi]) / 2.0, starts)
                    )
                else:
                    part_col = pa.array(np.diff(np.r_[starts, len(ai)]).astype(np.int64))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(f[ai][starts].astype(np.int32)),
                        pa.array(f[bi][starts].astype(np.int32)),
                        part_col,
                    ],
                    names=["f1", "f2", "part"],
                )

    return _joint_of_parts(pairs, kernel, continuous)


def sparse_pair_feature_table(
    long_df: DataFrame, labels: DataFrame, neighbors: DataFrame
) -> DataFrame:
    """Long pair-feature table over the union of active features.

    Output schema matches the dense ``explode_pairs(pair_table(...))``
    — (query_id, neighbor_id, n_label, same_class, feature_idx, fdist)
    — so ``feature_bin_stats`` and ``collision_table`` apply verbatim.
    No fit builds it: with those two it is the Spark reference the
    sparse pair kernel (:func:`_sparse_pair_stats`,
    :func:`_sparse_kernel_joint`) is tested against.
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
    over the sparse neighbourhood (:func:`_sparse_neighbourhood`): per
    batch, one Arrow fetch of its long rows and norms, the exact
    :func:`sparse_knn_join` merge, and the pair kernel's lookup, which
    reduces every (query, neighbour) pair over its union of active
    features to exact partial statistics; all batches' statistics in the
    engine's one stats collect, then one joint/MI action over the
    cached row pairs.
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

    Each batch's fetch names, before any statistics job runs: null or
    repeated ids, NaN or +-inf values, null ``feature_idx`` or
    ``value``, repeated ``(id, feature_idx)`` rows, a ``feature_idx``
    outside ``[0, n_features)`` and a batch past
    :data:`SPARSE_BROADCAST_MAX_BYTES`.
    """
    plan = _plan_fit(
        lambda: labels.groupBy("label").agg(F.count("*").alias("n")).collect(),
        num_top_features=num_top_features,
        num_neighbors=num_neighbors,
        lower_feature_threshold=lower_feature_threshold,
        fit_name="fit_relief_sparse",
        label_col="label",
    )
    n_batches = max(1, int(1.0 / batch_size))
    continuous = not discrete_data
    threshold = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0

    def neighbourhood(b: int, hold: Callable) -> _Neighbourhood:
        b_long, b_labels = long_df, labels
        if n_batches > 1:
            in_batch = _hash_batch(b, n_batches)
            b_long, b_labels = long_df.filter(in_batch), labels.filter(in_batch)
        return _sparse_neighbourhood(
            b_long, b_labels, b_labels.select("id"), plan.k, hold,
            continuous=continuous, threshold=threshold, keep_pairs=redundancy_removal,
            n_features=n_features,
            # partition-sizing estimate only: hash batches split evenly
            num_corpus=max(1, plan.n_instances // n_batches),
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
