"""RELIEF-F weighting + collision-redundancy.

The reference accumulates its statistics by hand in each partition
(breeze, ReliefFRSelector.scala:377-602 dense/sparse paths). Every fit
does the same: the tasks of its pair kernel (:func:`knn.self_knn_pairs`,
:func:`knn.lookup_pairs`) reduce their pairs to small exact decimal
partials that the driver sums — :func:`_pair_stats` and
:func:`_kernel_joint` over the dense batch, their CSR twins in
``relief_sparse`` over the sparse one. The long/exploded-table form —
:func:`pair_table`, :func:`explode_pairs` and ``groupBy`` aggregations
such as :func:`feature_bin_stats`, :func:`collision_table` and
:func:`joint_counts` — runs in no fit: it is the reference the kernels
are tested against.

Semantics implemented (citations into /root/reference):

* pair enumeration: each sampled query's k = numNeighbors * nClasses
  nearest neighbors *within the batch* (fit passes the batch itself to
  approxNNByPartition, ReliefFRSelector.scala:262 — not the full
  dataset, despite the :104-107 doc).
* relevance bins: per (feature, neighbor_label, same_class) sum of
  |q_f - n_f| (ReliefFRSelector.scala:435-441); class counter per bin
  (:436-437, :469).
* collapse: w(f) = sum over bins of sign * prior(neighbor_label) *
  bin_sum / bin_count, sign = -1 when neighbor shares the query's class
  (aggregateWeightsByFeat, ReliefFRSelector.scala:605-629).
* collisions: feature distance <= threshold votes 1 - min(6,d)/6
  (continuous, :417) or 1.0 (discrete; the reference uses
  Double.MinPositiveValue and divides it back out, :637-640).
  Threshold is the deterministic 6*(1-lowerDistanceThreshold) — the
  reference's randomized threshold goes negative for defaults and is a
  defect (SURVEY §8.3), so we keep the documented intent.
* joint co-occurrence: for a (query, neighbor) pair, every colliding
  feature pair (f1, f2), f1 != f2, with f1 in the previous batch's
  top features, contributes the mean of the two features' *current*
  votes to joint[f1][f2] and joint[f2][f1] (:449-457; the reference's
  stale ``pcounter`` reads are a defect, SURVEY §8.4 — we use
  current-pair votes only).
* MI transform + min-max: computeRedudancy (:632-679).
* greedy selection: selectFeatures (:685-732) — driver-side numpy;
  inherently sequential over a tiny (nFeat) frame.

Scale notes: all wide work is keyed by feature_idx or (f1, f2) — the
dense kernel shuffles O(tasks * nFeat * nClasses) partials for
relevance and O(tasks * |scope| * nFeat) for the joint COO, independent
of total dataset size. The joint table is COO (absent = zero), fixing the
reference's dense per-feature row-vector memory hazard (SURVEY §7.3).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from decimal import localcontext
from functools import reduce
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import (
    auto_lsh_tables,
    check_strategy,
    knn_join,
    resolve_auto_strategy,
    self_knn_pairs,
)

#: All floating-point SUMs accumulate through this decimal type: double
#: addition is order-sensitive and shuffle arrival order is
#: nondeterministic, so exact decimal accumulation is what makes the
#: engine's weights reproducible run-to-run (and bit-comparable against
#: a DuckDB oracle using the same convention).
#:
#: Full (38,18), deliberately: a narrower precision would make
#: cast(double AS decimal) return NULL for |x| >= 10^(p-18) and the
#: sums would silently DROP those rows (ANSI off). An interleaved
#: post-JIT A/B on the bin-stats aggregation showed no measurable
#: speed difference between (28,18) and (38,18), so the narrow type
#: bought nothing and carried a silent-overflow hazard for
#: non-contractual inputs.
DEC = "decimal(38,18)"

#: Python ``Decimal`` precision for the driver's exact sums: a 38-digit
#: decimal(38,18) sum of many partials, or a contribution quantized to
#: 18 places, stays far below it (the default 28 digits would round or
#: raise past 1e10).
_DEC_SUM_DIGITS = 80


def pair_table(
    batch: DataFrame,
    neighbors: DataFrame,
    id_col: str = "id",
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """(query, neighbor) pairs with both feature vectors attached.

    Returns ``(query_id, neighbor_id, n_label, same_class, q_features,
    n_features)`` for the self-kNN table ``neighbors`` of ``batch`` by
    two equi-joins (SURVEY J3). The dense fit never builds these rows:
    its kernel reduces each pair where it finds it
    (:func:`knn.self_knn_pairs`). This Spark form is the reference that
    kernel is tested against.
    """
    q = batch.select(
        F.col(id_col).alias("query_id"),
        F.col(features_col).alias("q_features"),
        F.col(label_col).alias("q_label"),
    )
    n = batch.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(features_col).alias("n_features"),
        F.col(label_col).alias("n_label"),
    )
    return (
        neighbors.select("query_id", "neighbor_id")
        .join(n, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("same_class", F.col("n_label") == F.col("q_label"))
    )


def explode_pairs(pairs: DataFrame) -> DataFrame:
    """Explode a ``pair_table`` result to per-feature rows
    ``(query_id, neighbor_id, n_label, same_class, feature_idx, fdist)``
    — the long form every downstream aggregation groups over."""
    from spark_relieffc_fselection_spark.functions.vector import abs_diff_array

    return pairs.select(
        "query_id",
        "neighbor_id",
        "n_label",
        "same_class",
        F.posexplode(abs_diff_array("q_features", "n_features")).alias(
            "feature_idx", "fdist"
        ),
    )


def feature_bin_stats(
    long_pairs: DataFrame,
    continuous: bool,
    lower_distance_threshold: float,
) -> DataFrame:
    """ONE aggregation pass producing the sufficient statistics for
    relevance (A3: per-class-bin distance sums) AND the marginal
    collision mass / counts (A5) — instead of three separate scans of
    the exploded long table.

    Returns ``(feature_idx, n_label, same_class, bin_sum, vote_sum,
    n_collisions)``; ~nFeat x nClasses x 2 rows, tiny at any scale.
    ``_collapse_bins_local`` collapses ``bin_sum``; summing ``vote_sum``
    / ``n_collisions`` over bins gives the per-feature marginal
    collision mass and collision counts exactly (decimal addition is
    associative, so the two-level sum is bit-identical). The collapse
    divisor, the bin's PAIR count (classCounter, ReliefFRSelector.scala:
    436-437, 469), comes from the pair or neighbor table: a sparse long
    table has no rows for zero-zero slots.
    """
    from spark_relieffc_fselection_spark.functions.vector import collision_vote

    threshold = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0
    is_coll = F.col("fdist") <= F.lit(threshold)
    vote = collision_vote(F.col("fdist"), continuous)
    return long_pairs.groupBy("feature_idx", "n_label", "same_class").agg(
        F.sum(F.col("fdist").cast(DEC)).alias("bin_sum"),
        F.sum(F.when(is_coll, vote).otherwise(F.lit(0.0)).cast(DEC)).alias("vote_sum"),
        F.sum(F.when(is_coll, F.lit(1)).otherwise(F.lit(0))).alias("n_collisions"),
    )


def collision_table(
    long_pairs: DataFrame,
    continuous: bool,
    lower_distance_threshold: float,
) -> DataFrame:
    """Per-(pair, feature) collision votes.

    Continuous: collision iff fdist <= 6*(1-lowerDistanceThreshold),
    vote = 1 - min(6, fdist)/6. Discrete: collision iff fdist == 0,
    vote = 1. (ReliefFRSelector.scala:417, 431, 444; deterministic
    threshold per SURVEY §8.3.)
    """
    from spark_relieffc_fselection_spark.functions.vector import collision_vote

    threshold = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0
    vote = collision_vote(F.col("fdist"), continuous)
    return (
        long_pairs.filter(F.col("fdist") <= F.lit(threshold))
        .select("query_id", "neighbor_id", "feature_idx", vote.alias("vote"))
    )


#: joint_counts_from_pairs generates per-pair combination arrays when
#: the per-pair collision count is bounded by this many features; wider
#: spaces fall back to the self-join plan whose memory per task is O(1)
#: rows.
_JOINT_COMBOS_MAX_FEATURES = 16_384


def joint_counts(
    collisions: DataFrame,
    top_features: list[int] | None,
    continuous: bool,
) -> DataFrame:
    """Pairwise co-occurrence COO table (SURVEY A6).

    For each (query, neighbor) pair, every colliding feature pair
    (f1, f2), f1 != f2 with f1 in ``top_features``, contributes the
    joint vote to BOTH orientations (the reference's symmetric double
    update, ReliefFRSelector.scala:453-454). Joint vote = mean of the
    two features' current votes (continuous) or the left vote
    (discrete; identical since discrete votes are all 1.0).

    Physical plan: self-join of the collision rows on the pair id (two
    shuffles but O(1) memory per row). No fit runs it: it is the
    reference the sparse fit's COO joint kernel is tested against.
    """
    if top_features is not None and len(top_features) == 0:
        spark = collisions.sparkSession
        return spark.createDataFrame([], "f1 int, f2 int, joint double")
    return _mirror_and_sum(
        _joint_selfjoin(collisions, top_features, continuous), continuous
    )


def joint_counts_from_pairs(
    pairs: DataFrame,
    top_features: list[int] | None,
    continuous: bool,
    lower_distance_threshold: float,
    num_features: int,
) -> DataFrame:
    """:func:`joint_counts` computed straight from a compact
    :func:`pair_table` frame (``q_features`` / ``n_features`` arrays).

    Decimal-identical to ``joint_counts(collision_table(explode_pairs(
    pairs), ...), ...)`` — the per-element distance (``abs(q - n)``),
    collision test (``fdist <= threshold``), and vote expressions are
    the same IEEE operations, and the aggregation tail is shared — but
    the physical plan is far cheaper: the generic path explodes the
    pair table to per-feature rows only to ``collect_list`` them back
    into per-pair arrays (a full shuffle plus an ObjectHashAggregate
    build), while the pair rows ALREADY hold both vectors. Here the
    per-pair collision array is one narrow higher-order-function
    projection — no exchange at all before the final tiny
    (f1, f2)-keyed aggregation.

    Because there is no exchange, the combination explode inherits
    ``pairs``' partitioning verbatim — pass a frame spread across
    cores (every internal caller feeds a ``repartition``-ed cache); a
    single-partition input would serialize the widest stage.

    Past ``_JOINT_COMBOS_MAX_FEATURES`` the per-pair combination arrays
    would not be memory-bounded, so the wide case IS the generic
    self-join plan.
    """
    if num_features > _JOINT_COMBOS_MAX_FEATURES:
        coll = collision_table(explode_pairs(pairs), continuous, lower_distance_threshold)
        return joint_counts(coll, top_features, continuous)
    if top_features is not None and len(top_features) == 0:
        spark = pairs.sparkSession
        return spark.createDataFrame([], "f1 int, f2 int, joint double")
    threshold = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0
    # (f, d) per colliding slot; d kept through the filter so the
    # collision predicate compares the SAME double the generic path
    # filters on (deriving it back from the vote would re-round).
    fd = F.filter(
        F.transform(
            F.zip_with("q_features", "n_features", lambda x, y: F.abs(x - y)),
            lambda d, i: F.struct(i.alias("f"), d.alias("d")),
        ),
        lambda s: s["d"] <= F.lit(threshold),
    )
    if continuous:
        fv = F.transform(
            fd,
            lambda s: F.struct(
                s["f"].alias("f"),
                (
                    F.lit(1.0) - F.least(F.lit(6.0), s["d"]) / F.lit(6.0)
                ).alias("v"),
            ),
        )
    else:
        fv = F.transform(fd, lambda s: s["f"])
    arrays = pairs.select(fv.alias("fv"))
    get_f = (lambda s: s["f"]) if continuous else (lambda s: s)
    if top_features is not None:
        top_lit = F.array(*[F.lit(int(f)) for f in top_features])
        left = F.filter("fv", lambda s: F.array_contains(top_lit, get_f(s)))
    else:
        left = F.col("fv")
    ex = (
        arrays.select(F.explode(left).alias("a"), "fv")
        .select("a", F.explode("fv").alias("b"))
        .filter(get_f(F.col("a")) != get_f(F.col("b")))
    )
    if continuous:
        jv = (F.col("a.v") + F.col("b.v")) / 2.0
        ordered = ex.select(
            F.col("a.f").alias("f1"), F.col("b.f").alias("f2"), jv.alias("jv")
        )
    else:
        ordered = ex.select(
            F.col("a").alias("f1"), F.col("b").alias("f2"), F.lit(1.0).alias("jv")
        )
    return _mirror_and_sum(ordered, continuous)


def _mirror_and_sum(ordered: DataFrame, continuous: bool) -> DataFrame:
    # Aggregate ONE orientation per ordered (a in scope, b) combo, then
    # mirror the TINY aggregated COO (see _mirror_sum). Halves the rows
    # through the expensive decimal aggregation (the combination explode
    # is the pipeline's widest stage); decimal addition is associative,
    # so regrouping the sum is bit-identical to the orientation-exploded
    # plan.
    #
    # Discrete data: every vote is exactly 1.0 (collision_table), so
    # sum(jv) IS the combo count — a plain long count, no decimal at
    # all, bit-identical to summing ones in any order.
    if continuous:
        agg = ordered.groupBy("f1", "f2").agg(
            F.sum(F.col("jv").cast(DEC)).alias("j_part")
        )
    else:
        agg = ordered.groupBy("f1", "f2").agg(
            F.count("*").cast(DEC).alias("j_part")
        )
    return _mirror_sum(agg)


def _mirror_sum(agg: DataFrame) -> DataFrame:
    """``joint(f1, f2) = agg(f1, f2) + agg(f2, f1)`` as a double, from
    one-orientation ``(f1, f2, j_part)`` rows, one per key: each
    unordered collision contributes the same jv to both cells."""
    # Mirror in ONE pass over the aggregated rows: a self-union
    # (agg.unionByName(agg.select(...))) would embed the un-cached agg
    # subplan TWICE in the physical plan, and Spark executes both
    # branches — the combination explode (this pipeline's single widest
    # stage) would run twice per batch. Exploding both orientations
    # from each aggregated row keeps the expensive subtree unique;
    # the per-row array covers 2 tiny structs, nothing corpus-sized.
    mirrored = agg.select(
        F.explode(
            F.array(
                F.struct(F.col("f1"), F.col("f2"), F.col("j_part")),
                F.struct(
                    F.col("f2").alias("f1"),
                    F.col("f1").alias("f2"),
                    F.col("j_part"),
                ),
            )
        ).alias("e")
    ).select("e.f1", "e.f2", "e.j_part")
    return mirrored.groupBy("f1", "f2").agg(
        F.sum("j_part").cast("double").alias("joint")
    )


# ---------------------------------------------------------------------
# The pair kernel's reducers (knn.self_knn_pairs): the statistics of
# feature_bin_stats, the pair counts and joint_counts_from_pairs'
# one-orientation partials, computed in the tasks that find the pairs.
# ---------------------------------------------------------------------

#: values per (pairs x features) block a reducer holds at once
_STATS_BLOCK_VALUES = 1 << 20

#: Arrow type of a decimal(38,18) value
_DEC_ARROW = pa.decimal128(38, 18)

#: the stats kernel's rows: a bin partial (f, n_label, same_class,
#: bin_sum, vote_sum, n = the bin's collision count), a pair-count
#: partial (n_label, same_class, n) with a null f or, when the joint
#: needs them later, a pair (qi, ni) of batch rows
_PAIR_STATS_SCHEMA = (
    "f int, n_label double, same_class boolean, bin_sum decimal(38,18), "
    "vote_sum decimal(38,18), n long, qi int, ni int"
)


def _dec18_units(x: np.ndarray) -> np.ndarray:
    """Spark's ``cast(x AS decimal(38,18))`` of each double of the 1-D
    ``x`` (finite, |x| < 2^53) as an unscaled integer in units of 1e-18,
    in decimal128 layout: an int64 ``(n, 2)`` array of (low word as
    unsigned bits, signed high word).

    Spark casts through ``BigDecimal(Double.toString(x))`` and rounds
    half-up (away from zero) to 18 places. Arrow's float-to-string cast
    is the shortest round-trip decimal, which is ``Double.toString``'s
    value in this range (SCALE.md). From |x| >= 0.01 on, that string has
    at most 18 decimals and parses into decimal128(38,18) exactly; below
    0.01 it is parsed at 40 places and rounded. Below 1e-20 the cast is
    0 and nothing is parsed (which also keeps every string within 40
    places)."""
    out = np.zeros((len(x), 2), dtype=np.int64)
    a = np.abs(x)
    direct = a >= 0.01
    for mask, exact in ((direct, True), ((a >= 1e-20) & ~direct, False)):
        if not mask.any():
            continue
        text = pc.cast(pa.array(x[mask]), pa.string())
        if exact:
            dec = pc.cast(text, _DEC_ARROW)
        else:
            wide = pc.cast(text, pa.decimal256(76, 40))
            dec = pc.cast(pc.round(wide, 18, round_mode="half_towards_infinity"), _DEC_ARROW)
        words = np.frombuffer(
            dec.buffers()[1], dtype=np.int64, count=2 * len(dec), offset=16 * dec.offset
        )
        out[mask] = words.reshape(-1, 2)
    return out


def _dec18_limbs(x: np.ndarray) -> tuple[np.ndarray, ...]:
    """:func:`_dec18_units` of the 1-D ``x`` split into four int64 arrays
    of 32-bit limbs, low first (the last one signed): limb sums cannot
    overflow below 2^31 values."""
    words = _dec18_units(x)
    lo, hi = words[:, 0].view(np.uint64), words[:, 1]
    return (
        (lo & 0xFFFFFFFF).astype(np.int64),
        (lo >> np.uint64(32)).astype(np.int64),
        (hi.view(np.uint64) & 0xFFFFFFFF).astype(np.int64),
        hi >> 32,
    )


def _dec18_col_sums(x: np.ndarray) -> np.ndarray:
    """Exact per-column sums of :func:`_dec18_units` over the 2-D ``x``,
    as a 1-D object array of Python ints (units of 1e-18)."""
    rows, cols = x.shape
    total = np.zeros(cols, dtype=object)
    for j, limb in enumerate(_dec18_limbs(x.ravel())):
        total += limb.reshape(rows, cols).sum(axis=0).astype(object) << (32 * j)
    return total


def _dec18_group_sums(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Exact sums of :func:`_dec18_units` over the runs of the 1-D ``x``
    that begin at ``starts`` (ascending, the first 0), as an object
    array of Python ints (units of 1e-18)."""
    total = np.zeros(len(starts), dtype=object)
    for j, limb in enumerate(_dec18_limbs(x)):
        total += np.add.reduceat(limb, starts).astype(object) << (32 * j)
    return total


def _dec18_array(units: Iterable[int]) -> pa.Array:
    """A decimal128(38,18) Arrow array of unscaled Python ints."""
    words = [(u & 0xFFFFFFFFFFFFFFFF, u >> 64) for u in map(int, units)]
    buf = np.array(
        [w for lo, hi in words for w in (lo, hi & 0xFFFFFFFFFFFFFFFF)], dtype=np.uint64
    )
    return pa.Array.from_buffers(_DEC_ARROW, len(words), [None, pa.py_buffer(buf.tobytes())])


def _collision_votes(fdist: np.ndarray, continuous: bool, threshold: float) -> np.ndarray:
    """``collision_table``'s votes, 0.0 where a feature does not collide:
    the same IEEE operations as ``collision_vote``."""
    vote = 1.0 - np.minimum(6.0, fdist) / 6.0 if continuous else np.ones_like(fdist)
    return np.where(fdist <= threshold, vote, 0.0)


def _bin_codes(q_lbl: np.ndarray, n_lbl: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The (n_label, same_class) bin of each pair as ``(lbls, code)``:
    bin ``code`` is neighbour label ``lbls[code // 2]`` with same_class
    ``code % 2 == 1``."""
    # Spark's `=` holds for NaN = NaN
    same = (n_lbl == q_lbl) | (np.isnan(n_lbl) & np.isnan(q_lbl))
    lbls = np.unique(n_lbl)
    return lbls, np.searchsorted(lbls, n_lbl) * 2 + same


def _pair_stats(
    continuous: bool, threshold: float, keep_pairs: bool
) -> Callable[[np.ndarray, np.ndarray, tuple], Iterator[pa.RecordBatch]]:
    """The stats reducer of the fit's pair kernel (``_PAIR_STATS_SCHEMA``
    rows). Per (n_label, same_class) bin of its pairs it emits one
    partial row per feature with the exact decimal sums of
    ``feature_bin_stats`` (``bin_sum``, ``vote_sum``) and its collision
    count (``n_collisions``, in ``n``), and one row with the bin's pair
    count; ``keep_pairs`` also emits every pair's (query row, neighbour
    row) for the joint kernel. Partials of one key sum
    exactly to the Spark aggregate's value: every element is cast as
    Spark casts it (:func:`_dec18_units`) and decimal addition is
    associative."""

    def reduce(qi: np.ndarray, ni: np.ndarray, batch: tuple) -> Iterator[pa.RecordBatch]:
        _, mat, labels = batch
        lbls, code = _bin_codes(labels[qi], labels[ni])
        d = mat.shape[1]
        step = max(1, _STATS_BLOCK_VALUES // max(d, 1))
        for c in np.unique(code):
            rows = np.flatnonzero(code == c)
            bin_sum = np.zeros(d, dtype=object)
            vote_sum = np.zeros(d, dtype=object)
            n_coll = np.zeros(d, dtype=np.int64)
            for s in range(0, len(rows), step):
                r = rows[s : s + step]
                fdist = np.abs(mat[qi[r]] - mat[ni[r]])
                bin_sum += _dec18_col_sums(fdist)
                vote_sum += _dec18_col_sums(_collision_votes(fdist, continuous, threshold))
                n_coll += (fdist <= threshold).sum(axis=0)
            lbl, sc = lbls[c // 2], bool(c % 2)
            yield _stats_batch(
                f=pa.array(np.arange(d, dtype=np.int32)),
                n_label=pa.array(np.full(d, lbl)),
                same_class=pa.array(np.full(d, sc)),
                bin_sum=_dec18_array(bin_sum),
                vote_sum=_dec18_array(vote_sum),
                n=pa.array(n_coll),
            )
            yield _stats_batch(
                n_label=pa.array([lbl]), same_class=pa.array([sc]), n=pa.array([len(rows)])
            )
        if keep_pairs and len(qi):
            yield _stats_batch(qi=pa.array(qi.astype(np.int32)), ni=pa.array(ni.astype(np.int32)))

    return reduce


def _stats_batch(**cols: pa.Array) -> pa.RecordBatch:
    """One ``_PAIR_STATS_SCHEMA`` record batch: ``cols`` and nulls."""
    n = len(next(iter(cols.values())))
    types = {
        "f": pa.int32(), "n_label": pa.float64(), "same_class": pa.bool_(),
        "bin_sum": _DEC_ARROW, "vote_sum": _DEC_ARROW, "n": pa.int64(),
        "qi": pa.int32(), "ni": pa.int32(),
    }
    return pa.RecordBatch.from_arrays(
        [cols.get(name, pa.nulls(n, t)) for name, t in types.items()], names=list(types)
    )


def _kernel_joint(
    pairs: DataFrame,
    bc,
    top_features: list[int],
    continuous: bool,
    threshold: float,
) -> DataFrame:
    """:func:`joint_counts_from_pairs` over the pair kernel's cached
    ``(qi, ni)`` rows and its broadcast batch ``bc``: each task emits
    its one-orientation partials per (f1 in scope, f2) — combo counts
    on discrete data, exact decimal sums of ``(va + vb) / 2`` on
    continuous data — for every key at least one of its pairs hits,
    and :func:`_mirror_sum` finishes as the Spark plan does."""
    if len(top_features) == 0:
        return pairs.sparkSession.createDataFrame([], "f1 int, f2 int, joint double")
    top = np.asarray(top_features, dtype=np.int64)

    def kernel(parts: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _, mat, _ = bc.value
        d = mat.shape[1]
        cnt = np.zeros((len(top), d), dtype=np.int64)
        acc = np.zeros((len(top), d), dtype=object)
        step = max(1, _STATS_BLOCK_VALUES // max(d, 1))
        for part in parts:
            qi, ni = part.column(0).to_numpy(), part.column(1).to_numpy()
            for s in range(0, len(qi), step):
                fdist = np.abs(mat[qi[s : s + step]] - mat[ni[s : s + step]])
                coll = fdist <= threshold
                if not continuous:
                    # 0/1 products: the float64 matmul counts exactly
                    both = coll[:, top].T.astype(np.float64) @ coll.astype(np.float64)
                    both[np.arange(len(top)), top] = 0
                    cnt += both.astype(np.int64)
                    continue
                vote = _collision_votes(fdist, continuous, threshold)
                for j, a in enumerate(top):
                    hit = coll[:, a]
                    if not hit.any():
                        continue
                    pair = coll[hit]
                    pair[:, a] = False
                    cnt[j] += pair.sum(axis=0)
                    jv = np.where(pair, (vote[hit, a][:, None] + vote[hit]) / 2.0, 0.0)
                    acc[j] += _dec18_col_sums(jv)
        j, f2 = np.nonzero(cnt)
        part = (
            _dec18_array(acc[j, f2]) if continuous else pa.array(cnt[j, f2].astype(np.int64))
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(top[j].astype(np.int32)), pa.array(f2.astype(np.int32)), part],
            names=["f1", "f2", "part"],
        )

    return _joint_of_parts(pairs, kernel, continuous)


def _joint_of_parts(pairs: DataFrame, kernel: Callable, continuous: bool) -> DataFrame:
    """The joint COO of a joint kernel: ``kernel`` maps the ``(qi, ni)``
    rows to ``(f1, f2, part)`` one-orientation partials (decimal sums on
    continuous data, combo counts on discrete data), summed per key and
    finished by :func:`_mirror_sum` as the Spark plan does."""
    schema = f"f1 int, f2 int, part {'decimal(38,18)' if continuous else 'long'}"
    parts = pairs.mapInArrow(kernel, schema)
    j_part = F.sum("part") if continuous else F.sum("part").cast(DEC)
    return _mirror_sum(parts.groupBy("f1", "f2").agg(j_part.alias("j_part")))


def _joint_selfjoin(
    collisions: DataFrame, top_features: list[int] | None, continuous: bool
) -> DataFrame:
    a = collisions.select(
        "query_id", "neighbor_id",
        F.col("feature_idx").alias("fa"), F.col("vote").alias("va"),
    )
    b = collisions.select(
        "query_id", "neighbor_id",
        F.col("feature_idx").alias("fb"), F.col("vote").alias("vb"),
    )
    if top_features is not None:
        a = a.filter(F.col("fa").isin([int(f) for f in top_features]))
    paired = a.join(b, ["query_id", "neighbor_id"]).filter(F.col("fa") != F.col("fb"))
    jv = ((F.col("va") + F.col("vb")) / 2.0) if continuous else F.col("va")
    return paired.select(
        F.col("fa").alias("f1"), F.col("fb").alias("f2"), jv.alias("jv")
    )


def mi_redundancy(
    joint: DataFrame,
    marginal: DataFrame,
    total: float,
    joint_total: float,
) -> DataFrame:
    """MI-style entropy transform + global min-max (SURVEY A10) as an
    ``(f1, f2, redundancy)`` frame: :func:`_mi_redundancy_coo`'s
    entries, typed like ``joint``'s keys."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    coo = _mi_redundancy_coo(joint, marginal, total, joint_total)
    out_schema = StructType(
        [joint.schema["f1"], joint.schema["f2"], StructField("redundancy", DoubleType(), True)]
    )
    return joint.sparkSession.createDataFrame(
        [(f1, f2, v) for (f1, f2), v in coo.items()], out_schema
    )


def _mi_redundancy_coo(
    joint: DataFrame,
    marginal: DataFrame,
    total: float,
    joint_total: float,
) -> dict[tuple[int, int], float]:
    """The redundancy COO ``{(f1, f2): redundancy}`` in ONE collect.

    red(f1,f2) = jprob*log2(jprob/(p1*p2)) with NaN/inf -> 0
    (computeRedudancy, ReliefFRSelector.scala:645-661), then min-max
    normalized over all entries (:663-676).
    """
    m = marginal.select(
        "feature_idx", (F.col("marginal") / F.lit(total)).alias("p")
    )
    jp = (
        joint.join(m.withColumnRenamed("feature_idx", "f1").withColumnRenamed("p", "p1"), "f1")
        .join(m.withColumnRenamed("feature_idx", "f2").withColumnRenamed("p", "p2"), "f2")
        .withColumn("jprob", F.col("joint") / F.lit(joint_total))
        .withColumn(
            "red_raw",
            F.col("jprob") * F.log2(F.col("jprob") / (F.col("p1") * F.col("p2"))),
        )
        .withColumn(
            "red_raw",
            F.when(
                F.isnan("red_raw") | F.col("red_raw").isNull() | (F.col("p1") * F.col("p2") == 0),
                F.lit(0.0),
            ).otherwise(F.col("red_raw")),
        )
    )
    # ONE action: a separate min/max pass re-ran the whole joint subplan
    # (two complete executions in the q44/q158 stage profiles). The
    # COO is bounded by the topFeatures scope, so the min-max runs on
    # the driver: (x - mn) / (mx - mn) over collected float64s is the
    # IEEE arithmetic Spark's projection evaluates, bit-identical. The
    # log2 STAYS in Spark: JVM and CPython log2 may round differently.
    rows = jp.select("f1", "f2", "red_raw").collect()
    mn = min((r["red_raw"] for r in rows), default=0.0)
    mx = max((r["red_raw"] for r in rows), default=0.0)
    span = mx - mn
    return {
        (r["f1"], r["f2"]): 0.0 if mx == mn else (r["red_raw"] - mn) / span
        for r in rows
    }


#: Feature-space width beyond which a fit's relevance result is a
#: :class:`SparseRelevance` (a dict keyed by active feature) instead
#: of a dense ndarray: at the reference's own 30M-feature claim
#: (README.md:11, kddb) a np.zeros(n_features) is a ~240 MB allocation
#: on the driver for a frame that is sparse by construction (VERDICT
#: r8 #7). It picks the representation only: normalization, ranking
#: and greedy selection are the same code at every width.
DENSE_RELEVANCE_MAX_FEATURES = 1 << 18


class SparseRelevance:
    """O(active-features) stand-in for the dense relevance ndarray past
    ``DENSE_RELEVANCE_MAX_FEATURES``: a normalized-value dict plus the
    shared default every absent (never-active) feature takes — absent
    features all carry raw relevance 0.0, which min-max normalizes to
    one common value. Supports the two consumer operations the result
    contract needs (indexing and len); iterating densifies and is only
    for narrow-width consumers."""

    __slots__ = ("data", "default", "n")

    def __init__(self, data: dict[int, float], default: float, n: int) -> None:
        self.data = data
        self.default = default
        self.n = int(n)

    def __getitem__(self, i: int) -> float:
        return self.data.get(int(i), self.default)

    def __len__(self) -> int:
        return self.n

    def __iter__(self):
        for i in range(self.n):
            yield self.data.get(i, self.default)


def _candidates(
    relevance: np.ndarray | SparseRelevance, k: int, extra: Iterable[int] = ()
) -> tuple[np.ndarray | None, np.ndarray]:
    """``(ids, values)`` of the features a top-``k`` selection can
    reach, ascending; ``ids`` is None for an ndarray (every feature).
    For a :class:`SparseRelevance`: the present features, the ``extra``
    ones (touched by a redundancy COO) and the ``k`` lowest others —
    any further absent feature scores the shared default forever and
    loses every tie to a lower index, so it is never among ``k`` picks.
    numpy then runs over O(active + k) entries, not the declared width."""
    if not isinstance(relevance, SparseRelevance):
        return None, np.asarray(relevance)
    present = np.fromiter(relevance.data, dtype=np.int64, count=len(relevance.data))
    known = np.union1d(present, np.fromiter(extra, dtype=np.int64))
    # the k lowest unknown indices all lie below k + len(known)
    span = np.arange(min(relevance.n, k + len(known)), dtype=np.int64)
    ids = np.union1d(known, np.setdiff1d(span, known, assume_unique=True)[:k])
    values = np.full(len(ids), relevance.default)
    values[np.searchsorted(ids, present)] = np.fromiter(
        relevance.data.values(), dtype=float, count=len(present)
    )
    return ids, values


def std_ranking(
    relevance: np.ndarray | SparseRelevance, num_top_features: int
) -> list[int]:
    """Standard RELIEF ranking: by (-relevance, feature_idx)
    (ReliefFRSelector.scala:688-690)."""
    k = min(num_top_features, len(relevance))
    if k <= 0:
        return []
    ids, values = _candidates(relevance, k)
    order = np.lexsort((np.arange(len(values)), -values))[:k]
    return [int(f) for f in (order if ids is None else ids[order])]


def greedy_select(
    relevance: np.ndarray | SparseRelevance,
    redundancy_coo: dict[tuple[int, int], float],
    num_top_features: int,
) -> list[int]:
    """Greedy relevance-vs-redundancy selection (SURVEY T5).

    Driver-side sequential arg-max over a tiny frame, matching
    selectFeatures (ReliefFRSelector.scala:685-732): each round, the
    last-selected feature's joint entries update the still-valid
    features they touch, incrementing a PER-FEATURE update counter
    (FeatureScore.update, :757-760 — selectedSize is per feature, not
    global); score = relevance - redundance/selectedSize, falling back
    to pure relevance while a feature has received no joint entry
    (FeatureScore.score, :742-747). With a sparse COO — joint entries
    exist only for colliding pairs inside the topFeatures scope — a
    feature updated in only some rounds must NOT have its penalty
    diluted by rounds it sat out. Ties resolve to the lowest feature
    index (the reference's scan uses strict '>').
    """
    k = min(num_top_features, len(relevance))
    if k <= 0:
        return []
    touched = {f for pair in redundancy_coo for f in pair}
    ids, rel = _candidates(relevance, k, touched)
    if ids is not None and redundancy_coo:
        # re-key the COO from feature ids to candidate positions
        feats = np.array(sorted(touched), dtype=np.int64)
        at = dict(zip(feats.tolist(), np.searchsorted(ids, feats).tolist()))
        redundancy_coo = {
            (at[f1], at[f2]): v for (f1, f2), v in redundancy_coo.items()
        }
    n_feat = len(rel)
    red_acc = np.zeros(n_feat)
    upd_cnt = np.zeros(n_feat, dtype=np.int64)
    valid = np.ones(n_feat, dtype=bool)
    # Pre-index the COO by its first key: the loop below touches only
    # the last-selected feature's row each round.
    by_f1: dict[int, list[tuple[int, float]]] = {}
    for (f1, f2), v in redundancy_coo.items():
        by_f1.setdefault(f1, []).append((f2, v))

    first = int(np.lexsort((np.arange(n_feat), -rel))[0])
    selected = [first]
    valid[first] = False
    while len(selected) < k:
        last = selected[-1]
        for f2, v in by_f1.get(last, ()):
            if valid[f2]:
                red_acc[f2] += v
                upd_cnt[f2] += 1
        score = np.where(upd_cnt > 0, rel - red_acc / np.maximum(upd_cnt, 1), rel)
        score = np.where(valid, score, -np.inf)
        best = int(np.argmax(score))  # argmax takes the first max -> lowest idx
        if not np.isfinite(score[best]):
            break
        selected.append(best)
        valid[best] = False
    return selected if ids is None else [int(f) for f in ids[selected]]


@dataclass
class ReliefFitResult:
    """Everything fit produces; arrays are indexed by feature_idx.

    ``relevance`` is a dense ndarray except past
    ``DENSE_RELEVANCE_MAX_FEATURES`` features, where it is a
    :class:`SparseRelevance` (same indexing/len contract, O(active)
    driver memory — VERDICT r8 #7)."""

    relevance: "np.ndarray | SparseRelevance"  # min-max normalized weight
    std_selection: list[int]           # top-k by relevance
    redundancy_selection: list[int]    # greedy relevance-vs-redundancy
    n_features: int
    n_instances: int
    priors: dict[float, float]
    redundancy_coo: dict[tuple[int, int], float] = field(default_factory=dict)
    #: how many batches the sample actually split into — callers that
    #: mirror the dataflow externally (the q72c oracle hard-codes 2)
    #: can fail loudly instead of silently desynchronizing when the
    #: broadcast-memory guard raises it at scale.
    n_batches: int = 1
    #: the kNN route batch 0 ACTUALLY ran (``_Neighbourhood.route``):
    #: the requested strategy, or the tier 'auto' resolved to — 'lsh'
    #: means the weights are approximate, and 'auto' also warns there —
    #: or, for the sparse fit, its one exact route 'sparse-inverted'.
    resolved_knn_strategy: str = "numpy"


def dual_ranking(
    spark,
    std_selection: list[int],
    redundancy_selection: list[int],
    relevance_of: Callable[[int], float | None],
) -> DataFrame:
    """The engine's form of the reference's console TSV dump (S5,
    ReliefFRSelector.scala:318-321): one row per rank with both
    selection orders and the relevance ``relevance_of`` gives each
    selected feature."""
    rows = [
        (i + 1, int(s), relevance_of(int(s)), int(r), relevance_of(int(r)))
        for i, (s, r) in enumerate(zip(std_selection, redundancy_selection))
    ]
    return spark.createDataFrame(
        rows,
        "rank int, std_feature int, std_relevance double, "
        "redundancy_feature int, redundancy_relevance double",
    )


def _collapse_bins_local(
    bins_rows,
    pair_counts: dict[tuple[float, bool], int],
    priors: dict[float, float],
) -> tuple[dict[int, float], dict[int, float]]:
    """The one RELIEF bin collapse (aggregateWeightsByFeat,
    ReliefFRSelector.scala:605-629) plus the marginal collapse, on the
    driver over a COLLECTED ``feature_bin_stats`` frame (nFeat x
    nClasses x 2 rows): same-class bins subtract, others add, each
    weighted by the neighbor class's prior and divided by the bin's
    pair count. ``relevance_weights`` in tests/oracle_relief.py is the
    Spark-side collapse it must match.

    Bit-exact by construction: the contrib expression replays Spark's
    ``((sign * prior) * cast(bin_sum as double)) / bin_cnt`` with the
    same IEEE-754 operation order; the decimal accumulation replays
    ``sum(cast(contrib as DECIMAL(38,18)))`` via
    ``Decimal(repr(x)).quantize(1e-18, HALF_UP)`` — Spark's double->
    decimal cast goes through BigDecimal.valueOf(Double.toString),
    and ``repr``'s shortest round-trip string quantizes identically
    below 1e16 (verified over 1M doubles below that magnitude, 0
    mismatches, scripts in OPTIMIZATION_r12.md; from 1e16 up JDK 17's
    Double.toString is not always the shortest decimal, SCALE.md). The
    pair kernel's domain (|x| < 2^52) keeps every contribution below
    2^53. Sums and quantizing run at ``_DEC_SUM_DIGITS`` digits, so no
    large weight rounds or raises where Spark's sum is exact. The final
    ``cast(.. as double)`` is ``float(Decimal)`` — both correctly
    rounded. The marginal is an exact decimal sum of the collected
    ``vote_sum`` values, matching ``sum(vote_sum).cast('double')``.

    ``bins_rows``: iterable of (feature_idx, n_label, same_class,
    bin_sum Decimal, vote_sum Decimal). Returns (relevance_by_feature,
    marginal_by_feature) as plain float dicts.
    """
    from decimal import ROUND_HALF_UP, Decimal

    q18 = Decimal("1E-18")
    zero = Decimal(0)
    rel_acc: dict[int, Decimal] = {}
    marg_acc: dict[int, Decimal] = {}
    with localcontext(prec=_DEC_SUM_DIGITS):
        for f, lbl, sc, bin_sum, vote_sum in bins_rows:
            f = int(f)
            # Diagnosable failure instead of a bare KeyError (ADVICE
            # r12): the Spark collapse's inner join silently DROPPED
            # bins with no matching pair-count/prior row; that is
            # unreachable when bins and counts derive from the same
            # neighbor table, so a miss here means a caller passed
            # partial inputs — name it.
            bin_cnt_raw = pair_counts.get((lbl, sc))
            prior = priors.get(lbl)
            if bin_cnt_raw is None or prior is None:
                raise ValueError(
                    f"_collapse_bins_local: bin (label={lbl!r}, "
                    f"same_class={sc!r}) has no matching "
                    f"{'pair count' if bin_cnt_raw is None else 'prior'} — "
                    "bins and pair_counts/priors must derive from the same "
                    "neighbor table"
                )
            bin_cnt = float(bin_cnt_raw)
            sign = -1.0 if sc else 1.0
            contrib = ((sign * prior) * float(bin_sum)) / bin_cnt
            rel_acc[f] = rel_acc.get(f, zero) + Decimal(repr(contrib)).quantize(
                q18, rounding=ROUND_HALF_UP
            )
            if vote_sum is not None:
                marg_acc[f] = marg_acc.get(f, zero) + vote_sum
    return (
        {f: float(v) for f, v in rel_acc.items()},
        {f: float(v) for f, v in marg_acc.items()},
    )


def _check_fit_modes(knn_strategy: str, batching: str, sampling: str) -> None:
    """Reject an unknown kNN strategy, batching or sampling mode before
    any Spark action. The Estimator checks all three on both of its
    routes, also the ones its sparse route does not consult, so a typo
    never fits silently."""
    check_strategy(knn_strategy, allow_auto=True)
    if batching not in ("random", "hash"):
        raise ValueError(f"unknown batching mode {batching!r}")
    if sampling not in ("engine", "hash"):
        raise ValueError(f"unknown sampling mode {sampling!r}")


class _FitPlan(NamedTuple):
    """What a fit knows before it draws its sample
    (ReliefFRSelector.scala:217-223): the profiling rows, the instance
    count, the class priors, k = numNeighbors x nClasses and the
    redundancy search width lowerFeat."""

    label_rows: list
    n_instances: int
    priors: dict[float, float]
    k: int
    lower_feat: int


def _plan_fit(
    count_labels: Callable[[], list],
    *,
    num_top_features: int,
    num_neighbors: int,
    lower_feature_threshold: float,
    fit_name: str,
    label_col: str,
) -> _FitPlan:
    """The one fit plan. Counts below 1 fail before any Spark action (a
    zero-neighbour kNN fails inside the kernel or yields no pairs to
    weigh); then ``count_labels`` runs the fit's one profiling action,
    returning per-class rows with ``label`` and count ``n``. An empty
    dataset, a null label (its own class row) and fewer than two classes
    fail the same way in every fit: with one class every neighbour is a
    hit, and the weights would be noise."""
    for name, value in (("num_top_features", num_top_features), ("num_neighbors", num_neighbors)):
        if value < 1:
            raise ValueError(f"{fit_name}: {name} must be >= 1, got {value!r}")
    rows = count_labels()
    if not rows:
        raise ValueError(
            f"{fit_name} requires a non-empty dataset "
            "(the reference would NPE on head(); we fail with intent)"
        )
    n_null = sum(int(r["n"]) for r in rows if r["label"] is None)
    if n_null:
        raise ValueError(f"{fit_name}: {n_null} null {label_col!r} value(s) in the input")
    if len(rows) < 2:
        raise ValueError(
            f"{fit_name}: {label_col!r} has a single class ({rows[0]['label']!r}); "
            "RELIEF weighs features by how they separate classes and needs at least two"
        )
    n = sum(int(r["n"]) for r in rows)
    priors = {float(r["label"]): r["n"] / n for r in rows}
    return _FitPlan(
        label_rows=rows,
        n_instances=n,
        priors=priors,
        k=num_neighbors * len(priors),
        lower_feat=max(num_top_features, round(lower_feature_threshold * num_top_features)),
    )


def _hash_drawn(estimation_ratio: float) -> Column:
    """Whether the portable draw keeps the row with this ``id``."""
    from spark_relieffc_fselection_spark.operators.sampling import hash_uniform

    return hash_uniform(F.col("id")) < estimation_ratio


def _draw_sample(
    instances: DataFrame, estimation_ratio: float, sampling: str, seed: int
) -> DataFrame:
    """The fit's sample of ``instances`` (keyed by ``id``).

    sampling='engine': the reference's engine-seeded Bernoulli
    (ReliefFRSelector.scala:223) — statistically right, but its draw
    sequence is Spark-internal, so the sampled fit can only be
    rows-only checked (q72). sampling='hash': the same uniform draw
    from a portable md5 of the row id (operators/sampling.hash_uniform,
    DuckDB spelling documented there) — re-run-stable, engine-
    independent, which puts the SAMPLED fit under the full SQL oracle
    (q72d). Seed does not participate in hash mode: the draw is a
    function of the id, the property that makes it replayable."""
    if estimation_ratio >= 1.0:
        return instances
    if sampling == "hash":
        return instances.filter(_hash_drawn(estimation_ratio))
    return instances.sample(fraction=estimation_ratio, seed=seed)


def _hash_batch(i: int, n_batches: int) -> Column:
    """Whether a row belongs to deterministic batch ``i``: id modulo
    n_batches. pmod, NOT %: the sign of Spark's % follows the dividend,
    so negative ids would match no batch and silently fall out of the
    fit. (Null ids are invalid input on any path — they also break
    kNN identity joins.)"""
    return F.pmod(F.col("id"), F.lit(n_batches)) == i


class _Neighbourhood(NamedTuple):
    """One batch as the engine consumes it, whatever the neighbourhood
    source: its statistics as partial ``(f, n_label, same_class,
    bin_sum, vote_sum, n)`` rows (see :func:`_probe_batches`), the joint
    COO for a given top-feature scope, and the kNN route the batch ran.
    """

    stats: DataFrame
    joint: Callable[[list[int]], DataFrame]
    route: str


def _probe_batches(
    batch_stats: list[DataFrame], priors: dict[float, float]
) -> list[tuple[dict[int, float], dict[int, float], int, dict[int, int]]]:
    """ONE collect for the statistics of EVERY batch.

    ``batch_stats`` holds each batch's stats rows (see
    :class:`_Neighbourhood`): bin rows ``(f, n_label, same_class,
    bin_sum, vote_sum, n)`` — the relevance sums, the collision vote
    mass and the collision count ``n``, so no separate collision scan —
    and pair-count rows ``(n_label, same_class, n)`` with a null ``f``.
    A key may arrive as
    several partial rows (one per kernel task); the driver sums them
    exactly, which gives the Spark aggregate's decimal bit for bit
    (decimal addition is associative). The collected stats are about
    tasks x nFeat x nClasses x 2 rows per batch; each batch's relevance
    and marginal collapse then run on the driver via
    :func:`_collapse_bins_local` (bit-exact, see its docstring).

    Returns ``(relevance, marginal, n_pairs, n_collisions)`` per batch,
    in batch order: every pair has exactly one (n_label, same_class)
    bin, so the bin counts sum to the batch's pair total (the
    classCounter total, ReliefFRSelector.scala:469-470);
    ``n_collisions`` maps each feature to its collision count.
    """
    legs = [
        st.select(
            F.lit(b).alias("b"),
            F.col("f").cast("long").alias("f"),
            "n_label",
            "same_class",
            "bin_sum",
            "vote_sum",
            "n",
        )
        for b, st in enumerate(batch_stats)
    ]
    bins: list[dict] = [{} for _ in batch_stats]
    counts: list[dict] = [{} for _ in batch_stats]
    n_coll: list[dict] = [{} for _ in batch_stats]
    # wide enough that no partial sum of decimal(38,18) values rounds
    with localcontext(prec=_DEC_SUM_DIGITS):
        for b, f, lbl, sc, bin_sum, vote_sum, n in reduce(DataFrame.unionAll, legs).collect():
            if f is None:
                counts[b][(lbl, sc)] = counts[b].get((lbl, sc), 0) + n
                continue
            n_coll[b][f] = n_coll[b].get(f, 0) + n
            acc = bins[b].get((f, lbl, sc))
            if acc is None:
                bins[b][(f, lbl, sc)] = [bin_sum, vote_sum]
            else:
                acc[0] += bin_sum
                if vote_sum is not None:
                    acc[1] = vote_sum if acc[1] is None else acc[1] + vote_sum
    out = []
    for b_bins, pc_b, nc_b in zip(bins, counts, n_coll):
        rel_b, marg_b = _collapse_bins_local(
            ((f, lbl, sc, bs, vs) for (f, lbl, sc), (bs, vs) in b_bins.items()), pc_b, priors
        )
        out.append((rel_b, marg_b, sum(pc_b.values()), nc_b))
    return out


def _finalize_relevance(
    raw: dict[int, float], n_features: int, num_top_features: int
) -> tuple[np.ndarray | SparseRelevance, list[int]]:
    """Driver-side min-max normalize + std-rank of the summed raw
    weights (fit :300-312), the one finalize at every width. Absent
    features carry raw 0.0 (the extrema of a zero-initialized dense
    array) and share one normalized value; a degenerate range gives
    all 0.0. ``DENSE_RELEVANCE_MAX_FEATURES`` picks only the result's
    representation: ndarray, or :class:`SparseRelevance` past it."""
    has_absent = len(raw) < n_features
    mn = min(raw.values(), default=0.0)
    mx = max(raw.values(), default=0.0)
    if has_absent:
        mn, mx = min(mn, 0.0), max(mx, 0.0)
    if mx > mn:
        span = mx - mn
        data = {f: (v - mn) / span for f, v in raw.items()}
        default = (0.0 - mn) / span if has_absent else 0.0
    else:
        data, default = dict.fromkeys(raw, 0.0), 0.0
    if n_features > DENSE_RELEVANCE_MAX_FEATURES:
        rel = SparseRelevance(data, default, n_features)
    else:
        rel = np.full(n_features, default)
        rel[np.fromiter(data, dtype=np.int64, count=len(data))] = np.fromiter(
            data.values(), dtype=float, count=len(data)
        )
    return rel, std_ranking(rel, num_top_features)


def _run_batches(
    batches: Iterable,
    neighbourhood: Callable[[object, Callable], _Neighbourhood],
    *,
    plan: _FitPlan,
    n_features: int,
    num_top_features: int,
    redundancy_removal: bool,
    estimation_ratio: float,
    final_scope: bool = False,
    mark: Callable[[str], None] = lambda _label: None,
) -> ReliefFitResult:
    """The one RELIEF batch engine and its finalize
    (ReliefFRSelector.scala:199-325); every fit runs through it and
    differs only in its ``neighbourhood`` source. Two phases, each one
    action, however many batches:

    1. Every batch's neighbourhood is built, and ONE collect
       (:func:`_probe_batches`) returns every batch's bin statistics and
       pair counts. The driver collapses each batch and sums them in
       batch order, then replays the top-N feedback
       (ReliefFRSelector.scala:279-283): batch i's joint scope is the
       top-N of the last non-empty batch before it. The scope only
       steers the joint, so nothing in phase 1 waits for it.
    2. The union of every batch's scoped joint goes straight into
       :func:`_mi_redundancy_coo`'s one collect.

    Then min-max + std ranking and greedy selection, on the driver. The
    result records batch 0's kNN route: batches share the data regime,
    so it is the fit's. ``neighbourhood(batch, hold)`` passes every
    cache and broadcast it makes through ``hold``; all of them are alive
    together until phase 2 ends (the footprint of a single-batch fit on
    the same sample, which the broadcast guard already admits) and are
    released when the engine returns or raises.

    Batch 0's joint scope is empty, as in the reference, and jointTotal
    omits that batch's share of the pairs (computeRedudancy,
    ReliefFRSelector.scala:641-642). ``final_scope`` instead scopes the
    joint of a single pass to the FINAL std ranking, over all its
    pairs — the single-pass sparse contract.
    """
    held: list = []

    def hold(cache):
        held.append(cache)
        return cache

    try:
        nbs = [neighbourhood(batch, hold) for batch in batches]
        stats = _probe_batches([nb.stats for nb in nbs], plan.priors)
        mark("batch stats probe")
        top_features: list[int] = []
        scopes: list[list[int]] = []
        rel_sum: dict[int, float] = {}
        marg_sum: dict[int, float] = {}
        n_pairs = 0
        for rel_b, marg_b, n, _ in stats:
            scopes.append(top_features)
            n_pairs += n
            # Cross-batch sums on the driver, added in batch order.
            # Bit-identity to the old Spark union-reduce holds for the
            # <=2-batch configurations every gate and test pins (a
            # two-operand IEEE add is commutative); with 3+ batches the
            # fixed batch order may differ at ulp level from the old
            # plan's shuffle order — which was itself nondeterministic
            # (ADVICE r12).
            for f, v in rel_b.items():
                rel_sum[f] = rel_sum.get(f, 0.0) + v
            if redundancy_removal:
                for f, v in marg_b.items():
                    marg_sum[f] = marg_sum.get(f, 0.0) + v
            # batch top-N steers the next batch's joint-stat scope
            # (ReliefFRSelector.scala:281-283). The reference min-max
            # normalizes before takeOrdered (:281, 328-332), but min-max
            # is strictly monotone, so ranking the RAW relevance selects
            # the identical feature set.
            # Sort key mirrors orderBy(desc(relevance), asc(feature_idx)).
            top_b = [
                f
                for f, _ in sorted(rel_b.items(), key=lambda kv: (-kv[1], kv[0]))[
                    : plan.lower_feat
                ]
            ]
            if top_b:
                # empty batches keep the previous ranking — the reference
                # only replaces topFeatures when results are non-empty
                # (ReliefFRSelector.scala:279-283)
                top_features = top_b

        relevance, std_sel = _finalize_relevance(rel_sum, n_features, num_top_features)
        mark("final weights")
        red_coo: dict[tuple[int, int], float] = {}
        if redundancy_removal:
            if final_scope:
                scopes = [std_sel]
            joint_share = 1.0 if final_scope else 1.0 - estimation_ratio * (1.0 / len(nbs))
            joint_total = n_pairs * joint_share
            if n_pairs > 0 and joint_total > 0:
                joint_all = (
                    reduce(DataFrame.unionByName, [nb.joint(s) for nb, s in zip(nbs, scopes)])
                    .groupBy("f1", "f2")
                    .agg(F.sum("joint").alias("joint"))
                )
                marg_all = joint_all.sparkSession.createDataFrame(
                    [(int(f), float(v)) for f, v in sorted(marg_sum.items())],
                    "feature_idx long, marginal double",
                )
                red_coo = _mi_redundancy_coo(joint_all, marg_all, float(n_pairs), joint_total)
    finally:
        # Everything is driver-side from here: release the caches so a
        # long-lived session doesn't accumulate dead entries (each live
        # entry also taxes every later cache lookup), also when a batch
        # fails.
        for cache in held:
            cache.unpersist()
    mark("redundancy mi collect")

    red_sel = (
        greedy_select(relevance, red_coo, num_top_features)
        if redundancy_removal
        else list(std_sel)
    )
    return ReliefFitResult(
        relevance=relevance,
        std_selection=std_sel,
        redundancy_selection=red_sel,
        n_features=n_features,
        n_instances=plan.n_instances,
        priors=plan.priors,
        redundancy_coo=red_coo,
        n_batches=len(nbs),
        resolved_knn_strategy=nbs[0].route,
    )


def fit_relief(
    df: DataFrame,
    *,
    id_col: str = "id",
    features_col: str = "features",
    label_col: str = "label",
    num_top_features: int = 10,
    num_neighbors: int = 10,
    estimation_ratio: float = 0.25,
    batch_size: float = 0.25,
    lower_feature_threshold: float = 3.0,
    lower_distance_threshold: float = 0.8,
    redundancy_removal: bool = True,
    discrete_data: bool = False,
    seed: int = 12345,
    knn_strategy: str = "numpy",
    exclude_self: bool = True,
    batching: str = "random",
    sampling: str = "engine",
    lsh_probe_radius: int = 1,
    lsh_tables: int | None = None,
) -> ReliefFitResult:
    """Dense fit (ReliefFRSelector.scala:199-325, DataFrame IR).

    sample -> randomSplit/hash batches -> the shared two-phase batch
    engine (:func:`_run_batches`) over the dense neighbourhood source.
    Per batch, one pair kernel serves every kNN tier
    (:func:`knn.self_knn_pairs`): it fetches the batch once as checked
    Arrow (null ids, null or ragged arrays, null elements, repeated ids
    and values outside the exact domain — NaN, +-inf, |x| >= 2^52 — fail
    by name), broadcasts it, and its tasks reduce their pairs on the
    spot (:func:`_pair_stats`): per (feature, n_label, same_class) the
    exact decimal(38,18) partials of ``feature_bin_stats``' bin_sum and
    vote_sum, and the per-bin pair counts, as the reference accumulates
    in its partition pass (ReliefFRSelector.scala:402-475). No pair
    rows with vectors are built, exploded or hash-aggregated. On the
    exact tiers (``numpy``, ``numpy-gemm``) each slice task finds its
    queries' k nearest neighbours in the whole batch; on ``sql`` and
    ``lsh`` the tasks take the id pairs of a :func:`knn_join` over the
    cached batch. With redundancy removal the kernel also emits each
    pair's (query row, neighbour row), cached. Then ONE stats collect
    covers every batch and the driver sums the partials exactly, sums
    the batches and replays the top-N feedback into each batch's joint
    scope; ONE action unions the scoped joints — each a kernel over the
    cached row pairs and the same broadcast (:func:`_kernel_joint`) —
    into the MI -> min-max -> greedy selection.

    DELIBERATE DEVIATION (SURVEY §8.5): per batch this engine scans
    the BATCH for neighbors, while the reference scans the FULL
    dataset per batch (``approxNNByPartition(modelDataset,
    bFullQuery)``, ReliefFRSelector.scala:262) — the two coincide
    exactly at estimationRatio=1.0 with a single batch (every
    oracle-gated config). Under batching, within-batch kNN is
    O(sum batch_i^2) instead of O(sampled x N) — at the reference's
    own headline scale (64M rows, README.md:15-17) scanning the full
    corpus once per batch is the quadratic term that caps scaling,
    and the weights remain unbiased because every batch is a uniform
    subsample. q72c's oracle reproduces THIS engine's semantics
    end-to-end, so the deviation itself is hash-pinned.
    """
    from spark_relieffc_fselection_spark.functions.timing import stage_timer

    _mark = stage_timer("fit")

    _check_fit_modes(knn_strategy, batching, sampling)
    spark = df.sparkSession
    instances = df.select(
        F.col(id_col).alias("id"),
        F.col(features_col).cast("array<double>").alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    # ONE profiling job: per-class counts (-> priors + total), the
    # first non-null feature row (-> dimensionality) and the null-array
    # count (a null array fails by name on every tier). In hash-sampling
    # mode the SAMPLED size rides it as a conditional count: the draw
    # is a pure function of the id, so this predicate and the sample's
    # filter select the same rows. Engine mode can't fuse (Spark's
    # sample draw is partition-seeded) and keeps its count below.
    fuse_sampled = estimation_ratio < 1.0 and sampling == "hash"
    aggs = [
        F.count("*").alias("n"),
        F.first("features", ignorenulls=True).alias("fx"),
        F.count(F.when(F.col("features").isNull(), 1)).alias("n_null"),
    ]
    if fuse_sampled:
        aggs.append(F.count(F.when(_hash_drawn(estimation_ratio), 1)).alias("ns"))
    plan = _plan_fit(
        lambda: instances.groupBy("label").agg(*aggs).collect(),
        num_top_features=num_top_features,
        num_neighbors=num_neighbors,
        lower_feature_threshold=lower_feature_threshold,
        fit_name="fit_relief",
        label_col=label_col,
    )
    _mark("profile")
    n_null = sum(int(r["n_null"]) for r in plan.label_rows)
    if n_null:
        raise ValueError(f"fit_relief: {n_null} null {features_col!r} array(s) in the input")
    n_feat = len(plan.label_rows[0]["fx"])
    k, lower_feat = plan.k, plan.lower_feat

    sample = _draw_sample(instances, estimation_ratio, sampling, seed)
    if estimation_ratio >= 1.0:
        sampled_size = plan.n_instances
    elif fuse_sampled:
        sampled_size = sum(int(r["ns"]) for r in plan.label_rows)
    else:
        sampled_size = sample.count()
    # Broadcast-memory guard (ReliefFRSelector.scala:225-228): a batch
    # rides to every executor, so its fraction is capped such that
    # rows x (nFeat + 2) doubles stays under ~2 GiB.
    max_size_allowed = (2**31 - 1) / 8.0 / (n_feat + 2) / max(sampled_size, 1)
    max_batch = min(batch_size, max_size_allowed) if max_size_allowed > 0 else batch_size
    n_batches = max(1, int(1.0 / max_batch))

    batch_rows = max(1, sampled_size // n_batches)
    if knn_strategy == "auto":
        # Escalate numpy -> numpy-gemm -> lsh by the within-batch
        # distance-kernel volume (VERDICT r6 #3). Every batch has the
        # same expected size, so resolve ONCE — all cardinalities come
        # from the single profiling job above, no extra actions. The
        # oracle-gated fits (q72/q72c) pin exact strategies explicitly
        # and never take this branch.
        knn_strategy = resolve_auto_strategy(batch_rows, batch_rows, n_feat)
        if knn_strategy == "lsh":
            # The one resolution that changes RESULTS, not just cost:
            # LSH candidates are approximate (multiprobe recall 1.0 on
            # discrete KAIS regimes, ~0.70 on continuous data at auto-
            # sized tables — SCALE.md). An ops team running 'auto' at
            # 100 TB must see the exactness boundary get crossed, not
            # discover it in the weights (VERDICT r8 #2).
            import warnings

            warnings.warn(
                "fit_relief: knn_strategy='auto' escalated to the "
                "APPROXIMATE 'lsh' tier (~%.1e distance-kernel cells "
                "per batch exceeds the exact-scan budget). Weights are "
                "now approximate; raise lsh_tables / keep multiprobe "
                "for recall, or pin knn_strategy='numpy-gemm' to force "
                "an exact (slower) fit." % (batch_rows * batch_rows * n_feat),
                stacklevel=2,
            )
    # The approximate tier sizes its table count to COVER the feature
    # coordinates — recall rises monotonically with coverage (union of
    # tables), and RELIEF's weights are exactly as good as the
    # neighborhoods feeding them. A caller override (`lsh_tables`) is
    # the second escalation knob next to `lsh_probe_radius`: tables
    # re-hash the SCAN side (corpus-sized cost), so escalate the probe
    # radius first.
    if lsh_tables is None:
        lsh_tables = auto_lsh_tables(batch_rows, n_feat)
    if n_batches <= 1:
        batches = [sample]
    elif batching == "random":
        # the reference's engine-seeded split (ReliefFRSelector.scala:252)
        batches = sample.randomSplit([1.0] * n_batches, seed=seed)
    else:  # batching == "hash" (validated above)
        # Deterministic batching: same dataflow, same statistical role
        # (disjoint cover of the sample), but reproducible across
        # engines — the mode that lets the FULL batched fit (topFeatures
        # feedback loop included) sit under a cross-engine SQL oracle
        # (q72c). Operationally also the mode a re-run-stable
        # production fit would pick.
        batches = [sample.filter(_hash_batch(i, n_batches)) for i in range(n_batches)]

    # Kernel partition COUNT is volume-derived (r12): its widest work is
    # the joint kernel's combinations (~n_pairs x n_feat x (|top|+1)),
    # so size for ~256k of them per task, capped at defaultParallelism.
    # Sums downstream are exact decimal/integer (order-independent), so
    # the layout changes cost, never values.
    top_mult = min(lower_feat, n_feat) if redundancy_removal else 0
    pair_vol = max(batch_rows, 1) * k * n_feat * (1 + top_mult)
    parallelism = spark.sparkContext.defaultParallelism
    pair_parts = max(1, min(parallelism, -(-pair_vol // 262144)))
    continuous = not discrete_data
    # Every tier's statistics come from knn.self_knn_pairs: one checked
    # Arrow fetch of the batch, broadcast, and tasks that reduce their
    # pairs to exact partial sums. The exact tiers find the neighbours
    # in those tasks; the other tiers hand it knn_join's id pairs.
    exact_tier = knn_strategy in ("numpy", "numpy-gemm")
    # The kernel's slices are also its kNN tasks, whose work grows with
    # the batch squared: give them at least the ~256-rows-per-task
    # spread knn_join gives its scan side, not only the pair cache's.
    slices = max(pair_parts, min(parallelism, batch_rows // 256)) if exact_tier else pair_parts
    # Partition count of every batch == partition count of `sample`
    # (filter and randomSplit are narrow); resolve it ONCE here instead
    # of an .rdd plan-analysis round-trip inside knn_join per batch
    # (VERDICT r6 #2).
    sample_parts = None if exact_tier else sample.rdd.getNumPartitions()

    threshold = 6.0 * (1.0 - lower_distance_threshold) if continuous else 0.0
    stats_reducer = _pair_stats(continuous, threshold, keep_pairs=redundancy_removal)

    def neighbourhood(batch: DataFrame, hold: Callable) -> _Neighbourhood:
        # No emptiness probe: an empty batch flows through as empty
        # DataFrames everywhere below (empty kNN -> no stats rows ->
        # empty top-N, which keeps the previous ranking) — one fewer
        # job per batch.
        neighbors = None
        if not exact_tier:
            # cached so the fetch and knn_join read the same rows
            batch = hold(batch.cache())
            # num_instances/num_queries: sizing estimates that save a
            # count() job and let lsh drop its probe-table broadcast
            # hint at escalation size. Multiprobe: single-probe's ~4-27%
            # neighbour loss breaks planted-signal selection (XOR100
            # top-2 [4,75] vs [4,6]); radius 2 lifts continuous recall
            # 0.70 -> 0.96 (SCALE.md round-9 row).
            neighbors = knn_join(
                batch, batch, k, exclude_self=exclude_self, strategy=knn_strategy,
                num_instances=batch_rows, num_queries=batch_rows,
                scan_partitions=sample_parts, lsh_tables=lsh_tables,
                lsh_multiprobe=True, lsh_probe_radius=lsh_probe_radius,
            )
        rows, bc = self_knn_pairs(
            batch, k, stats_reducer, _PAIR_STATS_SCHEMA, slices=slices,
            exclude_self=exclude_self, gemm=knn_strategy == "numpy-gemm",
            neighbors=neighbors,
        )
        hold(bc)
        if redundancy_removal:
            # the stats probe fills the cache; the joint kernel then
            # reads only its (qi, ni) rows
            rows = hold(rows.cache())
        _mark("batch pairs")
        pairs = rows.filter(F.col("qi").isNotNull()).select("qi", "ni")
        return _Neighbourhood(
            stats=rows.filter(F.col("qi").isNull()),
            joint=lambda top: _kernel_joint(pairs, bc, top, continuous, threshold),
            route=knn_strategy,
        )

    return _run_batches(
        batches,
        neighbourhood,
        plan=plan,
        n_features=n_feat,
        num_top_features=num_top_features,
        redundancy_removal=redundancy_removal,
        estimation_ratio=estimation_ratio,
        mark=_mark,
    )
