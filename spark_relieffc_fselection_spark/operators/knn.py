"""Broadcast kNN join (SURVEY §2.3 J1/J2, §2.5 T1).

Reference semantics (ReliefFRSelector.scala:334-369): every partition
scans its local rows against a broadcast query batch computing
``sqrt(sqdist)``, keeps a bounded top-k heap per query
(BoundedPriorityQueue.scala:12-52), then merges heaps across partitions
with ``reduceByKey``.

Spark-first re-expression — the heap + merge is exactly what a
rank-over-window computes, and the per-partition scan is a broadcast
join:

* ``strategy='sql'``: ``instances CROSS JOIN broadcast(queries)`` with a
  ``zip_with``/``aggregate`` distance expression, then
  ``row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id)
  <= k``.  Whole plan is JVM-side codegen; AQE handles the shuffle for
  the window.  Ties are broken deterministically by neighbor id (the
  reference's heap breaks ties arbitrarily — SURVEY §8.3 says goldens
  are partition-locked, so we define our own determinism contract).

* ``strategy='numpy'``: the scale path. Queries are still broadcast,
  but the distance kernel is an Arrow-batched ``mapInPandas`` numpy
  matrix computation (vectorized, ~10-100x a per-row expression for
  wide vectors), emitting only the per-partition top-k candidates
  (the map-side 'heap'), finished by the same global window rank, on
  the squared distance the kernel ranks by.
  Shuffle volume is O(partitions * queries * k), never O(n * queries).
  The kernel is exact: BLAS-expansion distances with a rigorous error
  radius prune every pair that cannot reach the top-k (lower-bound
  pruning in the spirit of Odyssey/REPOSE), and only the survivors are
  re-scored by the ``(q-b)^2`` diff cube. ``'numpy-gemm'`` ranks by the
  expansion itself.

The RELIEF fits reduce their pairs inside :func:`self_knn_pairs` on
every tier: the tasks that find the neighbours in the broadcast batch
emit only the reducer's small exact partials, with no pair joins and no
pair rows. On the two numpy tiers each query slice scans the whole
batch, so there is no window rank either; ``'sql'`` and ``'lsh'`` hand
:func:`knn_join`'s id pairs to its lookup task (:func:`lookup_pairs`),
as the sparse fit hands it ``sparse_knn_join``'s.

At 100 TB the queries side stays a bounded sample (the algorithm's
estimationRatio guarantees this — BASELINE.md complexity row), so the
broadcast is small and the scan side is never shuffled.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import Broadcast
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.functions.vector import euclidean_distance

#: Above this many (instance x query) pairs per partition batch we chunk
#: the numpy distance matrix to bound executor memory.
_MAX_BLOCK_CELLS = 4_000_000

#: ``knn_strategy='auto'`` crossovers, in distance-kernel CELLS
#: (n_queries x n_scan_rows x n_feat). Below _AUTO_GEMM_CELLS the exact
#: tier runs outright. On typical data it now costs what gemm costs —
#: it prunes with the same BLAS expansion and re-scores only the
#: survivors (measured 51 ms exact vs 99 ms gemm at 500x2000x64, k=10,
#: one BLAS thread) — but its cost depends on the data: every pair
#: within the error radius of a query's k-th distance is re-scored, so
#: on the worst case (all rows equal, every pair tied) it measured
#: 3.1 s vs gemm's 0.14 s at 5000x1250x64. gemm's cost does not depend
#: on the data, so above _AUTO_GEMM_CELLS 'auto' keeps trading ranks
#: between near-tied distances (~1e-13 relative error) for that
#: predictability. Above _AUTO_LSH_CELLS
#: (~1e12 cells ≈ trillions of FLOPs per fit batch) even BLAS is
#: minutes-scale — candidate generation must go sub-linear, so escalate
#: to multi-table sign-LSH pruning. The reference's headline claim
#: (README.md:15-17: 64M rows x 631 features) lands at ~1e17 cells per
#: fit batch at estimationRatio 0.25 — unreachable by ANY exact scan,
#: which is exactly why 'auto' exists.
_AUTO_GEMM_CELLS = 1 << 25
_AUTO_LSH_CELLS = 1 << 40


def auto_lsh_bits(n_scan: int) -> int:
    """Bucket bits sized to the corpus: ~256 rows per bucket keeps the
    per-query candidate count bounded as N grows. Floor 4 preserves
    recall on small corpora; cap 16 bounds the per-row hashing work."""
    return max(4, min(16, math.ceil(math.log2(max(n_scan, 2) / 256 + 1))))


def auto_lsh_tables(n_scan: int, n_feat: int) -> int:
    """Table count for the APPROXIMATE fit tier: enough tables that the
    sign windows cover every coordinate (tables only ever ADD candidates
    — the cross-table union is deduped — so recall rises monotonically
    with coverage; measured on KAIS XOR100, single-probe: 8 tables ->
    0.578 kNN recall, 25 (full coverage of d=99) -> 0.944; the fit tier
    additionally multiprobes Hamming-1 buckets, which took both KAIS
    fixtures to recall 1.000 — see _candidates_lsh). Capped at 32:
    beyond that the candidate union approaches the full scan and the
    pruning stops paying for its hashing."""
    return min(32, max(8, math.ceil(n_feat / auto_lsh_bits(n_scan))))


def resolve_auto_strategy(n_queries: int, n_scan: int, n_feat: int) -> str:
    """Pick the cheapest kNN strategy whose cost model fits the job.

    Escalation: ``numpy`` (exact: diff-cube distances, BLAS-pruned) ->
    ``numpy-gemm`` (BLAS expansion, exact ranks on integer grids, ~1e-13
    relative error otherwise) -> ``lsh`` (approximate sub-linear
    candidates). The caller supplies the three cardinalities — they are
    knowable without extra jobs wherever the fit already profiled the
    data (fit_relief knows sampled_size, n_batches and n_feat from its
    one profiling pass)."""
    cells = max(n_queries, 1) * max(n_scan, 1) * max(n_feat, 1)
    if cells <= _AUTO_GEMM_CELLS:
        return "numpy"
    if cells <= _AUTO_LSH_CELLS:
        return "numpy-gemm"
    return "lsh"


#: The strategies :func:`knn_join` runs. Fits also take ``'auto'``,
#: which :func:`resolve_auto_strategy` turns into one of these.
STRATEGIES = ("sql", "numpy", "numpy-gemm", "lsh")


def check_strategy(strategy: str, *, allow_auto: bool = False) -> None:
    """Raise a ``ValueError`` naming ``strategy`` unless it is one of
    :data:`STRATEGIES` (or ``'auto'`` where a fit resolves it)."""
    names = STRATEGIES + (("auto",) if allow_auto else ())
    if strategy not in names:
        raise ValueError(f"unknown knn strategy {strategy!r}; expected one of {names}")


def knn_join(
    instances: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "id",
    features_col: str = "features",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    strategy: str = "sql",
    num_instances: int | None = None,
    lsh_bits: int | None = None,
    lsh_tables: int = 8,
    lsh_multiprobe: bool = False,
    lsh_probe_radius: int = 1,
    scan_partitions: int | None = None,
    num_queries: int | None = None,
) -> DataFrame:
    """k nearest neighbors of each query among ``instances``.

    Returns ``(query_id, neighbor_id, distance, rank)`` with
    ``rank`` in 1..k ordered by (distance, neighbor_id); the numpy tiers
    order by the squared distance their kernel ranks by, so a query's
    neighbours do not depend on how the scan side is partitioned.

    The approximate tier's RECALL CONTRACT (strategy='lsh'): candidates
    are the union over ``lsh_tables`` sign-hash tables of same-bucket
    rows, optionally multiprobed to every bucket within Hamming
    distance ``lsh_probe_radius`` of the query's bucket
    (``lsh_multiprobe=True``). Each extra table or probe only ADDS
    candidates (the union is deduped), so recall is monotone
    non-decreasing in both knobs — measured on the continuous
    1e6 x 32 regime: ~0.70 at auto-sized tables with Hamming-1, with
    radius 2 buying the next recall step at ~(n_bits^2)/2 more probe
    rows per query-table (broadcast-side only; zero extra scan work).
    When the default tier's recall is not enough, raise
    ``lsh_probe_radius`` to 2 first (cheapest), then ``lsh_tables``.

    ``exclude_self`` drops pairs with equal ids: the reference includes
    the query itself as a zero-distance neighbor (ReliefFRSelector.scala:
    344-363 scans every local row), which is an artifact, not intent —
    classic RELIEF-F neighborhoods exclude the instance. Pass False to
    reproduce the reference's behavior.
    """
    check_strategy(strategy)
    # Small files arrive as one partition; spread the scan side or the
    # kernel runs on one core. But every extra partition adds k
    # candidate rows per query to the rank-merge shuffle, so cap at
    # ~256 scan rows per partition. (At real scale the input already
    # has >= parallelism partitions; this is a no-op.)
    #
    # ``scan_partitions``: the .rdd conversion below forces a full
    # plan analysis on the driver per call; inside fit_relief's batch
    # loop that is one extra driver round-trip per batch, and the batch
    # partitioning is knowable once up front (filter/randomSplit are
    # narrow — they preserve the parent's partition count). Callers in
    # a loop pass it; one-shot callers let us derive it.
    sc = instances.sparkSession.sparkContext
    n_parts = (
        scan_partitions
        if scan_partitions is not None
        else instances.rdd.getNumPartitions()
    )
    if n_parts < sc.defaultParallelism:
        # `num_instances` (when the caller already knows it) saves a
        # count() job on the scan side.
        approx_rows = num_instances if num_instances is not None else instances.count()
        target = max(1, min(sc.defaultParallelism, approx_rows // 256))
        if target > n_parts:
            instances = instances.repartition(target)

    if strategy == "lsh":
        cand = _candidates_lsh(
            instances,
            queries,
            id_col,
            features_col,
            query_id_col,
            n_bits=lsh_bits,
            n_tables=lsh_tables,
            num_instances=num_instances,
            multiprobe=lsh_multiprobe,
            probe_radius=lsh_probe_radius,
            num_queries=num_queries,
        )
        if exclude_self:
            cand = cand.filter(F.col(query_id_col) != F.col("neighbor_id"))
    elif strategy in ("numpy", "numpy-gemm"):
        # Self-exclusion happens inside the kernel: the per-partition
        # candidate set is already truncated to k, so filtering after
        # the fact would leave k-1 neighbors for self-containing
        # partitions.
        cand = _candidates_numpy(
            instances,
            queries,
            k,
            id_col,
            features_col,
            query_id_col,
            exclude_self,
            gemm=(strategy == "numpy-gemm"),
        )
    else:  # 'sql' (check_strategy rejected every other name)
        cand = _candidates_sql(instances, queries, id_col, features_col, query_id_col)
        if exclude_self:
            cand = cand.filter(F.col(query_id_col) != F.col("neighbor_id"))

    # distinct squared distances can share a square root: a window on
    # the root would break that tie by whichever candidates each scan
    # partition kept
    key = "d2" if strategy in ("numpy", "numpy-gemm") else "distance"
    w = Window.partitionBy(query_id_col).orderBy(F.col(key).asc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("d2")
    )


def _candidates_sql(
    instances: DataFrame,
    queries: DataFrame,
    id_col: str,
    features_col: str,
    query_id_col: str,
) -> DataFrame:
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(features_col).alias("_q_features"),
    )
    inst = instances.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(features_col).alias("_n_features"),
    )
    return (
        inst.crossJoin(F.broadcast(q))
        .select(
            query_id_col,
            "neighbor_id",
            euclidean_distance("_q_features", "_n_features").alias("distance"),
        )
    )


def _candidates_lsh(
    instances: DataFrame,
    queries: DataFrame,
    id_col: str,
    features_col: str,
    query_id_col: str,
    n_bits: int | None = None,
    n_tables: int = 8,
    num_instances: int | None = None,
    multiprobe: bool = False,
    probe_radius: int = 1,
    num_queries: int | None = None,
) -> DataFrame:
    """APPROXIMATE candidate generation: multi-table sign-LSH buckets
    (reusing the ANN machinery, simsearch._with_table_buckets) prune
    the scan to same-bucket pairs, then exact Euclidean distance ranks
    the candidates. Per-query scan cost ~ n_tables * n / 2^n_bits
    instead of n — the sub-linear pre-filter SURVEY §7.3 calls for at
    100 TB ("optional LSH approximate kNN"). Deterministic (buckets
    are coordinate-sign patterns), but candidates can miss true
    neighbors: this is the approximate scale path, never the
    oracle-gated default.

    ``multiprobe``: each query also probes the buckets within Hamming
    distance ``probe_radius`` (simsearch._multiprobe). Measured on the
    KAIS fixtures (auto-sized buckets, radius 1): kNN recall 0.964 ->
    1.000 (XOR100, d=99), 0.729 -> 1.000 (Corral, d=6). The RELIEF fit
    turns it ON: planted-signal selection (XOR) does not survive the
    ~4-27% neighbor loss of single-probe."""
    from spark_relieffc_fselection_spark.operators.simsearch import (
        _multiprobe,
        _with_table_buckets,
    )

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(features_col).alias("_q_features"),
    )
    inst = instances.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(features_col).alias("_n_features"),
    )
    if n_bits is None:
        # Auto-size buckets to the corpus (fixed n_bits would make
        # candidates ~ N/2^bits — still linear in N, i.e. quadratic
        # total).
        n = num_instances if num_instances is not None else instances.count()
        n_bits = auto_lsh_bits(n)
    q_b, n_probes = _multiprobe(
        _with_table_buckets(q, "_q_features", n_bits, n_tables),
        n_bits, probe_radius, multiprobe,
    )
    i_b = _with_table_buckets(inst, "_n_features", n_bits, n_tables)
    # Broadcast the probe table only when it is provably small: at the
    # fit's escalation scale (batch == queries, 32 tables x 17 probes)
    # the probe table is ~544 rows PER QUERY — a 400k-row batch would
    # be a multi-GB broadcast, while a plain shuffle join on
    # (table, bucket) is linear in both sides and AQE still converts
    # it back to broadcast at runtime if the built side turns out
    # tiny. Callers that know the query count pass it; unknown counts
    # keep the hint (the q73/q157-style bounded-query case).
    probe_rows = (
        num_queries * n_tables * n_probes if num_queries is not None else None
    )
    probe_tbl = q_b.select("table", "bucket", query_id_col)
    if probe_rows is None or probe_rows <= 4_000_000:
        probe_tbl = F.broadcast(probe_tbl)
    # distinct BEFORE the distance — a pair colliding in several tables
    # must be scored once — and over BARE ID PAIRS: deduping rows that
    # carry the two d-dim arrays shuffles ~d x 16 bytes per candidate
    # (measured 4x slower at d=64); the features re-join afterwards
    # costs one broadcast (queries) + one co-partitionable hash join
    # (instances), and the distance collapses to a scalar before the
    # rank shuffle.
    pairs = (
        i_b.join(probe_tbl, ["table", "bucket"])
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    # The features side of the query broadcast IS bounded by the fit's
    # broadcast-memory guard (rows x (nFeat+2) doubles < ~2 GiB — the
    # same bound the reference places on its batch broadcast), so the
    # hint stays unconditional here.
    return (
        pairs.join(F.broadcast(q), query_id_col)
        .join(inst, "neighbor_id")
        .select(
            query_id_col,
            "neighbor_id",
            euclidean_distance("_q_features", "_n_features").alias("distance"),
        )
    )


def _candidates_numpy(
    instances: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    features_col: str,
    query_id_col: str,
    exclude_self: bool,
    gemm: bool = False,
) -> DataFrame:
    """Arrow-batched blockwise scan emitting per-partition top-k with
    the distance and the squared distance ``d2`` it ranks by; the
    per-partition work is :func:`knn_scan`."""
    spark = instances.sparkSession
    ids, mat, _ = _fetch_rows(queries, id_col, features_col)
    bc = spark.sparkContext.broadcast((ids, mat))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        if len(ids) == 0:
            return
        q_id, n_id, d2 = knn_scan(
            ids,
            mat,
            (
                (
                    pdf[id_col].to_numpy(dtype=np.int64),
                    np.array(list(pdf[features_col]), dtype=np.float64),
                )
                for pdf in batches
            ),
            k,
            exclude_self,
            gemm,
        )
        yield pd.DataFrame(
            {query_id_col: q_id, "neighbor_id": n_id, "distance": np.sqrt(d2), "d2": d2}
        )

    out_schema = f"{query_id_col} long, neighbor_id long, distance double, d2 double"
    return instances.select(id_col, features_col).mapInPandas(scan, schema=out_schema)


def _fetch_rows(
    df: DataFrame,
    id_col: str,
    features_col: str,
    label_col: str | None = None,
    *,
    side: str = "the query side",
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """A broadcast side as ``(ids (R,), features (R, d), labels (R,) or
    None)``, fetched in one Arrow action: the matrix is a reshape of the
    list column's flat values, with no per-Row Python objects. Null ids,
    null or ragged feature arrays and null elements raise instead of
    being reshaped; ``side`` names the frame in the errors."""
    cols = [id_col, features_col] + ([label_col] if label_col is not None else [])
    tbl = df.select(*cols).toArrow()
    ids, feats = tbl.column(0), tbl.column(1).combine_chunks()
    if ids.null_count:
        raise ValueError(f"knn: {ids.null_count} null {id_col!r} value(s) on {side}")
    if feats.null_count:
        raise ValueError(f"knn: {feats.null_count} null {features_col!r} array(s) on {side}")
    lengths = feats.value_lengths().to_numpy()
    d = int(lengths[0]) if len(lengths) else 0
    if (lengths != d).any():
        raise ValueError(
            f"knn: ragged {features_col!r} arrays on {side} "
            f"(lengths {lengths.min()}..{lengths.max()})"
        )
    values = feats.flatten()
    if values.null_count:
        raise ValueError(
            f"knn: {values.null_count} null element(s) in {features_col!r} on {side}"
        )
    mat = values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    labels = (
        tbl.column(2).to_numpy().astype(np.float64, copy=False)
        if label_col is not None
        else None
    )
    return (
        ids.to_numpy().astype(np.int64, copy=False),
        mat.reshape(len(lengths), d),
        labels,
    )


#: the pair kernel's exact domain: the fit's statistics are decimal
#: sums of |q - n| over finite coordinates below 2^52 in magnitude (see
#: :func:`_check_exact_domain`)
EXACT_DOMAIN_MAX = 2.0**52


def self_knn_pairs(
    batch: DataFrame,
    k: int,
    reduce: Callable[[np.ndarray, np.ndarray, tuple], Iterator[pa.RecordBatch]],
    schema: str,
    *,
    slices: int,
    exclude_self: bool = True,
    gemm: bool = False,
    neighbors: DataFrame | None = None,
    queries: Callable[[np.ndarray], np.ndarray] | None = None,
) -> tuple[DataFrame, Broadcast]:
    """The fit's pair kernel for ``batch`` (its ``(id, features, label)``
    frame), on every kNN tier: the tasks that find each query's
    neighbours hand them to ``reduce`` and emit only what it yields.

    The reference broadcasts the batch, finds neighbour rows by position
    and accumulates its statistics in the same partition pass
    (ReliefFRSelector.scala:254-260, 402-475). Here the driver fetches
    the batch once as checked Arrow (:func:`_fetch_rows`), rejects
    repeated ids and values outside the exact domain
    (:func:`_check_exact_domain`), and broadcasts it sorted by id. Each
    task calls ``reduce(qi, ni, (ids, features, labels))`` with the
    pairs' query and neighbour ROW positions in that broadcast; it
    yields record batches of ``schema``. Pairs never leave the task
    unless ``reduce`` emits them. An id the broadcast does not hold
    raises instead of being indexed.

    ``neighbors=None`` (the exact tiers): ``slices`` tasks each run
    :func:`knn_scan` for a contiguous slice of the queries against the
    WHOLE batch, so each slice's top-k is already global by (squared
    distance, neighbor_id): no rank merge, no shuffle. The queries are
    every row, or the rows whose id the mask ``queries(ids)`` selects
    (a query sample against the whole table, fetched once). The exact
    tier's distances are per-pair diff-cube values, independent of the
    slicing; ``gemm=True`` ranks by the BLAS expansion, whose last bits
    follow the matrix shapes, so it matches ``'numpy-gemm'`` exactly on
    integer grids. Otherwise ``neighbors`` is the ``(query_id,
    neighbor_id)`` table of a :func:`knn_join` whose queries and
    neighbours are rows of ``batch`` (the fit's ``'sql'`` and ``'lsh'``
    tiers), handed to :func:`lookup_pairs`; ``k``, ``exclude_self`` and
    ``gemm`` are then the join's.

    Returns the output frame and the broadcast, which a later kernel
    over the same rows reuses; the caller releases it."""
    spark = batch.sparkSession
    ids, mat, labels = _fetch_rows(batch, "id", "features", "label", side="the fit batch")
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    _reject_duplicate_ids(ids, "knn", "the fit batch")
    _check_exact_domain(mat, "features", "the fit batch")
    bc = spark.sparkContext.broadcast((ids, mat[order], labels[order]))
    q_rows = None if queries is None else np.flatnonzero(queries(ids))
    n_q = len(ids) if q_rows is None else len(q_rows)
    slices = max(1, min(slices, n_q))
    if neighbors is not None:
        return lookup_pairs(neighbors, bc, reduce, schema, slices=slices), bc

    def kernel(parts: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids, mat, _ = bc.value
        for part in parts:
            for s in part.column(0).to_numpy():
                lo, hi = s * n_q // slices, (s + 1) * n_q // slices
                if hi > lo:
                    q = slice(lo, hi) if q_rows is None else q_rows[lo:hi]
                    q_id, n_id, _ = knn_scan(
                        ids[q], mat[q], [(ids, mat)], k, exclude_self, gemm
                    )
                    yield from reduce(_rows_of(ids, q_id), _rows_of(ids, n_id), bc.value)

    return spark.range(0, slices, numPartitions=slices).mapInArrow(kernel, schema), bc


def lookup_pairs(
    neighbors: DataFrame,
    bc: Broadcast,
    reduce: Callable[[np.ndarray, np.ndarray, tuple], Iterator[pa.RecordBatch]],
    schema: str,
    *,
    slices: int,
) -> DataFrame:
    """The pair kernel's lookup task, the one every fit with a
    neighbour table runs: the ``(query_id, neighbor_id)`` rows of
    ``neighbors``, hash-partitioned into ``slices`` tasks, become ROW
    positions in the broadcast batch ``bc`` (a tuple whose first field
    holds its ids, ascending), and each task calls ``reduce(qi, ni,
    bc.value)`` and emits only what it yields, as record batches of
    ``schema``. An id the broadcast does not hold raises instead of
    being indexed."""

    def lookup(parts: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batch = bc.value
        for part in parts:
            qi = _rows_of(batch[0], part.column(0).to_numpy())
            yield from reduce(qi, _rows_of(batch[0], part.column(1).to_numpy()), batch)

    # an explicit count: AQE would coalesce the small id table into a
    # few partitions and serialize every reduce downstream
    return (
        neighbors.select("query_id", "neighbor_id")
        .repartition(slices, "query_id", "neighbor_id")
        .mapInArrow(lookup, schema)
    )


def _check_exact_domain(mat: np.ndarray, features_col: str, side: str) -> None:
    """Raise a ValueError naming the feature columns (positions in the
    array, up to 10) and counting the values of ``mat`` outside the pair
    kernel's exact domain: NaN, +-inf and magnitudes of 2^52 or more.
    NaN and inf would cast to NULL and drop out of the decimal sums;
    past 2^52 a difference can reach 2^53, beyond which JDK 17's
    ``Double.toString`` (the engine's decimal cast) is not always the
    shortest decimal the kernel reproduces (SCALE.md)."""
    bad = ~(np.abs(mat) < EXACT_DOMAIN_MAX)
    if not bad.any():
        return
    vals = mat[bad]
    kinds = [
        (int(np.isnan(vals).sum()), "NaN"),
        (int((vals == np.inf).sum()), "+inf"),
        (int((vals == -np.inf).sum()), "-inf"),
        (int(np.isfinite(vals).sum()), "|x| >= 2^52"),
    ]
    per_col = bad.sum(axis=0)
    cols = np.flatnonzero(per_col)
    raise ValueError(
        f"knn: {len(vals)} value(s) of {features_col!r} on {side} are outside the exact "
        f"domain (finite, |x| < 2^52): {', '.join(f'{n} {what}' for n, what in kinds if n)}; "
        f"feature column(s) "
        + ", ".join(f"{c} ({per_col[c]})" for c in cols[:10])
        + (", ..." if len(cols) > 10 else "")
    )


def _rows_of(sorted_ids: np.ndarray, wanted: np.ndarray) -> np.ndarray:
    """Positions of ``wanted`` in the ascending ``sorted_ids``; an id it
    does not hold raises a ValueError naming it (up to 10)."""
    pos = np.searchsorted(sorted_ids, wanted)
    found = pos < len(sorted_ids)
    found[found] = sorted_ids[pos[found]] == wanted[found]
    if not found.all():
        miss = np.unique(wanted[~found])
        raise ValueError(
            f"knn: {len(miss)} neighbour-table id(s) not in the fit batch: {_listed(miss)}"
        )
    return pos


def knn_scan(
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    blocks: Iterable[tuple[np.ndarray, np.ndarray]],
    k: int,
    exclude_self: bool = True,
    gemm: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One scan partition's top-k per query, by (squared distance,
    neighbor_id).

    ``q_ids``/``q_mat`` are the (Q,) ids and (Q, d) features of the
    queries; ``blocks`` yields ``(ids (B,), features (B, d))`` scan
    blocks. Returns ``(query_id, neighbor_id, squared distance)`` arrays
    with at most k rows per query; pairs with equal ids are excluded
    when ``exclude_self``, and non-finite distances are never emitted.
    The squared distance is the ranking key: two of them can differ and
    still share a square root.

    ``gemm=False``: the squared distance of every emitted pair is the
    diff cube's einsum reduction of ``(q - n)^2``, a deterministic
    function of the two vectors, so the output does not depend on how
    the scan side is partitioned or chunked. The BLAS expansion only
    prunes (see ``_exact_merge``): it decides which pairs get that
    exact re-score, never a distance.

    It is not bit-exact against the ``'sql'`` strategy's left-to-right
    fold: einsum's unrolled reduction rounds differently (measured: 75%
    of pairs differ in the last bits, at most 1.1e-15 relative on the
    squared distance, 300x300x64 with row scales up to 1e3). Both
    errors are bounded by gamma_d relative, so ranks can differ from
    ``'sql'`` only between distances that tie within rounding, and are
    identical wherever every partial sum is exact (integer grids).

    ``gemm=True``: the distances themselves come from the expansion
    ``|q|^2 - 2 q.n + |n|^2`` (clamped at 0, so exact duplicates land on
    0). Its cancellation error (~1e-13 relative to |q|^2 + |n|^2) can
    flip ranks between *near-tied distinct* distances, so use it where
    that is impossible or immaterial: integer-valued coordinates
    (products and sums are exact in float64, e.g. discretized features)
    or approximate/scale paths not gated on exact ranks.
    """
    nq = len(q_ids)
    best_d = np.full((nq, k), np.inf)
    best_i = np.full((nq, k), -1, dtype=np.int64)
    # Both kernels keep only (Q, B) intermediates, so chunks hold
    # _MAX_BLOCK_CELLS pairs.
    chunk = max(1, _MAX_BLOCK_CELLS // max(nq, 1))
    qq = np.einsum("qd,qd->q", q_mat, q_mat)
    # NaN/inf coordinates are valid input: their distances come out
    # NaN/inf and are never emitted.
    with np.errstate(invalid="ignore", over="ignore"):
        for n_ids_all, n_mat_all in blocks:
            for s in range(0, len(n_ids_all), chunk):
                n_ids = n_ids_all[s : s + chunk]
                n_mat = n_mat_all[s : s + chunk]
                nn = np.einsum("bd,bd->b", n_mat, n_mat)
                self_mask = (
                    q_ids[:, None] == n_ids[None, :] if exclude_self else None
                )
                if gemm:
                    d2 = qq[:, None] - 2.0 * (q_mat @ n_mat.T) + nn[None, :]
                    np.maximum(d2, 0.0, out=d2)
                    if self_mask is not None:
                        d2[self_mask] = np.inf
                    best_d, best_i = _dense_merge(best_d, best_i, d2, n_ids, k)
                else:
                    best_d, best_i = _exact_merge(
                        best_d, best_i, q_mat, qq, n_mat, n_ids, nn, self_mask, k
                    )
    # isfinite alone separates real neighbors: unfilled slots carry
    # distance inf (their -1 id is no sentinel — caller ids may be
    # negative), and self-pairs are masked with inf distance but keep a
    # valid id (gemm) — they must not leak out as rank-k "neighbors"
    # when a partition has fewer than k rows.
    qi, slot = np.nonzero(np.isfinite(best_d))
    return q_ids[qi], best_i[qi, slot], best_d[qi, slot]


def _dense_merge(
    best_d: np.ndarray, best_i: np.ndarray, d2: np.ndarray, n_ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Running top-k merged with a full (Q, B) distance chunk."""
    nq = len(best_d)
    merged_d = np.concatenate([best_d, d2], axis=1)
    merged_i = np.concatenate([best_i, np.broadcast_to(n_ids, (nq, len(n_ids)))], axis=1)
    # Deterministic truncation by (distance, neighbor_id): argpartition
    # alone keeps an ARBITRARY subset among distances tied at the k
    # boundary, so a tied lower-id neighbor could be dropped in-partition
    # and never recovered by the global window rank. lexsort's last key
    # is primary -> sort by distance, then id.
    sel = np.lexsort((merged_i, merged_d), axis=1)[:, :k]
    rows = np.arange(nq)[:, None]
    return merged_d[rows, sel], merged_i[rows, sel]


def _exact_merge(
    best_d: np.ndarray,
    best_i: np.ndarray,
    q_mat: np.ndarray,
    qq: np.ndarray,
    n_mat: np.ndarray,
    n_ids: np.ndarray,
    nn: np.ndarray,
    self_mask: np.ndarray | None,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Running top-k merged with one chunk, re-scoring by the diff cube
    only the pairs that the BLAS expansion cannot rule out.

    Bound: the diff cube and the expansion ``|q|^2 - 2 q.n + |n|^2``
    each err from the exact squared distance by at most
    gamma_{d+2} (|q| + |n|)^2 <= 2 gamma_{d+2} (|q|^2 + |n|^2), in any
    summation order, FMA or not. The expansion shifted by the radius
    ``e (|q|^2 + |n|^2)``, ``e = 8 gamma_{d+3}``, therefore brackets the
    diff cube's value with 2x slack, which also covers the rounding of
    the shifted sums themselves. The radius splits per row, so the
    brackets cost two (Q, B) sums like the expansion itself.
    ``finfo.tiny`` covers underflow (a few d half-ulps of the smallest
    subnormal). Rows whose squared norm is not below 2^1018 (NaN/inf
    coordinates, or overflow risk in either kernel) get the bracket
    (-inf, inf).

    Per query, ``ub`` is the smaller of the k-th smallest upper bound in
    the chunk and the running k-th best exact distance. A pair whose
    lower bound exceeds ub has an exact distance strictly above that of
    k pairs that are kept or re-scored, so it can never enter the top-k
    and is skipped. Self-pairs never enter (the diff-cube kernel gave
    them inf, which is never emitted either)."""
    # Higham's gamma_m = m u / (1 - m u), u = 2^-53, at m = d + 3
    mu = (q_mat.shape[1] + 3) * 2.0**-53
    e = 8.0 * mu / (1.0 - mu)
    tiny = np.finfo(np.float64).tiny
    g = q_mat @ n_mat.T
    g *= -2.0
    hi = g + (qq * (1.0 + e) + tiny)[:, None]
    hi += (nn * (1.0 + e) + tiny)[None, :]
    lo = np.add(g, (qq * (1.0 - e) - tiny)[:, None], out=g)
    lo += (nn * (1.0 - e) - tiny)[None, :]
    q_wild, n_wild = ~(qq < 2.0**1018), ~(nn < 2.0**1018)
    hi[q_wild] = np.inf
    hi[:, n_wild] = np.inf
    lo[q_wild] = -np.inf
    lo[:, n_wild] = -np.inf
    if self_mask is not None:
        hi[self_mask] = np.inf
    if hi.shape[1] >= k:
        kth_hi = np.partition(hi, k - 1, axis=1)[:, k - 1]
    else:
        kth_hi = np.full(len(hi), np.inf)
    # best_d is never NaN: a NaN distance sorts after the inf fillers.
    ub = np.minimum(kth_hi, best_d[:, k - 1])
    keep = lo <= ub[:, None]
    if self_mask is not None:
        keep &= ~self_mask
    qi, bi = np.nonzero(keep)
    if not len(qi):
        return best_d, best_i
    d2 = np.empty(len(qi))
    step = max(1, _MAX_BLOCK_CELLS // max(q_mat.shape[1], 1))
    for s in range(0, len(qi), step):
        diff = q_mat.take(qi[s : s + step], axis=0)
        diff -= n_mat.take(bi[s : s + step], axis=0)
        d2[s : s + step] = np.einsum("pd,pd->p", diff, diff)
    return _sparse_merge(best_d, best_i, qi, n_ids[bi], d2, k)


def _reject_duplicate_ids(sorted_ids: np.ndarray, who: str, where: str) -> None:
    """Raise a ValueError naming the repeated values (up to 10) of the
    ascending ``sorted_ids``: a pair row finds its instance by id."""
    dup = np.unique(sorted_ids[1:][sorted_ids[1:] == sorted_ids[:-1]])
    if len(dup):
        raise ValueError(f"{who}: {len(dup)} duplicate 'id' value(s) in {where}: {_listed(dup)}")


def _listed(values: np.ndarray) -> str:
    """The first 10 of ``values`` for an error message."""
    return ", ".join(str(i) for i in values[:10]) + (", ..." if len(values) > 10 else "")


def _sparse_merge(
    best_d: np.ndarray,
    best_i: np.ndarray,
    qi: np.ndarray,
    cand_i: np.ndarray,
    cand_d: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Running top-k merged with a ragged candidate list (query row,
    neighbor id, distance), by (distance, neighbor_id) per query."""
    nq = len(best_d)
    all_q = np.concatenate([np.repeat(np.arange(nq), k), qi])
    all_d = np.concatenate([best_d.ravel(), cand_d])
    all_i = np.concatenate([best_i.ravel(), cand_i])
    order = np.lexsort((all_i, all_d, all_q))
    # Every query owns at least its k running slots, so its first k
    # entries in sorted order start at its group offset.
    counts = np.bincount(all_q, minlength=nq)
    starts = np.cumsum(counts) - counts
    take = order[(starts[:, None] + np.arange(k)).ravel()]
    return all_d[take].reshape(nq, k), all_i[take].reshape(nq, k)
