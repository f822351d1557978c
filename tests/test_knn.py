import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators import knn as knn_mod
from spark_relieffc_fselection_spark.operators.knn import knn_join, knn_scan, self_knn_pairs
from spark_relieffc_fselection_spark.operators.relief import (
    _JOINT_COMBOS_MAX_FEATURES,
    _PAIR_STATS_SCHEMA,
    _kernel_joint,
    _pair_stats,
    explode_pairs,
    feature_bin_stats,
    joint_counts_from_pairs,
    pair_table,
)
from tests.oracle_relief import diffcube_scan_oracle, knn_oracle


@pytest.fixture(scope="module")
def small_vectors(spark):
    rng = np.random.default_rng(7)
    X = rng.normal(size=(60, 8)).round(4)
    rows = [(i, X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    return df, X


@pytest.mark.parametrize("strategy", ["sql", "numpy"])
def test_knn_matches_oracle(spark, small_vectors, strategy):
    df, X = small_vectors
    k = 5
    got = (
        knn_join(df, df, k, strategy=strategy)
        .orderBy("query_id", "rank")
        .collect()
    )
    expected = knn_oracle(X, k)
    by_query: dict[int, list[int]] = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert len(by_query) == len(X)
    for qid, ids in by_query.items():
        assert ids == expected[qid], f"query {qid}"


@pytest.mark.parametrize("strategy", ["auto", "nump", "SQL"])
def test_knn_join_rejects_strategies_it_does_not_run(spark, small_vectors, strategy):
    """Only the four strategies knn_join runs are accepted: 'auto' is a
    fit-level choice and a typo must not fall through to the 'sql'
    cross join. The check precedes any Spark job."""
    df, _ = small_vectors
    sc = spark.sparkContext
    group = f"test-knn-strategy-{strategy}"
    sc.setJobGroup(group, "knn_join strategy check")
    try:
        with pytest.raises(ValueError, match=repr(strategy)):
            knn_join(df, df, 3, strategy=strategy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_knn_distances_correct(spark, small_vectors):
    df, X = small_vectors
    rows = knn_join(df, df, 3, strategy="sql").collect()
    for r in rows:
        d = np.sqrt(((X[r["query_id"]] - X[r["neighbor_id"]]) ** 2).sum())
        assert abs(r["distance"] - d) < 1e-9


def test_knn_self_inclusion_toggle(spark, small_vectors):
    df, _ = small_vectors
    with_self = knn_join(df, df, 1, exclude_self=False).collect()
    assert all(r["query_id"] == r["neighbor_id"] and r["distance"] == 0.0 for r in with_self)


def test_knn_numpy_excludes_self_without_losing_rank_slots(spark, small_vectors):
    """Regression: the numpy kernel must exclude self *inside* the
    kernel — post-filtering the per-partition top-k left k-1 neighbors
    for self-containing partitions."""
    df, X = small_vectors
    k = 4
    a = knn_join(df, df, k, strategy="sql").orderBy("query_id", "rank").collect()
    b = knn_join(df, df, k, strategy="numpy").orderBy("query_id", "rank").collect()
    assert len(a) == len(b) == len(X) * k
    assert [r["neighbor_id"] for r in a] == [r["neighbor_id"] for r in b]


def test_knn_numpy_no_self_leak_when_k_exceeds_rows(spark):
    """Regression: with fewer rows than k, the inf-masked self slot must
    not surface as a rank-k neighbor."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "id long, features array<double>",
    )
    rows = knn_join(df, df, k=10, strategy="numpy").collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert all(np.isfinite(r["distance"]) for r in rows)
    assert len(rows) == 6  # 3 queries x 2 real neighbors


def test_knn_query_subset_broadcast_plan(spark, small_vectors):
    """The SQL-strategy plan must broadcast the query side (SURVEY J1)."""
    df, _ = small_vectors
    queries = df.filter(F.col("id") < 5)
    plan = knn_join(df, queries, 3)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_knn_gemm_matches_diff_kernel_on_integer_grid(spark):
    """numpy-gemm is bit-exact on integer coordinates (products and sums
    stay in float64's exact-integer range), including exact-duplicate
    rows whose distance must clamp to 0, so ranks/distances must equal
    the diff kernel's verbatim."""
    rng = np.random.default_rng(11)
    X = rng.integers(-5, 6, size=(80, 16)).astype(float)
    X[41] = X[7]  # exact duplicate pair
    X[55] = X[7]
    rows = [(i, X[i].tolist()) for i in range(len(X))]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    k = 6
    cols = ["query_id", "rank", "neighbor_id", "distance"]
    base = knn_join(df, df, k, strategy="numpy").select(*cols).collect()
    gemm = knn_join(df, df, k, strategy="numpy-gemm").select(*cols).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, gemm))


@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm"])
def test_knn_boundary_ties_keep_lowest_ids(spark, strategy):
    """Ties at the k-th distance must resolve to the LOWEST neighbor
    ids, even when the tied candidates land in the same scan partition
    (ADVICE r1: argpartition kept an arbitrary tied subset)."""
    # 40 points all at distance sqrt(2) from the query except id 0
    # (the query itself) -> every neighbor ties; top-5 must be ids 1..5.
    rows = [(0, [0.0, 0.0])] + [
        (i, [1.0, 1.0] if i % 2 else [-1.0, 1.0]) for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "id long, features array<double>").repartition(8)
    q = spark.createDataFrame([(0, [0.0, 0.0])], "id long, features array<double>")
    got = (
        knn_join(df, q, 5, strategy=strategy)
        .orderBy("rank")
        .select("neighbor_id")
        .collect()
    )
    assert [r[0] for r in got] == [1, 2, 3, 4, 5]


def test_lsh_strategy_subset_with_exact_distances(spark):
    """strategy='lsh' returns a candidate-pruned approximation: every
    returned pair's distance must equal the exact distance, and recall
    against the exact top-k must clear a floor on this fixture."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n, d = 400, 32
    X = rng.normal(size=(n, d)).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id long, features array<double>"
    )
    queries = df.filter(F.col("id") % 20 == 0)
    k = 10
    exact = knn_join(df, queries, k, strategy="sql")
    approx = knn_join(df, queries, k, strategy="lsh")
    ex = {(r["query_id"], r["neighbor_id"]): r["distance"] for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]): r["distance"] for r in approx.collect()}
    # exact distances on whatever pairs LSH surfaced
    full = {
        (r["query_id"], r["neighbor_id"]): r["distance"]
        for r in knn_join(df, queries, n, strategy="sql").collect()
    }
    for pair, dist in ap.items():
        assert abs(dist - full[pair]) < 1e-9
    recall = len(set(ex) & set(ap)) / len(ex)
    assert recall >= 0.7, recall  # deterministic fixture; floor is safe
    # and it actually pruned: the candidate set (pre-rank) must be well
    # below the n_queries x n exhaustive grid
    from spark_relieffc_fselection_spark.operators.knn import _candidates_lsh

    n_cand = _candidates_lsh(df, queries, "id", "features", "query_id").count()
    n_queries = queries.count()
    assert n_cand < 0.5 * n_queries * n, (n_cand, n_queries * n)


def test_lsh_strategy_small_dims_no_ansi_crash(spark):
    """strategy='lsh' must work when dim < n_bits * n_tables: bucket
    coordinates wrap modulo the vector length instead of reading past
    the array end (ANSI element_at throws INVALID_ARRAY_INDEX, ADVICE
    r2). Distances on surfaced pairs stay exact."""
    rng = np.random.default_rng(3)
    n, d = 120, 6  # well below the 32 coordinates 8 tables x 4 bits read
    X = rng.normal(size=(n, d)).round(3)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "id long, features array<double>"
    )
    queries = df.filter(F.col("id") % 30 == 0)
    rows = knn_join(df, queries, 5, strategy="lsh").collect()
    assert rows  # produced candidates, no INVALID_ARRAY_INDEX crash
    for r in rows:
        d_exact = np.sqrt(((X[r["query_id"]] - X[r["neighbor_id"]]) ** 2).sum())
        assert abs(r["distance"] - d_exact) < 1e-9


def test_auto_strategy_thresholds():
    """knn_strategy='auto' escalation (VERDICT r6 #3): exact diff-cube
    for small kernels, BLAS expansion for the mid range, LSH pruning
    once exact scans become trillions of FLOPs. The last case is the
    reference's own headline claim (README.md:15-17, 64M x 631 at
    estimationRatio 0.25 -> ~424k-row batches under the broadcast
    guard), unreachable by any exact scan."""
    from spark_relieffc_fselection_spark.operators.knn import (
        resolve_auto_strategy,
    )

    assert resolve_auto_strategy(50, 50, 99) == "numpy"  # KAIS XOR100
    assert resolve_auto_strategy(500, 2000, 64) == "numpy-gemm"
    assert resolve_auto_strategy(424_000, 424_000, 631) == "lsh"
    # degenerate cardinalities never crash the cost model
    assert resolve_auto_strategy(0, 0, 0) == "numpy"


def test_multiprobe_recall_contract_on_continuous_1e6(spark):
    """The escalation tier's CONTINUOUS-data recall contract (VERDICT
    r8 #3), pinned at the regime SCALE.md measures (1e6 x 32 zero-
    centered continuous, auto-sized buckets/tables): Hamming-1
    multiprobe holds the measured ~0.70 band, and the lsh_probe_radius=2
    escalation knob buys the next step (measured 0.96) — recall is
    monotone in the probe radius because candidates only grow."""
    from pyspark.sql import functions as F

    from spark_relieffc_fselection_spark.operators.knn import (
        auto_lsh_tables,
        knn_join,
    )

    n, d, k, nq = 1_000_000, 32, 10, 24
    base = (
        spark.range(n)
        .select(
            "id",
            F.array(*[(F.rand(seed=100 + i) - 0.5) for i in range(d)]).alias(
                "features"
            ),
        )
        .repartition(8)
        .cache()
    )
    base.count()
    q = base.filter(F.col("id") % (n // nq) == 0)

    def topk(df):
        out = {}
        for r in df.select("query_id", "neighbor_id").collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk(knn_join(base, q, k, strategy="numpy-gemm", num_instances=n))

    def recall(radius):
        approx = topk(
            knn_join(
                base, q, k, strategy="lsh", num_instances=n, num_queries=nq,
                lsh_tables=auto_lsh_tables(n, d),
                lsh_multiprobe=True, lsh_probe_radius=radius,
            )
        )
        return sum(
            len(exact[i] & approx.get(i, set())) / len(exact[i]) for i in exact
        ) / len(exact)

    r1, r2 = recall(1), recall(2)
    base.unpersist()
    assert r1 >= 0.60, f"Hamming-1 recall {r1:.3f} fell out of the 0.70 band"
    assert r2 >= r1, f"radius-2 recall {r2:.3f} < radius-1 {r1:.3f} (monotonicity)"
    assert r2 >= 0.85, f"Hamming-2 recall {r2:.3f} below its measured 0.96 band"


def _scan_case(rng, family):
    """One random partition: queries, scan blocks and k for a family."""
    d = int(rng.integers(1, 12))
    n = int(rng.integers(0, 50))
    nq = int(rng.integers(1, 25))
    k = int(rng.integers(1, 6))
    scale = {
        "column_scales": 10.0 ** rng.uniform(-6, 6, size=d),
        # overflow and underflow territory for both kernels
        "extreme_magnitudes": 10.0 ** rng.choice([-170, -155, 150, 153, 154, 300], size=d),
    }.get(family, 1.0)
    # far from the origin: the BLAS expansion cancels catastrophically
    offset = 1e8 if family == "large_offset" else 0.0

    def draw(m):
        if family == "int_grid_ties":
            return rng.integers(-2, 3, size=(m, d)).astype(float)
        x = rng.normal(size=(m, d)) * scale + offset
        if family == "non_finite":
            x[rng.random(x.shape) < 0.05] = rng.choice([np.nan, np.inf, -np.inf])
        return x

    X = draw(n)
    if family == "int_grid_ties" and n:
        X[rng.integers(0, n, size=n // 3)] = X[0]  # duplicate rows
    ids = np.arange(n, dtype=np.int64)
    if family == "duplicate_ids":
        ids = rng.integers(0, max(n // 2, 1), size=n).astype(np.int64)
    # queries: scan rows (self-pairs exist) or fresh points of the family
    if n and rng.random() < 0.6:
        pick = rng.integers(0, n, size=nq)
        q_ids, q_mat = ids[pick], X[pick].copy()
    else:
        q_ids, q_mat = np.arange(nq, dtype=np.int64) + 1000, draw(nq)
    max_block = k if family == "blocks_below_k" else 12
    sizes, rest = [], n
    while rest > 0:
        sizes.append(min(rest, int(rng.integers(1, max(max_block, 2)))))
        rest -= sizes[-1]
    bounds = np.cumsum([0] + sizes)
    blocks = [(ids[a:b], X[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    return q_ids, q_mat, blocks, k


@pytest.mark.parametrize("max_cells", [4_000_000, 40])
@pytest.mark.parametrize("exclude_self", [True, False])
@pytest.mark.parametrize(
    "family",
    [
        "normal",
        "int_grid_ties",
        "duplicate_ids",
        "column_scales",
        "large_offset",
        "extreme_magnitudes",
        "non_finite",
        "blocks_below_k",
    ],
)
def test_knn_scan_bit_identical_to_diff_cube(monkeypatch, family, exclude_self, max_cells):
    """The exact scan prunes with BLAS distances and re-scores the
    survivors by the diff cube: its (query_id, neighbor_id, squared
    distance) rows must equal the full diff-cube scan's bit for bit — on ties,
    duplicate rows and ids, 1e-6..1e6 column scales, points far from the
    origin (BLAS cancellation), overflow/underflow
    magnitudes, NaN/inf coordinates and blocks smaller than k. A tiny
    _MAX_BLOCK_CELLS runs the multi-chunk merge."""
    monkeypatch.setattr(knn_mod, "_MAX_BLOCK_CELLS", max_cells)
    rng = np.random.default_rng(zlib.crc32(f"{family}/{exclude_self}/{max_cells}".encode()))
    for _ in range(40):
        q_ids, q_mat, blocks, k = _scan_case(rng, family)
        with np.errstate(all="ignore"):
            want = diffcube_scan_oracle(q_ids, q_mat, blocks, k, exclude_self)
        got = knn_scan(q_ids, q_mat, blocks, k, exclude_self)
        for g, w in zip(got, want):
            assert g.dtype == w.dtype and np.array_equal(g, w)


@pytest.mark.parametrize(
    "rows, match",
    [
        ([(0, [0.0, 1.0]), (1, [1.0])], "ragged"),
        ([(0, [0.0, 1.0]), (1, None)], "null 'features' array"),
        ([(0, [0.0, 1.0]), (1, [1.0, None])], "null element"),
    ],
)
def test_knn_numpy_malformed_query_side_raises_named_error(spark, rows, match):
    df = spark.createDataFrame(rows, "id long, features array<double>")
    with pytest.raises(ValueError, match=match):
        knn_join(df, df, 1, strategy="numpy")


def test_knn_numpy_empty_query_side(spark, small_vectors):
    df, _ = small_vectors
    assert knn_join(df, df.limit(0), 3, strategy="numpy").count() == 0


def test_knn_negative_ids_agree_across_strategies(spark):
    """Ids that span zero: the numpy kernels' unfilled top-k slots carry
    id -1 and distance inf, so only the distance may mark them — real
    neighbors with negative ids must survive. numpy, numpy-gemm and sql
    return the same neighbors, and those of the oracle."""
    rng = np.random.default_rng(5)
    X = rng.normal(size=(10, 3)).round(3)
    ids = list(range(-5, 5))
    df = spark.createDataFrame(
        [(ids[i], X[i].tolist()) for i in range(len(X))], "id long, features array<double>"
    )
    # the oracle ties by row index, which orders like the ids here
    want = {ids[i]: [ids[j] for j in nb] for i, nb in enumerate(knn_oracle(X, 2))}
    for strategy in ("sql", "numpy", "numpy-gemm"):
        got: dict[int, list[int]] = {}
        for r in knn_join(df, df, 2, strategy=strategy).orderBy("query_id", "rank").collect():
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert got == want, strategy


def _pair_fixture(kind: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, features) of one batch for the pair-kernel property test.
    Every fixture but 'continuous' and the decimal-boundary ones is an
    integer grid, where numpy-gemm distances are exact."""
    rng = np.random.default_rng(zlib.crc32(kind.encode()))
    if kind == "ties":  # few coordinate values: most distances tie
        return np.arange(40), rng.integers(0, 3, size=(40, 3)).astype(float)
    if kind == "identical_rows":  # each row four times, distinct ids
        X = np.repeat(rng.integers(-2, 3, size=(10, 4)), 4, axis=0).astype(float)
        return rng.permutation(40) * 3 + 7, X
    if kind == "negative_ids":
        return np.arange(-15, 15), rng.integers(-4, 5, size=(30, 5)).astype(float)
    if kind == "few_rows":  # k >= rows - 1: every other row is a neighbour
        return np.array([9, 2, 5, 0, 7]), rng.integers(0, 4, size=(5, 3)).astype(float)
    if kind == "empty":
        return np.arange(0), np.zeros((0, 3))
    if kind in ("halfway", "tiny"):
        # 'halfway': differences on the 18th place's half-way points and
        # their neighbours, where Double.toString's decimal rounds
        # half-up but the binary value may lie below the tie; 'tiny':
        # below 1e-20 and subnormal, where every cast is 0. Column 0's
        # powers of two give every pair its own distance.
        vals = (
            [5e-19, 1.5e-18, 2.5e-18, 0.1 + 0.2, 0.3, 0.1, 4.5e-18, 1.05e-17, 7e-3, 5e-3, 0.0]
            if kind == "halfway"
            else [1e-21, 3e-25, 5e-324, 2.2250738585072014e-308, 1e-300, 0.0]
        )
        X = rng.choice(vals, size=(30, 4)) * rng.choice([-1.0, 1.0], size=(30, 4))
        X[:, 0] = 2.0 ** rng.permutation(30)
        return np.arange(30), X
    if kind == "wide":  # past joint_counts_from_pairs' combination width
        X = rng.integers(0, 2, size=(5, _JOINT_COMBOS_MAX_FEATURES + 3)).astype(float)
        return np.arange(5), X
    X = rng.normal(size=(50, 6)).round(3) * (10.0 ** rng.integers(-3, 4, size=(1, 6)))
    return np.arange(50), X  # 'continuous'


def _kernel_stats(rows) -> tuple[dict, dict]:
    """The pair kernel's partial stats rows summed per key: ``{(f,
    n_label, same_class): (bin_sum, vote_sum, n_collisions)}`` and
    ``{(n_label, same_class): pairs}``."""
    from decimal import localcontext

    bins: dict = {}
    counts: dict = {}
    with localcontext(prec=80):
        for r in rows:
            if r["qi"] is not None:
                continue
            if r["f"] is None:
                key = (r["n_label"], r["same_class"])
                counts[key] = counts.get(key, 0) + r["n"]
                continue
            key = (r["f"], r["n_label"], r["same_class"])
            b, v, n = bins.get(key, (0, 0, 0))
            bins[key] = (b + r["bin_sum"], v + r["vote_sum"], n + r["n"])
    return bins, counts


@pytest.mark.parametrize("exclude_self", [True, False])
@pytest.mark.parametrize(
    "kind",
    [
        "ties", "identical_rows", "negative_ids", "few_rows", "empty", "continuous",
        "halfway", "tiny", "wide",
    ],
)
@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm", "sql", "lsh"])
def test_self_knn_pairs_equal_pair_table_of_knn_join(spark, strategy, kind, exclude_self):
    """The fit's pair kernel reduces its pairs to exact partial
    statistics in the tasks that find them. Summed per key, they must
    equal, as decimals, the Spark plan over ``pair_table(batch,
    knn_join(batch, batch, k))``: ``feature_bin_stats`` of its exploded
    rows (sums and collision counts), its per-(n_label, same_class) pair
    counts and, over the cached
    (query row, neighbour row) pairs, ``joint_counts_from_pairs`` for a
    scope, continuous and discrete, whatever the slice count. Fixtures:
    distance ties, identical rows under distinct ids, negative ids, k >=
    rows - 1, with and without self pairs, an empty batch, differences
    on the 18th place's half-way points, values below 1e-20 and
    subnormals, and a width past ``_JOINT_COMBOS_MAX_FEATURES``. The
    exact tiers find the neighbours in the kernel; sql and lsh hand it
    the ``knn_join`` table itself. numpy-gemm is compared on integer
    grids only: elsewhere its last bits follow the matrix shapes, so a
    different slicing may rank near-ties differently."""
    if strategy == "numpy-gemm" and kind in ("continuous", "halfway", "tiny"):
        pytest.skip("numpy-gemm distances are exact on integer grids only")
    if kind == "wide" and strategy != "numpy":
        pytest.skip("the width only matters to the statistics, one tier covers it")
    ids, X = _pair_fixture(kind)
    labels = (np.arange(len(ids)) % 3).astype(float)
    batch = spark.createDataFrame(
        [(int(i), x.tolist(), float(lbl)) for i, x, lbl in zip(ids, X, labels)],
        "id long, features array<double>, label double",
    )
    k, d = 6, X.shape[1]
    neigh = knn_join(batch, batch, k, exclude_self=exclude_self, strategy=strategy)
    pairs = pair_table(batch, neigh).cache()
    want_counts = {
        (r["n_label"], r["same_class"]): r["n"]
        for r in pairs.groupBy("n_label", "same_class").agg(F.count("*").alias("n")).collect()
    }
    if kind == "few_rows" and strategy != "lsh":
        assert sum(want_counts.values()) == len(ids) * (len(ids) - (1 if exclude_self else 0))
    top = list(range(0, min(d, 6), 2))
    for continuous, slices in ((True, 3), (False, 1)):
        ldt = 0.8
        threshold = 6.0 * (1.0 - ldt) if continuous else 0.0
        want_bins = {
            (r["feature_idx"], r["n_label"], r["same_class"]): (
                r["bin_sum"], r["vote_sum"], r["n_collisions"]
            )
            for r in feature_bin_stats(explode_pairs(pairs), continuous, ldt).collect()
        }
        want_joint = {
            (r["f1"], r["f2"]): r["joint"]
            for r in joint_counts_from_pairs(pairs, top, continuous, ldt, d).collect()
        }
        rows, bc = self_knn_pairs(
            batch, k, _pair_stats(continuous, threshold, keep_pairs=True), _PAIR_STATS_SCHEMA,
            slices=slices, exclude_self=exclude_self, gemm=strategy == "numpy-gemm",
            neighbors=neigh if strategy in ("sql", "lsh") else None,
        )
        rows = rows.cache()
        got_bins, got_counts = _kernel_stats(rows.collect())
        pair_rows = rows.filter(F.col("qi").isNotNull()).select("qi", "ni")
        got_joint = {
            (r["f1"], r["f2"]): r["joint"]
            for r in _kernel_joint(pair_rows, bc, top, continuous, threshold).collect()
        }
        rows.unpersist()
        bc.unpersist()
        case = (continuous, slices)
        assert got_counts == want_counts, case
        assert got_bins == want_bins, case
        assert got_joint == want_joint, case
    pairs.unpersist()


@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm"])
@pytest.mark.parametrize("scan_partitions", [1, 4])
def test_knn_join_ranks_by_squared_distance_at_any_partitioning(spark, strategy, scan_partitions):
    """Ids 5 and 3 lie at squared distances 2.0 and 2.0000000000000004
    from query 0; both square roots are 1.4142135623730951. The numpy
    scan ranks by the squared distance, and the window that merges its
    partitions must too: neighbour 5 on one scan partition and on four
    (a window on the root used to pick 3 there), as the fit's pair
    kernel picks."""
    import pyarrow as pa

    rows = [(0, [0.0, 0.0]), (5, [1.0, 1.0]), (3, [1.4142135623730951, 0.0]), (7, [9.0, 9.0])]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, x, 0.0) for i, x in rows], scan_partitions),
        "id long, features array<double>, label double",
    )
    assert df.rdd.getNumPartitions() == scan_partitions
    got = knn_join(df, df.filter("id = 0"), 1, strategy=strategy).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in got] == [(0, 5, 1)]
    assert got[0]["distance"] == 1.4142135623730951

    def id_pairs(qi, ni, batch):
        ids = batch[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids[qi]), pa.array(ids[ni])], names=["query_id", "neighbor_id"]
        )

    kernel, bc = self_knn_pairs(
        df, 1, id_pairs, "query_id long, neighbor_id long", slices=2,
        gemm=strategy == "numpy-gemm",
    )
    assert kernel.filter("query_id = 0").select("neighbor_id").collect()[0][0] == 5
    bc.unpersist()


def test_self_knn_pairs_names_a_neighbour_id_missing_from_the_batch(spark):
    """A neighbour table naming an id the broadcast batch does not hold
    fails by name instead of reducing another row's vectors."""
    batch = spark.createDataFrame(
        [(i, [float(i), 1.0], float(i % 2)) for i in (2, 4, 6)],
        "id long, features array<double>, label double",
    )
    neigh = spark.createDataFrame([(2, 4), (4, 5), (6, 999)], "query_id long, neighbor_id long")
    rows, _ = self_knn_pairs(
        batch, 1, _pair_stats(True, 1.2, keep_pairs=False), _PAIR_STATS_SCHEMA,
        slices=1, neighbors=neigh,
    )
    with pytest.raises(Exception, match=r"2 neighbour-table id\(s\) not in the fit batch: 5, 999"):
        rows.collect()
